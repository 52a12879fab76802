"""URL canonicalization: engine == DuckDB twin byte-for-byte on
handcrafted edge cases, canonical-dedup survivor semantics, and the
contract query vs its registry oracle."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

CASES = [
    # case folding of scheme + host only
    "HTTP://WWW.Example.COM/Path/File.html",
    # default ports dropped, non-default kept
    "http://example.com:80/a",
    "https://example.com:443/a",
    "http://example.com:8080/a",
    "https://example.com:80/a",  # wrong-scheme port kept
    "http://example.com:80",      # port at end of authority, no path
    # fragment dropped
    "https://example.com/a#section-2",
    "https://example.com/#top",
    # tracking params in every position
    "https://e.com/p?utm_source=x",
    "https://e.com/p?utm_source=x&b=2",
    "https://e.com/p?b=2&utm_medium=y",
    "https://e.com/p?a=1&gclid=abc&b=2",
    "https://e.com/p?fbclid=zzz&utm_campaign=c",
    # query param sorting
    "https://e.com/p?b=2&a=1",
    "https://e.com/p?a=1&b=2",
    "https://e.com/p?z=1&y=2&x=3",
    # empty query / trailing slash
    "https://e.com/p?",
    "https://e.com/path/",
    "https://e.com/",              # root slash kept
    "https://e.com",
    # no scheme: left alone structurally
    "e.com/p?b=2&a=1",
    # everything at once
    "HTTPS://E.com:443/Deep/Path/?b=2&utm_source=s&a=1#frag",
    "",
    None,
]


def test_url_canonical_matches_duckdb(spark):
    from batch3dfier_spark.operators.urltools import (
        sql_url_canonical,
        url_canonical,
    )
    from batch3dfier_spark.plans.oracle import compare

    pdf = pd.DataFrame({"doc_id": range(len(CASES)), "url": CASES})
    got = (
        spark.createDataFrame(pdf)
        .select("doc_id", url_canonical(F.col("url")).alias("canon"))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("u", pdf)
    exp = con.sql(f"SELECT doc_id, {sql_url_canonical('url')} AS canon FROM u")
    assert compare(got, exp.df()) == []
    canon = dict(zip(got["doc_id"], got["canon"]))
    # spot-check the rules really fire
    assert canon[0] == "http://www.example.com/Path/File.html"
    assert canon[1] == "http://example.com/a"
    assert canon[2] == "https://example.com/a"
    assert canon[3] == "http://example.com:8080/a"
    assert canon[4] == "https://example.com:80/a"
    assert canon[5] == "http://example.com"
    assert canon[6] == "https://example.com/a"
    assert canon[8] == "https://e.com/p"
    assert canon[9] == "https://e.com/p?b=2"
    assert canon[13] == canon[14] == "https://e.com/p?a=1&b=2"
    assert canon[15] == "https://e.com/p?x=3&y=2&z=1"
    assert canon[16] == "https://e.com/p"
    assert canon[17] == "https://e.com/path"
    assert canon[18] == "https://e.com/"
    assert canon[21] == "https://e.com/Deep/Path?a=1&b=2"


def test_url_dedup_survivor_semantics(spark):
    """Rows collapsing to one canonical form keep the lowest doc_id;
    distinct canonical forms all survive."""
    from batch3dfier_spark.operators.urltools import url_dedup

    pdf = pd.DataFrame({
        "doc_id": [5, 3, 9, 7],
        "url": [
            "HTTP://A.com/x?b=2&a=1",
            "http://a.com/x?a=1&b=2#frag",
            "http://a.com/x?a=1&b=2&utm_source=s",
            "http://a.com/other",
        ],
    })
    out = url_dedup(spark.createDataFrame(pdf)).toPandas()
    assert sorted(out["doc_id"]) == [3, 7]


def test_url_dedup_contract_matches_oracle(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["url_dedup"][0](spark, SF).toPandas()
    # the dedup collapses something (500 docs, 50x20 site/page grid)
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert 0 < len(got) < n_docs


def test_host_suffixes_ladder(spark):
    from batch3dfier_spark.operators.urltools import host_suffixes

    df = spark.createDataFrame(
        [(1, "a.b.example.com")], "doc_id bigint, host string"
    )
    got = sorted(r["suffix"] for r in host_suffixes(df).collect())
    assert got == sorted(
        ["a.b.example.com", "b.example.com", "example.com", "com"]
    )


def test_blocklist_suffix_blocks_subdomains(spark):
    from batch3dfier_spark.operators.urltools import url_blocklist_filter

    rows = [
        (1, "http://a.bad.com/x"),      # subdomain of blocked domain
        (2, "http://bad.com/x"),        # exact blocked domain
        (3, "http://notbad.com/x"),     # suffix must match on labels
        (4, "http://good.com/casino"),  # fragment rule
        (5, "http://good.com/fine"),    # kept
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    bl = spark.createDataFrame([("bad.com",)], "blocked string")
    got = {
        r["doc_id"]: r["reason"]
        for r in url_blocklist_filter(
            df, bl, blocked_fragments=["casino"]
        ).collect()
    }
    assert got == {1: "host", 2: "host", 3: None,
                   4: "fragment", 5: None}


def test_blocklist_host_wins_over_fragment(spark):
    from batch3dfier_spark.operators.urltools import url_blocklist_filter

    df = spark.createDataFrame(
        [(1, "http://bad.com/casino")], "doc_id bigint, url string"
    )
    bl = spark.createDataFrame([("bad.com",)], "blocked string")
    rows = url_blocklist_filter(df, bl, ["casino"]).collect()
    assert rows[0]["reason"] == "host"


def test_blocklist_covers_every_row_once(spark):
    from batch3dfier_spark.operators.urltools import url_blocklist_filter

    df = spark.createDataFrame(
        [(i, f"http://s{i % 3}.t.com/p") for i in range(30)],
        "doc_id bigint, url string",
    )
    bl = spark.createDataFrame([("s0.t.com",)], "blocked string")
    out = url_blocklist_filter(df, bl).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(30))
    assert sum(r["reason"] == "host" for r in out) == 10
