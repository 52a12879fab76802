"""Deterministic sampling + decontamination: oracle parity of the
contract queries with extra properties, determinism, and the
threshold-composability property hash sampling exists for."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_stratified_sample_matches_duckdb(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["sample_stratified"][0](spark, SF).toPandas()
    # full-keep strata survive completely, others are subsampled
    all_langs = spark.read.parquet(f"{SF}/documents.parquet").groupBy("lang").count().toPandas()
    kept = got.groupby("lang").size()
    n_zh = int(all_langs[all_langs["lang"] == "zh"]["count"].iloc[0])
    assert kept.get("zh", 0) == n_zh
    n_en = int(all_langs[all_langs["lang"] == "en"]["count"].iloc[0])
    assert kept.get("en", 0) < 0.3 * n_en


def test_hash_sample_deterministic_and_nested(spark, docs):
    """Same seed + bigger fraction => superset (threshold property);
    same call twice => identical rows; different seed => different set."""
    from batch3dfier_spark.operators.sampling import hash_sample

    s10 = set(r.doc_id for r in hash_sample(docs, 0.1, "doc_id", "s").select("doc_id").collect())
    s10b = set(r.doc_id for r in hash_sample(docs, 0.1, "doc_id", "s").select("doc_id").collect())
    s30 = set(r.doc_id for r in hash_sample(docs, 0.3, "doc_id", "s").select("doc_id").collect())
    other = set(r.doc_id for r in hash_sample(docs, 0.1, "doc_id", "t").select("doc_id").collect())
    assert s10 == s10b
    assert s10 <= s30
    assert 0.03 <= len(s10) / 500 <= 0.2  # ~10% of 500 docs
    assert s10 != other


def test_decontaminate_flags_planted_leak(spark):
    """A training doc that verbatim-contains an eval sentence must be
    flagged; an unrelated doc must not."""
    from batch3dfier_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1],
        "text": ["the quick brown fox jumps over the lazy dog"],
    }))
    train = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 11],
        "text": [
            "prefix words then the quick brown fox jumps over a fence",
            "completely unrelated content with no overlap at all here",
        ],
    }))
    out = decontaminate(train, bench, n=4).toPandas()
    assert set(out["doc_id"]) == {10}
    # shared 4-grams: "the quick brown fox", "quick brown fox jumps",
    # "brown fox jumps over"
    assert int(out["n_shared_grams"].iloc[0]) == 3


def test_repetition_matches_duckdb(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["repetition"][0](spark, SF).toPandas()
    # bigram stat actually discriminates on the fixture corpus
    assert got["top_bigram_frac"].nunique() > 10


def test_repetition_flags_boilerplate(spark):
    """Planted boilerplate (nav line repeated 5x, same bigram spam) must
    score high; clean prose must score ~0."""
    from batch3dfier_spark.operators.textstats import repetition_stats

    docs = pd.DataFrame({
        "doc_id": [1, 2],
        "text": [
            "home | about | contact\n" * 5 + "buy now buy now buy now",
            "a quiet morning\nthe river bends east\nbirds argue in the pines",
        ],
    })
    out = (
        repetition_stats(spark.createDataFrame(docs))
        .toPandas().set_index("doc_id")
    )
    assert out.loc[1, "dup_line_frac"] > 0.5          # 5 identical lines + 1
    assert out.loc[1, "dup_line_char_frac"] > 0.7
    assert out.loc[1, "top_bigram_frac"] > 0.15       # "home |" 5x of 30 bigrams
    assert out.loc[2, "dup_line_frac"] == 0.0
    assert out.loc[2, "dup_line_char_frac"] == 0.0
    assert out.loc[2, "top_bigram_frac"] <= 0.2


def test_weighted_mixture_matches_duckdb(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["sample_mixture"][0](spark, SF).toPandas()
    # the mixture really reweights: zh upsampled ~2.5x, en downsampled
    base = spark.read.parquet(f"{SF}/documents.parquet").groupBy("lang").count().toPandas().set_index("lang")["count"]
    per = got.groupby("lang").size()
    assert 2.0 * base["zh"] <= per["zh"] <= 3.0 * base["zh"]
    assert per["en"] <= 0.6 * base["en"]
    # every zh doc appears at least floor(2.5)=2 times, tagged 1..n
    zh = got[got["lang"] == "zh"].groupby("doc_id")["copy_id"].agg(["count", "max"])
    assert (zh["count"] >= 2).all() and (zh["count"] == zh["max"]).all()


def test_weighted_mixture_twice_keeps_copy_ids_unique(spark, docs):
    """A second mixture composes copy_id with the first instead of
    overwriting it: every (doc_id, copy_id) stays unique and each doc's
    copy ids are 1..N, where N is the product of the two draws."""
    from batch3dfier_spark.operators.sampling import weighted_mixture

    weights = {"zh": 2.0, "en": 1.5}
    once = weighted_mixture(docs, weights, key_col="doc_id", seed="m1")
    twice = weighted_mixture(once, weights, key_col="doc_id", seed="m1")
    per = twice.toPandas().groupby("doc_id")["copy_id"].agg(
        ["count", "nunique", "min", "max"])
    assert (per["count"] == per["nunique"]).all()
    assert (per["min"] == 1).all() and (per["max"] == per["count"]).all()
    n1 = once.groupBy("doc_id").count().toPandas().set_index("doc_id")["count"]
    assert (per["count"] == n1[per.index] ** 2).all()


def test_domain_cap_matches_duckdb(spark):
    """q_domain_cap (skew-safe cap_per_key over a deliberately hot
    domain; test_oracle_contract checks it against the plain
    ROW_NUMBER window oracle): the quota invariants hold — no domain
    exceeds the cap, under-cap domains are kept whole."""
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["domain_cap"][0](spark, SF).toPandas()
    per = got.groupby("domain").size()
    assert per.max() <= 20
    assert per["bulk.example.com"] == 20  # the hot domain really capped
    # under-cap domains survive completely
    base = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    base["domain"] = base["doc_id"].mod(10).lt(7).map(
        {True: "bulk.example.com", False: None}
    ).fillna(base["source"])
    small = base.groupby("domain").size()
    for dom, n in small.items():
        if n <= 20:
            assert per.get(dom, 0) == n


def test_cap_per_key_exact_and_partition_independent(spark):
    """cap_per_key == the window-rank reference on a synthetic skewed
    frame (one key with 2000 rows, one with 3), under two different
    partitionings, and the short-key rescue (absurd negative margin =>
    the threshold flags nothing => every row of the key becomes a
    candidate and the result is still exact)."""
    import hashlib

    from batch3dfier_spark.operators.sampling import cap_per_key

    n_hot = 2000
    pdf = pd.DataFrame({
        "doc_id": range(n_hot + 3),
        "key": ["hot"] * n_hot + ["cold"] * 3,
    })

    def draw(doc_id):
        h = hashlib.sha256(f"{doc_id}cpk".encode()).hexdigest()
        return int(h[:15], 16) / float(1 << 60)

    pdf["_d"] = pdf["doc_id"].map(draw)
    ref = (
        pdf.sort_values(["key", "_d", "doc_id"])
        .groupby("key").head(15)[["doc_id", "key"]]
        .sort_values("doc_id").reset_index(drop=True)
    )
    for parts in (1, 16):
        df = spark.createDataFrame(pdf[["doc_id", "key"]]).repartition(parts)
        got = (
            cap_per_key(df, cap=15, key_col="key", row_key_col="doc_id",
                        seed="cpk")
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, ref, check_dtype=False)
    # rescue path: margin so wrong the candidate flag is empty
    got = (
        cap_per_key(
            spark.createDataFrame(pdf[["doc_id", "key"]]), cap=15,
            key_col="key", row_key_col="doc_id", seed="cpk",
            _margin=-1e12,
        )
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, ref, check_dtype=False)


def test_cap_per_key_keeps_null_key_rows(spark):
    """NULL keys form one group, as in PARTITION BY: keys [NULL x5,
    'a' x3] with cap 2 keep two NULL-key rows and two 'a' rows, equal
    to the DuckDB ROW_NUMBER twin."""
    import duckdb

    from batch3dfier_spark.operators.sampling import cap_per_key
    from batch3dfier_spark.plans.oracle import compare
    from batch3dfier_spark.plans.queries import _sql_hex15

    pdf = pd.DataFrame({"doc_id": range(8), "key": [None] * 5 + ["a"] * 3})
    df = spark.createDataFrame(pdf, "doc_id bigint, key string")
    got = cap_per_key(df, cap=2, key_col="key", row_key_col="doc_id",
                      seed="nk").toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    exp = con.sql(f"""
        SELECT doc_id, key FROM (
          SELECT doc_id, key,
                 ROW_NUMBER() OVER (PARTITION BY key
                                    ORDER BY {_sql_hex15("doc_id", "nk")}, doc_id)
                   AS rn
          FROM t)
        WHERE rn <= 2
    """).df()
    assert len(exp) == 4
    assert compare(got, exp) == []


def test_cap_per_key_caches_base(spark):
    """The hashed base is materialized once (a localCheckpoint) so the
    per-key counts, the flagged counts and the final rows reuse ONE
    scan — the returned frame's plan must read the checkpointed RDD,
    not re-hash the input."""
    from batch3dfier_spark.operators.sampling import cap_per_key

    pdf = pd.DataFrame({
        "doc_id": range(100),
        "key": ["a"] * 80 + ["b"] * 20,
    })
    out = cap_per_key(
        spark.createDataFrame(pdf), cap=10, key_col="key",
        row_key_col="doc_id", seed="cache",
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "sha2" not in plan, plan
    assert out.count() == 10 + 10


def test_cap_per_key_is_lazy(spark, docs):
    """Calling cap_per_key submits no Spark job: the short-key rescue is
    part of the returned plan, not a driver-side check.  The same job
    group then sees the jobs of the action that consumes the result."""
    from batch3dfier_spark.operators.sampling import cap_per_key

    sc = spark.sparkContext
    group = "test_cap_per_key_is_lazy"
    sc.setJobGroup(group, group)
    try:
        out = cap_per_key(docs, cap=3, key_col="source",
                          row_key_col="doc_id", seed="lazy")
        at_call = list(sc.statusTracker().getJobIdsForGroup(group))
        n = out.count()
        after_action = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert at_call == [], at_call
    assert after_action and n > 0


def test_cap_per_key_leaves_no_cache_entry(spark):
    """The lifetime rule (session.py): repeated calls leave nothing in
    the CacheManager — the checkpointed base belongs to each result."""
    from batch3dfier_spark.operators.sampling import cap_per_key

    src = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(100),
        "key": ["a"] * 80 + ["b"] * 20,
    }))
    spark.catalog.clearCache()
    for seed in ("s1", "s2", "s3", "s4"):
        out = cap_per_key(src, cap=10, key_col="key",
                          row_key_col="doc_id", seed=seed)
        assert out.count() == 10 + 10
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_scrub_pii_contract_matches_duckdb(spark):
    """The scrub_pii CONTRACT query (deterministic doc_id-derived PII
    injected into the fixture text, then scrubbed; oracle-checked in
    test_oracle_contract): the injection actually produces matches of
    every category (no identity-transform padding)."""
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["scrub_pii"][0](spark, SF).toPandas()
    assert int(got["n_email"].sum()) >= len(got) // 4
    assert int(got["n_ip"].sum()) >= len(got) // 5
    assert int(got["n_phone"].sum()) >= len(got) // 6


def test_scrub_pii_matches_duckdb(spark):
    """scrub_pii (chained JVM regexp_replace + split-based counts) ==
    the DuckDB twin replaying the same patterns in the same order —
    byte-identical rewrites and counts on emails, IPv4s, phone-shaped
    runs, adjacent/boundary cases, multibyte neighbors, and clean text
    (negative control)."""
    import duckdb

    from batch3dfier_spark.operators.textstats import scrub_pii, sql_scrub_pii
    from batch3dfier_spark.plans.oracle import compare

    texts = [
        "contact bob.smith+spam@example.co.uk or sue@test.org today",
        "server at 192.168.1.1 and 10.0.0.255, call +31 (0)20-555 1234",
        "no pii here at all, just words",
        "edge 1.2.3.4",
        "a@b.io x 999.999.999.999 y 0123456789",
        "unicode soup: héllo 8.8.8.8 日本 mail@дом.example.com tail",
        "",
        None,
        "double a@b.cc c@d.ee emails and 1.1.1.1 2.2.2.2 ips",
        # CJK glued directly to the digits (round-4 divergence
        # surface): Java \b would treat 器/上 as word chars and skip
        # the IP; the explicit ASCII guards scrub it like RE2 does
        "服务器10.0.0.1上的电话+86 138 1234 5678联系",
        "词1.2.3.4词 and 5.6.7.8x stays, x9.9.9.9 stays too",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = (
        scrub_pii(spark.createDataFrame(pdf))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    assert int(got["n_email"].sum()) >= 4
    assert int(got["n_ip"].sum()) >= 5
    assert int(got["n_phone"].sum()) >= 2
    assert "<EMAIL>" in got["text"][0] and "<PHONE>" in got["text"][1]
    assert compare(got, con.sql(sql_scrub_pii()).df()) == []


def test_hash_split_matches_duckdb_and_is_stable(spark, docs):
    """Train/val/test assignment (oracle-checked in
    test_oracle_contract): the assignment is a pure function of (key, seed) — independent of
    partitioning (the eval-leakage guard the operator exists for);
    custom boundaries and the weight-sum guard behave."""
    from batch3dfier_spark.operators.sampling import hash_split
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["hash_split"][0](spark, SF).toPandas()
    assert set(got["split"]) <= {"train", "val", "test"}
    assert (got["split"] == "train").mean() > 0.9

    # partition-independence: same labels at 1 and 17 partitions
    one = hash_split(docs.coalesce(1), key_col="doc_id", seed="sp")
    many = hash_split(docs.repartition(17), key_col="doc_id", seed="sp")
    a = one.select("doc_id", "split").toPandas().sort_values("doc_id")
    b = many.select("doc_id", "split").toPandas().sort_values("doc_id")
    assert list(a["split"]) == list(b["split"])

    # map-only: no Exchange in the executed plan
    plan = (
        hash_split(docs, key_col="doc_id", seed="sp")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan

    # custom splits: last split takes the tail
    tri = hash_split(
        docs, splits=[("a", 0.5), ("b", 0.3), ("c", 0.2)],
        key_col="doc_id", seed="q",
    ).groupBy("split").count().toPandas().set_index("split")["count"]
    assert set(tri.index) == {"a", "b", "c"}

    with pytest.raises(ValueError):
        hash_split(docs, splits=[("a", 0.5), ("b", 0.4)], key_col="doc_id")
    with pytest.raises(ValueError):
        hash_split(docs, splits=[("all", 1.0)], key_col="doc_id")


def test_epoch_shuffle_is_a_deterministic_permutation(spark, docs):
    from batch3dfier_spark.operators.sampling import epoch_shuffle

    a = epoch_shuffle(docs, epoch=1, n_shards=8).toPandas()
    # bijection: every doc exactly once, (shard, pos) addresses unique,
    # positions dense 1..n within each shard
    assert len(a) == a.doc_id.nunique() == 500
    assert not a.duplicated(["shard", "pos"]).any()
    for _, g in a.groupby("shard"):
        assert sorted(g.pos) == list(range(1, len(g) + 1))
    # stable under re-evaluation and under physical repartitioning
    b = epoch_shuffle(docs.repartition(7), epoch=1, n_shards=8).toPandas()
    key = ["doc_id", "shard", "pos"]
    pd.testing.assert_frame_equal(
        a[key].sort_values("doc_id").reset_index(drop=True),
        b[key].sort_values("doc_id").reset_index(drop=True),
    )
    # a different epoch is a different permutation
    c = epoch_shuffle(docs, epoch=2, n_shards=8).toPandas()
    merged = a.merge(c, on="doc_id", suffixes=("_1", "_2"))
    assert ((merged.shard_1 != merged.shard_2)
            | (merged.pos_1 != merged.pos_2)).any()


def test_weighted_priority_sample_contract(spark, docs):
    from batch3dfier_spark.operators.sampling import weighted_priority_sample

    d = docs.select("doc_id", "lang", "source", "n_chars")
    got = weighted_priority_sample(
        d, k=5, weight_col="n_chars", group_col="lang",
        key_col="doc_id", seed="t").toPandas()
    # exactly k per group (every lang stratum here has > k rows),
    # ranks dense 1..k
    for _, g in got.groupby("lang"):
        assert sorted(g.sample_rank) == list(range(1, 6))
    # two-level selection == single-level (total order)
    one = weighted_priority_sample(
        d, k=5, weight_col="n_chars", group_col="lang",
        key_col="doc_id", seed="t", salt_buckets=1).toPandas()
    cols = ["doc_id", "lang", "sample_rank"]
    pd.testing.assert_frame_equal(
        got[cols].sort_values(["lang", "sample_rank"]).reset_index(drop=True),
        one[cols].sort_values(["lang", "sample_rank"]).reset_index(drop=True),
    )
    # stable under physical repartitioning
    two = weighted_priority_sample(
        d.repartition(7), k=5, weight_col="n_chars", group_col="lang",
        key_col="doc_id", seed="t").toPandas()
    pd.testing.assert_frame_equal(
        got[cols].sort_values(["lang", "sample_rank"]).reset_index(drop=True),
        two[cols].sort_values(["lang", "sample_rank"]).reset_index(drop=True),
    )


def test_weighted_priority_sample_weight_monotone(spark):
    from batch3dfier_spark.operators.sampling import weighted_priority_sample

    # same keys, two weightings: a row's priority with a HIGHER weight
    # never ranks worse than with a lower one (h div w decreasing in w)
    rows = [(i, 1 + (i % 7)) for i in range(200)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "w"]))
    lo = weighted_priority_sample(
        df, k=200, weight_col="w", key_col="doc_id", seed="m").toPandas()
    hi = weighted_priority_sample(
        df.withColumn("w", F.col("w") * 1000), k=200, weight_col="w",
        key_col="doc_id", seed="m").toPandas()
    assert len(lo) == len(hi) == 200
    # scaling ALL weights equally preserves the ranking exactly
    pd.testing.assert_frame_equal(
        lo.sort_values("doc_id").reset_index(drop=True)[["doc_id",
                                                         "sample_rank"]],
        hi.sort_values("doc_id").reset_index(drop=True)[["doc_id",
                                                         "sample_rank"]],
    )
