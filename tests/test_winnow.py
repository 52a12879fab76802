"""Winnowing fingerprints (operators/winnow): hand-checked selection
rules (rightmost-minimum ties, short/empty docs, the shared-substring
guarantee) and the scale shapes (map-only extraction, capped pair
blowup)."""

import pandas as pd
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


def test_winnow_hand_checked(spark):
    from batch3dfier_spark.operators.winnow import winnow_fingerprints

    docs = _df(spark, [
        (1, " ".join(["a"] * 10)),   # all grams identical -> tie rule
        (2, "xy"),                   # fewer tokens than n -> one padded gram
        (3, ""),                     # empty -> no fingerprints
        (4, None),                   # NULL -> no fingerprints
    ])
    got = winnow_fingerprints(docs, n=4, w=5).toPandas()
    # doc 1: G=7 grams, windows t=0..2, every hash equal -> rightmost
    # minimum of each window -> positions {4, 5, 6}, one fp value
    d1 = got[got.doc_id == 1].sort_values("pos")
    assert list(d1.pos) == [4, 5, 6]
    assert d1.fp.nunique() == 1
    # doc 2: one zero-padded gram, one window
    d2 = got[got.doc_id == 2]
    assert list(d2.pos) == [0]
    assert set(got.doc_id) == {1, 2}


def test_winnow_shared_substring_guarantee(spark):
    from batch3dfier_spark.operators.winnow import (
        winnow_dup_pairs,
        winnow_fingerprints,
    )

    # the paper's guarantee: any shared token run of length >= n+w-1
    # (= 8 here) yields at least one shared fingerprint VALUE
    shared = "one two three four five six seven eight"
    docs = _df(spark, [
        (1, "alpha beta " + shared + " gamma delta"),
        (2, "unrelated prefix words here " + shared),
        (3, "completely different text with nothing in common at all"),
    ])
    fps = winnow_fingerprints(docs, n=4, w=5).toPandas()
    s1 = set(fps[fps.doc_id == 1].fp)
    s2 = set(fps[fps.doc_id == 2].fp)
    s3 = set(fps[fps.doc_id == 3].fp)
    assert s1 & s2
    assert not (s1 & s3) and not (s2 & s3)
    pairs = winnow_dup_pairs(docs, n=4, w=5, min_shared=1).toPandas()
    assert set(zip(pairs.id_a, pairs.id_b)) == {(1, 2)}


def test_winnow_scale_shapes(spark):
    from batch3dfier_spark.operators.winnow import (
        winnow_dup_pairs,
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # extraction is map-only: at most one Exchange, and only
    # _ensure_parallel's round-robin source fan-out (skipped entirely
    # for tiny sources since round 7) — no hash shuffle, no window
    plan = winnow_fingerprints(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1
    assert "hashpartitioning" not in plan.lower()
    assert "Window" not in plan
    # hot-fingerprint cap: 300 identical docs share every fingerprint;
    # with bucket_cap=8 only the 8 lowest ids pair up -> C(8,2) pairs
    clones = _df(
        spark,
        [(i, "same boilerplate page body repeated verbatim everywhere "
             "with enough tokens to fingerprint") for i in range(300)],
    )
    pairs = winnow_dup_pairs(clones, min_shared=1, bucket_cap=8).toPandas()
    assert set(pairs.id_a) | set(pairs.id_b) <= set(range(8))
    assert len(pairs) == 28
