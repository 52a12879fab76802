"""KMV distinct sketches (operators/sketches): exact regime, estimate
accuracy band, two-level == single-level selection invariance, DuckDB
oracle parity, and
the hot-group-free scale shape."""

import pandas as pd

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "source", "text"]))


def test_kmv_exact_regime_small_groups(spark):
    from batch3dfier_spark.operators.sketches import kmv_distinct

    rows = [
        (1, "a", "x y z x"),          # 3 distinct
        (2, "a", "z w"),              # a: {x y z w} = 4 distinct
        (3, "b", ""),                 # token-less: no row for b
        (4, "c", "only"),             # 1 distinct
    ]
    got = (
        kmv_distinct(_docs(spark, rows), k=64)
        .toPandas().set_index("source")
    )
    assert got.loc["a", "est_distinct"] == 4
    assert got.loc["a", "n_retained"] == 4
    assert got.loc["c", "est_distinct"] == 1
    assert "b" not in got.index


def test_kmv_estimate_band_and_determinism(spark):
    from batch3dfier_spark.operators.sketches import kmv_distinct

    # 400 distinct tokens, k=32: KMV relative error ~ 1/sqrt(k-1) —
    # assert a loose 2x band plus bit-identical re-evaluation
    rows = [(i, "g", " ".join(f"tok{j}" for j in range(i * 40, i * 40 + 40)))
            for i in range(10)]
    df = _docs(spark, rows)
    a = kmv_distinct(df, k=32).toPandas()
    b = kmv_distinct(df, k=32).toPandas()
    pd.testing.assert_frame_equal(a, b)
    est = int(a.loc[0, "est_distinct"])
    assert a.loc[0, "n_retained"] == 32
    assert 200 <= est <= 800


def test_kmv_two_level_equals_single_level(spark):
    from batch3dfier_spark.operators.sketches import kmv_distinct

    rows = [(i, "g" if i % 2 else "h",
             " ".join(f"w{j}" for j in range(i, i + 25)))
            for i in range(40)]
    df = _docs(spark, rows)
    one = kmv_distinct(df, k=16, salt_buckets=1).toPandas()
    many = kmv_distinct(df, k=16, salt_buckets=16).toPandas()
    cols = ["source", "n_retained", "kth_hash", "est_distinct"]
    pd.testing.assert_frame_equal(
        one[cols].sort_values("source").reset_index(drop=True),
        many[cols].sort_values("source").reset_index(drop=True),
    )


def test_kmv_matches_oracle(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["kmv_distinct"][0](spark, SF).toPandas()
    assert (got.est_distinct > 0).all()


def test_kmv_scale_shape(spark):
    from batch3dfier_spark.operators.sketches import kmv_distinct

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        kmv_distinct(docs, k=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    # the distinct's agg key includes the hash (no hot group); the only
    # windows run over salted / pre-capped inputs; no python
    assert "Python" not in plan
    # exactly the salted + final top-k window execs (WindowGroupLimit
    # rank-pushdown nodes around them are welcome and not counted)
    assert len(re.findall(r"\bWindow \[", plan)) == 2


def test_bloom_no_false_negatives(spark):
    """Every built key probes maybe_member=true — the bloom
    one-sided-error contract."""
    from batch3dfier_spark.operators.sketches import bloom_build, bloom_probe

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    bloom = bloom_build(docs, key_col="text", m_bits=4096, k=4)
    probes = docs.select(
        docs.doc_id.alias("probe_id"), docs.text.alias("key"))
    out = bloom_probe(probes, bloom).toPandas()
    assert bool(out["maybe_member"].all())


def test_bloom_false_positives_exist_and_are_deterministic(spark):
    """At 4096 bits / ~2000 set, absent keys hit a real (~6%) FP rate;
    two runs agree exactly (the rate is a deterministic function of
    the corpus, not randomness)."""
    import pyspark.sql.functions as F

    from batch3dfier_spark.operators.sketches import bloom_build, bloom_probe

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    bloom = bloom_build(docs, key_col="text", m_bits=4096, k=4)
    probes = docs.select(
        docs.doc_id.alias("probe_id"),
        F.concat(F.lit("absent-"), docs.doc_id).alias("key"))
    a = (bloom_probe(probes, bloom).toPandas()
         .sort_values("probe_id").reset_index(drop=True))
    b = (bloom_probe(probes, bloom).toPandas()
         .sort_values("probe_id").reset_index(drop=True))
    n_fp = int(a["maybe_member"].sum())
    assert 0 < n_fp < len(a) // 2
    pd.testing.assert_frame_equal(a, b)


def test_bloom_is_mergeable(spark):
    """bloom(A union B) == DISTINCT(bloom(A) union bloom(B))."""
    from batch3dfier_spark.operators.sketches import bloom_build

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    a, b = docs.where(docs.doc_id % 2 == 0), docs.where(docs.doc_id % 2 == 1)
    whole = set(
        r.bit for r in bloom_build(docs, key_col="text").collect())
    merged = set(
        r.bit for r in bloom_build(a, key_col="text").unionByName(
            bloom_build(b, key_col="text")).distinct().collect())
    assert whole == merged


def test_bloom_shuffle_filter_path_matches_broadcast(spark):
    from batch3dfier_spark.operators.sketches import bloom_build, bloom_probe

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text").limit(100)
    bloom = bloom_build(docs, key_col="text")
    probes = docs.select(
        docs.doc_id.alias("probe_id"), docs.text.alias("key"))
    a = (bloom_probe(probes, bloom, broadcast_filter=True).toPandas()
         .sort_values("probe_id").reset_index(drop=True))
    b = (bloom_probe(probes, bloom, broadcast_filter=False).toPandas()
         .sort_values("probe_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_bloom_plan_has_no_window_and_no_python(spark):
    from batch3dfier_spark.operators.sketches import bloom_build, bloom_probe

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    bloom = bloom_build(docs, key_col="text")
    probes = docs.select(
        docs.doc_id.alias("probe_id"), docs.text.alias("key"))
    plan = (bloom_probe(probes, bloom)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert "Python" not in plan


def test_cms_never_underestimates_and_is_exact_when_uncollided(spark):
    from batch3dfier_spark.operators.sketches import (
        cms_build, cms_estimate)

    rows = [("a",)] * 100 + [("b",)] * 7 + [("c",)] * 1
    df = spark.createDataFrame(rows, "token string")
    cms = cms_build(df, "token", depth=4, width=1024)
    probes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("absent",)], "token string")
    got = {r["token"]: r["est"]
           for r in cms_estimate(probes, cms, "token",
                                 depth=4, width=1024).collect()}
    # one-sided error: est >= truth always
    assert got["a"] >= 100 and got["b"] >= 7 and got["c"] >= 1
    assert got["absent"] >= 0
    # with 3 keys in 4x1024 cells, collisions are absent -> exact
    assert got["a"] == 100 and got["b"] == 7 and got["c"] == 1
    assert got["absent"] == 0


def test_cms_is_mergeable(spark):
    from pyspark.sql import functions as F

    from batch3dfier_spark.operators.sketches import (
        cms_build, cms_estimate)

    a = spark.createDataFrame([("x",)] * 5 + [("y",)] * 2, "token string")
    b = spark.createDataFrame([("x",)] * 3 + [("z",)] * 4, "token string")
    merged = (
        cms_build(a, "token", width=512)
        .unionByName(cms_build(b, "token", width=512))
        .groupBy("d", "w").agg(F.sum("n").alias("n"))
    )
    whole = cms_build(a.unionByName(b), "token", width=512)
    probes = spark.createDataFrame([("x",), ("y",), ("z",)], "token string")
    em = {r["token"]: r["est"]
          for r in cms_estimate(probes, merged, "token",
                                width=512).collect()}
    ew = {r["token"]: r["est"]
          for r in cms_estimate(probes, whole, "token",
                                width=512).collect()}
    assert em == ew == {"x": 8, "y": 2, "z": 4}
