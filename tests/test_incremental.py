"""Incremental corpus dedup: admit-only-new semantics against the
registered corpus, corpus-shuffle-free anti-join on the bucketed state, and
the contract queries' admit/reject split (dedup_incremental also vs
its DuckDB twin)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

TABLE = "inc_corpus_test"


@pytest.fixture()
def corpus_table(spark):
    yield TABLE
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


def test_increment_admits_only_new(spark, corpus_table):
    from batch3dfier_spark.operators.incremental import (
        dedup_increment,
        register_corpus,
    )

    register_corpus(
        spark, _df(spark, [(1, "alpha"), (2, "beta")]), corpus_table,
        n_buckets=4,
    )
    batch = _df(spark, [
        (10, "alpha"),   # already in corpus
        (11, "gamma"),   # new
        (12, "gamma"),   # intra-batch dup of 11 -> min id keeps
        (13, "delta"),   # new
    ])
    admitted = dedup_increment(spark, batch, corpus_table)
    got = admitted.toPandas().sort_values("doc_id")
    assert list(got["doc_id"]) == [11, 13]
    assert set(got.columns) == {"doc_id", "text", "text_sha"}


def test_corpus_side_never_shuffles(spark, corpus_table):
    """The whole point of the bucketed state: per-increment network is
    O(|batch|).  The anti-join plan must shuffle ONLY the probe side —
    exactly one hash Exchange, and a bucketed corpus scan."""
    from batch3dfier_spark.operators.incremental import register_corpus

    register_corpus(
        spark,
        _df(spark, [(i, f"doc {i}") for i in range(100)]),
        corpus_table,
        n_buckets=4,
    )
    probe = _df(spark, [(1000 + i, f"probe {i}") for i in range(10)]).select(
        F.sha2("text", 256).alias("text_sha")
    )
    joined = probe.join(
        spark.table(corpus_table).select("text_sha").hint("merge"),
        "text_sha",
        "left_anti",
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan
    # exactly one hash Exchange: the probe side, repartitioned to the
    # bucket count; the corpus scan feeds the sort-merge join directly
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert joined.count() == 10


def test_contract_query_matches_oracle(spark):
    """The contract increment (doc_id % 3 = 0 over the rest; oracle-
    checked in test_oracle_contract) admits some rows and rejects
    others."""
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["dedup_incremental"][0](spark, SF).toPandas()
    n_batch = (spark.read.parquet(f"{SF}/documents.parquet")
               .where("doc_id % 3 = 0").count())
    assert 0 < len(got) < n_batch


def test_near_increment_contract_admits_some(spark):
    """The near-dup contract increment admits some rows and rejects
    others."""
    from batch3dfier_spark.plans.queries import q_near_dedup_incremental

    got = q_near_dedup_incremental(spark, SF).count()
    n_batch = (spark.read.parquet(f"{SF}/documents.parquet")
               .where("doc_id % 3 = 0").count())
    assert 0 < got < n_batch


def test_vocab_topk_matches_oracle(spark):
    """(Placed here to avoid another Spark-session module.)  vocab_topk
    ranks by frequency; test_oracle_contract checks it against its
    DuckDB twin, boundary tie order included."""
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["vocab_topk"][0](spark, SF).toPandas()
    # frequencies are non-increasing with rank
    assert (got.sort_values("rank")["freq"].diff().dropna() <= 0).all()


NTABLE = "ninc_corpus_test"


@pytest.fixture()
def near_corpus_table(spark):
    yield NTABLE
    spark.sql(f"DROP TABLE IF EXISTS {NTABLE}_sigs")
    spark.sql(f"DROP TABLE IF EXISTS {NTABLE}_bands")


def test_near_increment_semantics(spark, near_corpus_table):
    """Near-dup admission: exact copies and near-copies of corpus docs
    are rejected, intra-batch near-pairs keep the min id, genuinely
    new docs are admitted."""
    from batch3dfier_spark.operators.incremental import (
        near_dedup_increment,
        register_minhash_corpus,
    )

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again while the band plays on through the night")
    corpus = _df(spark, [
        (1, base),
        (2, "completely different corpus text about tile indexes and "
            "spatial joins running at scale"),
    ])
    register_minhash_corpus(spark, corpus, near_corpus_table, n_buckets=2)
    batch = _df(spark, [
        (10, base),                      # exact copy of corpus doc 1
        (11, base.replace("lazy", "sleepy")),  # near-copy of corpus doc 1
        (12, "a wholly novel document mentioning embeddings quantization "
             "and deterministic sampling thresholds"),
        (13, "a wholly novel document mentioning embeddings quantization "
             "and deterministic sampling thresholds!!"),  # near-copy of 12
        (14, "unique short text with no relatives anywhere in sight "
             "padded to shingle length comfortably"),
    ])
    admitted = near_dedup_increment(spark, batch, near_corpus_table)
    got = admitted.toPandas().sort_values("doc_id")
    assert list(got["doc_id"]) == [12, 14]


def test_near_increment_state_side_never_shuffles(spark, near_corpus_table):
    """Both state joins (band probe, signature fetch) must read the
    bucketed tables without an Exchange above the scans — per-increment
    network is O(|batch|)."""
    from batch3dfier_spark.operators.incremental import (
        near_dedup_increment,
        register_minhash_corpus,
    )

    register_minhash_corpus(
        spark,
        _df(spark, [(i, f"corpus document number {i} padded with words "
                        f"to clear the shingle minimum") for i in range(60)]),
        near_corpus_table, n_buckets=2,
    )
    # five probes with DISJOINT vocabularies: near-dup neither of the
    # corpus nor of each other (a shared template would trip the
    # intra-batch star rule and shrink the admitted count)
    probe_texts = [
        "glacier moraine erratic boulder till outwash esker drumlin kame",
        "sonata allegro cadenza arpeggio crescendo fugue ostinato motif",
        "isotope neutron capture decay gamma spectrum detector shielding",
        "estuary brackish mangrove tidal salinity sediment delta marsh",
        "ledger debit credit accrual amortization liability equity audit",
    ]
    batch = _df(spark, [(1000 + i, t) for i, t in enumerate(probe_texts)])
    out = near_dedup_increment(spark, batch, near_corpus_table)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Bucketed: true") >= 2, plan
    # no Exchange may sit directly above a bucketed state scan: every
    # Exchange in the plan partitions batch-derived rows only.  The
    # mechanical form: the plan's FileScans of the two state tables
    # appear, and the Exchange count equals the count with the state
    # subtrees removed -- approximated here by asserting the bucketed
    # scans report their bucket output (SortMergeJoin consumes them
    # sort-order-intact, which Spark only does Exchange-free).
    assert f"{NTABLE}_bands" in plan and f"{NTABLE}_sigs" in plan
    assert out.count() == 5


def test_register_survives_stale_location(spark):
    """A leftover warehouse directory from a PREVIOUS session (fresh
    metastore, dirty warehouse) must not fail register_* with
    LOCATION_ALREADY_EXISTS — the round-6 driver red row."""
    import os

    from urllib.parse import urlparse

    from batch3dfier_spark.operators.incremental import (
        dedup_increment,
        near_dedup_increment,
        register_corpus,
        register_minhash_corpus,
    )

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("inc_stale_t", "ninc_stale_t_sigs", "ninc_stale_t_bands"):
        # simulate the stale dir: catalog has never seen the table but
        # its managed location already exists on disk
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = os.path.join(wh, t)
        os.makedirs(loc, exist_ok=True)
        with open(os.path.join(loc, "junk"), "w") as f:
            f.write("stale")

    try:
        register_corpus(
            spark, _df(spark, [(1, "alpha"), (2, "beta")]),
            "inc_stale_t", n_buckets=4,
        )
        got = dedup_increment(
            spark, _df(spark, [(10, "alpha"), (11, "new")]), "inc_stale_t"
        )
        assert list(got.toPandas()["doc_id"]) == [11]

        register_minhash_corpus(
            spark,
            _df(spark, [(1, "the quick brown fox jumps over the dog"),
                        (2, "a completely different sentence here")]),
            "ninc_stale_t", n_buckets=2,
        )
        out = near_dedup_increment(
            spark,
            _df(spark, [(10, "the quick brown fox jumps over the dog"),
                        (11, "unrelated fresh text with novel words")]),
            "ninc_stale_t",
        )
        assert list(out.toPandas()["doc_id"]) == [11]
    finally:
        for t in ("inc_stale_t", "ninc_stale_t_sigs", "ninc_stale_t_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_reset_qualified_table_keeps_default_db_namesake(spark):
    """Resetting `<db>.<t>` removes only `<warehouse>/<db>.db/<t>`; a
    default-database table `<t>` (at `<warehouse>/<t>`) keeps its rows."""
    import os

    from urllib.parse import urlparse

    from batch3dfier_spark.operators.incremental import _reset_table

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql("CREATE DATABASE IF NOT EXISTS reset_other")
    stale = os.path.join(wh, "reset_other.db", "reset_keep_t")
    try:
        _df(spark, [(1, "alpha"), (2, "beta")]).write.mode(
            "overwrite").saveAsTable("reset_keep_t")
        os.makedirs(stale, exist_ok=True)
        _reset_table(spark, "reset_other.reset_keep_t")
        assert not os.path.exists(stale)
        spark.catalog.refreshTable("reset_keep_t")
        got = spark.table("reset_keep_t").toPandas()
        assert sorted(got["doc_id"]) == [1, 2]
    finally:
        spark.sql("DROP TABLE IF EXISTS reset_keep_t")
        spark.sql("DROP DATABASE IF EXISTS reset_other CASCADE")
