"""Incremental corpus dedup: admit each incoming batch of documents
only where its content is new — against everything already accepted.
This is the daily-crawl steady state of a training-data pipeline: the
corpus is ~100 TB; the batch is the small new increment.  The corpus
state is registered once and probed per batch; nothing here folds an
admitted batch back into it.

Spark-first shape:
- corpus state is a BUCKETED catalog table of content hashes
  (`bucketBy(n_buckets, "text_sha")`, a durable hash-partitioning).
  A batch-vs-corpus anti-join then shuffles ONLY the batch: the scan
  of the corpus side reports HashPartitioning(text_sha) and Catalyst
  drops its Exchange (asserted in tests/test_incremental.py).  Without
  bucketing, every daily batch would re-shuffle the full corpus hash
  set — the difference between O(|batch|) and O(|corpus|) network per
  increment, which at 100 TB of corpus is the whole game.
- intra-batch dedup first (the batch may repeat itself): min-id keeper
  per hash, `dedup.min_id_survivors` — the survivor rule exact_dedup
  uses, whose partial aggregation absorbs hot identical docs map-side.

Determinism: sha2-256 of the raw text; survivor = min id; no
randomness, no timestamps.  `dedup_increment` itself is replayed by an
ANSI twin (`sql_dedup_increment`) over two derived views.

Reference analog: none directly (the reference re-runs whole tiles;
its resume bookkeeping `operators/dispatch.py` is the tile-level
cousin).  Part of the engine's training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_path
from .dedup import min_id_survivors

__all__ = [
    "register_corpus",
    "dedup_increment",
    "sql_dedup_increment",
    "register_minhash_corpus",
    "near_dedup_increment",
]


def _reset_table(spark: SparkSession, table: str) -> None:
    """Make ``mode("overwrite").saveAsTable(table)`` idempotent under ANY
    session/warehouse combination.  ``overwrite`` can only replace a table
    the *current* catalog knows about; a leftover location directory from a
    previous session (fresh metastore, dirty warehouse cwd) fails CREATE
    with LOCATION_ALREADY_EXISTS.  So: drop the catalog entry if present,
    then remove the stale location directory the name maps to — ONLY
    that one: ``<warehouse>/<table>`` for the default database,
    ``<warehouse>/<db>.db/<table>`` for any other, so a same-named table
    in another database is never touched."""
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        root = local_path(spark.conf.get("spark.sql.warehouse.dir", "") or "")
    except OSError:  # non-local warehouse: the catalog drop is all we
        return  # can (and need to) do locally
    parts = table.lower().split(".")
    db = parts[-2] if len(parts) > 1 else spark.catalog.currentDatabase()
    if db != "default":
        root = os.path.join(root, db + ".db")
    loc = os.path.join(root, parts[-1])
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def register_corpus(
    spark: SparkSession,
    corpus: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """Materialize the corpus content-hash state as a bucketed catalog
    table (text_sha-bucketed, one row per distinct hash with its
    keeper id).  One shuffle now; zero corpus shuffles on every later
    increment."""
    _reset_table(spark, table)
    (
        corpus.groupBy(F.sha2(F.col(text_col), 256).alias("text_sha"))
        .agg(F.min(id_col).alias(id_col))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "text_sha")
        .sortBy("text_sha")
        .saveAsTable(table)
    )


def dedup_increment(
    spark: SparkSession,
    batch: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows of `batch` that are new: not an intra-batch duplicate (min
    id per hash wins) and not already in the corpus table.  Returns the
    batch's columns plus text_sha; only the batch side shuffles."""
    keepers = min_id_survivors(
        batch.withColumn("text_sha", F.sha2(F.col(text_col), 256)),
        F.col("text_sha"), id_col,
    )
    # merge hint: the corpus side must NEVER be broadcast (it is the
    # 100 TB side; the optimizer only sees a cheap hash-column scan and
    # would happily broadcast a "small-looking" sample of it in tests
    # or misconfigured sessions).  Under sort-merge the bucketed scan
    # satisfies the join's distribution itself — no corpus Exchange.
    return keepers.join(
        spark.table(table).select("text_sha").hint("merge"),
        "text_sha",
        "left_anti",
    )


def sql_dedup_increment(
    batch_sql: str,
    corpus_sql: str,
    text: str = "text",
) -> str:
    """ANSI twin of dedup_increment over derived batch/corpus views:
    intra-batch min-id keeper, then anti-join against corpus hashes."""
    return f"""
WITH batch AS ({batch_sql}),
corpus AS ({corpus_sql}),
bh AS (SELECT doc_id, sha256({text}) AS text_sha FROM batch),
keepers AS (
  SELECT text_sha, MIN(doc_id) AS doc_id FROM bh GROUP BY text_sha
),
fresh AS (
  SELECT k.text_sha, k.doc_id FROM keepers k
  WHERE NOT EXISTS (
    SELECT 1 FROM corpus c WHERE sha256(c.{text}) = k.text_sha)
)
SELECT b.*, f.text_sha
FROM batch b JOIN fresh f USING (doc_id)
"""


# ---------------------------------------------------------------------------
# incremental NEAR-dup: a minhash-LSH corpus state, O(batch) per increment
# ---------------------------------------------------------------------------

def register_minhash_corpus(
    spark: SparkSession,
    corpus: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_k: int = 5,
    bands: int = 16,
    n_buckets: int = 8,
    bucket_cap: int = 128,
) -> None:
    """Materialize the corpus NEAR-dup state — the minhash analog of
    register_corpus's exact-hash state, sized for a forever-growing
    100 TB corpus:

    - `{table}_sigs` (id, signature[num_perm]): num_perm*8 bytes per
      doc (the whole reason decisions run on signature ESTIMATES —
      storing shingle sets for exact verification would be a second
      copy of the corpus), bucketed+sorted by id so the per-candidate
      signature fetch never shuffles the corpus side;
    - `{table}_bands` (band_id, band_hash, id): the LSH postings,
      bucketed+sorted by (band_id, band_hash) so a batch's band probe
      is a bucket-local sort-merge join — O(|batch|) network per
      increment.  Each (band_id, band_hash) bucket keeps only its
      `bucket_cap` lowest ids (deterministic, QUALIFY-reproducible):
      a mega-cluster of near-identical corpus docs needs only a few
      stored representatives to reject every future member, and the
      cap bounds any later probe's fan-out.

    Signatures are computed ONCE (the Arrow pass is the expensive
    part): sigs are written first and the band postings derive from
    reading them back."""
    from .dedup import band_rows, cap_band_buckets, minhash_signatures

    _reset_table(spark, table + "_sigs")
    _reset_table(spark, table + "_bands")
    sigs = minhash_signatures(
        corpus, text_col=text_col, id_col=id_col,
        num_perm=num_perm, shingle_k=shingle_k,
    )
    (
        sigs.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, id_col).sortBy(id_col)
        .saveAsTable(table + "_sigs")
    )
    banded = cap_band_buckets(
        band_rows(spark.table(table + "_sigs"), id_col, bands).select(
            "band_id", "band_hash", id_col
        ),
        id_col, bucket_cap,
    )
    (
        banded.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, "band_id", "band_hash")
        .sortBy("band_id", "band_hash")
        .saveAsTable(table + "_bands")
    )


def near_dedup_increment(
    spark: SparkSession,
    batch: DataFrame,
    table: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_k: int = 5,
    bands: int = 16,
    bucket_cap: int = 128,
) -> DataFrame:
    """Admit the rows of `batch` that are near-new: estimated jaccard
    (matching minhash components / num_perm) below `threshold` against
    every stored corpus doc AND against every earlier batch doc (the
    lowest id of an intra-batch near-pair survives, the star rule).
    Returns the admitted batch rows.

    This is the daily-crawl steady state for NEAR duplication, and the
    decision is deliberately estimate-based: the corpus state stores
    signatures only (see register_minhash_corpus), which is what makes
    an ever-growing corpus state affordable — the batch side, being
    small, could verify exactly, but cross-engine the rule must be one
    rule, so both sides use the ceil(num_perm * threshold) component
    screen (at num_perm=64 the estimate's std-dev at the 0.5 boundary
    is ~0.06; production LSH dedup runs on exactly this trade).

    Scale shape: both joins against state hint MERGE and land on the
    state's bucket layout — band probe on (band_id, band_hash),
    signature fetch on the candidate ids — so ONLY batch-derived rows
    ever shuffle; the corpus side is Exchange-free (asserted in
    tests/test_incremental.py).  The batch signatures, read three
    times, are checkpointed when this is called (session.py lifetime
    rule)."""
    import math

    from .dedup import (band_rows, lsh_candidates, minhash_signatures,
                        signature_matches)

    k_min = int(math.ceil(num_perm * threshold))
    bsigs = minhash_signatures(
        batch, text_col=text_col, id_col=id_col,
        num_perm=num_perm, shingle_k=shingle_k,
    ).localCheckpoint(eager=False)
    bbands = band_rows(bsigs, id_col, bands)

    # corpus collisions: band probe -> candidate (batch, corpus) pairs
    # -> signature screen.  distinct() before the sig fetch: a pair
    # colliding in several bands is one candidate.
    hits = (
        bbands.join(
            spark.table(table + "_bands")
            .withColumnRenamed(id_col, "_cid").hint("merge"),
            ["band_id", "band_hash"],
        )
        .select(id_col, "_cid")
        .distinct()
    )
    csigs = (
        spark.table(table + "_sigs")
        .select(F.col(id_col).alias("_cid"),
                F.col("signature").alias("_csig"))
        .hint("merge")
    )
    cand = (
        hits.join(csigs, "_cid")
        .join(
            F.broadcast(bsigs.select(
                F.col(id_col), F.col("signature").alias("_bsig"))),
            id_col,
        )
    )
    corpus_dups = (
        cand.where(
            signature_matches(F.col("_bsig"), F.col("_csig")) >= F.lit(k_min)
        )
        .select(id_col)
        .distinct()
    )

    # intra-batch: LSH buckets within the batch screened in-bucket by
    # the same k_min rule, the higher id of each near-pair drops (min-id
    # star rule)
    intra_dups = (
        lsh_candidates(bsigs, id_col=id_col, bands=bands,
                       bucket_cap=bucket_cap, min_matches=k_min)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )

    dropped = corpus_dups.unionByName(intra_dups).distinct()
    return batch.join(dropped, id_col, "left_anti")
