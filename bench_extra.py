"""Extra measurement probes (guide §1.4) — NOT part of the driver bench.

Isolates components of the expensive queries with the noop sink so the
computation is timed, not the sink, and labels jobs for the UI.  Used to
attribute time inside q_hybrid_rrf / q_bm25_topk / q_near_dedup_incremental /
q_dedup_clusters / the *_stream drains at a given SF before and after each
optimization; numbers are cited in OPTIMIZATION_r07.md.

Usage: python bench_extra.py [probe ...]       # default: all probes
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
REPS = int(os.environ.get("SPARK_GRAFT_EXTRA_RUNS", "2"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from pyspark.sql import functions as F

    from batch3dfier_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="bench_extra", cores=cores,
                      shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    out: dict[str, float] = {}

    def timed(name: str, fn, reps: int = REPS) -> None:
        best = float("inf")
        for _ in range(reps):
            sc.setJobDescription(name)
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
            sc.setJobDescription(None)
            spark.catalog.clearCache()
        out[name] = round(best, 3)
        print(f"# {name}: {best:.3f}s", file=sys.stderr, flush=True)

    def docs():
        return spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def emb():
        return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    want = set(sys.argv[1:])

    def sel(name: str) -> bool:
        return not want or any(w in name for w in want)

    # ---------------- bm25 components ----------------
    if sel("bm25"):
        from batch3dfier_spark.operators.bm25 import bm25_topk, token_occurrences

        def bm25_occ():
            noop(token_occurrences(docs(), "text", "doc_id"))

        def bm25_full_k5():
            qs = docs().where(F.col("doc_id") % 97 == 0).select(
                F.col("doc_id").alias("query_id"), F.col("text").alias("qtext"))
            bm25_topk(docs(), qs, k=5).count()

        def bm25_full_k20():
            qs = docs().where(F.col("doc_id") % 97 == 0).select(
                F.col("doc_id").alias("query_id"), F.col("text").alias("qtext"))
            bm25_topk(docs(), qs, k=20).count()

        timed("bm25_occ", bm25_occ)
        timed("bm25_full_k5", bm25_full_k5)
        timed("bm25_full_k20", bm25_full_k20)

    # ---------------- hybrid components ----------------
    if sel("hybrid"):
        from batch3dfier_spark.operators.bm25 import bm25_topk
        from batch3dfier_spark.operators.retrieval import rrf_fuse
        from batch3dfier_spark.operators.similarity import cosine_topk

        def hyb_cosine():
            e = emb()
            cosine_topk(e, e.where(F.col("vec_id") % 97 == 0), k=20).count()

        def hyb_full():
            d = docs()
            qs = d.where(F.col("doc_id") % 97 == 0).select(
                F.col("doc_id").alias("query_id"), F.col("text").alias("qtext"))
            bm = bm25_topk(d, qs, k=20).withColumnRenamed("doc_id", "cand_id")
            e = emb()
            ann = cosine_topk(e, e.where(F.col("vec_id") % 97 == 0), k=20)
            rrf_fuse(bm, ann, k=5).count()

        timed("hyb_cosine_k20", hyb_cosine)
        timed("hyb_full", hyb_full)

    # ---------------- near_dedup_incremental components ----------------
    if sel("ninc"):
        from batch3dfier_spark.operators.dedup import minhash_signatures
        from batch3dfier_spark.operators.incremental import (
            near_dedup_increment, register_minhash_corpus)

        d = F.col("doc_id")
        content = F.when(
            d % 5 == 0, F.format_string("boilerplate %d", F.pmod(d, F.lit(70)))
        ).otherwise(F.col("text"))

        def ninc_docs():
            return docs().select("doc_id", content.alias("text"))

        def ninc_sigs_only():
            noop(minhash_signatures(ninc_docs().where(d % 3 != 0)))

        def ninc_register():
            register_minhash_corpus(
                spark, ninc_docs().where(d % 3 != 0), "bx_ninc", n_buckets=8)

        def ninc_probe():
            near_dedup_increment(
                spark, ninc_docs().where(d % 3 == 0), "bx_ninc").count()

        timed("ninc_sigs_only", ninc_sigs_only)
        timed("ninc_register", ninc_register)
        timed("ninc_probe", ninc_probe)
        spark.sql("DROP TABLE IF EXISTS bx_ninc_sigs")
        spark.sql("DROP TABLE IF EXISTS bx_ninc_bands")

    # ---------------- clusters components ----------------
    if sel("clusters"):
        from batch3dfier_spark.operators.dedup import (
            connected_components, simhash_near_dups)

        def clus_pairs():
            noop(simhash_near_dups(docs(), max_hamming=8))

        def clus_cc():
            stats: dict = {}
            labels = connected_components(
                simhash_near_dups(docs(), max_hamming=8), stats=stats)
            labels.count()
            print(f"#   cc rounds: {stats.get('rounds')}", file=sys.stderr)

        timed("clus_pairs", clus_pairs)
        timed("clus_cc", clus_cc)

    # ---------------- streaming drains ----------------
    if sel("stream"):
        import importlib

        entry = importlib.import_module("__spark_entry__")
        qmap = entry.queries()
        for nm in ("events_enrich", "events_enrich_stream",
                   "events_dedup_stream", "events_session_stream",
                   "user_totals_stream", "events_attrib_stream"):
            if nm in qmap:
                timed(f"q_{nm}", lambda nm=nm: qmap[nm](spark, SF_DIR).count())

    print(json.dumps({"sf": SF_DIR, "probes": out}))


if __name__ == "__main__":
    main()
