"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down by env for
the local[32] sandbox:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow transport for the few pandas UDFs
- shuffle partitions sized by env (driver bench sets cores)

plus the one source-size probe (`input_bytes`, and `scan_bytes` over a
frame's input files) behind every size-driven decision: `ensure_parallel`,
the stream state partitioning and the minhash_near_dups path.

Lifetime of intermediates, the one rule: an operator's result owns
everything it depends on.  An intermediate read twice is materialized
with `df.localCheckpoint(...)`; Spark's ContextCleaner frees its blocks
once the result holding it is garbage-collected.  No CacheManager
entry, no handle to release, no option.  Scratch files (stream sinks)
are read into such a checkpoint and removed before returning.  With
AQE on, `localCheckpoint(eager=False)` runs the intermediate's shuffle
stages when called, so such an operator does work at call time.  Where
recomputing measured faster (the keeper set of the distributed
minhash_near_dups funnel, which each consumer re-reads against one
shared per-hash groups exchange), the intermediate is not materialized
at all.
"""

from __future__ import annotations

import os
import tempfile
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "batch3dfier_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # catalog tables (operators/incremental) go to a scratch warehouse,
    # not cwd
    warehouse = os.environ.get("SPARK_GRAFT_WAREHOUSE") or os.path.join(
        tempfile.gettempdir(), f"b3d_warehouse_{os.getpid()}"
    )
    # heap must scale with task slots: allocation-heavy stages (regex
    # over html strings) at 32 threads on a fixed 8g heap turn into a
    # GC storm and scale NEGATIVELY from 8 to 32 cores (measured)
    mem = os.environ.get("SPARK_DRIVER_MEM") or f"{max(8, int(1.5 * cores))}g"
    b = SparkSession.builder.appName(app_name)
    # under spark-submit (gateway env present) the master/deploy mode
    # comes from the submit command — never override it here
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        # local[N, 4]: allow task retries — local mode defaults to
        # maxFailures=1, so a single crashed/killed python worker aborts
        # the whole job (observed on this shared-host VM; on a real
        # cluster 4 is the standard default)
        b = b.master(f"local[{cores},4]")
        # list a read's paths on the driver at any path count: past the
        # threshold (32 by default) Spark lists them in a job with one
        # task per path, and in local mode every task runs on the
        # driver's machine anyway.  Reading back an append-only tile
        # table (one file per dispatch task per commit), mergeSchema
        # read + count, local[4] on 4 vCPUs: 40 files went from 4 jobs
        # and 0.23-0.53 s for the read call to 3 jobs and 0.12-0.16 s;
        # 200 files from 4 jobs and 0.81-1.07 s to 3 jobs and 0.10-0.18 s
        b = b.config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                     str(1 << 30))
    else:
        # cluster path only: speculative copies of straggler tasks.
        # Spark's TaskSchedulerImpl never starts the speculation thread
        # in local mode, so setting these locally would be a no-op —
        # the local-mode mitigations are local[N,4] retries plus
        # tools/stall_watchdog.py.
        b = (
            b.config("spark.speculation", "true")
            .config("spark.speculation.multiplier", "4")
            .config("spark.speculation.quantile", "0.9")
        )
    b = (
        b
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE-time broadcast decisions use RUNTIME sizes, so a higher
        # threshold is safe at any scale (a genuinely big side never
        # qualifies); 64m lets mid-size dimension/signature tables
        # broadcast instead of re-shuffling multi-million-row streams
        # (guide §3.1 — measured on the minhash est-screen joins)
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # smaller scan splits -> several task waves per stage, so one
        # straggler row group cannot serialize a map stage (64-file
        # corpora otherwise arrive as exactly one wave at 32 cores)
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.driver.extraJavaOptions", f"-Dderby.system.home={warehouse}")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_path(p: str) -> str:
    """The path of a plain path or a (percent-encoded) file:// URI;
    OSError for any other scheme: the file is not on this machine."""
    u = urlparse(p)
    if u.scheme not in ("", "file"):
        raise OSError(f"not a local path: {p}")
    return unquote(u.path) if u.scheme else p


def input_bytes(paths: list[str]) -> int:
    """Total bytes of local files or directories, given as plain paths
    or file:// URIs.  Directories are walked recursively, skipping the
    `.`/`_`-prefixed entries Spark's file listing skips.  Raises OSError
    for a missing or non-local path: unknown is not small."""
    total = 0
    for p in paths:
        p = local_path(p)
        if not os.path.isdir(p):
            total += os.path.getsize(p)
            continue
        for root, dirs, names in os.walk(p):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            total += sum(os.path.getsize(os.path.join(root, n))
                         for n in names if not n.startswith((".", "_")))
    return total


# Local input bytes under which one task beats a fan-out: ensure_parallel
# skips its repartition, and minhash_near_dups runs its whole funnel in one
# executor task.  The minhash crossover, measured on 4 vCPUs
# (minhash_near_dups(...).collect() at threshold 0.72 over salted
# perfbench-style documents in 4 parquet files, one task vs the
# distributed funnel; warm = median of 3 calls after the first):
#
#   docs    bytes    warm one / dist   cold one / dist
#   1 260   0.38 MB   0.97 / 2.05 s     5.0 / 8.0 s
#   5 040   1.39 MB   2.32 / 3.91 s     6.6 / 11.0 s
#   10 080  2.76 MB   5.06 / 4.49 s     8.5 / 11.9 s
#   20 160  5.49 MB  10.90 / 8.15 s    15.1 / 16.3 s
#
# Warm, one task wins up to ~2.4 MB; cold, past 5.5 MB.  2 MB takes the
# one-task path only where it wins both.
SMALL_SCAN_BYTES = 2 << 20


def scan_bytes(df: DataFrame) -> int | None:
    """Bytes of the local files `df` scans (`input_bytes` over
    `df.inputFiles()`, a driver-side plan walk: no job), or None when
    unknown: no input files (an in-memory or checkpointed frame) or a
    path that is not local."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        return input_bytes(files)
    except OSError:
        return None


def ensure_parallel(df: DataFrame) -> DataFrame:
    """Fan a SOURCE frame out to defaultParallelism partitions before a
    CPU-bound Arrow UDF stage (one small parquet file is ONE partition
    and would serialize it), unless the scan already has a file per
    core or reads under SMALL_SCAN_BYTES of local files — there the
    kernel beats the shuffle + fan-out cost (+0.2 s measured on the
    sf0.1 ANN queries).  `df.inputFiles()` is a driver-side plan walk;
    probing `df.rdd.getNumPartitions()` forces a plan->RDD conversion,
    measured 5-8x slower on the composed dedup funnels.  Join outputs
    already carry shuffle-partition parallelism: call this on sources
    only."""
    want = df.sparkSession.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= want:
            return df
    except Exception:
        pass
    size = scan_bytes(df)
    if size is not None and size < SMALL_SCAN_BYTES:
        return df
    return df.repartition(want)
