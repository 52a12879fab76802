"""Per-layer metrics of the traced run.

`install` puts spans on the public entry points of each layer.  Layers
that only build a lazy plan (extent_filter, join_heights, knn_tiles,
minhash_near_dups) run inside their caller's action, so their work is
attributed through the plan nodes they own: the sha2 `Generate` is the
tiler's geocode, `FlatMapGroupsInPandas` is dispatch, `ArrowEvalPython`
is the extent filter, `MapInPandas` is the kNN probe, and the Python
nodes under the near-dedup step are the minhash funnel.  A lazy layer's
own `.s` is the driver time of the call that builds its plan.

Every metric is reported for every workload: a layer a workload does
not reach reads 0 there, which is the prediction for that workload.
Values are per operation of the kind named in METRICS (per call of the
layer, per query, per pipeline run, per tile-job iteration).
"""

from __future__ import annotations

import statistics

from batch3dfier_spark import app, textpipe
from batch3dfier_spark.operators import dedup, heights, neighbors, tiler
from batch3dfier_spark.sources import pages
from batch3dfier_spark.storage import tablefmt

from eventlog import PY_NODES, EventLog, covered_s

TEXTPIPE_OPS = ("exact_dedup", "quality_filter", "near_dedup", "hash_split", "domain_cap")

# name -> (unit, better)
METRICS: dict[str, tuple[str, str]] = {
    # tile_job
    "app.build_work_df.s": ("s", "lower"),
    "dispatch.run_tiles.s": ("s", "lower"),
    "dispatch.run_tiles.driver_s": ("s", "lower"),
    "dispatch.run_tiles.cpu_s": ("s", "lower"),
    "dispatch.py_bytes_sent": ("bytes", "lower"),
    "dispatch.py_bytes_recv": ("bytes", "lower"),
    "dispatch.shuffle_write_bytes": ("bytes", "lower"),
    "dispatch.spill_bytes": ("bytes", "lower"),
    "dispatch.py_start_s": ("s", "lower"),
    "dispatch.groups": ("count", "lower"),
    "dispatch.files_written": ("count", "lower"),
    "bag3d.assemble_bag3d.s": ("s", "lower"),
    "tablefmt.read.s": ("s", "lower"),
    "tablefmt.read.files": ("count", "lower"),
    "tablefmt.commit_staged.s": ("s", "lower"),
    "tablefmt.lineage.s": ("s", "lower"),
    "tablefmt.completed_tiles.s": ("s", "lower"),
    "tablefmt.data_bytes": ("bytes", "lower"),
    "tablefmt.metadata_bytes": ("bytes", "lower"),
    "tiler.geocoded_rows_per_committed_row": ("ratio", "lower"),
    # tile_query
    "pages.ingest_pages.s": ("s", "lower"),
    "pages.ingest_pages.cpu_s": ("s", "lower"),
    "pages.ingest_pages.shuffle_write_bytes": ("bytes", "lower"),
    "pages.ingest_pages.spill_bytes": ("bytes", "lower"),
    "tiler.select_tiles.s": ("s", "lower"),
    "tiler.extent_filter.rows_in": ("count", "lower"),
    "tiler.extent_filter.py_bytes_sent": ("bytes", "lower"),
    "query.rows_scanned_per_row_returned": ("ratio", "lower"),
    "heights.join_heights.s": ("s", "lower"),
    "heights.join_broadcast": ("frac", "higher"),
    "neighbors.knn_tiles.s": ("s", "lower"),
    "neighbors.knn_tiles.py_bytes_sent": ("bytes", "lower"),
    "query.driver_s": ("s", "lower"),
    "query.jobs": ("count", "lower"),
    "query.stages": ("count", "lower"),
    "query.tasks": ("count", "lower"),
    # textpipe
    **{f"textpipe.{op}.s": ("s", "lower") for op in TEXTPIPE_OPS},
    **{f"textpipe.{op}.rows_out": ("count", "lower") for op in TEXTPIPE_OPS},
    "textpipe.stage_bytes_written": ("bytes", "lower"),
    "dedup.minhash_near_dups.s": ("s", "lower"),
    "dedup.minhash_near_dups.py_bytes_sent": ("bytes", "lower"),
    "dedup.minhash_near_dups.shuffle_write_bytes": ("bytes", "lower"),
    "dedup.minhash_near_dups.smj_nodes": ("count", "lower"),
    "dedup.connected_components.s": ("s", "lower"),
    "dedup.connected_components.driver_s": ("s", "lower"),
    "dedup.connected_components.rounds": ("count", "lower"),
    "dedup.connected_components.jobs": ("count", "lower"),
    "dedup.near_dup_recall": ("frac", "higher"),
    # every workload
    "session.get_spark.s": ("s", "lower"),
    "datagen.s": ("s", "lower"),
    "spark.task_wait_s": ("s", "lower"),
    "spark.py_start_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "trace_overhead_frac": ("frac", "lower"),
}

CPU_SPANS = ("dispatch.run_tiles", "pages.ingest_pages")


def install(tr) -> None:
    """Spans on the layers' public attributes, patched where callers
    look them up (app imports run_tiles by name)."""
    tr.wrap(app, "build_work_df", "app.build_work_df")
    tr.wrap(app, "run_tiles", "dispatch.run_tiles")
    T = tablefmt.IcebergishTable
    for m in ("read", "commit_staged", "lineage", "completed_tiles"):
        tr.wrap(T, m, f"tablefmt.{m}")
    tr.wrap(T, "files", "tablefmt.files",
            count=lambda sp, a, k, out: sp.counts.__setitem__("files", len(out)))
    tr.wrap(pages, "ingest_pages", "pages.ingest_pages")
    tr.wrap(tiler, "select_tiles", "tiler.select_tiles")
    tr.wrap(tiler, "extent_filter", "tiler.extent_filter")
    tr.wrap(heights, "join_heights", "heights.join_heights")
    tr.wrap(neighbors, "knn_tiles", "neighbors.knn_tiles")
    tr.wrap(textpipe, "run_textpipe", "textpipe.run_textpipe")
    tr.wrap(dedup, "minhash_near_dups", "dedup.minhash_near_dups")
    tr.wrap(dedup, "connected_components", "dedup.connected_components")

    # a pipeline step is built by _apply_step and executed by the stage
    # write that follows; its span runs from the build to the row count
    # of the written stage
    apply_step, dir_rows = textpipe._apply_step, textpipe._parquet_dir_rows
    open_steps = []

    def step_span(spark, df, step):
        open_steps.append(tr.begin(f"textpipe.{step['op']}"))
        return apply_step(spark, df, step)

    def step_rows(path):
        n = dir_rows(path)
        if open_steps:  # the report's final row count follows no step
            sp = open_steps.pop()
            sp.counts["rows_out"] = n
            tr.end(sp)
        return n

    tr.patch(textpipe, "_apply_step", step_span)
    tr.patch(textpipe, "_parquet_dir_rows", step_rows)


def workload_counts(wl) -> dict:
    """Counts the workload took from its own outputs in the traced run."""
    return {**wl.counts, "returned": getattr(wl, "returned", 0)}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(name: str, tr, log: EventLog, traced: list[dict], base: list[float],
              setup: list[dict], extra: dict) -> dict:
    """The METRICS of one traced run.  `base` holds op_p50_s of untraced
    runs of the same workload and sources, for trace_overhead_frac."""
    ok = [s for s in traced if s["ok"]] or traced
    n_ops = max(1, len(traced))

    def spans(n):
        return tr.named(n)

    def groups(sps):
        g: set[str] = set()
        for sp in sps:
            g |= tr.subtree_groups(sp)
        return g

    def wall(n):
        return _mean(sp.wall_s for sp in spans(n))

    def driver_s(sps):
        out = []
        for sp in sps:
            ivs = [(st.submit_ms, st.done_ms) for st in log.stages_in(tr.subtree_groups(sp))]
            out.append(sp.wall_s - covered_s(ivs, sp.t0_ms, sp.t1_ms))
        return _mean(out)

    def stage_sum(sps, attr):
        if not sps:
            return 0.0
        return sum(getattr(st, attr) for st in log.stages_in(groups(sps))) / len(sps)

    def node_sum(sps, kinds, metric, per=None):
        if not sps:
            return 0.0
        tot = sum(log.metric(x, kinds, metric) for x in log.execs_in(groups(sps)))
        return tot / (per if per is not None else len(sps))

    m: dict[str, float] = {}
    # -- tile_job ------------------------------------------------------------
    rt = spans("dispatch.run_tiles")
    m["app.build_work_df.s"] = wall("app.build_work_df")
    m["dispatch.run_tiles.s"] = wall("dispatch.run_tiles")
    m["dispatch.run_tiles.driver_s"] = driver_s(rt)
    m["dispatch.run_tiles.cpu_s"] = _mean(sp.cpu_s for sp in rt)
    fm = ("FlatMapGroupsInPandas",)
    m["dispatch.py_bytes_sent"] = node_sum(rt, fm, "data sent to Python workers")
    m["dispatch.py_bytes_recv"] = node_sum(rt, fm, "data returned from Python workers")
    m["dispatch.shuffle_write_bytes"] = stage_sum(rt, "shuffle_write_bytes")
    m["dispatch.spill_bytes"] = stage_sum(rt, "spill_bytes")
    m["dispatch.py_start_s"] = node_sum(rt, fm, "time to start Python workers")
    m["dispatch.groups"] = node_sum(rt, fm, "number of output rows")
    m["dispatch.files_written"] = float(extra.get("files_written", 0))
    m["bag3d.assemble_bag3d.s"] = wall("bag3d.assemble_bag3d")
    m["tablefmt.read.s"] = wall("tablefmt.read")
    reads = spans("tablefmt.read")
    read_ids = {sp.id for sp in reads}
    m["tablefmt.read.files"] = _mean(
        sp.counts.get("files", 0) for sp in spans("tablefmt.files") if sp.parent in read_ids)
    for k in ("commit_staged", "lineage", "completed_tiles"):
        m[f"tablefmt.{k}.s"] = wall(f"tablefmt.{k}")
    m["tablefmt.data_bytes"] = float(extra.get("data_bytes", 0))
    m["tablefmt.metadata_bytes"] = float(extra.get("metadata_bytes", 0))
    jobs = spans("tile_job.phase1") + spans("tile_job.phase2")
    committed = extra.get("rows_committed", 0) * len(spans("tile_job.phase1"))
    m["tiler.geocoded_rows_per_committed_row"] = (
        node_sum(jobs, ("Generate",), "number of output rows", per=1) / committed
        if committed else 0.0)
    # -- tile_query ------------------------------------------------------------
    ing = spans("pages.ingest_pages")
    m["pages.ingest_pages.s"] = wall("pages.ingest_pages")
    m["pages.ingest_pages.cpu_s"] = _mean(sp.cpu_s for sp in ing)
    m["pages.ingest_pages.shuffle_write_bytes"] = stage_sum(ing, "shuffle_write_bytes")
    m["pages.ingest_pages.spill_bytes"] = stage_sum(ing, "spill_bytes")
    m["tiler.select_tiles.s"] = wall("tiler.select_tiles")
    ext, knn = spans("query.extent"), spans("query.knn")
    qs = ext + knn
    ae = ("ArrowEvalPython",)  # the extent filter runs in both kinds of query
    m["tiler.extent_filter.rows_in"] = node_sum(qs, ae, "number of output rows")
    m["tiler.extent_filter.py_bytes_sent"] = node_sum(qs, ae, "data sent to Python workers")
    returned = extra.get("returned", 0)
    scanned = node_sum(qs, ("Scan parquet",), "number of output rows", per=1)
    m["query.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0
    m["heights.join_heights.s"] = wall("heights.join_heights")
    # join_heights is lazy: its join runs in the action of the span that
    # called it (an extent query, or the tile job's join-back)
    callers = {sp.parent for sp in spans("heights.join_heights")}
    join_execs = [x for x in log.execs_in(groups([sp for sp in tr.spans if sp.id in callers]))
                  if any(k in x.final_kinds for k in ("BroadcastHashJoin", "SortMergeJoin",
                                                      "ShuffledHashJoin"))]
    m["heights.join_broadcast"] = _mean("BroadcastHashJoin" in x.final_kinds
                                        for x in join_execs)
    m["neighbors.knn_tiles.s"] = wall("neighbors.knn_tiles")
    m["neighbors.knn_tiles.py_bytes_sent"] = node_sum(
        knn, ("MapInPandas",), "data sent to Python workers")
    m["query.driver_s"] = driver_s(qs)
    nq = max(1, len(qs))
    m["query.jobs"] = len(log.jobs_in(groups(qs))) / nq if qs else 0.0
    m["query.stages"] = len(log.stages_in(groups(qs))) / nq if qs else 0.0
    m["query.tasks"] = sum(st.tasks for st in log.stages_in(groups(qs))) / nq if qs else 0.0
    # -- textpipe ----------------------------------------------------------------
    runs = spans("textpipe.run_textpipe")
    for op in TEXTPIPE_OPS:
        m[f"textpipe.{op}.s"] = wall(f"textpipe.{op}")
        m[f"textpipe.{op}.rows_out"] = _mean(
            sp.counts.get("rows_out", 0) for sp in spans(f"textpipe.{op}"))
    m["textpipe.stage_bytes_written"] = stage_sum(runs, "output_bytes")
    nd = spans("textpipe.near_dedup")
    mh_execs = [x for x in log.execs_in(groups(nd)) if any(k in PY_NODES for k in x.final_kinds)]
    per_run = max(1, len(nd))
    m["dedup.minhash_near_dups.s"] = sum((x.end_ms - x.start_ms) / 1e3 for x in mh_execs) / per_run
    m["dedup.minhash_near_dups.py_bytes_sent"] = sum(
        log.metric(x, PY_NODES, "data sent to Python workers") for x in mh_execs) / per_run
    m["dedup.minhash_near_dups.shuffle_write_bytes"] = sum(
        log.metric(x, ("Exchange",), "shuffle bytes written") for x in mh_execs) / per_run
    m["dedup.minhash_near_dups.smj_nodes"] = sum(
        x.final_kinds.count("SortMergeJoin") for x in mh_execs) / per_run
    cc = spans("dedup.connected_components")
    cc_mh = {x.id for x in mh_execs}
    m["dedup.connected_components.s"] = _mean(
        sp.wall_s - sum((x.end_ms - x.start_ms) / 1e3
                        for x in log.execs_in(tr.subtree_groups(sp)) if x.id in cc_mh)
        for sp in cc)
    m["dedup.connected_components.driver_s"] = driver_s(cc)
    m["dedup.connected_components.rounds"] = float(extra.get("rounds", 0))
    m["dedup.connected_components.jobs"] = (
        len(log.jobs_in(groups(cc))) / len(cc) if cc else 0.0)
    m["dedup.near_dup_recall"] = float(extra.get("recall", 0.0))
    # -- every workload --------------------------------------------------------
    m["session.get_spark.s"] = statistics.median(r["session_s"] for r in setup)
    m["datagen.s"] = statistics.median(r["datagen_s"] for r in setup)
    # the measured operations only: set-up ran with no span
    traced_groups = {sp.group for sp in tr.spans}
    all_stages = log.stages_in(traced_groups)
    m["spark.task_wait_s"] = sum(st.wait_s for st in all_stages) / n_ops
    m["spark.py_start_s"] = sum(
        log.metric(x, PY_NODES, "time to start Python workers")
        for x in log.execs_in(traced_groups)) / n_ops
    m["spark.gc_s"] = sum(st.gc_s for st in all_stages) / n_ops
    m["trace_overhead_frac"] = _overhead(name, base, ok)
    return {k: {"value": float(m[k]), "unit": METRICS[k][0]} for k in METRICS}


def _overhead(name: str, base: list[float], traced: list[dict]) -> float:
    """Median traced operation time over the median op_p50_s of the
    untraced runs, minus one; 0 when there is no untraced run yet."""
    kinds = {"tile_job": ("iteration",), "tile_query": ("extent", "knn"),
             "textpipe": ("pipeline",)}[name]
    t = [s["s"] for s in traced if s["kind"] in kinds]
    if not base or not t:
        return 0.0
    return statistics.median(t) / statistics.median(base) - 1.0
