"""Reader for Spark's uncompressed JSON event log (`eventlog_v2_*`).

Turns the log of one application into the records the traced run
attributes to spans:

- jobs, with their job group (the span that was open when they ran)
  and SQL execution id;
- stages, with their interval and task-summed GC time, shuffle write,
  disk spill, output bytes and the time tasks waited for a slot;
- SQL executions, with every plan node's metrics (summed from task and
  driver accumulator updates over all adaptive re-plans) and the node
  kinds of the final plan.

Spark 4 writes rolling logs by default: a directory
`eventlog_v2_<app>/` holding `events_<n>_<app>` parts, read in order of
`n`.  Compressed logs are not supported (no zstd codec is assumed to be
present).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

# node kinds that run Python (the Arrow boundary of the UDF cost model)
PY_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "ArrowWindowPython", "WindowInPandas",
)


@dataclass
class Stage:
    id: int
    submit_ms: float = 0.0
    done_ms: float = 0.0
    tasks: int = 0
    gc_s: float = 0.0
    wait_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


@dataclass
class Job:
    id: int
    group: str | None
    exec_id: int | None
    stage_ids: list[int]


@dataclass
class Node:
    kind: str
    metrics: dict[str, tuple[int, str]]  # metric name -> (accumulator id, type)


@dataclass
class Execution:
    id: int
    group: str | None
    start_ms: float = 0.0
    end_ms: float = 0.0
    nodes: list[Node] = field(default_factory=list)        # every plan version
    final_kinds: list[str] = field(default_factory=list)   # last plan only


def _kind(node_name: str) -> str:
    # "WholeStageCodegen (3)" -> "WholeStageCodegen", "Scan parquet " -> "Scan parquet"
    return re.sub(r"\s*\(\d+\)$", "", node_name).strip()


def _walk(info: dict):
    yield info
    for c in info.get("children", ()):
        yield from _walk(c)


def _part(path: str) -> tuple[str, int]:
    return os.path.dirname(path), int(os.path.basename(path).split("_")[1])


def log_files(path: str) -> list[str]:
    """Rolling event-log parts under `path` (a log dir or one
    application's `eventlog_v2_*` dir), in order."""
    out: list[str] = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full) and name.startswith("eventlog_v2_"):
            out.extend(log_files(full))
        elif name.startswith("events_"):
            out.append(full)
    return sorted(out, key=_part)


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.execs: dict[int, Execution] = {}
        self.accum: dict[int, float] = {}
        files = log_files(path)
        if not files:
            raise FileNotFoundError(f"no Spark event log under {path}")
        for f in files:
            with open(f) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        self._event(json.loads(line))

    # -- parsing ---------------------------------------------------------------

    def _stage(self, sid: int) -> Stage:
        st = self.stages.get(sid)
        if st is None:
            st = self.stages[sid] = Stage(sid)
        return st

    def _plan(self, ex: Execution, info: dict) -> None:
        kinds = []
        for n in _walk(info):
            kind = _kind(n["nodeName"])
            kinds.append(kind)
            ex.nodes.append(Node(kind, {m["name"]: (m["accumulatorId"], m["metricType"])
                                        for m in n.get("metrics", ())}))
        ex.final_kinds = kinds

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], props.get("spark.jobGroup.id"),
                int(eid) if eid is not None else None, list(e["Stage IDs"]))
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            self._stage(si["Stage ID"]).submit_ms = float(si.get("Submission Time", 0))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = self._stage(si["Stage ID"])
            st.submit_ms = float(si.get("Submission Time", st.submit_ms))
            st.done_ms = float(si.get("Completion Time", 0))
        elif kind == "SparkListenerTaskEnd":
            self._task_end(e)
        elif kind.endswith("SQLExecutionStart"):
            ex = Execution(e["executionId"], e.get("jobGroupId"), float(e["time"]))
            self.execs[ex.id] = ex
            self._plan(ex, e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            ex = self.execs.get(e["executionId"])
            if ex is not None:
                self._plan(ex, e["sparkPlanInfo"])
        elif kind.endswith("SQLExecutionEnd"):
            ex = self.execs.get(e["executionId"])
            if ex is not None:
                ex.end_ms = float(e["time"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e["accumUpdates"]:
                self.accum[aid] = self.accum.get(aid, 0.0) + float(v)

    def _task_end(self, e: dict) -> None:
        st = self._stage(e["Stage ID"])
        info = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        st.tasks += 1
        st.gc_s += m.get("JVM GC Time", 0) / 1e3
        st.spill_bytes += m.get("Disk Bytes Spilled", 0)
        st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        if st.submit_ms and info.get("Launch Time"):
            st.wait_s += max(0.0, (info["Launch Time"] - st.submit_ms) / 1e3)
        for a in info.get("Accumulables", ()):
            # SQL plan metrics carry Metadata "sql"; task metrics are
            # the "internal.metrics.*" ones, read above
            if a.get("Metadata") == "sql" and "Update" in a:
                try:
                    v = float(a["Update"])
                except (TypeError, ValueError):
                    continue
                self.accum[a["ID"]] = self.accum.get(a["ID"], 0.0) + v

    # -- queries ---------------------------------------------------------------

    def jobs_in(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs.values() if j.group in groups]

    def stages_in(self, groups: set[str]) -> list[Stage]:
        seen: dict[int, Stage] = {}
        for j in self.jobs_in(groups):
            for sid in j.stage_ids:
                st = self.stages.get(sid)
                if st is not None and st.tasks:  # skipped stages ran no task
                    seen[sid] = st
        return list(seen.values())

    def execs_in(self, groups: set[str]) -> list[Execution]:
        return [x for x in self.execs.values() if x.group in groups]

    def metric(self, ex: Execution, kinds: tuple[str, ...], name: str) -> float:
        """Sum of metric `name` over nodes of `kinds` in every plan version
        of `ex`, in base units (bytes, rows, seconds)."""
        seen: set[int] = set()
        total = 0.0
        for n in ex.nodes:
            if n.kind in kinds and name in n.metrics:
                aid, mtype = n.metrics[name]
                if aid in seen:
                    continue
                seen.add(aid)
                v = self.accum.get(aid, 0.0)
                if mtype == "timing":
                    v /= 1e3
                elif mtype == "nsTiming":
                    v /= 1e9
                total += v
        return total


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] (ms) covered by the union of `intervals` (ms)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3
