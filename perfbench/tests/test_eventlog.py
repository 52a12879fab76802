"""Event-log parser checks on a small recorded Spark 4.1 log.

The log under data/ was recorded from a 2-core local session running two
job groups: `span-1` (geocode + assign on 2000 pages, the extent pandas
UDF, percentile heights joined back, counted) and `span-2` (a grouped
applyInPandas over the 64 tiles of an 8x8 grid, counted).  Plan
descriptions, call sites and executor memory snapshots were stripped to
keep the file small; every event the parser reads is as Spark wrote it.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

from eventlog import PY_NODES, EventLog, covered_s, log_files  # noqa: E402

DATA = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def log():
    return EventLog(DATA)


def test_finds_rolling_parts():
    files = log_files(DATA)
    assert [os.path.basename(f) for f in files] == ["events_1_local-small"]


def test_jobs_carry_their_group_and_execution(log):
    assert len(log.jobs) == 8
    assert {j.group for j in log.jobs.values()} == {"span-1", "span-2"}
    # the schema-inference job of spark.read.parquet runs outside SQL
    assert log.jobs[0].exec_id is None
    assert [j.id for j in log.jobs_in({"span-2"})] == [5, 6, 7]
    assert {x.id: x.group for x in log.execs.values()} == {0: "span-1", 1: "span-2"}


def test_stage_task_metrics(log):
    st = {s.id for s in log.stages_in({"span-2"})}
    assert st == {7, 9, 12}  # stages 8, 10, 11 were skipped (no tasks)
    assert sum(s.tasks for s in log.stages.values()) == 8
    assert log.stages[7].shuffle_write_bytes == 1455711
    assert all(s.done_ms >= s.submit_ms > 0 for s in log.stages.values())


def test_plan_node_metrics(log):
    ex0, ex1 = log.execs[0], log.execs[1]
    # the extent UDF sees both scans of the self-joined extent frame
    assert log.metric(ex0, ("ArrowEvalPython",), "number of output rows") == 4000
    assert log.metric(ex0, ("ArrowEvalPython",), "data sent to Python workers") == 65408
    # sha2 geocode barrier: one Generate row per page per scan
    assert log.metric(ex0, ("Generate",), "number of output rows") == 4000
    assert log.metric(ex1, ("Generate",), "number of output rows") == 2000
    # one applyInPandas output row per tile group
    assert log.metric(ex1, ("FlatMapGroupsInPandas",), "number of output rows") == 64
    # timing metrics are converted from ms to s
    assert 0 < log.metric(ex0, PY_NODES, "time to start Python workers") < 60
    assert "BroadcastHashJoin" in ex0.final_kinds
    assert "FlatMapGroupsInPandas" in ex1.final_kinds


def test_covered_s_merges_overlaps_and_clips():
    ivs = [(0, 1000), (500, 1500), (3000, 4000), (9000, 9500)]
    assert covered_s(ivs, 0, 5000) == pytest.approx(2.5)
    assert covered_s(ivs, 1200, 3500) == pytest.approx(0.8)
    assert covered_s([], 0, 1000) == 0.0


def test_benchmark_json_lists_every_layer_metric():
    import layers

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert declared == layers.METRICS
