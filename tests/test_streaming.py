"""Structured Streaming: batch-twin equivalence, watermark late-data
drops, and multi-micro-batch stateful cumulation."""

import os

import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


def _write_events(path: str, rows: list[dict], mtime: float | None = None) -> None:
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf = pdf[["event_id", "ts", "user_id", "event_type", "value", "props"]]
    pdf.to_parquet(path, index=False)
    if mtime is not None:
        # the file stream source orders files by modification time; pin
        # mtimes so each file lands in its own micro-batch
        os.utime(path, (mtime, mtime))


def _row(eid, ts, uid=1, etype="click", value=1.0):
    return {
        "event_id": eid, "ts": ts, "user_id": uid,
        "event_type": etype, "value": value, "props": "{}",
    }


def test_stream_hourly_counts_equals_batch(spark):
    from batch3dfier_spark.plans.queries import q_events_window
    from batch3dfier_spark.streaming.events import (
        hourly_counts,
        read_event_stream,
        run_stream_to_df,
    )

    stream = read_event_stream(spark, f"{SF}/events.parquet")
    got = (
        run_stream_to_df(hourly_counts(stream), output_mode="complete")
        .toPandas()
        .sort_values(["hour_start", "event_type"])
        .reset_index(drop=True)
    )
    exp = (
        q_events_window(spark, SF)
        .toPandas()
        .sort_values(["hour_start", "event_type"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics (verified empirically): the max event time
    of batch N sets the watermark that EVICTS state at the end of batch
    N+1 and FILTERS late input from batch N+2 onward.  So: f1 raises
    event time to 02:30 (watermark -> 01:30); during f2 the [00:00,
    01:00) window is finalized with 2 rows; f3's 00:30 row arrives
    below the active watermark and is dropped."""
    from batch3dfier_spark.streaming.events import (
        hourly_counts,
        read_event_stream,
        run_stream_to_df,
    )

    d = tmp_path / "events_in"
    d.mkdir()
    _write_events(
        str(d / "f1.parquet"),
        [
            _row(1, "2024-01-01 00:10:00"),
            _row(2, "2024-01-01 00:20:00"),
            _row(3, "2024-01-01 02:30:00"),
        ],
        mtime=1_700_000_000.0,
    )
    _write_events(
        str(d / "f2.parquet"),
        [_row(4, "2024-01-01 03:00:00")],  # on time, activates watermark
        mtime=1_700_000_010.0,
    )
    _write_events(
        str(d / "f3.parquet"),
        [_row(5, "2024-01-01 00:30:00")],  # late: watermark is 02:00
        mtime=1_700_000_020.0,
    )
    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    sink = run_stream_to_df(
        hourly_counts(stream, watermark="1 hour"), output_mode="append"
    ).toPandas()
    by_hour = sink.set_index("hour_start")["n_events"].to_dict()
    # the 00:00 window was finalized with 2 rows; the late 00:30 row
    # must NOT appear (would make it 3, or re-emit the window)
    assert by_hour.get("2024-01-01 00:00:00") == 2
    assert len(sink[sink["hour_start"] == "2024-01-01 00:00:00"]) == 1
    # open windows (end > final watermark 02:00) stay in state, not sink
    assert "2024-01-01 03:00:00" not in by_hour


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState: with maxFilesPerTrigger=1 a user seen in
    both files emits twice with cumulative counts; the final emission
    equals the batch groupBy."""
    from pyspark.sql import functions as F

    from batch3dfier_spark.streaming.events import (
        read_event_stream,
        run_stream_to_df,
        user_running_totals,
    )

    d = tmp_path / "events_state"
    d.mkdir()
    _write_events(
        str(d / "f1.parquet"),
        [_row(1, "2024-01-01 00:00:00", uid=7, value=2.0),
         _row(2, "2024-01-01 00:01:00", uid=7, value=3.0),
         _row(3, "2024-01-01 00:02:00", uid=8, value=5.0)],
        mtime=1_700_000_000.0,
    )
    _write_events(
        str(d / "f2.parquet"),
        [_row(4, "2024-01-01 01:00:00", uid=7, value=10.0)],
        mtime=1_700_000_010.0,
    )
    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    sink = run_stream_to_df(
        user_running_totals(stream), output_mode="update"
    ).toPandas()
    u7 = sink[sink["user_id"] == 7].sort_values("n_events")
    assert list(u7["n_events"]) == [2, 3]
    assert list(u7["sum_value"]) == [5.0, 15.0]
    u8 = sink[sink["user_id"] == 8]
    assert list(u8["n_events"]) == [1] and list(u8["sum_value"]) == [5.0]


def test_sessionize_matches_duckdb(spark):
    from batch3dfier_spark.operators.sessions import sessionize
    from batch3dfier_spark.plans.oracle import connect
    from batch3dfier_spark.plans.queries import SQL_SESSIONIZE

    ev = spark.read.parquet(f"{SF}/events.parquet")
    got = (
        sessionize(ev, gap_minutes=30.0)
        .toPandas()
        .sort_values(["user_id", "session_seq"])
        .reset_index(drop=True)
    )
    con = connect(SF)
    exp = (
        con.sql(SQL_SESSIONIZE)
        .df()
        .sort_values(["user_id", "session_seq"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_sessionize_gap_boundary(spark):
    """Events exactly `gap` apart stay in ONE session (strict > rule);
    one second beyond splits."""
    from batch3dfier_spark.operators.sessions import sessionize

    rows = [
        _row(1, "2024-01-01 00:00:00"),
        _row(2, "2024-01-01 00:30:00"),   # == gap -> same session
        _row(3, "2024-01-01 01:00:01"),   # gap+1s -> new session
    ]
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    df = spark.createDataFrame(pdf)
    out = sessionize(df, gap_minutes=30.0).toPandas().sort_values("session_seq")
    assert list(out["n_events"]) == [2, 1]
    assert list(out["session_seq"]) == [1, 2]


def test_session_window_boundary_merges_on_touch(spark):
    """Spark session windows MERGE when the next event lands at
    EXACTLY prev_ts + gap (touch-inclusive — measured, and the same
    law as operators/sessions.py's strict-> split rule); one second
    beyond splits.  The oracle's `> gap` split mirror of this is what
    keeps events_session hash-green."""
    from batch3dfier_spark.streaming.events import session_windows

    rows = [
        _row(1, "2024-01-01 00:00:00"),
        _row(2, "2024-01-01 00:30:00"),   # == gap -> merges
        _row(3, "2024-01-01 01:00:01"),   # gap + 1s after #2 -> splits
    ]
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    out = (session_windows(spark.createDataFrame(pdf)).toPandas()
           .sort_values("session_start").reset_index(drop=True))
    assert list(out["n_events"]) == [2, 1]
    assert out.loc[0, "session_end"] == "2024-01-01 01:00:00"
    assert out.loc[1, "session_end"] == "2024-01-01 01:30:01"


def test_session_window_stream_equals_batch(spark):
    """Complete-mode AvailableNow drain of the streaming session
    aggregation equals the batch twin row-for-row."""
    from batch3dfier_spark.plans.queries import (
        q_events_session, q_events_session_stream)

    keys = ["user_id", "session_start"]
    got = (q_events_session_stream(spark, SF).toPandas()
           .sort_values(keys).reset_index(drop=True))
    exp = (q_events_session(spark, SF).toPandas()
           .sort_values(keys).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp)


def test_attrib_interval_law_pinned(spark):
    """Interval bounds are inclusive on both ends: clicks at exactly
    purchase_ts - lookback and at purchase_ts join; one second outside
    either end does not."""
    from batch3dfier_spark.streaming.events import attribution_join

    purchases = pd.DataFrame([_row(100, "2024-01-02 00:00:00",
                                   etype="purchase")])
    clicks = pd.DataFrame([
        _row(1, "2024-01-01 23:59:59"),              # inside
        _row(2, "2024-01-02 00:00:00"),              # == purchase_ts
        _row(3, "2024-01-01 23:00:00"),              # == ts - lookback
        _row(4, "2024-01-01 22:59:59"),              # 1s too old
        _row(5, "2024-01-02 00:00:01"),              # after purchase
    ])
    for pdf in (purchases, clicks):
        pdf["ts"] = pd.to_datetime(pdf["ts"])
    out = attribution_join(
        spark.createDataFrame(purchases), spark.createDataFrame(clicks),
        lookback_s=3600,
    ).toPandas()
    assert sorted(out["click_id"]) == [1, 2, 3]


def test_attrib_stream_equals_batch(spark):
    """Append-mode AvailableNow drain of the stream-stream interval
    join equals the batch twin row-for-row."""
    from batch3dfier_spark.plans.queries import (
        q_events_attrib, q_events_attrib_stream)

    keys = ["purchase_id", "click_id"]
    got = (q_events_attrib_stream(spark, SF).toPandas()
           .sort_values(keys).reset_index(drop=True))
    exp = (q_events_attrib(spark, SF).toPandas()
           .sort_values(keys).reset_index(drop=True))
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(got, exp)


def test_enrich_stream_equals_batch(spark):
    """Stream-static enrichment: the append-mode AvailableNow drain
    equals the batch join row-for-row (stateless — no watermark)."""
    from batch3dfier_spark.plans.queries import (
        q_events_enrich, q_events_enrich_stream)

    got = (q_events_enrich_stream(spark, SF).toPandas()
           .sort_values("event_id").reset_index(drop=True))
    exp = (q_events_enrich(spark, SF).toPandas()
           .sort_values("event_id").reset_index(drop=True))
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(got, exp)


def test_drains_leave_no_view_or_scratch_dir(spark):
    """The lifetime rule (session.py): a complete/update drain drops its
    memory-sink view and an append drain removes its parquet sink dir;
    each result still holds its rows."""
    from batch3dfier_spark.scratch import SCRATCH_ROOT
    from batch3dfier_spark.streaming.events import (
        hourly_counts,
        read_event_stream,
        run_stream_to_df,
        user_running_totals,
    )

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    stream = read_event_stream(spark, f"{SF}/events.parquet")
    views, dirs = temp_views(), set(os.listdir(SCRATCH_ROOT))
    for frame, mode in ((hourly_counts(stream), "complete"),
                        (user_running_totals(stream), "update"),
                        (stream, "append")):
        assert run_stream_to_df(frame, output_mode=mode).count() > 0
        assert temp_views() == views, mode
        assert set(os.listdir(SCRATCH_ROOT)) == dirs, mode


def test_enrich_batch_plan_is_broadcast(spark):
    from batch3dfier_spark.plans.queries import q_events_enrich

    plan = (q_events_enrich(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sessionize_bucketed_equals_single_window(spark):
    """The two-pass bucketed path is row-identical to the
    single-window plan on the fixture (sessions span hour-bucket
    boundaries, so the merge pass does real work)."""
    from batch3dfier_spark.operators.sessions import sessionize

    ev = spark.read.parquet(f"{SF}/events.parquet")
    cols = ["user_id", "session_seq"]
    plain = (sessionize(ev, gap_minutes=30.0).toPandas()
             .sort_values(cols).reset_index(drop=True))
    buck = (sessionize(ev, gap_minutes=30.0, ts_bucket_s=3600)
            .toPandas().sort_values(cols).reset_index(drop=True))
    assert len(plain) == len(buck) > 0
    pd.testing.assert_frame_equal(buck, plain[buck.columns])
    # the merge pass actually merged: more local fragments than
    # final sessions
    from pyspark.sql import functions as F

    frags = (
        ev.withColumn("_b", F.floor(F.unix_timestamp("ts") / 3600))
        .select("user_id", "_b").distinct().count()
    )
    assert frags > len(buck)


def test_sessionize_bucketed_hot_user(spark):
    """A single hot user with 100k events: the bucketed path windows
    on (user, bucket) — partitions bounded by the bucket — and still
    reconstructs the exact session set, including sessions that span
    bucket boundaries."""
    import datetime as dt

    from batch3dfier_spark.operators.sessions import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = []
    # 100k events, 60s apart -> one giant session spanning ~69 days of
    # hour buckets; plus a separated second session at the end
    for i in range(100_000):
        rows.append((i, base + dt.timedelta(seconds=60 * i), 7, 1.0))
    far = base + dt.timedelta(seconds=60 * 100_000 + 10_000)
    rows.append((100_000, far, 7, 1.0))
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double"
    )
    got = (sessionize(ev, gap_minutes=30.0, ts_bucket_s=3600)
           .orderBy("session_seq").collect())
    assert len(got) == 2
    assert got[0]["n_events"] == 100_000
    assert got[1]["n_events"] == 1
    assert got[0]["duration_s"] == 60 * 99_999


def test_sessionize_bucketed_boundary_gap_rule(spark):
    """Events exactly `gap` apart across a bucket boundary stay one
    session (<= is not a start); gap+1s apart split — the same law as
    the single-window plan, enforced across the merge pass."""
    import datetime as dt

    from batch3dfier_spark.operators.sessions import sessionize

    b = dt.datetime(2024, 1, 1, 0, 59, 0)
    rows = [
        (0, b, 1, 1.0),
        (1, b + dt.timedelta(seconds=1800), 1, 1.0),   # exactly gap
        (2, b + dt.timedelta(seconds=1800 + 1801), 1, 1.0),  # > gap
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double"
    )
    got = (sessionize(ev, gap_minutes=30.0, ts_bucket_s=3600)
           .orderBy("session_seq").collect())
    assert [r["n_events"] for r in got] == [2, 1]


def test_input_bytes_nested_dirs_and_uris(tmp_path):
    """Partitioned sources keep their files in subdirectories (a
    top-level glob counted none of them); URIs and plain paths agree."""
    from batch3dfier_spark.session import input_bytes

    part = tmp_path / "d" / "sub" / "part.parquet"
    part.parent.mkdir(parents=True)
    pd.DataFrame({"x": range(1000)}).to_parquet(part)
    (tmp_path / "d" / "_SUCCESS").write_text("")
    (tmp_path / "d" / "sub" / ".part.parquet.crc").write_text("crc")
    for p in (str(part), str(tmp_path / "d")):
        assert input_bytes([p]) == input_bytes(["file://" + p]) \
            == os.path.getsize(part)
    for bad in ("s3a://bucket/key.parquet", str(tmp_path / "missing")):
        with pytest.raises(OSError):
            input_bytes([bad])


def _keeps_scan_pre_merge(df) -> bool:
    """Reference: the fan-out rule before its size probe was shared —
    keep the scan with a file per core or < 2 MB of files."""
    from urllib.parse import urlparse

    files = df.inputFiles()
    if len(files) >= df.sparkSession.sparkContext.defaultParallelism:
        return True
    try:
        return sum(os.path.getsize(urlparse(f).path or f)
                   for f in files) < (2 << 20)
    except OSError:
        return False


@pytest.mark.parametrize("src", [
    "sf0.01/documents.parquet", "sf0.01/embeddings.parquet",
    "sf0.1/documents.parquet", "sf0.1/embeddings.parquet",
    "sf0.1/lineitem.parquet",  # > 2 MB in one file: fans out
])
def test_ensure_parallel_decision_unchanged(spark, src):
    from batch3dfier_spark.session import ensure_parallel

    path = os.path.join(os.path.dirname(SF), src)
    if not os.path.exists(path):
        pytest.skip(f"{path} not generated")
    df = spark.read.parquet(path)
    assert (ensure_parallel(df) is df) == _keeps_scan_pre_merge(df)
