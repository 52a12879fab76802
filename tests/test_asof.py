"""As-of join: hand-checked match semantics (inclusive ties, latest
right-id wins, no-match NULLs, tolerance), engine == mirrored-window
DuckDB oracle, and partition-independence."""

import duckdb
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"

TS = pd.Timestamp


def _frames():
    left = pd.DataFrame({
        "event_id": [100, 101, 102, 103],
        "user_id": [1, 1, 2, 3],
        "ts": [TS("2024-01-01 10:00"), TS("2024-01-01 12:00"),
               TS("2024-01-01 09:00"), TS("2024-01-01 09:00")],
        "value": [10.0, 20.0, 30.0, 40.0],
    })
    right = pd.DataFrame({
        "event_id": [1, 2, 3, 4, 5],
        "user_id": [1, 1, 1, 2, 2],
        "ts": [TS("2024-01-01 09:30"), TS("2024-01-01 11:00"),
               TS("2024-01-01 11:00"), TS("2024-01-01 09:00"),
               TS("2024-01-01 09:30")],
        "value": [1.0, 2.0, 3.0, 4.0, 5.0],
    })
    return left, right


def test_asof_semantics_hand_checked(spark):
    from batch3dfier_spark.operators.asof import as_of_join

    left, right = _frames()
    out = (
        as_of_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="user_id", right_cols=["value"],
        )
        .toPandas().set_index("event_id")
    )
    # user 1 @10:00 -> click 1 (@09:30)
    assert out.loc[100, "event_id_r"] == 1
    # user 1 @12:00 -> two right rows tie at 11:00; larger id (3) wins
    assert out.loc[101, "event_id_r"] == 3
    assert out.loc[101, "value_r"] == 3.0
    # user 2 @09:00 -> right row AT 09:00 matches (inclusive as-of)
    assert out.loc[102, "event_id_r"] == 4
    # user 3: no right rows at all -> NULLs
    assert pd.isna(out.loc[103, "event_id_r"])
    assert pd.isna(out.loc[103, "ts_r"])


def test_asof_tolerance(spark):
    from batch3dfier_spark.operators.asof import as_of_join

    left, right = _frames()
    out = (
        as_of_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="user_id", right_cols=["value"], tolerance_s=1800,
        )
        .toPandas().set_index("event_id")
    )
    assert out.loc[100, "event_id_r"] == 1      # 30 min ago: kept
    assert pd.isna(out.loc[101, "event_id_r"])  # 60 min ago: stale
    assert out.loc[102, "event_id_r"] == 4      # 0 s: kept


def test_asof_matches_oracle_with_tolerance(spark):
    """Engine == mirrored-window oracle on the real events table,
    including the tolerance path."""
    from batch3dfier_spark.operators.asof import as_of_join, sql_as_of_join
    from batch3dfier_spark.plans.oracle import connect
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF}/events.parquet")
    got = as_of_join(
        ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"),
        ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "value"),
        on="user_id", right_cols=["value"], tolerance_s=7200,
    ).toPandas()
    con = connect(SF)
    exp = con.sql(sql_as_of_join(
        left_sql="SELECT event_id, user_id, ts, value FROM events "
                 "WHERE event_type = 'purchase'",
        right_sql="SELECT event_id, user_id, ts, value FROM events "
                  "WHERE event_type = 'click'",
        on="user_id",
        left_cols=["event_id", "user_id", "ts", "value"],
        right_cols=["value"], tolerance_s=7200,
    )).df()
    cols = sorted(got.columns)
    assert cols == sorted(exp.columns)
    # normalize pandas datetime resolution (Spark -> ns, DuckDB -> us)
    for df_ in (got, exp):
        for c in cols:
            if pd.api.types.is_datetime64_any_dtype(df_[c]):
                df_[c] = df_[c].astype("datetime64[us]")
    pd.testing.assert_frame_equal(
        got[cols].sort_values("event_id").reset_index(drop=True),
        exp[cols].sort_values("event_id").reset_index(drop=True),
        check_dtype=False,
    )
    # both matched and stale/unmatched rows occur -> the compare is real
    assert got["event_id_r"].notna().any() and got["event_id_r"].isna().any()


def test_asof_bucketed_equals_plain_hand_checked(spark):
    """The ts_bucket_s two-pass path must reproduce the plain-window
    semantics exactly, including inclusive ties and largest-right-id
    tie wins, at a bucket width small enough that matches cross bucket
    boundaries (30 min buckets, matches up to 2.5 h apart)."""
    from batch3dfier_spark.operators.asof import as_of_join

    left, right = _frames()
    plain = as_of_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        on="user_id", right_cols=["value"],
    ).toPandas().sort_values("event_id").reset_index(drop=True)
    bucketed = as_of_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        on="user_id", right_cols=["value"], ts_bucket_s=1800,
    ).toPandas().sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(plain, bucketed)


def test_asof_bucketed_hot_key_boundary_ties(spark):
    """Hot-key fixture (round-5 verdict #2): ONE key carrying 1e5
    left + 1e4 right rows, with right rows placed EXACTLY on bucket
    boundaries so ties between an in-bucket right row and a same-ts
    left row, and carries across empty buckets, are both exercised.
    Asserts (a) every keyed window in the plan is bucketed (no window
    partitions on the bare key except the bucket-summary carry, whose
    input is the small grid), and (b) the matches are exactly the
    arithmetic truth."""
    from pyspark.sql import functions as F

    from batch3dfier_spark.operators.asof import as_of_join

    n_left, n_right, bucket = 100_000, 10_000, 60.0
    # left events at t = i seconds; right states at t = 600*j seconds
    # (every 10th bucket boundary), value = j
    left = spark.range(n_left).select(
        F.col("id").alias("event_id"),
        F.lit(7).alias("user_id"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    )
    right = spark.range(n_right).select(
        (F.col("id") + 1_000_000).alias("event_id"),
        F.lit(7).alias("user_id"),
        F.timestamp_seconds(F.col("id") * 600).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    out = as_of_join(
        left, right, on="user_id", right_cols=["value"], ts_bucket_s=bucket
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # in-bucket windows partition on (user_id, _bkt); the only
    # key-partitioned window is the carry over the bucket grid
    import re

    bare_key_windows = [
        m for m in re.findall(r"partitionBy=\[([^\]]*)\]", plan)
        if "user_id" in m and "_bkt" not in m
    ]
    assert len(bare_key_windows) <= 1, plan
    # truth: left at t=i matches right state j = floor(i/600)
    # (inclusive: at i = 600*j exactly, that right row counts)
    bad = out.where(
        F.col("value_r") != F.floor(F.col("event_id") / 600).cast("double")
    ).count()
    assert bad == 0
    assert out.count() == n_left
    # boundary tie spot check: left event at exactly t=600 matches j=1
    row = out.where(F.col("event_id") == 600).first()
    assert row["value_r"] == 1.0 and row["event_id_r"] == 1_000_001


def test_asof_null_ts_and_null_rid_pinned(spark):
    """NULL discipline (round-5 ADVICE): right rows with NULL ts are
    dropped, left rows with NULL ts get NULL matches, NULL right ids
    sort as -2 — identically in the engine and the DuckDB twin."""
    from batch3dfier_spark.operators.asof import as_of_join, sql_as_of_join

    left = pd.DataFrame({
        "event_id": [100, 101],
        "user_id": [1, 1],
        "ts": [TS("2024-01-01 10:00"), pd.NaT],
        "value": [10.0, 20.0],
    })
    right = pd.DataFrame({
        "event_id": pd.array([1, None, 3], dtype="Int64"),
        "user_id": [1, 1, 1],
        "ts": [TS("2024-01-01 09:00"), TS("2024-01-01 09:30"), pd.NaT],
        "value": [1.0, 2.0, 3.0],
    })
    got = as_of_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        on="user_id", right_cols=["value"],
    ).toPandas().set_index("event_id")
    # NULL-ts right row (value 3.0) never matches; NULL-id row does
    assert got.loc[100, "value_r"] == 2.0
    # per-column ignorenulls: the matched row's NULL id looks through
    # to the previous non-null right id — pinned, same in the oracle
    assert got.loc[100, "event_id_r"] == 1
    assert pd.isna(got.loc[101, "value_r"])     # NULL-ts left row
    con = duckdb.connect()
    con.register("l", left)
    con.register("r", right)
    exp = con.sql(sql_as_of_join(
        left_sql="SELECT * FROM l", right_sql="SELECT * FROM r",
        on="user_id", left_cols=["event_id", "user_id", "ts", "value"],
        right_cols=["value"],
    )).df().set_index("event_id")
    for c in ("value_r", "event_id_r"):
        assert (
            got[c].sort_index().fillna(-9) == exp[c].sort_index().fillna(-9)
        ).all()


def test_asof_partition_independence(spark):
    from batch3dfier_spark.operators.asof import as_of_join

    left, right = _frames()
    a = as_of_join(
        spark.createDataFrame(left).repartition(1),
        spark.createDataFrame(right).repartition(1),
        on="user_id", right_cols=["value"],
    ).toPandas()
    b = as_of_join(
        spark.createDataFrame(left).repartition(5),
        spark.createDataFrame(right).repartition(3),
        on="user_id", right_cols=["value"],
    ).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("event_id").reset_index(drop=True),
        b.sort_values("event_id").reset_index(drop=True),
    )
