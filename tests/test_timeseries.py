"""Time-series resample (X59): grid shape, forward fill, linear
interpolation, trailing fill, negative-anchor guard."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark.operators.timeseries import (
    resample_ffill,
    resample_interpolate,
)


def _events(spark, rows):
    return spark.createDataFrame(
        [(k, dt.datetime(2024, 1, 1, h, m), v) for k, h, m, v in rows],
        "k string, ts timestamp, value double",
    )


def test_ffill_fills_gaps_from_last_observation(spark):
    df = _events(
        spark,
        [("a", 0, 10, 1.0), ("a", 0, 50, 3.0), ("a", 3, 5, 7.0)],
    )
    out = {
        (r.k, r.cell.hour): (r.value, r.observed)
        for r in resample_ffill(df, "k", "ts", "value").collect()
    }
    # hour 0 carries the max observation of the cell, 1-2 forward-fill,
    # 3 observes again
    assert out[("a", 0)] == (3.0, True)
    assert out[("a", 1)] == (3.0, False)
    assert out[("a", 2)] == (3.0, False)
    assert out[("a", 3)] == (7.0, True)
    assert len(out) == 4  # spine spans the key's own range only


def test_grid_is_per_key(spark):
    df = _events(spark, [("a", 0, 0, 1.0), ("a", 5, 0, 2.0), ("b", 2, 0, 9.0)])
    rows = resample_ffill(df, "k", "ts", "value").collect()
    assert sum(1 for r in rows if r.k == "a") == 6
    assert sum(1 for r in rows if r.k == "b") == 1


def test_interpolate_linear_between_anchors(spark):
    df = _events(spark, [("a", 0, 0, 1.0), ("a", 4, 0, 9.0)])
    out = {
        r.cell.hour: r.value
        for r in resample_interpolate(df, "k", "ts", "value").collect()
    }
    assert out == {0: 1.0, 1: 3.0, 2: 5.0, 3: 7.0, 4: 9.0}


def test_interpolate_midpoint_halves_are_deterministic(spark):
    # the case that broke round(double, 6): a frac=1/2 cell between two
    # 6dp anchors is an exact decimal half — the integer half-up must
    # resolve it identically on every run
    df = _events(spark, [("a", 0, 0, 0.000001), ("a", 2, 0, 0.000002)])
    out = {
        r.cell.hour: r.value
        for r in resample_interpolate(df, "k", "ts", "value").collect()
    }
    assert out[1] == 0.000002  # half-up of 1.5 micro-units


def test_interpolate_trailing_cells_forward_fill(spark):
    df = _events(
        spark, [("a", 0, 0, 2.0), ("a", 2, 0, 4.0), ("a", 3, 30, 4.0)]
    )
    out = {
        r.cell.hour: (r.value, r.observed)
        for r in resample_interpolate(df, "k", "ts", "value").collect()
    }
    assert out[1] == (3.0, False)
    assert out[3] == (4.0, True)


def test_interpolate_negative_anchor_fails_loudly(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = _events(spark, [("a", 0, 0, -1.0), ("a", 2, 0, 1.0)])
    with pytest.raises(SparkRuntimeException, match="negative values"):
        resample_interpolate(df, "k", "ts", "value").collect()


def test_null_ts_and_value_rows_are_ignored(spark):
    df = _events(spark, [("a", 0, 0, 1.0), ("a", 1, 0, 2.0)]).unionByName(
        spark.createDataFrame(
            [("a", None, 5.0), ("a", dt.datetime(2024, 1, 1, 9), None)],
            "k string, ts timestamp, value double",
        )
    )
    rows = resample_ffill(df, "k", "ts", "value").collect()
    assert len(rows) == 2  # the NULL rows neither extend nor fill the grid


def test_multi_unit_step_snaps_cells_to_step_multiples(spark):
    """A '2 hours' step grids on even UTC hours: events at 00:10 and
    01:20 share the 00:00 cell, 05:30 lands in 04:00, and 02:00 is the
    filled cell between them. Cells truncated to the unit alone would
    be one hour apart and break the anchor segments' sequence."""
    df = _events(
        spark, [("a", 0, 10, 1.0), ("a", 1, 20, 3.0), ("a", 5, 30, 7.0)]
    )
    ffill = {
        r.cell.hour: (r.value, r.observed)
        for r in resample_ffill(df, "k", "ts", "value", step="2 hours").collect()
    }
    assert ffill == {0: (3.0, True), 2: (3.0, False), 4: (7.0, True)}
    interp = {
        r.cell.hour: r.value
        for r in resample_interpolate(
            df, "k", "ts", "value", step="2 hours"
        ).collect()
    }
    assert interp == {0: 3.0, 2: 5.0, 4: 7.0}


def test_calendar_multiple_step_rejected_up_front(spark):
    df = _events(spark, [("a", 0, 0, 1.0)])
    for step in ("2 months", "3 weeks", "hour"):
        with pytest.raises(ValueError, match="step"):
            resample_ffill(df, "k", "ts", "value", step=step)


def _days(spark, rows):
    return spark.createDataFrame(
        [(u, dt.datetime(2024, 1, d, 12, 0)) for u, d in rows],
        "user_id long, ts timestamp",
    )


def test_rolling_active_window_one_is_daily_distinct(spark):
    from data_pipeline_bigquery_to_sftp_server_spark.operators.timeseries import (
        rolling_active,
    )

    df = _days(spark, [(1, 1), (2, 1), (1, 1), (1, 3), (3, 3)])
    out = {r.day.day: r.active for r in rolling_active(df, "ts", "user_id", 1).collect()}
    # day 2 has no events but sits inside the range -> explicit 0
    assert out == {1: 2, 2: 0, 3: 2}


def test_rolling_active_window_counts_trailing_days_once(spark):
    from data_pipeline_bigquery_to_sftp_server_spark.operators.timeseries import (
        rolling_active,
    )

    # user 1 active on days 1 and 2 -> one count in every window that
    # covers either; user 2 only day 1; user 3 only day 4
    df = _days(spark, [(1, 1), (1, 2), (2, 1), (3, 4)])
    out = {r.day.day: r.active for r in rolling_active(df, "ts", "user_id", 3).collect()}
    # window(d) = distinct users with events in [d-2, d]
    assert out == {1: 2, 2: 2, 3: 2, 4: 2}
    # day 3: users 1 (day 2) and 2 (day 1); day 4: users 1 (day 2) and 3


def test_rolling_active_clips_to_observed_range_and_validates(spark):
    from data_pipeline_bigquery_to_sftp_server_spark.operators.timeseries import (
        rolling_active,
    )

    df = _days(spark, [(1, 1), (2, 5)])
    days = sorted(r.day.day for r in rolling_active(df, "ts", "user_id", 7).collect())
    assert days == [1, 2, 3, 4, 5]  # coverage past day 5 clipped
    with pytest.raises(ValueError):
        rolling_active(df, "ts", "user_id", 0)
