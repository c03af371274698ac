"""Rolling interval windows (temporal.rolling_window)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from jsonschema_spark.operators import temporal


def rows(df, *order):
    if order:
        df = df.orderBy(*order)
    return [tuple(r) for r in df.collect()]


def _ts(day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour)


def test_rolling_window_frame_math(spark):
    ev = spark.createDataFrame(
        [
            ("u1", _ts(1), 10.0),
            ("u1", _ts(5), 20.0),
            ("u1", _ts(8), 40.0),   # day-1 row is exactly 7d back: IN
            ("u1", _ts(9), 80.0),   # day-1 row falls out
            ("u2", _ts(5), 1.0),
        ],
        "user string, ts timestamp, value double",
    )
    out = temporal.rolling_window(
        ev, "user", "ts", 7 * 86400,
        {"n": F.count(F.lit(1)),
         "cents": F.sum(F.floor(F.col("value") * 100).cast("long"))},
    )
    got = rows(out.select("user", "ts", "n", "cents"), "user", "ts")
    assert got == [
        ("u1", _ts(1), 1, 1000),
        ("u1", _ts(5), 2, 3000),
        ("u1", _ts(8), 3, 7000),
        ("u1", _ts(9), 3, 14000),
        ("u2", _ts(5), 1, 100),
    ]


def test_rolling_window_includes_ts_peers(spark):
    # RANGE frames include all peers of the current timestamp
    ev = spark.createDataFrame(
        [("u", _ts(1), 1.0), ("u", _ts(1), 2.0)],
        "user string, ts timestamp, value double",
    )
    out = temporal.rolling_window(
        ev, "user", "ts", 86400, {"n": F.count(F.lit(1))}
    )
    assert [r[0] for r in rows(out.select("n"))] == [2, 2]


def test_rolling_window_single_shuffle(spark):
    ev = spark.createDataFrame(
        [("u", _ts(1), 1.0)], "user string, ts timestamp, value double"
    )
    out = temporal.rolling_window(
        ev, "user", "ts", 86400, {"n": F.count(F.lit(1))}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1  # one hash shuffle on the key
    assert "Join" not in plan           # never the self-join form
