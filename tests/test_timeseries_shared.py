"""The shared time-series idioms of ``queries/timeseries.py`` and
``functions``: the hourly cents series and ``fx`` against the oracle's
own cents cast in DuckDB, and the per-user segment runner against the
changepoint solvers it runs."""

from __future__ import annotations

import math
from functools import partial

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from chrono_ts_spark.functions import fx
from chrono_ts_spark.operators.changepoint import binseg_l2, pelt_l2
from chrono_ts_spark.queries.timeseries import _hourly_cents, _segment_per_user

HOUR_US = 3_600_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC

# Exact half cents (x * 100 is exactly k + 0.5) of both signs, where
# round-half-even would differ from the oracle's round, plus values
# whose binary product lands just off the half.
PLANTED = [0.125, -0.125, 0.375, -0.375, 2.625, -2.625, 1.005, -1.005,
           2.675, -2.675, 0.015, -0.015, 0.0, 12.34, -99.99, 1e-3]


def _events(spark, rows):
    """(event_id, us, user_id, event_type, value) rows as an events frame."""
    return spark.createDataFrame(
        rows, "event_id long, us long, user_id long, event_type string, value double"
    ).select("event_id", F.timestamp_micros("us").alias("ts"), "user_id", "event_type", "value")


def test_fx_and_hourly_cents_match_the_oracle_cast(spark):
    rows = [
        (i, T0_US + (i % 3) * HOUR_US + i, 1, "ab"[i % 2], v)
        for i, v in enumerate(PLANTED * 2)
    ]
    ev = _events(spark, rows)
    con = duckdb.connect()
    cols = ["event_id", "us", "user_id", "event_type", "value"]
    con.register("raw", pd.DataFrame(rows, columns=cols))
    con.execute(
        "CREATE VIEW events AS SELECT event_id, make_timestamp(us) AS ts, "
        "event_type, value FROM raw"
    )
    oracle_cents = dict(
        con.execute(
            "SELECT event_id, CAST(round(value * 100, 0) AS BIGINT) FROM events"
        ).fetchall()
    )
    got = ev.select("event_id", fx("value", 2).alias("c")).collect()
    got_cents = {r.event_id: r.c for r in got}
    assert got_cents == oracle_cents
    # the half cents round away from zero, as SQL round does
    assert oracle_cents[0] == 13 and oracle_cents[1] == -13

    oracle_hourly = sorted(
        con.execute(
            "SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h, "
            "CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c "
            "FROM events GROUP BY event_type, h"
        ).fetchall()
    )
    hourly = _hourly_cents(ev)
    assert dict(hourly.dtypes) == {"event_type": "string", "h": "bigint", "c": "bigint"}
    assert sorted(tuple(r) for r in hourly.collect()) == oracle_hourly
    assert len(oracle_hourly) == 6


# Three planted levels per user, 30 points each: exact cents with a
# small deterministic wobble, so every solver must find both steps.
STEPS = {7: (1.0, 5.0, 2.0), 8: (-3.0, 4.0, 0.5)}
SOLVERS = {
    "pelt": pelt_l2,
    "pelt_bounded": partial(pelt_l2, max_lookback=256),
    "binseg": binseg_l2,
}


def _cents(user):
    return np.array(
        [round(level * 100) + (i * 7) % 5 - 2 for level in STEPS[user] for i in range(30)],
        dtype="float64",
    )


def _expected_bounds(xs, solve):
    """The runner's contract: beta = 2 var ln n over exact moments."""
    n = len(xs)
    s, q = float(xs.sum()), float((xs * xs).sum())
    var = (q - s * s / n) / n
    return [0] + solve(xs, 2.0 * var * math.log(n)) + [n]


@pytest.mark.parametrize("solver", sorted(SOLVERS))
def test_segment_runner_gives_the_solver_bounds(spark, solver):
    solve = SOLVERS[solver]
    rows = []
    for user in STEPS:
        for i, c in enumerate(_cents(user)):
            rows.append((user * 1000 + i, T0_US + i * 60_000_000, user, "x", float(c) / 100))
    rows.reverse()  # the runner, not the input order, puts points in time order
    segs = _segment_per_user(_events(spark, rows), solve).collect()
    for user in STEPS:
        xs = _cents(user)
        expected = _expected_bounds(xs, solve)
        assert expected == [0, 30, 60, 90]  # the planted steps
        got = sorted((r.seg_idx, r.n_pts, r.mean_cents) for r in segs if r.user_id == user)
        assert [g[0] for g in got] == list(range(len(expected) - 1))
        assert list(np.cumsum([0] + [g[1] for g in got])) == expected
        assert [g[2] for g in got] == [
            float(xs[lo:hi].sum() / (hi - lo)) for lo, hi in zip(expected, expected[1:])
        ]
    first = min((r for r in segs if r.user_id == 7), key=lambda r: r.seg_idx)
    assert (first.start_ts_s, first.end_ts_s) == ("2024-01-01 00:00:00", "2024-01-01 00:29:00")
