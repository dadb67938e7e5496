"""Round-9 guard tests: binary segmentation (binseg_l2) pinned against
exact PELT and its recursive-CTE oracle, the covariance NaN guard, and
the single-micro-batch replay premise guard (ADVICE r8 items).
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta

import numpy as np
import pytest

from chrono_ts_spark.queries import load_all

REG = load_all()

D0 = datetime(2024, 3, 1)


class TestBinsegL2:
    def test_equals_pelt_on_well_separated_planted_steps(self):
        from chrono_ts_spark.operators.changepoint import binseg_l2, pelt_l2

        rng = np.random.RandomState(7)
        for _ in range(5):
            means = [0.0, 80.0, -60.0, 40.0]
            xs = np.concatenate(
                [np.full(30, m) + rng.randint(-3, 4, 30) for m in means]
            )
            beta = 2.0 * xs.var() * math.log(len(xs))
            assert binseg_l2(xs, beta) == pelt_l2(xs, beta) == [30, 60, 90]

    def test_diverges_on_masked_double_step(self):
        # The canonical greedy failure: a short up-then-down bump whose
        # best SINGLE split gain is below beta (the two steps cancel in
        # any one split), while the optimal TWO-split solve pays 2*beta
        # and wins. PELT finds the bump; binseg (greedy, never looks
        # two splits ahead) declares the series homogeneous.
        from chrono_ts_spark.operators.changepoint import binseg_l2, pelt_l2

        n, lo, hi = 40, 17, 23
        xs = np.zeros(n)
        xs[lo:hi] = 10.0
        beta = 160.0  # best single-split gain 66.5 < beta < 255 = half
        # the two-split total gain 510
        assert pelt_l2(xs, beta) == [lo, hi]
        assert binseg_l2(xs, beta) == []

    def test_short_and_constant_series(self):
        from chrono_ts_spark.operators.changepoint import binseg_l2

        assert binseg_l2([], 1.0) == []
        assert binseg_l2([5.0], 1.0) == []
        assert binseg_l2([3.0] * 50, 1.0) == []

    def test_oracle_replays_engine_in_duckdb(self):
        # The recursive-CTE oracle must land on binseg_l2's exact
        # leaves — same splits, same segment bounds — on series with
        # planted steps, a masked bump, pure noise, and n<2 edge cases.
        import duckdb

        from chrono_ts_spark.operators.changepoint import binseg_l2
        from chrono_ts_spark.queries.timeseries import _binseg_oracle

        rng = np.random.RandomState(11)
        series = {
            1: np.concatenate([np.full(25, 2.0), np.full(25, 90.0)])
            + rng.randint(-2, 3, 50),
            2: rng.randint(-50, 51, 60).astype(float),
            3: np.array([4.25]),
            4: np.concatenate(
                [np.zeros(17), np.full(6, 10.0), np.zeros(17)]
            ),
        }
        rows = []
        for uid, xs in series.items():
            for i, v in enumerate(xs):
                rows.append(
                    (
                        uid * 1000 + i,
                        D0 + timedelta(hours=i),
                        uid,
                        "t",
                        float(v),
                        "{}",
                    )
                )
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, "
            "user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR)"
        )
        con.executemany("INSERT INTO events VALUES (?,?,?,?,?,?)", rows)
        got = {}
        for r in con.execute(
            _binseg_oracle() + " ORDER BY user_id, seg_idx"
        ).fetchall():
            got.setdefault(r[0], []).append(int(r[4]))  # n_pts sequence
        for uid, xs in series.items():
            v100 = np.asarray(xs, dtype=np.float64) * 100.0
            q = np.sign(v100) * np.floor(np.abs(v100) + 0.5)
            n = len(q)
            s, sq = float(q.sum()), float((q * q).sum())
            var = (sq - s * s / n) / n if n > 0 else 0.0
            beta = 2.0 * var * math.log(n) if n > 1 and var > 0 else 1.0
            bounds = [0] + binseg_l2(q, beta) + [n]
            want = [bounds[i + 1] - bounds[i] for i in range(len(bounds) - 1)]
            assert got[uid] == want, f"user {uid}: {got[uid]} != {want}"

    def test_spark_query_matches_python_replay(self, spark, tmp_path):
        from chrono_ts_spark.operators.changepoint import binseg_l2

        rng = np.random.RandomState(3)
        xs = np.concatenate(
            [np.full(20, 1.0), np.full(20, 55.0), np.full(20, -30.0)]
        ) + rng.randint(-2, 3, 60)
        rows = [
            (1, i, D0 + timedelta(hours=i), float(v)) for i, v in enumerate(xs)
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, value double"
        )
        sf = str(tmp_path / "sf")
        df.write.parquet(f"{sf}/events.parquet")
        got = sorted(
            (r.seg_idx, r.n_pts, r.mean_cents)
            for r in REG["ts_binseg_segments"].fn(spark, sf).collect()
        )
        q = np.floor(np.abs(xs * 100.0) + 0.5) * np.sign(xs)
        n = len(q)
        s, sq = float(q.sum()), float((q * q).sum())
        var = (sq - s * s / n) / n
        beta = 2.0 * var * math.log(n)
        bounds = [0] + binseg_l2(q, beta) + [n]
        want = sorted(
            (
                i,
                bounds[i + 1] - bounds[i],
                float(q[bounds[i] : bounds[i + 1]].sum())
                / (bounds[i + 1] - bounds[i]),
            )
            for i in range(len(bounds) - 1)
        )
        assert got == want


class TestCovarianceNaNGuard:
    def test_nan_coordinate_raises_instead_of_corrupting(self, spark):
        # `nan > bound` is False, so without the explicit isfinite check
        # a NaN would sail past the magnitude guard into
        # round().astype(int64) = platform-dependent garbage (ADVICE r8).
        from chrono_ts_spark.operators.clustering import covariance_matrix

        df = spark.createDataFrame(
            [(1, [0.5, float("nan")]), (2, [0.25, -3.0])],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(Exception, match="non-finite"):
            covariance_matrix(df, dims=2)

    def test_inf_coordinate_raises(self, spark):
        from chrono_ts_spark.operators.clustering import covariance_matrix

        df = spark.createDataFrame(
            [(1, [float("inf"), 1.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(Exception, match="non-finite"):
            covariance_matrix(df, dims=2)


class TestSingleFileReplayGuard:
    def test_single_file_fixture_passes(self):
        from chrono_ts_spark.streaming.replay import assert_single_file_replay

        assert_single_file_replay("/root/testdata/sf0.001")  # one file

    def test_sharded_fixture_fails_loudly(self, spark, tmp_path):
        # If events.parquet ever becomes a DIRECTORY of part files the
        # replay turns multi-batch and the watermark could drop rows —
        # the stream_upsert/alert oracles' premise. Must fail at the
        # query, not as a driver hash mismatch (ADVICE r8).
        from chrono_ts_spark.streaming.replay import assert_single_file_replay

        sf = tmp_path / "sf"
        df = spark.createDataFrame(
            [(1, 1, D0, "a", 1.0)],
            "event_id long, user_id long, ts timestamp, event_type string, "
            "value double",
        )
        df.repartition(2).write.parquet(str(sf / "events.parquet"))
        with pytest.raises(AssertionError, match="single-micro-batch"):
            assert_single_file_replay(str(sf))

    def test_missing_fixture_fails_loudly(self, tmp_path):
        from chrono_ts_spark.streaming.replay import assert_single_file_replay

        with pytest.raises(AssertionError, match="single-micro-batch"):
            assert_single_file_replay(str(tmp_path))


class TestCountTableQuantiles:
    def test_matches_percentile_aggregate(self, spark):
        # the count-table form must land within the documented 1-ulp
        # band of Spark's exact Percentile on arbitrary doubles (the
        # r6 rule rounds percentile OUTPUTS to 6dp; assert well inside)
        import numpy as np
        import pyspark.sql.functions as F

        from chrono_ts_spark.operators.quantiles import count_table_quantiles

        rng = np.random.RandomState(5)
        rows = [
            (int(k), float(v))
            for k in range(7)
            for v in rng.randint(-1000, 1000, 50 + k * 13) / 8.0
        ]
        df = spark.createDataFrame(rows, "k long, v double")
        ps = [0.05, 0.5, 0.9, 0.99]
        got = {
            r.k: (r.n, r.q0, r.q1, r.q2, r.q3)
            for r in count_table_quantiles(
                df, ["k"], "v", ps, ["q0", "q1", "q2", "q3"], n_name="n"
            ).collect()
        }
        want = {
            r.k: (r.n, r.q0, r.q1, r.q2, r.q3)
            for r in df.groupBy("k")
            .agg(
                F.count("v").alias("n"),
                *[
                    F.percentile("v", F.lit(p)).alias(f"q{i}")
                    for i, p in enumerate(ps)
                ],
            )
            .collect()
        }
        assert set(got) == set(want)
        for k in got:
            assert got[k][0] == want[k][0]
            for a, b in zip(got[k][1:], want[k][1:]):
                assert abs(a - b) < 1e-9, (k, a, b)

    def test_single_value_and_duplicates(self, spark):
        from chrono_ts_spark.operators.quantiles import count_table_quantiles

        df = spark.createDataFrame(
            [(1, 5.0), (2, 3.0), (2, 3.0), (2, 3.0), (3, 1.0), (3, 2.0)],
            "k long, v double",
        )
        got = {
            r.k: (r.n, r.med)
            for r in count_table_quantiles(
                df, ["k"], "v", [0.5], ["med"], n_name="n"
            ).collect()
        }
        assert got == {1: (1, 5.0), 2: (3, 3.0), 3: (2, 1.5)}

    def test_nulls_skipped(self, spark):
        from chrono_ts_spark.operators.quantiles import count_table_quantiles

        df = spark.createDataFrame(
            [(1, None), (1, 4.0), (1, 2.0)], "k long, v double"
        )
        r = count_table_quantiles(df, ["k"], "v", [0.5], ["med"], n_name="n").collect()[0]
        assert (r.n, r.med) == (2, 3.0)


class TestParquetSinkRunner:
    def test_parquet_sink_equals_memory_sink(self, spark, tmp_path):
        # run_to_parquet is the production sink for per-event-output
        # streams (the memory sink caps at driver.maxResultSize — the
        # r9 10M probe aborted there); both sinks must carry the same
        # rows at fixture scale.
        from chrono_ts_spark.streaming.stateful import run_kalman_stream

        sf = "/root/testdata/sf0.001"
        mem = sorted(map(tuple, run_kalman_stream(spark, sf).collect()))
        pq = sorted(
            map(
                tuple,
                run_kalman_stream(
                    spark, sf, sink_dir=str(tmp_path / "kalman_sink")
                ).collect(),
            )
        )
        assert mem == pq

    def test_cusum_parquet_sink_equals_memory_sink(self, spark, tmp_path):
        # r11 (streaming-probe smoke find): CUSUM emits one row per input
        # event — same data-proportional class as EMA/Holt/Kalman — so
        # it carries the same production sink_dir path; both sinks must
        # agree row-for-row at fixture scale.
        from chrono_ts_spark.streaming.stateful import run_cusum_stream

        sf = "/root/testdata/sf0.001"
        mem = sorted(map(tuple, run_cusum_stream(spark, sf).collect()))
        pq = sorted(
            map(
                tuple,
                run_cusum_stream(
                    spark, sf, sink_dir=str(tmp_path / "cusum_sink")
                ).collect(),
            )
        )
        assert mem == pq
