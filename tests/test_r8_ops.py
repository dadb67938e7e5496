"""Round-8 guard tests: sampled Theil-Sen recovery/boundedness, the
covariance fixed-point budget guard, stream-state retention across
invocations, and the dedup size-hint join gate.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from chrono_ts_spark.queries import load_all

REG = load_all()

D0 = datetime(2024, 3, 1)


class TestSampledTheilSen:
    def _events_view(self, spark, rows):
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, value double"
        )
        df.createOrReplaceTempView("__r8_events")
        return df

    def test_k_at_least_series_length_recovers_full_estimator(self, spark, tmp_path):
        # 10-point series (K=24 >= 10): the hash sample keeps every
        # point, so sampled == full Theil-Sen exactly.
        import pyspark.sql.functions as F

        rows = [
            (1, i, D0 + timedelta(hours=i), float(i) * 2.0 + (7.0 if i == 5 else 0.0))
            for i in range(10)
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, value double"
        )
        sf = str(tmp_path / "sf")
        df.write.parquet(f"{sf}/events.parquet")
        full = {
            r.user_id: (r.n_pairs, r.slope_per_hour)
            for r in REG["ts_theil_sen"].fn(spark, sf).collect()
        }
        samp = {
            r.user_id: (r.n_pairs, r.slope_per_hour)
            for r in REG["ts_theil_sen_sampled"].fn(spark, sf).collect()
        }
        assert samp == full

    def test_pair_count_bounded_by_k_choose_2(self, spark, tmp_path):
        # 60-point series: the sample must cap pairs at K(K-1)/2 = 276,
        # where the full estimator would emit 60*59/2 = 1770.
        from chrono_ts_spark.queries.timeseries import _TS_SAMPLE_K

        rows = [
            (1, i, D0 + timedelta(minutes=i), float(i % 7)) for i in range(60)
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, value double"
        )
        sf = str(tmp_path / "sf")
        df.write.parquet(f"{sf}/events.parquet")
        out = REG["ts_theil_sen_sampled"].fn(spark, sf).collect()
        assert len(out) == 1
        assert out[0].n_pairs == _TS_SAMPLE_K * (_TS_SAMPLE_K - 1) // 2

    def test_deterministic_across_runs_and_partitionings(self, spark, tmp_path):
        rows = [
            (u, u * 1000 + i, D0 + timedelta(minutes=3 * i), float((i * u) % 11))
            for u in (1, 2, 3)
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, value double"
        )
        sf = str(tmp_path / "sf")
        df.repartition(7).write.parquet(f"{sf}/events.parquet")
        a = sorted(map(tuple, REG["ts_theil_sen_sampled"].fn(spark, sf).collect()))
        b = sorted(map(tuple, REG["ts_theil_sen_sampled"].fn(spark, sf).collect()))
        assert a == b


class TestCovarianceBudgetGuard:
    def test_out_of_range_coordinate_raises_loudly(self, spark):
        from chrono_ts_spark.operators.clustering import covariance_matrix

        df = spark.createDataFrame(
            [(1, [0.5, 1e6]), (2, [0.25, -3.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(Exception, match="budget"):
            covariance_matrix(df, dims=2)

    def test_in_range_matches_numpy(self, spark):
        import numpy as np

        from chrono_ts_spark.operators.clustering import covariance_matrix

        vecs = [[0.5, -1.25], [2.0, 3.5], [-0.75, 0.0], [1.5, -2.25]]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        mean, cov, n = covariance_matrix(df, dims=2)
        m = np.asarray(vecs)
        assert n == 4
        assert np.allclose(mean, m.mean(axis=0), atol=1e-5)
        assert np.allclose(cov, np.cov(m.T, bias=True), atol=1e-4)


class TestStreamStateRetention:
    def test_previous_invocations_root_survives_one_call(self):
        import os

        from chrono_ts_spark.streaming.upsert import state_scratch_root

        r1 = state_scratch_root("r8test")
        os.makedirs(r1, exist_ok=True)
        probe = os.path.join(r1, "gen=0")
        os.makedirs(probe, exist_ok=True)
        r2 = state_scratch_root("r8test")
        # the immediately previous store is retained (its returned
        # DataFrame may still lazily read it) ...
        assert os.path.isdir(probe)
        os.makedirs(r2, exist_ok=True)
        r3 = state_scratch_root("r8test")
        # ... but two invocations later it is vacuumed (bounded disk)
        assert not os.path.isdir(r1)
        assert os.path.isdir(r2)
        assert isinstance(r3, str)


class TestDedupSizeHintGate:
    def test_no_count_job_at_plan_time(self, spark):
        """Building the candidate plan must not trigger a Spark job
        (the r7 form ran df.count() eagerly — a full corpus scan per
        invocation at 100 TB)."""
        from chrono_ts_spark.operators.dedup import minhash_lsh_candidates

        docs = spark.createDataFrame(
            [(i, f"some text body number {i} with shared words") for i in range(30)],
            "doc_id long, text string",
        )
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        plan = minhash_lsh_candidates(docs, "doc_id", "text", 16, 4, 3)
        after = tracker.getJobIdsForGroup(None)
        assert plan is not None
        assert len(after) == len(before), "plan construction launched a job"

    def test_size_hint_paths_agree(self, spark, monkeypatch):
        # The self-join pin is decided from Catalyst's plan size: force
        # each branch (0 bytes -> unhinted small plan; no estimate ->
        # the spill-safe shuffle_merge pin) and compare the pairs.
        import chrono_ts_spark.planinfo as planinfo
        from chrono_ts_spark.operators.dedup import minhash_lsh_candidates

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "the quick brown fox jumps over the lazy dog today"),
                (3, "an entirely different document about spark shuffles"),
            ],
            "doc_id long, text string",
        )

        def pairs(plan_bytes):
            monkeypatch.setattr(
                planinfo, "optimized_plan_size_bytes", lambda df: plan_bytes
            )
            cands = minhash_lsh_candidates(docs, "doc_id", "text", 16, 4, 3)
            pinned = "strategy=merge" in planinfo.analyzed_plan(cands)
            return pinned, sorted(map(tuple, cands.collect()))

        pinned_small, small = pairs(0)
        pinned_large, large = pairs(None)
        assert (pinned_small, pinned_large) == (False, True)
        assert small == large
        assert any(r[0] == 1 and r[1] == 2 for r in small)
