"""r15 optimization round: ADVICE r14 loud-failure guards.

The int64 fixed-point partial-sum trainers (clustering/ivf/pq) and the
driver-side LSH probe-bucket table both had documented silent-wrap
edges outside their operating envelopes (ADVICE r14, all low): batch
sums could wrap int64 if a caller raised the Arrow batch size or fed
large-magnitude embeddings, and n_planes >= 32 would overflow the
IntegerType bucket id on the driver side while the corpus side wrapped
via astype(np.int32). Both now fail loudly; these tests pin that.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from chrono_ts_spark.operators.clustering import _guard_int64_partials as guard_int64_partials


class TestGuardInt64Partials:
    # r16 (ADVICE r15): the guard now takes the FLOAT rounded array and
    # performs the int64 cast itself — checking after astype(np.int64)
    # missed per-element wrap (|coord|*1e9 >= 2^63 wraps in the cast;
    # np.abs of wrapped INT64_MIN stays negative and .max(initial=0)
    # ignores it). Tests pass floats and assert the returned dtype.

    def test_normal_batch_passes_through(self):
        qf = np.round(np.random.default_rng(0).normal(size=(2000, 64)) * 1e9)
        out = guard_int64_partials(qf)
        assert out.dtype == np.int64
        assert np.array_equal(out, qf.astype(np.int64))

    def test_empty_and_zero_batches_pass(self):
        assert guard_int64_partials(np.zeros((0, 64))).shape == (0, 64)
        out = guard_int64_partials(np.zeros((10, 64)))
        assert out.shape == (10, 64) and out.dtype == np.int64

    def test_wrap_risk_raises(self):
        # A batch whose worst-case single-cell sum exceeds 2^62:
        # rows * max|q| = 1000 * 2^60 >> 2^62.
        qf = np.full((1000, 4), float(1 << 60))
        with pytest.raises(OverflowError, match="fixed-point partial sums"):
            guard_int64_partials(qf)

    def test_boundary_is_conservative(self):
        # rows=2, max=2^61: worst case 2^62 exactly -> passes; one more
        # row crosses the line and raises.
        guard_int64_partials(np.full((2, 1), float(1 << 61)))
        with pytest.raises(OverflowError):
            guard_int64_partials(np.full((3, 1), float(1 << 61)))

    def test_element_wrap_raises(self):
        # The exact ADVICE r15 case: a single coord past 2^63 wraps in
        # astype(np.int64) itself; the pre-cast float bound must catch
        # it even when the batch is tiny (accumulation bound alone
        # would pass: 1 row * anything <= 2^62 iff qmax <= 2^62).
        qf = np.array([[9.3e18]])  # > 2^63 ~ 9.22e18
        with pytest.raises(OverflowError, match="fixed-point partial sums"):
            guard_int64_partials(qf)
        # ...and just under the element bound but over the accumulation
        # budget with enough rows still raises.
        qf2 = np.full((3, 1), 2.0e18)  # 3 * 2e18 > 2^62 ~ 4.6e18
        with pytest.raises(OverflowError):
            guard_int64_partials(qf2)


class TestLshPlaneWidthGuard:
    def test_n_planes_over_31_raises(self, spark):
        from chrono_ts_spark.operators.similarity import lsh_bucket_topk

        df = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(8)],
            "vec_id long, embedding array<float>",
        )
        probes = df.filter(F.col("vec_id") < 2)
        with pytest.raises(ValueError, match="n_planes=32"):
            lsh_bucket_topk(df, probes, dims=2, k=3, n_planes=32)

    def test_31_planes_still_runs(self, spark):
        from chrono_ts_spark.operators.similarity import lsh_bucket_topk

        df = spark.createDataFrame(
            [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(30)],
            "vec_id long, embedding array<float>",
        )
        probes = df.filter(F.col("vec_id") < 2)
        out = lsh_bucket_topk(
            df, probes, dims=3, k=3, n_planes=31, n_tables=2
        ).collect()
        assert len(out) > 0
