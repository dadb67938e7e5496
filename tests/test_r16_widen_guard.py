"""r16 optimization round: widen_if_narrow scan-only guard.

ADVICE r15 / VERDICT r15 item 7: widen_if_narrow's parallelism probe
(`df.rdd.getNumPartitions()`) forces physical planning, and under AQE
`toRdd` materializes the stages of any exchange in the subtree (which
is why even `localCheckpoint(eager=False)` runs its subplan as it is
planned). All r15 call sites were raw scans so the hazard was latent;
these tests make the precondition enforced rather than assumed:

* a post-shuffle input returns unchanged AND launches ZERO jobs at
  plan-construction time (the probe is never reached);
* raw scans still widen (narrow fixture) / pass through (wide input);
* the classifier itself is job-free.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_ts_spark.operators.dedup import _is_scan_only, widen_if_narrow
from tests.conftest import SF_SMOKE


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup())


class TestScanOnlyClassifier:
    def test_scan_is_scan_only(self, spark):
        from chrono_ts_spark.catalog import load_table

        d = load_table(spark, SF_SMOKE, "documents")
        assert _is_scan_only(d)
        assert _is_scan_only(d.select("doc_id", "text"))
        assert _is_scan_only(d.filter(F.col("doc_id") > 3).select("text"))

    def test_exchange_plans_are_not(self, spark):
        from chrono_ts_spark.catalog import load_table

        d = load_table(spark, SF_SMOKE, "documents")
        assert not _is_scan_only(d.repartition(8))
        assert not _is_scan_only(d.groupBy("lang").count())
        assert not _is_scan_only(d.orderBy("doc_id"))
        assert not _is_scan_only(d.join(d.select("doc_id"), "doc_id"))
        assert not _is_scan_only(d.distinct())


class TestWidenGuard:
    def test_post_shuffle_input_unchanged_and_job_free(self, spark):
        from chrono_ts_spark.catalog import load_table

        d = load_table(spark, SF_SMOKE, "documents").groupBy("lang").agg(
            F.count(F.lit(1)).alias("n")
        )
        before = _jobs(spark)
        out = widen_if_narrow(d)
        assert _jobs(spark) == before, (
            "widen_if_narrow launched Spark job(s) classifying a "
            "post-shuffle input: the probe materialized upstream stages"
        )
        assert out is d  # returned unchanged, probe never reached

    def test_narrow_scan_still_widens(self, spark):
        from chrono_ts_spark.catalog import load_table

        d = load_table(spark, SF_SMOKE, "documents")
        # single-file fixture scans plan 1 task on local[N>1]
        if spark.sparkContext.defaultParallelism <= 1:
            return
        out = widen_if_narrow(d)
        assert out.rdd.getNumPartitions() >= min(
            spark.sparkContext.defaultParallelism,
            2,
        )

    def test_wide_scan_passes_through(self, spark):
        from chrono_ts_spark.catalog import load_table

        d = load_table(spark, SF_SMOKE, "documents")
        out = widen_if_narrow(d, partitions=1)  # scan >= 1 partition
        assert out is d
