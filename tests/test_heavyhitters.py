"""Misra-Gries sketch: error-bound and recall guarantees on skewed
data, arbitrary-partitioning stability of the GUARANTEES (estimates
may differ, bounds may not)."""

from __future__ import annotations

from collections import Counter

import pytest

from chrono_ts_spark.operators.heavyhitters import misra_gries


def zipf_rows():
    rows = []
    for i in range(1, 201):
        rows.extend([f"t{i}"] * (4000 // i))
    return rows


@pytest.fixture(scope="module")
def tokens(spark):
    rows = zipf_rows()
    return spark.createDataFrame([(t,) for t in rows], "tok string"), Counter(rows)


@pytest.mark.parametrize("partitions", [1, 4, 32])
def test_mg_guarantees(spark, tokens, partitions):
    df, truth = tokens
    n = sum(truth.values())
    k = 32
    bound = n / (k + 1)
    est = {r.item: r.est for r in misra_gries(df.repartition(partitions), "tok", k).collect()}
    assert len(est) <= k
    for item, true_c in truth.items():
        if true_c > bound:
            assert item in est, f"{item} (count {true_c} > bound {bound:.0f}) missing"
        if item in est:
            assert est[item] <= true_c
            assert est[item] >= true_c - bound


def test_mg_exact_when_k_exceeds_distinct(spark):
    rows = ["a"] * 10 + ["b"] * 5 + ["c"] * 2
    df = spark.createDataFrame([(t,) for t in rows], "tok string").repartition(3)
    est = {r.item: r.est for r in misra_gries(df, "tok", k=10).collect()}
    # fewer distinct items than k in every partition: no decrements ever
    assert est == {"a": 10, "b": 5, "c": 2}


def test_mg_builds_lazily(spark, tmp_path):
    """Building the sketch runs no Spark job and the plan reads no
    materialized checkpoint: the top-(k+1) cut is referenced once. The
    input goes through parquet because a DataFrame made from a Python
    list is itself an ExistingRDD scan."""
    from chrono_ts_spark.planinfo import explain_text

    path = str(tmp_path / "tokens")
    spark.createDataFrame([(t,) for t in zipf_rows()], "tok string").write.parquet(path)
    df = spark.read.parquet(path)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup())
    sketch = misra_gries(df, "tok", k=32)
    assert len(tracker.getJobIdsForGroup()) == before
    assert "ExistingRDD" not in explain_text(sketch, "simple")
