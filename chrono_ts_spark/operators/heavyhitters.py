"""Misra-Gries heavy hitters: a mergeable frequency sketch.

Exact top-k by frequency (groupBy + count) shuffles every distinct
item. At 100 TB with billions of distinct tokens/URLs, the shuffle IS
the cost — the Misra-Gries summary caps it at k rows per partition
while keeping a hard guarantee:

    true_count - N/(k+1)  <=  estimate  <=  true_count

so every item with true_count > N/(k+1) is guaranteed to survive.
Summaries are MERGEABLE (Agarwal et al., "Mergeable Summaries", PODS
2012): merging = summing counters, then subtracting the (k+1)-th
largest sum and dropping non-positives, with the SAME total error
bound regardless of merge tree shape. That is exactly a Spark
aggregation: per-partition MG (mapInPandas, k rows out), one small
shuffle on item, and a final threshold subtraction.

Estimates depend on partition boundaries (any MG deployment's
property), so the derived query is rows-only; the error-bound and
total-recall guarantees are pinned in tests/test_heavyhitters.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _mg_merge(counters: dict, add: dict, k: int) -> dict:
    """Merge weighted counts into an MG summary of at most k entries."""
    for item, w in add.items():
        counters[item] = counters.get(item, 0) + int(w)
    if len(counters) > k:
        # subtract the (k+1)-th largest; drop <= 0
        thr = sorted(counters.values(), reverse=True)[k]
        counters = {i: c - thr for i, c in counters.items() if c - thr > 0}
    return counters


def misra_gries(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """[item, est] — the merged MG summary of df[col] (at most k rows).

    est underestimates by at most N/(k+1) (N = total row count) and
    never overestimates.
    """
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(df.sparkSession)

    def partial(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in pdfs:
            counts = pdf["item"].value_counts()
            counters = _mg_merge(counters, counts.to_dict(), k)
        if counters:
            yield pd.DataFrame(
                {"item": list(counters.keys()), "cnt": list(counters.values())}
            )

    # items travel as strings (matching the declared Arrow schema) so
    # the sketch works for any castable column type — ids, URLs, tokens
    partials = df.select(F.col(col).cast("string").alias("item")).mapInPandas(
        partial, "item string, cnt long"
    )
    summed = partials.groupBy("item").agg(F.sum("cnt").alias("est"))
    # final merge step: if more than k survivors, subtract the (k+1)-th
    # largest and keep positives (same rule the partials applied). Only
    # ranks <= k can end positive (rank r > k+1 has est <= the (k+1)-th
    # = thr), so the top-(k+1) cut — TakeOrderedAndProject, per-
    # partition heaps, no global sort — already holds every survivor,
    # and the rank window runs limit-bounded (the explain_audit window
    # rule's contract). The threshold is read in the same window pass,
    # so the cut is referenced once and nothing runs at build time.
    order = [F.col("est").desc(), F.col("item")]
    w = Window.orderBy(*order)
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = summed.orderBy(*order).limit(k + 1).select(
        "item",
        "est",
        F.row_number().over(w).alias("__r"),
        F.nth_value("est", k + 1).over(whole).alias("__thr"),
    )
    return (
        ranked.filter(F.col("__r") <= k)
        .withColumn("est", F.col("est") - F.coalesce(F.col("__thr"), F.lit(0)))
        .filter(F.col("est") > 0)
        .select("item", "est")
    )
