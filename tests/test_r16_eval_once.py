"""r16 optimization round: eval_once nondeterminism barrier.

pipeline_clean_corpus filters on a computed quality column that is
ALSO aggregated downstream; Catalyst's predicate pushdown substitutes
the full quality HOF pipeline into a pushed Filter, so the scoring ran
twice per row (guide §4.4 — plans/r16/pipeline_clean_corpus_before.txt
shows both copies). ``eval_once`` wraps the column in a value-identical
nondeterministic expression so the filter stays above the Project.

Pins:
* eval_once is the identity on values, including NULL;
* the barrier removes the duplicated evaluation from the physical plan
  (exactly one regexp_replace-alpha-ratio copy survives);
* the barred filter is NOT pushed below the Project;
* pipeline_clean_corpus output is identical to the unbarred rewrite.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from chrono_ts_spark.functions import eval_once
from chrono_ts_spark.operators.textfns import quality_score
from chrono_ts_spark.planinfo import explain_text
from tests.conftest import SF_SMOKE


def _physical_plan(df) -> str:
    return explain_text(df, "simple")


class TestEvalOnceIdentity:
    def test_identity_on_values_and_null(self, spark):
        df = spark.createDataFrame(
            [(1.0,), (0.25,), (None,)], "v double"
        ).select(F.col("v"), eval_once(F.col("v")).alias("w"))
        rows = df.collect()
        assert [r.w for r in rows] == [r.v for r in rows]

    def test_quality_values_unchanged(self, spark):
        from chrono_ts_spark.catalog import load_table

        d = load_table(spark, SF_SMOKE, "documents")
        plain = d.select("doc_id", quality_score(F.col("text")).alias("q"))
        barred = d.select(
            "doc_id", eval_once(quality_score(F.col("text"))).alias("q")
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, barred.collect())
        )


class TestEvalOncePlanShape:
    def _alpha_ratio_count(self, plan: str) -> int:
        # the alpha-ratio leg of quality_score is the distinctive
        # subexpression: one occurrence per full evaluation
        return len(re.findall(r"regexp_replace\([^,]*, \[\^A-Za-z\]", plan))

    def test_unbarred_filter_duplicates_scoring(self, spark):
        from chrono_ts_spark.catalog import load_table

        d = load_table(spark, SF_SMOKE, "documents")
        scored = d.select(
            "doc_id", quality_score(F.col("text")).alias("q")
        ).filter(F.col("q") >= 0.5)
        plan = _physical_plan(scored)
        assert self._alpha_ratio_count(plan) >= 2  # pushed + projected

    def test_barrier_single_evaluation(self, spark):
        from chrono_ts_spark.catalog import load_table

        d = load_table(spark, SF_SMOKE, "documents")
        scored = d.select(
            "doc_id", eval_once(quality_score(F.col("text"))).alias("q")
        ).filter(F.col("q") >= 0.5)
        plan = _physical_plan(scored)
        assert self._alpha_ratio_count(plan) == 1

    def test_registry_query_single_evaluation(self, spark):
        from chrono_ts_spark.queries import load_all

        df = load_all()["pipeline_clean_corpus"].fn(spark, SF_SMOKE)
        assert self._alpha_ratio_count(_physical_plan(df)) == 1


class TestPipelineCleanCorpusEquality:
    def test_output_identical_to_unbarred(self, spark):
        """The registry query (barrier) equals the unbarred rewrite."""
        from chrono_ts_spark.catalog import load_table
        from chrono_ts_spark.operators.textfns import (
            content_md5,
            token_count,
        )
        from chrono_ts_spark.operators.topk import top_k_per_group
        from chrono_ts_spark.queries import load_all

        got = sorted(
            map(tuple, load_all()["pipeline_clean_corpus"].fn(spark, SF_SMOKE).collect())
        )

        d = load_table(spark, SF_SMOKE, "documents")
        scored = d.select(
            "doc_id",
            "lang",
            token_count(F.col("text")).cast("double").alias("n_tok"),
            quality_score(F.col("text")).alias("quality"),
            content_md5(F.col("text")).alias("ch"),
        ).filter(F.col("quality") >= 0.5)
        kept = top_k_per_group(scored, group=["ch"], order=[F.col("doc_id")], k=1)
        want = sorted(
            map(
                tuple,
                kept.groupBy("lang")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum(F.col("n_tok").cast("bigint")).alias("total_tokens"),
                    F.round(
                        F.sum(F.col("quality").cast("decimal(18,12)")).cast("double")
                        / F.count(F.lit(1)).cast("double"),
                        8,
                    ).alias("avg_quality"),
                )
                .collect(),
            )
        )
        assert got == want
