"""Query registry — the single source of truth behind __spark_entry__.py.

Every implemented operator from SURVEY.md §2 registers here as a named
query (Spark callable) plus, when SQL-expressible, the equivalent
DuckDB oracle SQL. The driver runs both sides at sf0.01 and compares
row-count + schema + order-insensitive value-hash, so:

- every computed column is aliased identically on both sides;
- aggregates use the decimal-exact helpers (chrono_ts_spark.functions)
  so floating-point results are order-independent and bit-identical;
- timestamps cross the boundary as strings or epoch integers.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    # Declared output schema (Spark DDL string) for queries whose
    # CONSTRUCTION executes Spark jobs (driver-side fits/collects: the
    # fixed-point Lloyd family, iterative connected components, the
    # q-digest histogram, the erasure audit, ...). The contract lint
    # (tests/test_entry_contract.py) checks the declaration statically
    # instead of building those plans, so linting launches zero jobs;
    # tools/oracle_check.py asserts declaration == actual schema on
    # every sweep, so a drifted declaration cannot survive a round.
    out_schema: str | None = None


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    out_schema: str | None = None,
):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name, fn, oracle, tuple(tags), fn.__doc__ or "", out_schema
        )
        return fn

    return deco


_MODULES = [
    "timeseries",
    "relational",
    "scalar_funcs",
    "text",
    "vectors",
    "streaming_queries",
    "extras",
]

# The driver's correctness harness verifies the FIRST 50 registry entries
# per round, so ordering is coverage policy, not cosmetics.  Round-14
# rotation (docs/coverage.md "Round-14 window", backlog recomputed from
# CORRECTNESS_r01-r13 at round start + changed-since-witness recomputed
# from the r13 post-seal diff, per VERDICT r13 items 1-2 and the
# standing rule):
# (1) the 7 CHANGED-SINCE-WITNESS front-loads — emb_ann_ivf's plan
# changed after its r12 driver row (ivf_topk fused Arrow cell+cosine
# scoring, commit 1e3eeb5, post-seal) and changes AGAIN this round
# (ivf_fit_centroids partial-sum Lloyd rewrite, VERDICT r13 item 1 —
# landed in THIS commit, hence front-loaded in the same commit per the
# r13 lesson); emb_ann_ivf_exact rides along per the judge's done-
# criterion (its _fp_* fixed-point plan is untouched by the rewrite —
# verified: it never calls ivf_fit_centroids — but the judge named its
# hash row as the gate, so it is witnessed in-window, not assumed).
# The r13 module diff showed NO other changed-since-witness slots:
# clustering.py's ac64eba touched only hierarchical_kmeans_assign
# (emb_semdedup re-witnessed r13; kmeans_fit untouched), similarity.py's
# 0b13f55 touched only lsh_bucket_topk (emb_ann_lsh/emb_recall_eval
# re-witnessed r13; md5_sign_buckets/_bucket_udf untouched), text.py's
# a5c9b77 is validation-only on a non-default env branch.
# (2) the 6 remaining r6-cohort greens, registration order (they
# displaced to make room for r13's front-loads and must not slip
# again — VERDICT r13 item 5);
# emb_pq_topk's plan also changes this round (pq_fit got the same
# partial-sum trainer rewrite in the following commit — it had the
# identical O(n x dims) explode); emb_pq_exact rides along on the
# same precedent (its _fp_* plan never calls pq_fit); and
# rel_market_basket (r12 witness, plan restructured mid-r14 after the
# 800x probe caught the thrice-run shared subtree — same-commit
# front-load); and emb_ann_lsh + emb_recall_eval (r13 witnesses, but
# late-r14 moved the LSH/IVF probe-side bucketing driver-side after
# the r14 A/B caught the createDataFrame empty-partition Python-worker
# storm — same-commit front-load). io_json_scan, io_partitioned_sink,
# io_csv_scan, rel_window_values and sf_map_funcs displace to the
# r15 ladder to make room.
# (3) the first 37 of the r7 cohort, registration order.
_WINDOW_50 = [
    # -- (1) changed-since-witness front-loads (r13 post-seal ivf fuse +
    #        this round's ivf_fit partial-sum rewrite) --
    "emb_ann_ivf",
    "emb_ann_ivf_exact",
    "emb_pq_topk",
    "emb_pq_exact",
    "rel_market_basket",
    "emb_ann_lsh",
    "emb_recall_eval",
    # -- (2) the 6 remaining r6-cohort staleness re-witnesses --
    "doc_rrf_bm25",
    "doc_rrf_fusion",
    "sql_correlated_above_avg",
    "ts_ema",
    "ts_holt_linear",
    "ts_forecast_backtest",
    # -- (3) first 37 of the r7 cohort, registration order --
    "ts_rolling_zscore",
    "ts_lttb_downsample",
    "ts_asof_join",
    "rel_pricing_summary",
    "rel_collect_priorities",
    "rel_top_supplier_revenue",
    "rel_promo_revenue",
    "rel_disjunctive_revenue",
    "rel_market_share",
    "rel_only_late_supplier",
    "rel_idle_rich_customers",
    "sf_array_funcs",
    "doc_dedup_stats",
    "doc_dup_pairs",
    "doc_fingerprints",
    "doc_lang_id_confusion",
    "doc_quality",
    "doc_simhash_md5",
    "doc_ngram_jaccard_adjacent",
    "doc_dedup_keep_first",
    "pipeline_clean_corpus",
    "doc_winnow_fingerprints",
    "doc_tfidf_top_terms",
    "doc_pii_scrub",
    "doc_chunk_tokens",
    "doc_dup_clusters",
    "doc_hash_sample",
    "doc_decontaminate",
    "doc_pack_sequences",
    "doc_inverted_index",
    "doc_index_incremental",
    "emb_norms",
    "emb_cosine_topk",
    "emb_label_centroids",
    "emb_quantize_int8",
    "rel_cube_sales",
    "rel_full_outer_balance",
]


# Callbacks run by load_all AFTER every module has imported — for the
# rare oracle that references another query's oracle text across the
# module load order (e.g. stream_holt wraps ts_holt_linear's SQL, but
# extras.py loads after streaming_queries.py). Each binder must be
# idempotent.
LATE_BINDERS: list[Callable[[], None]] = []


def load_all() -> dict[str, QuerySpec]:
    """Import all query modules (idempotent) and return the registry.

    The returned dict is ordered: the 50-query verification window first
    (in ``_WINDOW_50`` order), then every remaining query in registration
    order.  ``__spark_entry__.queries()`` preserves this order, which is
    what the driver's first-50 correctness cap sees.
    """
    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")
    for binder in LATE_BINDERS:
        binder()
    missing = [n for n in _WINDOW_50 if n not in REGISTRY]
    if missing:
        raise LookupError(f"_WINDOW_50 names not registered: {missing}")
    ordered = {n: REGISTRY[n] for n in _WINDOW_50}
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
