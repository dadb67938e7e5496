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
# per round, so ordering is coverage policy, not cosmetics; the rotation
# history is in docs/coverage.md "Round-14 window".
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
