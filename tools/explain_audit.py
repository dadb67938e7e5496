#!/usr/bin/env python
"""Physical-plan audit: assert the plans we designed for are the plans
Catalyst actually produces (SURVEY.md §4 — rely on the optimizer, but
verify it fired).

Checks per query (where applicable):
- filter queries push predicates into the parquet scan (PushedFilters)
- scans read only referenced columns (ReadSchema pruning)
- star-schema joins use BroadcastHashJoin, not SortMergeJoin
- top-k-per-group plans use WindowGroupLimit (no full materialization)
- global top-k uses TakeOrderedAndProject (no global sort)
- no CartesianProduct anywhere except the deliberate broadcast NL
  cross joins (brute-force ANN probes)
- every plan stays in whole-stage codegen unless it contains the one
  sanctioned Python boundary (mapInPandas decode stub)

Usage: python tools/explain_audit.py [--sf DIR]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

RULES: dict[str, dict[str, list[str]]] = {
    # query -> {"want": [substrings], "forbid": [substrings]}
    "ts_bucket_agg": {
        "want": ["PushedFilters: [IsNotNull(ts)", "HashAggregate"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "rel_revenue_forecast": {
        # Q6: every predicate must reach the scan
        "want": ["PushedFilters: [IsNotNull(l_shipdate)"],
        "forbid": ["SortMergeJoin", "Exchange hashpartitioning(l_"],
    },
    "rel_top_revenue_orders": {
        "want": ["BroadcastHashJoin", "TakeOrderedAndProject"],
        "forbid": ["CartesianProduct"],
    },
    "rel_nation_revenue": {
        "want": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct"],
    },
    "rel_top_orders_per_cust": {
        "want": ["WindowGroupLimit"],
        "forbid": ["CartesianProduct"],
    },
    "ts_topk_users": {
        "want": ["WindowGroupLimit"],
        "forbid": [],
    },
    "ts_asof_join": {
        # union + single shuffle + window: no join operator at all
        "want": ["Union", "Window"],
        "forbid": ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"],
    },
    "ts_range_join_counts": {
        # the whole point: an equi-join, NOT a nested-loop range join
        "want": [],
        "forbid": ["BroadcastNestedLoopJoin", "CartesianProduct"],
    },
    "doc_dup_pairs": {
        "want": [],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "doc_minhash_near_dups": {
        # signatures are computed on the corpus as its scan splits it
        "want": [],
        "forbid": [
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Scan ExistingRDD",
            "RoundRobinPartitioning",
        ],
    },
    "emb_cosine_topk": {
        # deliberate broadcast NL: probes are broadcast, corpus streams
        # as its scan splits it
        "want": ["BroadcastNestedLoopJoin"],
        "forbid": ["CartesianProduct", "RoundRobinPartitioning"],
    },
    "doc_quality": {
        # per-doc scoring runs on the corpus as its scan splits it
        "want": [],
        "forbid": ["RoundRobinPartitioning"],
    },
    "doc_decontaminate": {
        # shingling runs on the corpus as its scan splits it
        "want": [],
        "forbid": ["RoundRobinPartitioning"],
    },
    "doc_repeated_spans": {
        # window hashing runs on the corpus as its scan splits it
        "want": [],
        "forbid": ["RoundRobinPartitioning"],
    },
    "rel_pricing_summary": {
        "want": ["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate"],
        "forbid": [],
    },
    "rel_filter_project": {
        # global sort (O1) requires exactly one range Exchange; the
        # filters must still reach the scan
        "want": ["PushedFilters:", "Exchange rangepartitioning"],
        "forbid": ["Exchange hashpartitioning"],
    },
    "ts_range_join_left": {
        # bucketed equi-join + anti-join backfill — never a NL range join
        "want": [],
        "forbid": ["BroadcastNestedLoopJoin", "CartesianProduct"],
    },
    "ts_interval_overlap": {
        # canonical-bucket interval join: plain equi-join, no dedup pass
        "want": [],
        "forbid": ["BroadcastNestedLoopJoin", "CartesianProduct", "Deduplicate"],
    },
    "rel_top_supplier_revenue": {
        # rank BEFORE the dim join; the single-group window collapses
        # to a global TakeOrderedAndProject (no full sort) and the
        # 10-row survivor side broadcast-joins the supplier dim
        "want": ["BroadcastHashJoin", "TakeOrderedAndProject"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "doc_tfidf_top_terms": {
        # vocabulary (token, df) joins as a broadcast dim
        "want": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct"],
    },
    "emb_quantize_int8": {
        # map-side only: no shuffle at all
        "want": [],
        "forbid": ["Exchange", "CartesianProduct"],
    },
    "doc_chunk_tokens": {
        "want": [],
        "forbid": ["Exchange", "CartesianProduct"],
    },
    "doc_pii_scrub": {
        "want": [],
        "forbid": ["Exchange", "CartesianProduct"],
    },
    "ts_rolling_zscore": {
        # one hash Exchange on user_id feeds a single Window; both
        # frame sums + the count share it (no second shuffle, no join)
        "want": ["Window"],
        "forbid": ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"],
    },
    "rel_promo_revenue": {
        # ship-date range reaches the scan; part is a broadcast dim
        "want": ["PushedFilters: [IsNotNull(l_shipdate)", "BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "CartesianProduct"],
    },
    "rel_disjunctive_revenue": {
        # OR-of-ANDs: the single-table disjunctions must still prune
        # the scans (brand IN-list on part, quantity range on lineitem)
        "want": ["Or(", "BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "CartesianProduct"],
    },
    "rel_market_share": {
        # seven-table star: every dim broadcasts, fact shuffles once
        "want": ["BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "CartesianProduct"],
    },
    "rel_only_late_supplier": {
        "want": [],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "ts_scd2_user_state": {
        # change detect + versioning share one Exchange: two Window ops,
        # a filter between, no join (verified single-Exchange in docs)
        "want": ["Window"],
        "forbid": ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"],
    },
    "rel_bloom_join_revenue": {
        # in-plan bloom build (bit_or agg) broadcast as one row (the
        # sanctioned NL cross), exact join still broadcast-hash
        "want": ["bit_or", "BroadcastNestedLoopJoin Cross", "BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "CartesianProduct"],
    },
    "doc_repetition_filter": {
        # r6: per-doc metrics in one Arrow mapInPandas pass — NO
        # shuffle at all (the r5 gram explode + two hash aggs is gone)
        "want": ["MapInPandas"],
        "forbid": ["Exchange", "SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"],
    },
    "ts_lttb_downsample": {
        # the sanctioned per-series Python boundary: one shuffle on the
        # series key into FlatMapGroupsInPandas — nothing else
        "want": ["FlatMapGroupsInPandas"],
        "forbid": ["SortMergeJoin", "CartesianProduct"],
    },
    "ts_salted_join_enrich": {
        # the salted Exchange must materialize: ShuffledHashJoin on
        # (event_type, __salt), never a broadcast (which would make the
        # salt a no-op at fixture scale)
        "want": ["ShuffledHashJoin", "__salt"],
        "forbid": ["BroadcastHashJoin", "CartesianProduct"],
    },
    "ts_rolling_autocorr": {
        # lag + frame sums share one (user_id; ts,event_id) sort: one
        # Exchange, two Windows, no join
        "want": ["Window"],
        "forbid": ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"],
    },
    "ts_event_pattern": {
        # one shuffle into the per-user string fold; regexes map-side
        "want": ["HashAggregate"],
        "forbid": ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"],
    },
    "ts_funnel_steps": {
        # one shuffle into the per-user fold; no join on the Spark side
        # (the 3-pass chained-min shape lives only in the oracle)
        "want": ["HashAggregate"],
        "forbid": ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"],
    },
    "rel_grouping_sets": {
        # GROUPING SETS = one Expand + one hash agg, not a union of
        # scans
        "want": ["Expand", "HashAggregate"],
        "forbid": ["Union", "CartesianProduct"],
    },
    "doc_chunk_dedup": {
        # keep-first decision shuffles digests; no self-join of text
        "want": ["Window"],
        "forbid": ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"],
    },
    "ts_zorder_values": {
        # one-row bounds broadcast + map-side shift/mask chain: no
        # shuffle of the fact at all
        "want": ["BroadcastNestedLoopJoin Cross"],
        "forbid": ["SortMergeJoin", "Exchange hashpartitioning", "CartesianProduct"],
    },
    "sql_correlated_above_avg": {
        # correlated scalar subqueries must decorrelate to agg+join —
        # never a per-row rewrite or a cartesian
        "want": ["HashAggregate"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "ts_cusum_alarms": {
        # per-series recursion in the sanctioned applyInPandas boundary;
        # the 150-row stats table broadcasts
        "want": ["FlatMapGroupsInPandas", "BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "CartesianProduct"],
    },
    # ---- r7 additions ----
    "ts_lttb_downsample": {
        # one shuffle on user_id into the sanctioned sequential boundary
        "want": ["FlatMapGroupsInPandas"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "doc_minhash_md5": {
        # banded equi-join, never all-pairs (portable twin keeps the
        # fast path's candidate shape)
        "want": [],
        "forbid": [
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Scan ExistingRDD",
            "RoundRobinPartitioning",
        ],
    },
    "doc_simhash_md5_neighbors": {
        # pigeonhole-band equi-join, never all-pairs
        "want": [],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "emb_ann_md5": {
        # (table, bucket) equi-join with the probe side broadcast. The
        # BroadcastNestedLoopJoin in this plan is the DELIBERATE tiny
        # cross join building the 8x6x64 literal sign matrix (the
        # emb_cosine_topk exemption class) — only CartesianProduct is
        # forbidden.
        "want": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct"],
    },
    "emb_ann_lsh": {
        # cell-key equi-join with the literal probe table broadcast; the
        # rerank cosine rides the corpus Arrow pass, never a per-pair
        # HOF (zip_with: docs/scale.md "The interpreted rerank cosine")
        "want": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "zip_with"],
    },
    "emb_ann_ivf": {
        # same probe path as emb_ann_lsh, one cell per corpus row
        "want": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "zip_with"],
    },
}


# ---------------------------------------------------------------------------
# Registry-wide window audit (r6): a partition-less ordered Window is
# the canonical 100 TB scale-killer (whole input through one sort), so
# it is forbidden EVERYWHERE unless the plan itself proves the input
# bounded — every Relation leaf beneath the Window must pass through a
# GlobalLimit (orderBy().limit() → TakeOrderedAndProject: per-partition
# heaps, never a global sort). The few intentionally-global queries
# below are allowlisted with the reason the audit can't see.
# ---------------------------------------------------------------------------

GLOBAL_WINDOW_ALLOWLIST: dict[str, str] = {
    # EMPTY since r6: rel_acctbal_distribution (W6) and
    # ts_value_quantile_sketch both moved to the two-level distributed
    # prefix-sum shape — per-range partitioned windows + a
    # .limit(_RANGES)-bounded offset table — so every partition-less
    # ordered window in the registry is now plan-provably bounded.
}


def _parse_tree(text: str) -> list[tuple[int, str]]:
    """(depth, content) rows of a logical-plan tree string."""
    import re

    rows = []
    for line in text.splitlines():
        m = re.match(r"^((?:[:+|\- ]{3})*)(.*)$", line)
        rows.append((len(m.group(1)) // 3, m.group(2)))
    return rows


def _top_level_groups(s: str) -> int:
    depth = groups = 0
    for ch in s:
        if ch == "[":
            if depth == 0:
                groups += 1
            depth += 1
        elif ch == "]":
            depth -= 1
    return groups


def unguarded_global_windows(plan: str) -> list[str]:
    """Partition-less ordered Window nodes with any Relation leaf whose
    path up to the Window crosses no GlobalLimit."""
    nodes = _parse_tree(plan)
    bad = []
    for idx, (d, content) in enumerate(nodes):
        if not content.startswith("Window "):
            continue
        args = content[len("Window ") :]
        if _top_level_groups(args) != 2:
            continue  # [exprs], [partition], [order] — partitioned
        last = args[args.rindex(", [") :]
        if " ASC" not in last and " DESC" not in last:
            continue  # [exprs], [partition] — unordered partitioned
        stack: list[tuple[int, bool]] = []
        guarded = True
        for d2, c2 in nodes[idx + 1 :]:
            if d2 <= d:
                break
            while stack and stack[-1][0] >= d2:
                stack.pop()
            inherited = stack[-1][1] if stack else False
            stack.append((d2, inherited or c2.startswith("GlobalLimit")))
            if c2.startswith("Relation") and not inherited:
                guarded = False
        if not guarded:
            bad.append(content[:100])
    return bad


def audit_windows(registry, spark, sf: str, names=None) -> int:
    failures = 0
    for name, spec in registry.items():
        if names and name not in names:
            continue
        if name.startswith("stream_"):
            continue  # streaming plans are audited via their batch twins
        if name in GLOBAL_WINDOW_ALLOWLIST:
            print(f"SKIP window-audit {name}: {GLOBAL_WINDOW_ALLOWLIST[name]}")
            continue
        try:
            from chrono_ts_spark.planinfo import optimized_plan

            df = spec.fn(spark, sf)
            plan = optimized_plan(df)
        except Exception as ex:  # build failures surface in oracle_check
            print(f"ERR  window-audit {name}: {str(ex)[:90]}")
            failures += 1
            continue
        bad = unguarded_global_windows(plan)
        if bad:
            failures += 1
            print(f"FAIL window-audit {name}: {bad[0]}")
    print(f"window-audit: {'FAIL' if failures else 'OK'} ({failures} failures)")
    return failures


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--skip-windows", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from chrono_ts_spark.queries import load_all
    from chrono_ts_spark.session import get_spark

    registry = load_all()
    spark = get_spark("explain-audit")
    failures = 0
    for name, rule in RULES.items():
        if args.names and name not in args.names:
            continue
        df = registry[name].fn(spark, args.sf)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
            df.explain()
        text = buf.getvalue()
        missing = [w for w in rule["want"] if w not in text]
        present = [f for f in rule["forbid"] if f in text]
        if missing or present:
            failures += 1
            print(f"FAIL {name}: missing={missing} forbidden={present}")
        else:
            print(f"PASS {name}")
    if not args.skip_windows:
        failures += audit_windows(registry, spark, args.sf, args.names)
    print(f"\n{'FAIL' if failures else 'OK'} ({failures} failures)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
