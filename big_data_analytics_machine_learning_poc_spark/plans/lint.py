"""Physical-plan lint: mechanically audit every registered query for the
anti-patterns that kill 100 TB jobs.

The round-1 plan audit was done by hand; this makes it an invariant. Each
query's executed plan is scanned for:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — quadratic join
  stages (the #1 scale-killer; only acceptable when one side is a
  deliberately-broadcast handful of rows),
- ``BatchEvalPython`` — row-at-a-time Python UDF in the plan (the slow
  lane; all Python must be Arrow-batched: ArrowEvalPython / mapInPandas /
  FlatMapGroupsInPandas),
- global (unpartitioned) ``Window`` — single-reducer bottleneck,
- global ``Sort`` without a following limit — full-data range shuffle
  (top-k must plan TakeOrderedAndProject).

Known-justified exceptions are declared in ``ALLOWED`` next to their
reason; anything else is a lint failure. tests/test_plans.py runs this
over the cheap-to-construct modules; `tools/gates.py lint` checks the
full registry from tools/lanerun.py records.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from .explain import executed_plan

# pattern name -> substring / detector
_SIMPLE = {
    "cartesian": "CartesianProduct",
    "nested_loop": "BroadcastNestedLoopJoin",
    "python_row_udf": "BatchEvalPython",
}

# Every window expression in the plan carries its full spec:
#   windowspecdefinition(<part cols...>, <order cols ASC|DESC ...>, specifiedwindowframe(...))
# Partition columns are bare attributes; ordering columns carry an ASC/DESC
# marker. A spec whose every pre-frame argument is an ordering column has no
# partition key — a global window (single-reducer at scale).
_WINDOW_SPEC = re.compile(r"windowspecdefinition\((.*?)specifiedwindowframe")


def _has_global_window(plan: str) -> bool:
    for m in _WINDOW_SPEC.finditer(plan):
        args = [a.strip() for a in m.group(1).rstrip(", ").split(", ") if a.strip()]
        if args and all(" ASC" in a or " DESC" in a for a in args):
            return True
        if not args:  # neither partition nor order: Window.partitionBy() empty
            return True
    return False


def find_antipatterns(df: DataFrame) -> set[str]:
    plan = executed_plan(df)
    found = {name for name, needle in _SIMPLE.items() if needle in plan}
    if _has_global_window(plan):
        found.add("global_window")
    if _global_sort_without_limit(plan):
        found.add("global_sort_no_limit")
    return found


def _global_sort_without_limit(plan: str) -> bool:
    # A global Sort is fine when it feeds the final tiny result collection
    # (every ORDER BY query ends in one) — the killer is sorting the full
    # fact. Heuristic: flag only Sort [..] global=true that sits directly
    # over an Exchange rangepartitioning with > 1000 estimated partitions —
    # not derivable from the string plan, so we keep this OFF by default
    # and rely on TakeOrderedAndProject assertions in test_plans.py for
    # the top-k family.
    return False


# query name -> {pattern: justification}. A lint hit with a justification is
# reported as "allowed"; without one it's a failure.
ALLOWED: dict[str, dict[str, str]] = {
    # kNN family: the "join" is a broadcast of the 1-row (or k-row) query
    # set against the corpus scan — O(n·q) with tiny q, the exact brute
    # baseline; the scale path is ann_bucket_cosine's equi-join.
    "knn_brute_cosine": {"nested_loop": "broadcast 1-row query vector"},
    "knn_multi_query": {"nested_loop": "broadcast 3-row query batch"},
    "ann_ivf_cosine": {
        "nested_loop": "broadcast 1-row query vector against nprobe-pruned "
        "cluster subset"
    },
    "ann_recall_at_k": {
        "nested_loop": "broadcast 5-row sampled query batch for the exact "
        "brute audit baseline (the ANN side under audit is an equi-join)"
    },
    "ann_ivf_recall_audit": {
        "nested_loop": "broadcast C=8-row sampled centroid set (coarse "
        "assignment/probing) + broadcast 5-row query batch for the exact "
        "brute audit baseline; the IVF candidate path is an equi-join on "
        "the list id"
    },
    # Decorrelated scalar subqueries: a one-row aggregate broadcast onto the
    # probe side plans as BroadcastNestedLoopJoin — O(n·1), the DataFrame
    # rendering of SQL's scalar-subquery broadcast, not a quadratic stage.
    "tpch_q11_important_stock": {
        "nested_loop": "broadcast one-row global-total aggregate"
    },
    "tpch_q22_global_sales_opportunity": {
        "nested_loop": "broadcast one-row average-balance aggregate"
    },
    "dedup_pipeline_survivors": {
        "nested_loop": "broadcast one-row corpus/survivor count aggregates"
    },
    "events_wau_rolling_bitmap": {
        "nested_loop": "day-grid x bucket-grid seeding cross (|days| x "
        "<=|id-buckets| rows — both grain tables, not data) so windows "
        "anchor on activity-less (day, bucket) cells"
    },
    "skew_report_custkey": {
        "nested_loop": "1-row totals aggregate crossed with the 1-row "
        "top-10 aggregate — a scalar-subquery broadcast, not a data join"
    },
    "corpus_temperature_mix": {
        "nested_loop": "broadcast one-row quota denominator onto the "
        "<=|sources|-row weighted aggregate"
    },
    "corpus_temperature_sample_fill": {
        "nested_loop": "same one-row denominator broadcast inside the "
        "embedded temperature_quotas aggregate (the corpus-side selection "
        "join is an equi-join on source)"
    },
    "basket_association_rules": {
        "nested_loop": "broadcast one-row basket-count aggregate (the lift "
        "denominator) — all pair/support joins are equi-joins"
    },
    "graph_triangle_parts": {
        "nested_loop": "final metric assembly crosses four one-row count "
        "aggregates — the wedge and closure joins are equi-joins"
    },
    "orders_quantile_binning": {
        "nested_loop": "broadcast one-row quartile-boundary aggregate onto "
        "the scan (the scalar-subquery shape)"
    },
    "customer_rfm_segments": {
        "nested_loop": "two one-row aggregate broadcasts (reference day, "
        "then the three medians) onto the per-customer frame"
    },
    "parts_pareto_share": {
        "nested_loop": "broadcast one-row revenue-total aggregate onto the "
        "100-row filtered Pareto frame (r6: replaced the driver-side "
        "collect of the scalar with the repo's scalar-subquery shape)"
    },
    "dedup_semdedup_incremental": {
        "nested_loop": "broadcast k-row (k=8) centroid frame crossed with "
        "the BATCH for nearest-centroid assignment — O(|batch|·k) with "
        "constant k-row side; the corpus never enters it (the pair join "
        "and the touched-cluster prune are equi-joins on cluster id)"
    },
    "graph_pagerank_procurement": {
        "nested_loop": "per-iteration broadcast of the one-row dangling-"
        "mass aggregate (the scalar-subquery shape, replacing r4's "
        "per-iteration driver collect); every data-sized join in the "
        "iteration is an equi-join"
    },
    "ml_als_recommend": {
        "cartesian": "MLlib ALS recommendForUserSubset scores candidates "
        "by a BLOCKED factor cross-product (user-factor blocks x "
        "item-factor blocks, per-block top-k inside the kernel) — the "
        "factorization serving shape, rank-sized rows, never the ratings "
        "matrix",
        "nested_loop": "the SAME blocked factor cross-product: Spark "
        "plans it as BroadcastNestedLoopJoin instead of CartesianProduct "
        "whenever one factor-block side's size estimate fits the "
        "broadcast threshold (SF/statistics dependent) — both spellings "
        "are rank-sized factor blocks, never the ratings matrix",
    },
    # Bounded-input ranking windows: ranked() enforces the row cap /
    # justification at the call site (functions/windows.py).
    "window_rank_funcs": {
        "global_window": "input filtered to c_custkey < 1000 (bounded) via ranked()"
    },
    "string_index_mktsegment": {
        "global_window": "ranks the ~5-row distinct-segment aggregate, not rows"
    },
    "string_index_apply": {
        "global_window": "ranks the ~5-row distinct-segment aggregate, not rows"
    },
    "index_to_string_roundtrip": {
        "global_window": "ranks the ~5-row distinct-segment aggregate, not rows"
    },
    "corpus_ngram_topk": {
        "global_window": "ranks the per-lang top-k candidate aggregate "
        "(≤ k·|langs| rows after partial top-k)"
    },
    # Surfaced r7 by the barrier-capture gate (plans/barrier.py): the r6
    # removal of these two entries measured the localCheckpoint blindness,
    # not eliminated work — the rarity-rank window never left. It ranks
    # the VOCABULARY-sized df aggregate (|distinct tokens| rows, 31 in
    # this corpus — same bounded class as the string_index_* entries), is
    # justified at the call site via ranked(bounded_input=...), and the
    # open-vocabulary promotion documented there replaces the rank with
    # hash ids.
    "dedup_prefix_filter_pairs": {
        "global_window": "rarity rank over the vocabulary-sized df "
        "aggregate behind the sets-frame barrier (pre-barrier subtree)"
    },
    "dedup_cross_source_matrix": {
        "global_window": "same prefix-filter core: vocabulary-sized "
        "rarity rank in the pre-barrier subtree"
    },
    # Removed r6 (stale-entry hygiene — a pre-authorization nothing hits
    # weakens the gate; lint fails LOUDLY if a pattern returns, which is
    # the desired ratchet): funnel_conversion's one-row-count crossJoins
    # (lane rewritten to stacked windows, no BNLJ remains).
}


def lint_query(
    name: str, df: DataFrame, subtrees: list[DataFrame] | tuple = ()
) -> tuple[set[str], set[str]]:
    """Returns (violations, allowed_hits) for one query. ``subtrees`` are
    the pre-barrier frames captured by plans.barrier.capture_subtrees()
    while the lane was constructed — without them, any pattern hidden
    behind a localCheckpoint passes the lint silently (ADVICE r6)."""
    hits = find_antipatterns(df)
    for sub in subtrees:
        hits |= find_antipatterns(sub)
    allowed = {p for p in hits if p in ALLOWED.get(name, {})}
    return hits - allowed, allowed
