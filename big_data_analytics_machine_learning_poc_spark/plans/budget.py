"""Shuffle-budget accounting: count the Exchange nodes in a query's
executed plan, split by cost class.

`lint.py` rejects plan anti-patterns (cartesian joins, row-Python,
global windows); this module guards the OTHER scale axis — the number of
data shuffles. Every `Exchange hashpartitioning/rangepartitioning/
SinglePartition` node is a full materialize-and-redistribute of its
input: at 100 TB each one is minutes of network and spill, so a code
change that silently adds a shuffle to a lane (a lost bucketing, a
needless `repartition`, a join that stopped broadcasting) is a
performance regression even when every correctness gate stays green.

`tools/gates.py budget` compares each registry lane's counts (from
tools/lanerun.py records) against the committed ledger
`tools/shuffle_budget.json`; growth fails the gate. tests/test_plans.py
pins the counter itself and the headline lanes' budgets.

Cost classes:

- ``shuffle`` — `Exchange <partitioning>` (hash / range /
  SinglePartition): the expensive class; this is what the budget gates.
- ``broadcast`` — `BroadcastExchange`: collect-and-replicate of a
  SMALL side; cheap by construction (the planner only picks it under
  `autoBroadcastJoinThreshold`, and our explicit `F.broadcast` hints
  are KB-sized dimension/centroid/denominator frames). Recorded for
  information, not gated — a shuffle that BECOMES a broadcast is an
  improvement, not a regression.
- ``reused`` — `ReusedExchange`: a pointer at an exchange counted
  elsewhere in the plan; free at runtime.

Caveats (documented, deliberate):

- Counts are taken from AQE's INITIAL plan. AQE may later COALESCE
  partitions or convert a sort-merge join to broadcast at runtime; the
  static count is the upper bound we budget against, and it is stable
  run-to-run, which a post-execution count under AQE is not. r6 fix: an
  `AdaptiveSparkPlan` that HAS executed renders toString as
  "== Final Plan == ... == Initial Plan == ..." — counting the whole
  string double-counted every Exchange for any frame that had been
  collected before measurement (the entry module's fingerprint wrapper
  collects at sf0.01, so a lane's count depended on its
  `_FINGERPRINT_QUERIES` membership). `exchange_counts` now slices to
  the Initial-Plan section when the marker is present, making the count
  invariant to whether the frame was executed.
- Lanes that checkpoint (iterative algorithms, multi-consumer pinned
  frames) truncate lineage; `lane_exchange_counts` + the barrier capture
  hook (plans/barrier.py) restore full-lane coverage by summing the
  returned plan with every pre-barrier subtree (ADVICE r6 — the bare
  `exchange_counts` on such a lane's return covers only the tail).
- Join-strategy choice depends on table statistics, so the ledger is
  pinned AT the sweep's sf_dir (sf0.01, same as the lint sweep). A lane
  whose count differs at another SF is AQE/stats doing its job.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from .explain import executed_plan

# `Exchange` as a node name at the start of a tree-drawn line; the tree
# prefix is whitespace/branch glyphs (`:  +- ` etc). `BroadcastExchange`
# and `ReusedExchange` never match (different node names).
_SHUFFLE = re.compile(r"(?m)^[\s:+*\-()0-9]*Exchange ")
_BROADCAST = re.compile(r"(?m)^[\s:+*\-()0-9]*BroadcastExchange")
_REUSED = re.compile(r"(?m)^[\s:+*\-()0-9]*ReusedExchange")


def _drop_final_plan_sections(plan: str) -> str:
    """Strip every "== Final Plan ==" section, keeping the matching
    "== Initial Plan ==" that follows it. Line-wise state machine rather
    than a single split: a cached/inner adaptive plan can contribute its
    own Final/Initial pair nested inside an un-executed outer plan."""
    out, skipping = [], False
    for line in plan.splitlines():
        if "== Final Plan ==" in line:
            skipping = True
            continue
        if "== Initial Plan ==" in line:
            skipping = False
            continue
        if not skipping:
            out.append(line)
    return "\n".join(out)


def exchange_counts(df: DataFrame) -> dict[str, int]:
    """Counts of exchange nodes by cost class in ``df``'s plan:
    ``{"shuffle": n, "broadcast": n, "reused": n}``. Counts the AQE
    INITIAL plan only (see module caveats): for an already-executed
    adaptive plan, toString carries both Final and Initial sections —
    dropping the Final sections keeps the count identical to what an
    un-executed frame reports."""
    plan = _drop_final_plan_sections(executed_plan(df))
    return {
        "shuffle": len(_SHUFFLE.findall(plan)),
        "broadcast": len(_BROADCAST.findall(plan)),
        "reused": len(_REUSED.findall(plan)),
    }


_TABLE_SCAN = re.compile(r"(\w+)\.parquet")


def table_scan_counts(
    df: DataFrame, subtrees: list[DataFrame] | tuple = ()
) -> dict[str, int]:
    """Plan occurrences of each parquet table across the returned frame's
    plan plus every captured pre-barrier subtree — Final AQE sections
    stripped (executed subtrees render Final + Initial and would double-
    count). Occurrences within one segment = Catalyst re-planned a
    multi-consumer subtree per reference; across segments = sequential
    one-time reads. tools/lanerun.py records this for every lane;
    tests pin the r7 multi-consumer checkpoint fixes' shapes."""
    plans = [_drop_final_plan_sections(executed_plan(df))]
    plans += [_drop_final_plan_sections(executed_plan(sub)) for sub in subtrees]
    tabs: dict[str, int] = {}
    for plan in plans:
        for m in _TABLE_SCAN.finditer(plan):
            tabs[m.group(1)] = tabs.get(m.group(1), 0) + 1
    return tabs


def lane_exchange_counts(
    df: DataFrame, subtrees: list[DataFrame] | tuple = ()
) -> dict[str, int]:
    """Full-lane exchange counts: the returned frame's plan PLUS every
    pre-barrier subtree captured by plans.barrier.capture_subtrees()
    during construction. Without the subtrees, a localCheckpoint'ed lane's
    budget covers only the post-barrier tail (the r6 accounting blindness
    — ADVICE r6): the ratchet would silently pass an exchange regression
    inside any checkpointed segment. Nested barriers don't double-count
    (each subtree plans from the previous barrier's RDD scan). Iterative
    lanes (PageRank, BPE) contribute one subtree per iteration — the sum
    is the lane's TRUE end-to-end shuffle count, stable because the
    iteration counts are fixed."""
    total = exchange_counts(df)
    for sub in subtrees:
        c = exchange_counts(sub)
        for k in total:
            total[k] += c[k]
    return total
