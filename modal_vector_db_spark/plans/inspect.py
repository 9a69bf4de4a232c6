"""Helpers for asserting plan quality (SURVEY §4.2: the optimizations the
reference delegates to DuckDB must be visibly present in our Catalyst
physical plans — pushdown, pruning, top-k, broadcast).

These read the *executed* (post-AQE) plan string.  Used by
``tests/test_plans.py`` so a regression that silently de-optimizes a plan
(e.g. a cast blocking pushdown, a join falling back to sort-merge-on-fact)
fails CI, not a 100 TB run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Column lists of each parquet FileScan (column-pruning check)."""
    plan = executed_plan(df)
    out = []
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\]", plan):
        cols = [c.split("#")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def has_pushed_data_filters(df: DataFrame) -> bool:
    """True if at least one scan carries DataFilters/PushedFilters."""
    plan = executed_plan(df)
    return bool(re.search(r"(DataFilters|PushedFilters): \[[^\]]+\]", plan))


def count_operator(df: DataFrame, op: str) -> int:
    return executed_plan(df).count(op)


def uses_take_ordered(df: DataFrame) -> bool:
    """ORDER BY + LIMIT planned as TakeOrderedAndProject (bounded-heap
    top-k), never a global Sort."""
    return "TakeOrderedAndProject" in executed_plan(df)


def broadcast_join_count(df: DataFrame) -> int:
    return count_operator(df, "BroadcastHashJoin")


def sort_merge_join_count(df: DataFrame) -> int:
    return count_operator(df, "SortMergeJoin")


def shuffle_count(df: DataFrame) -> int:
    """Number of exchange (shuffle) operators in the executed plan."""
    plan = executed_plan(df)
    return len(re.findall(r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)", plan))


def broadcast_hint_sources(df: DataFrame) -> list[str]:
    """The relation names under each explicit broadcast HINT in the analyzed
    logical plan (forced broadcasts — as opposed to broadcasts Catalyst/AQE
    *chose* from size stats, which don't appear as hints).

    Used to enforce the scale policy: hints are allowed only on
    fixed-cardinality dims (nation/region) or highly-filtered dims — never
    on fact-derived frames, which a 100× scale-up would OOM."""
    prefix_to_table = {
        "n_": "nation",
        "r_": "region",
        "p_": "part",
        "o_": "orders",
        "c_": "customer",
        "l_": "lineitem",
        "s_": "supplier",
    }
    analyzed = df._jdf.queryExecution().analyzed().toString()
    out: list[str] = []
    # The plan prints depth-first, so the first relation after a hint node
    # belongs to that hint's subtree; the fixture tables are identifiable
    # from their TPC-H column prefixes.
    for m in re.finditer(
        r"ResolvedHint \(strategy=broadcast\)(.*?)(?=ResolvedHint|\Z)", analyzed, re.S
    ):
        scan = re.search(r"Relation \[(\w{1,2}_)", m.group(1))
        out.append(prefix_to_table.get(scan.group(1), scan.group(1)) if scan else "?")
    return out


def window_group_limit_count(df: DataFrame) -> int:
    """Occurrences of WindowGroupLimit in the executed plan — Spark 3.5+'s
    map-side partial top-k for rank/row_number <= k filters (the grouped
    analog of TakeOrderedAndProject: each input partition keeps only its
    local top-k per window key BEFORE the shuffle)."""
    return count_operator(df, "WindowGroupLimit")


def has_partial_window_group_limit(df: DataFrame) -> bool:
    """True only for the *Partial*-mode WindowGroupLimit — the instance
    that runs BEFORE the exchange.  This is the shuffle-volume guarantee
    (≤ partitions × groups × k rows move); a Final-only plan would still
    shuffle every scored row."""
    return bool(re.search(r"WindowGroupLimit.*Partial", executed_plan(df)))


def nested_loop_join_count(df: DataFrame) -> int:
    """BroadcastNestedLoopJoin / CartesianProduct occurrences — the
    O(|L|·|R|) plans a theta join degenerates to when no equi key exists."""
    plan = executed_plan(df)
    return plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct")
