"""Physical-plan inspection: the engine's 'did Catalyst do what we
meant' toolkit (SURVEY.md §4.2 — our job is to not defeat the
optimizer, and these helpers make that checkable).

``scale_killers`` is the one definition of the classic 100 TB
plan-killers (cartesian products, broadcast nested loops,
single-partition exchanges/windows); the all-keys audit in
tests/test_scale_sweep.py applies it to every registered key, and
``assert_scalable(df)`` lets a user debugging a slow query fail fast
on them instead of letting them ship and melt a cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The final (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the Parquet scan (empty list = nothing
    pushed — for a filtered scan that usually means a cast or UDF is
    blocking pushdown)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\n]*)", executed_plan(df)):
        out.extend(_parse_filter_list(m.group(1)))
    return out


def _parse_filter_list(body: str) -> list[str]:
    """Tokenize a rendered filter list, robustly against Spark's
    truncation and filter syntax:

    - commas split only at paren depth 0 (a filter like
      GreaterThan(l_shipdate,1997-01-01) is ONE token);
    - the list ends at the depth-0 ``]`` — or at end-of-line when
      Spark truncated the node string with ``...``, in which case the
      trailing incomplete token is discarded (unbalanced parens), not
      returned as a garbage fragment.
    """
    out: list[str] = []
    tok: list[str] = []
    depth = 0
    for ch in body:
        if ch == "]" and depth == 0:
            break
        if ch == "," and depth == 0:
            out.append("".join(tok))
            tok = []
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        tok.append(ch)
    out.append("".join(tok))
    return [
        t.strip()
        for t in out
        if t.strip()
        and t.count("(") == t.count(")")
        and not t.strip().endswith("...")
    ]


def read_schema(df: DataFrame) -> list[str]:
    """Column names the Parquet scan actually reads (column pruning
    check: a 2-column projection reading 16 columns is a bug)."""
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", executed_plan(df)):
        cols.extend(
            part.split(":")[0].strip() for part in m.group(1).split(",") if part.strip()
        )
    return cols


# Column-name hints for enum-like domains: a window partitioned ONLY
# by such keys has bounded parallelism (~|domain| partitions) — the
# same funnel as a single-partition window in disguise at 100×, unless
# the window input was ALREADY aggregated to that bounded grain (then
# the funnel holds a bounded relation, which is fine). Used by the
# all-keys audit in tests/test_scale_sweep.py; extend as new enum
# columns enter the schema.
BOUNDED_DOMAIN_HINTS: tuple[str, ...] = (
    "event_type",
    "o_orderstatus",
    "o_orderpriority",
    "l_returnflag",
    "l_linestatus",
    "l_shipmode",
    "label",
    "lang",
    "status",
    "source",
    "kind",
    "category",
    "layout",
)


def window_partitions(df: DataFrame) -> list[list[str]]:
    """PARTITION BY key names of every Window node in the executed
    plan, one list per node; a global (orderBy-only) window yields
    ``[]``."""
    return window_partitions_from_text(executed_plan(df))


def window_partitions_from_text(plan: str) -> list[list[str]]:
    """``window_partitions`` on an already-extracted plan string.
    Parsed from the node's trailing ``, [partition], [order]``
    lists — when only one trailing list is present it is the order
    spec and the partition list is empty."""
    out: list[list[str]] = []
    for line in plan.splitlines():
        stripped = line.lstrip(" +-:*")
        if not stripped.startswith("Window "):
            continue
        groups = _top_level_bracket_groups(stripped)
        # groups[0] = window functions; then [partition], [order].
        # Either trailing list may be absent: a global running window
        # prints only [order] (sort-direction tokens present), a
        # partition-only window (no ORDER BY) prints only [partition].
        if len(groups) >= 3:
            out.append(_attr_names(groups[1]))
        elif len(groups) == 2 and not re.search(
            r"\b(ASC|DESC)\b", groups[1]
        ):
            out.append(_attr_names(groups[1]))
        else:
            out.append([])
    return out


def _attr_names(bracket_body: str) -> list[str]:
    return [
        g.split("#")[0].strip()
        for g in bracket_body.split(",")
        if g.strip()
    ]


def _top_level_bracket_groups(s: str) -> list[str]:
    groups: list[str] = []
    depth = 0
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                buf = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(buf))
                continue
        if depth >= 1:
            buf.append(ch)
    return groups


def bounded_key_windows(
    plan: str,
    hints: tuple[str, ...] = BOUNDED_DOMAIN_HINTS,
) -> list[list[str]]:
    """Window nodes of an executed-plan string whose EVERY partition
    key is an enum-like bounded domain (by column-name hint) — the
    low-cardinality funnel that passes the SinglePartition check but
    serializes at scale unless the window input is itself a bounded
    (pre-aggregated) relation. Global windows are NOT returned here
    (SinglePartition covers them)."""
    return [
        keys
        for keys in window_partitions_from_text(plan)
        if keys and all(any(h in k.lower() for h in hints) for k in keys)
    ]


def scale_killers(plan: str) -> set[str]:
    """The plan shapes in an executed-plan string that cannot survive
    a scale-up: cartesian products / broadcast nested loops
    (quadratic) and single-partition exchanges (serialization
    points)."""
    return {
        k
        for k in ("CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition")
        if k in plan
    }


def assert_scalable(df: DataFrame) -> None:
    """Raise AssertionError when ``df``'s executed plan contains any of
    ``scale_killers``."""
    plan = executed_plan(df)
    problems = scale_killers(plan)
    if problems:
        raise AssertionError(
            f"plan contains scale-killers: {sorted(problems)}\n{plan[:4000]}"
        )
