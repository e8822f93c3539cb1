"""Physical-plan inspection utilities — the 100 TB posture checks.

The engine builds no custom plan representation (Catalyst's plan IS
the plan, SURVEY.md §4); what it adds is the discipline of ASSERTING
plan shape: filters pushed to scans, columns pruned, dims broadcast,
top-k compiled to TakeOrdered, bucketed joins exchange-free. These
helpers read `explain("formatted")` output; tests/test_plans.py pins
the posture per operator.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    """explain() output as a string."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def scan_count(plan: str) -> int:
    """Number of physical source scans (formatted mode prints each node
    in the tree AND one '(N) Scan …' detail header; count headers)."""
    return len(re.findall(r"\(\d+\) Scan \w+", plan))


def has_pushed_filter(plan: str, fragment: str) -> bool:
    """True if ``fragment`` appears inside a PushedFilters list."""
    return any(
        fragment in line for line in plan.splitlines() if "PushedFilters" in line
    )


def join_operators(plan: str) -> set[str]:
    """Physical join operator names present in the plan."""
    ops = (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    )
    return {op for op in ops if op in plan}


def exchange_count(plan: str) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges)."""
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def global_window_count(plan: str) -> int:
    """Number of UNPARTITIONED window specs in the plan — each one
    Spark executes by moving the window's entire input through ONE
    partition, the chief 100 TB scale-killer. Explain prints
    ``windowspecdefinition(<partition cols>, <order cols>, frame)``;
    order columns carry an ASC/DESC direction and partition columns do
    not, so a spec whose FIRST top-level argument is a sort key — or
    the frame spec itself (an order-less global aggregate window like
    ``F.sum(x).over(Window.partitionBy())``) — has no partitioning.
    Arguments are captured with balanced-paren scanning (a ``[^)]*``
    capture truncates at the first ')' inside specifiedwindowframe or
    a function-call sort key, deduping distinct specs that share the
    truncated prefix), and the direction test matches a top-level
    ``<expr> ASC|DESC NULLS …`` SUFFIX so a partition column whose
    nested expression merely contains ' ASC' can't false-positive.
    Duplicate prints of one spec (node line + Arguments detail) are
    deduped by the full spec text."""
    seen = set()
    for m in re.finditer(r"windowspecdefinition\(", plan):
        args = _balanced_args(plan, m.end())
        if args is None:
            continue  # truncated print (explain line cut) — skip
        first = _first_toplevel_arg(args)
        unpartitioned = (
            re.search(r" (ASC|DESC)( NULLS (FIRST|LAST))?$", first)
            is not None
            or first.startswith("specifiedwindowframe(")
        )
        if unpartitioned and args not in seen:
            seen.add(args)
    return len(seen)


def _balanced_args(text: str, start: int) -> str | None:
    """The argument list beginning at ``start`` (just past an opening
    paren) up to its balanced closing paren; None if the text ends
    before the paren closes (a truncated explain line)."""
    depth = 1
    for i in range(start, len(text)):
        c = text[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return text[start:i]
    return None


def _first_toplevel_arg(args: str) -> str:
    """The first comma-separated argument at paren depth 0."""
    depth = 0
    for i, c in enumerate(args):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            return args[:i].strip()
    return args.strip()
