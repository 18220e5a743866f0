"""Physical plan-shape linter: anti-pattern detection over executed plans.

The oracle sweep (``scripts/check_correctness.py``) makes ANSWERS
regression-proof; this module does the same for PLAN QUALITY. Every
declared query's physical plan is swept for the node shapes that do not
survive a 100 TB scale-up, so a refactor that silently turns a broadcast
join into a cartesian product, or a co-partitioned window into a global
one, fails the test suite instead of the next at-scale run.

Rules (each yields a violation id):

- ``cartesian-product`` — a ``CartesianProduct`` node anywhere. At scale
  this is |L|x|R| work; a join that degenerates to it is a lost equi-key
  or a missing broadcast hint.
- ``row-python-udf`` — ``BatchEvalPython*`` (row-pickling Python
  execution). Every Python boundary in this engine is Arrow-vectorized
  (``ArrowEvalPython``, ``MapInPandas``, ``FlatMapGroupsInPandas``,
  ``ArrowEvalPythonUDTF``); a row-at-a-time node is a 10-100x regression
  on the hot path.
- ``single-partition-exchange`` — ``Exchange SinglePartition`` that does
  NOT feed a keyless (global) aggregate. A global agg reduces each
  partition to one row map-side before the exchange, so the single
  partition moves O(partitions) rows — fine. Anything else (global sort,
  global window, forced coalesce(1)) funnels the full relation through
  one task.
- ``global-window`` — a ``Window`` node with an ORDER BY but no
  PARTITION BY: whole-relation state in one task (the unpartitioned
  ``row_number()`` trap).
- ``missed-pushdown`` — a parquet scan with ``PushedFilters: []`` whose
  nearest non-passthrough ancestor is a ``Filter`` applying a simple
  column-vs-literal comparison on a scanned column: that predicate
  should have reached the scan (data skipping via row-group stats), so
  its absence means something (often a cast or a UDF wrapper) broke
  pushdown.
- ``nested-loop-join`` — ``BroadcastNestedLoopJoin``. Legitimate when
  the broadcast side is provably tiny (a scalar aggregate, a trained
  model table, a deliberate small cross join) — allowlist those query by
  query; flagged by default because a BNLJ against a growing side is
  O(|corpus| x |broadcast|) compute even when it fits in memory.

Known-good exceptions are passed per call via ``allow`` — the query
library's allowlist (with per-query justifications) lives next to the
sweep test, not here.
"""

from __future__ import annotations

import re

__all__ = ["lint_plan", "RULES"]

RULES = (
    "cartesian-product",
    "row-python-udf",
    "single-partition-exchange",
    "global-window",
    "missed-pushdown",
    "nested-loop-join",
)

#: node prefixes that neither repartition nor change the column set in a
#: way that matters to the ancestor rules — the walk skips through them.
_PASS_THROUGH = (
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
    "AQEShuffleRead",
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "ReusedExchange",
    "Coalesce",  # AQE-coalesced reads
)

_TREE_PREFIX = re.compile(r"^[\s:+\-*!()0-9]*")
_CMP = re.compile(r"\((\w+)#\d+L? (?:=|>|<|>=|<=) [^()\s#]+\)")


def _depth(line: str) -> int:
    return len(_TREE_PREFIX.match(line).group(0))


def _node(line: str) -> str:
    return _TREE_PREFIX.sub("", line)


def _ancestors(lines: list[str], i: int):
    """Yield ancestor node strings of line i, nearest first."""
    d = _depth(lines[i])
    for j in range(i - 1, -1, -1):
        if lines[j].strip() and _depth(lines[j]) < d:
            yield _node(lines[j])
            d = _depth(lines[j])


def _nearest_material_ancestor(lines: list[str], i: int) -> str:
    for anc in _ancestors(lines, i):
        if not anc.startswith(_PASS_THROUGH):
            return anc
    return ""


def _top_brackets(s: str) -> list[str]:
    """Top-level ``[...]`` groups of a node string (bracket-balanced)."""
    groups: list[str] = []
    depth = 0
    cur: str | None = None
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0 and cur is not None:
                groups.append(cur)
                cur = None
                continue
        if cur is not None:
            cur += ch
    return groups


def _is_keyless_aggregate(node: str) -> bool:
    return "Aggregate(" in node and ("keys=[]" in node or "key=[]" in node)


def lint_plan(plan: str) -> list[str]:
    """Lint one executed-plan string; returns violation descriptions.

    AQE plans are trimmed to the final plan — the ``== Initial Plan ==``
    section double-counts nodes pre-reoptimization.
    """
    final = plan.split("== Initial Plan ==")[0]
    lines = final.splitlines()
    out: list[str] = []

    def hit(rule: str, detail: str) -> None:
        out.append(f"{rule}: {detail[:160]}")

    for i, raw in enumerate(lines):
        node = _node(raw)

        if node.startswith("CartesianProduct"):
            hit("cartesian-product", node)

        if "BatchEvalPython" in node:
            hit("row-python-udf", node)

        if node.startswith("BroadcastNestedLoopJoin"):
            hit("nested-loop-join", node)

        if node.startswith("Exchange SinglePartition"):
            # Only a keyless (global) aggregate may sit on a single
            # partition: map-side partial agg reduced each partition to
            # one row, so the exchange moves O(partitions) rows. Any
            # other consumer funnels the full relation through one task.
            anc = _nearest_material_ancestor(lines, i)
            if not _is_keyless_aggregate(anc):
                hit("single-partition-exchange", f"feeds {anc or '<root>'}")

        if node.startswith("Window "):
            groups = _top_brackets(node)
            ordered = lambda g: (" ASC" in g) or (" DESC" in g)  # noqa: E731
            if (
                (len(groups) == 2 and ordered(groups[1]))
                or (len(groups) == 3 and not groups[1].strip())
                or len(groups) <= 1
            ):
                hit("global-window", node)

        if "FileScan" in node and "PushedFilters: []" in node:
            anc = _nearest_material_ancestor(lines, i)
            if anc.startswith("Filter "):
                m = _CMP.search(anc)
                if m:
                    col = m.group(1)
                    rs = re.search(r"ReadSchema: struct<([^>]*)", node)
                    cols = (
                        [f.split(":")[0] for f in rs.group(1).split(",")]
                        if rs
                        else []
                    )
                    if col in cols:
                        hit(
                            "missed-pushdown",
                            f"{m.group(0)} not pushed into scan of "
                            f"cols {cols[:6]}",
                        )
    return out
