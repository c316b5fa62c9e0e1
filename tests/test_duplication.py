"""Ratchets on copied code and on forced broadcast hints in the package.

A fix to one copy of a duplicated oracle CTE or Spark pipeline silently
misses the others, so each such fragment has one definition in the
module that owns it. This test keeps new copies from creeping back: it
counts the package's redundant lines and fails when the count rises
above ``MAX_REDUNDANT_LINES``. A deliberate new copy needs a deliberate
bump here; removing copies should lower the bound.

The measure:

- strip every line of ``my_polars_ai_spark/**/*.py``;
- slide a 6-line window over each file; a window counts when at least
  5 of its lines are non-blank, not ``#`` comments and not part of an
  import statement;
- walk the files in sorted path order; every line of a counted window
  that already occurred earlier (in this file or an earlier one) is
  redundant.

The second ratchet counts ``F.broadcast(...)`` calls (an AST walk) and
fails above ``MAX_BROADCAST_HINTS``; its test states the rule.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "my_polars_ai_spark"
WINDOW = 6
MIN_CODE_LINES = 5
MAX_REDUNDANT_LINES = 312


def _import_lines(tree: ast.AST) -> set[int]:
    """0-based indices of every line inside an import statement."""
    return {
        i
        for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for i in range(node.lineno - 1, node.end_lineno)
    }


def redundant_lines(root: Path = PACKAGE) -> dict[str, int]:
    """Redundant-line count per file (relative path), by the measure in
    the module docstring."""
    seen: set[tuple[str, ...]] = set()
    counts: dict[str, int] = {}
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        lines = [line.strip() for line in src.split("\n")]
        imports = _import_lines(ast.parse(src))
        marked: set[int] = set()
        for i in range(len(lines) - WINDOW + 1):
            window = tuple(lines[i : i + WINDOW])
            code = sum(
                1
                for k, line in enumerate(window)
                if line and not line.startswith("#") and i + k not in imports
            )
            if code < MIN_CODE_LINES:
                continue
            if window in seen:
                marked.update(range(i, i + WINDOW))
            else:
                seen.add(window)
        counts[str(path.relative_to(root))] = len(marked)
    return counts


def test_redundant_lines_do_not_grow():
    counts = redundant_lines()
    total = sum(counts.values())
    worst = sorted(((n, f) for f, n in counts.items() if n), reverse=True)[:5]
    assert total <= MAX_REDUNDANT_LINES, (
        f"{total} redundant lines (bound {MAX_REDUNDANT_LINES}); give the new "
        f"copy one definition in the module that owns it. Most: {worst}"
    )


# Every hint left answers for a number: removing it alone adds a job,
# stage, exchange, shuffle byte or lint kind to an op, or slows the op
# in paired timings; the number sits on the line above the hint.
MAX_BROADCAST_HINTS = 14


def broadcast_hints(root: Path = PACKAGE) -> dict[str, int]:
    """``F.broadcast(...)`` calls per file (relative path), by an AST walk."""
    counts: dict[str, int] = {}
    for path in sorted(root.rglob("*.py")):
        n = sum(
            1
            for node in ast.walk(ast.parse(path.read_text()))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "broadcast"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
        )
        if n:
            counts[str(path.relative_to(root))] = n
    return counts


def test_broadcast_hint_count():
    """A forced broadcast hint stays only where removing it alone adds a
    job, stage, exchange, shuffle byte or lint kind to an op that
    reaches it, or makes that op slower in >= 9 of 10 paired timings
    (``tools/time_op.py --drop-hint FILE:LINE``). Everywhere else the
    planner chooses the join strategy by estimated size (and AQE by
    measured size), under the thresholds ``session.DEFAULT_CONFS``
    sets, so a new hint needs that number beside it and a deliberate
    bump here."""
    counts = broadcast_hints()
    total = sum(counts.values())
    assert total <= MAX_BROADCAST_HINTS, (
        f"{total} F.broadcast hints (bound {MAX_BROADCAST_HINTS}); drop the "
        f"new hint unless a measured number justifies it. Per file: {counts}"
    )
