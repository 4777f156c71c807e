"""Result comparison and the checked, timed execution of one op.

Non-float values must match exactly; floats match within a relative
tolerance of 1e-9 (the engines sum doubles in different orders).  Rows are
compared as multisets — the sort key puts every non-float column before the
floats, so rows that agree on their exact columns line up even when their
floats differ in the last digits.

``quanta`` admits one more difference, for ops whose benchmarked SQL rounds
a native double sum (``ROUND(SUM(x), 2)``) where the oracle rounds the exact
decimal sum: when the exact sum sits on a rounding halfway point the two
round to neighbouring grid values (375545.89 against 375545.90).  Both
values must lie on the grid of a listed quantum and differ by exactly one
step; any other difference still fails.
"""

from __future__ import annotations

import math
import time
import traceback
from dataclasses import dataclass
from decimal import Decimal
from typing import Callable

REL_TOL = 1e-9


def _is_float(v) -> bool:
    return isinstance(v, float)


def _on_grid(x: float, q: float) -> bool:
    steps = x / q
    return abs(steps - round(steps)) <= 1e-6 + 1e-12 * abs(steps)


def values_match(a, b, quanta: tuple[float, ...] = ()) -> bool:
    if _is_float(a) or _is_float(b):
        if a is None or b is None or isinstance(a, (str, bytes)) or isinstance(b, (str, bytes)):
            return False
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        if a == b or abs(a - b) <= REL_TOL * max(abs(a), abs(b)):
            return True
        return any(
            _on_grid(a, q) and _on_grid(b, q) and abs(abs(a - b) / q - 1) <= 1e-6
            for q in quanta
        )
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(values_match(x, y, quanta) for x, y in zip(a, b))
    return a == b


def _sort_key(row: tuple):
    def part(v, want_float: bool):
        if v is None:
            return (0, "")
        if _is_float(v) != want_float:
            return (0, "")
        if isinstance(v, (int, float, Decimal)):
            return (1, float(v))
        return (2, repr(v))

    return tuple(part(v, False) for v in row) + tuple(part(v, True) for v in row)


def compare(actual, expected, quanta: tuple[float, ...] = ()) -> str | None:
    """None when ``actual`` matches ``expected``, else what differs."""
    a = sorted((tuple(r) for r in actual), key=_sort_key)
    e = sorted((tuple(r) for r in expected), key=_sort_key)
    if len(a) != len(e):
        return f"{len(a)} rows, expected {len(e)}"
    for i, (x, y) in enumerate(zip(a, e)):
        if len(x) != len(y) or not all(values_match(u, v, quanta) for u, v in zip(x, y)):
            return f"row {i}: {x!r} != expected {y!r}"
    return None


@dataclass
class Outcome:
    op: str
    kind: str
    wall_s: float
    ok: bool
    detail: str = ""


def run_checked(
    op: str, kind: str, fn: Callable[[], object], check: Callable[[object], str | None]
) -> Outcome:
    """Time ``fn()`` and check its result outside the timed region.

    An exception or a wrong result yields a failed Outcome (with the
    reason) instead of propagating, so one bad op never ends the run.
    """
    t0 = time.perf_counter()
    try:
        result = fn()
    except Exception as exc:  # noqa: BLE001 - a failing op is a measured outcome
        wall = time.perf_counter() - t0
        tb = traceback.format_exception_only(type(exc), exc)[-1].strip()
        return Outcome(op, kind, wall, False, f"raised {tb[:500]}")
    wall = time.perf_counter() - t0
    try:
        problem = check(result)
    except Exception as exc:  # noqa: BLE001 - a malformed result is a wrong result
        problem = f"result could not be checked: {exc!r}"
    return Outcome(op, kind, wall, problem is None, problem or "")
