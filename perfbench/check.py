"""Order-insensitive, dtype-strict result comparison.

Mirrors tests/differential.py's oracle check: same column names (case
folded), same row count, and equal multisets of rows where every cell
is rendered with a type tag, so ``1`` (int) differs from ``1.0``
(float) and decimal scale counts.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal


def render(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return f"B:{v}"
    if isinstance(v, int):
        return f"I:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "F:nan"
        return f"F:{(0.0 if v == 0.0 else v)!r}"
    if isinstance(v, Decimal):
        return f"D:{v}"
    if isinstance(v, dt.datetime):
        return f"T:{v.replace(tzinfo=None).isoformat(sep=' ')}"
    if isinstance(v, dt.date):
        return f"T:{v.isoformat()} 00:00:00"
    if isinstance(v, str):
        return f"S:{v}"
    raise TypeError(f"unrenderable cell {type(v).__name__}: {v!r}")


def canonical(columns: list[str], rows) -> tuple[list[str], list[str]]:
    """(sorted lower-case columns, sorted rendered rows in that order)."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(render(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], lines


def digest(columns: list[str], rows) -> dict:
    cols, lines = canonical(columns, rows)
    h = hashlib.md5("\x02".join(cols).encode())
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return {"rows": len(lines), "digest": h.hexdigest()}


def diff(name: str, got: tuple[list[str], list], want: tuple[list[str], list]) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    g_cols, g_lines = canonical(*got)
    w_cols, w_lines = canonical(*want)
    if g_cols != w_cols:
        return f"{name}: columns {g_cols} != {w_cols}"
    if len(g_lines) != len(w_lines):
        return f"{name}: {len(g_lines)} rows != {len(w_lines)}"
    for a, b in zip(g_lines, w_lines):
        if a != b:
            return f"{name}: row {a!r} != {b!r}"
    return None
