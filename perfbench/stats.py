"""The benchmark's own arithmetic: failure counting, span
self time, interval unions and result canonicalization.

Pure functions with no Spark import, so ``test_perfbench.py`` checks them
without a session.
"""

from __future__ import annotations

import hashlib
import json
import math
from collections.abc import Iterable, Sequence


def count_failed(outcomes: Iterable[dict]) -> tuple[int, int]:
    """(attempted, failed) over op outcomes. An op fails when it raised
    (``error`` set) or its result digest differs from the expected one."""
    attempted = failed = 0
    for o in outcomes:
        attempted += 1
        if o.get("error") is not None or o.get("digest") != o.get("expected"):
            failed += 1
    return attempted, failed


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its child
    spans cover. Spans are dicts with ``id``, ``parent``, ``start``, ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out


# ── result canonicalization (the rules of tools/verify_local.py) ─────────

def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else str(v)
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def frame_rows(pdf) -> list[tuple]:
    """Row tuples of a pandas frame with numpy scalars made native."""
    out = []
    for row in pdf.itertuples(index=False, name=None):
        out.append(tuple(v.item() if hasattr(v, "item") and not isinstance(v, (bytes, str)) else v for v in row))
    return out


def digest(cols: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Order-insensitive sha256 of a result: columns sorted by lowercase
    name, cells canonicalized, rows sorted."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)
    payload = json.dumps([[cols[i] for i in order], canon], separators=(",", ":"))
    return hashlib.sha256(payload.encode()).hexdigest()
