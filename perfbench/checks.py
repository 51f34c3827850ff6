"""Correctness checks, run outside the timed region.

- ``document_problems``: a reconstructed snapshot against the generated
  one, as a uuid multiset with field values (feature order is unspecified
  and coordinates are stored as float32).
- ``rows_problems``: a Spark result against a DuckDB oracle, order
  insensitive, with a float tolerance that absorbs a last-digit flip of a
  value both engines round.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

_EXACT_PROPS = ("uuid", "id", "color", "direction", "distanceFromPoint", "lineId", "pointId")


def _by_uuid(data: dict) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for f in data["features"] or []:
        out.setdefault(f["properties"]["uuid"], []).append(f)
    for feats in out.values():
        feats.sort(key=lambda f: repr(sorted(f["properties"].items())))
    return out


def _feature_problem(got: dict, want: dict) -> str | None:
    if got["type"] != "Feature" or got["id"] != want["properties"]["uuid"]:
        return f"feature header {got['type']!r}/{got['id']!r}"
    if got["geometry"]["type"] != "Point":
        return "geometry type"
    for a, b in zip(got["geometry"]["coordinates"], want["geometry"]["coordinates"]):
        if not math.isclose(a, b, rel_tol=1e-6):
            return f"coordinate {a} != {b}"
    gp, wp = got["properties"], want["properties"]
    for key in _EXACT_PROPS:
        if gp[key] != wp[key]:
            return f"{key}: {gp[key]!r} != {wp[key]!r}"
    if not math.isclose(gp["distance"], wp["distance"], rel_tol=1e-6):
        return f"distance {gp['distance']} != {wp['distance']}"
    return None


def document_problems(rows: list[dict], ts: str, want: dict) -> list[str]:
    """Problems with a ``get_document(ts)`` result (rows as dicts) against
    the generated FeatureCollection ``want``; empty when they match."""
    if len(rows) != 1:
        return [f"{ts}: {len(rows)} rows"]
    got = rows[0]
    if got["timestamp"] != ts or got["data"]["type"] != "FeatureCollection":
        return [f"{ts}: header {got['timestamp']!r}/{got['data']['type']!r}"]
    g, w = _by_uuid(got["data"]), _by_uuid(want)
    if set(g) != set(w):
        return [f"{ts}: uuid sets differ by {len(set(g) ^ set(w))}"]
    problems = []
    for uuid, feats in w.items():
        if len(g[uuid]) != len(feats):
            problems.append(f"{ts}/{uuid}: {len(g[uuid])} != {len(feats)} features")
            continue
        for gf, wf in zip(g[uuid], feats):
            problem = _feature_problem(gf, wf)
            if problem:
                problems.append(f"{ts}/{uuid}: {problem}")
    return problems


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return v


def _row_key(row: tuple) -> tuple:
    """Sort key built from the non-float cells only, so a float that both
    engines round differently cannot reorder the rows."""
    return tuple(repr(c) for c in row if not isinstance(c, float))


def _cells_match(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=0.011)
    return a == b


def rows_problems(got_cols, got_rows, want_cols, want_rows) -> list[str]:
    """Order-insensitive compare of two result sets; columns are matched
    by name."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns {sorted(got_cols)} != {sorted(want_cols)}"]
    if len(got_rows) != len(want_rows):
        return [f"{len(got_rows)} rows != {len(want_rows)}"]
    order = [got_cols.index(c) for c in want_cols]
    got = sorted(
        (tuple(_cell(r[i]) for i in order) for r in got_rows), key=_row_key
    )
    want = sorted((tuple(_cell(c) for c in r) for r in want_rows), key=_row_key)
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_cells_match(a, b) for a, b in zip(g, w)):
            return [f"row {g} != {w}"]
    return []
