"""Output checks, run after the timed window.

Responses are checked for the status and top-level JSON shape their
request was generated with; result tables are compared with their DuckDB
oracles from ``__spark_entry__.oracle_sql()`` after the canonicalisation
the repository's parity test uses (columns sorted by name, NaN as null,
rows sorted by ``repr``).
"""

from __future__ import annotations

import hashlib
import json
import math


def _list_of(key):
    return lambda b: isinstance(b, dict) and isinstance(b.get(key), list)


SHAPES = {
    "items": _list_of("items"),
    "q2": lambda b: isinstance(b, dict) and isinstance(b.get("routes"), list)
    and b.get("mode") in ("whole_week", "single_service"),
    "q4": lambda b: isinstance(b, dict) and isinstance(b.get("routes"), list)
    and isinstance(b.get("max_hour"), int),
    "dict": lambda b: isinstance(b, dict) and "error" not in b,
    "error": lambda b: isinstance(b, dict) and isinstance(b.get("error"), str),
    "list": lambda b: isinstance(b, list),
    "empty_list": lambda b: b == [],
    "groups": lambda b: isinstance(b, dict)
    and isinstance(b.get("groups"), list)
    and b.get("total_count") == sum(g["count"] for g in b["groups"]),
    "times": lambda b: isinstance(b, dict) and isinstance(b.get("times"), list)
    and b.get("count") == len(b["times"]),
    "empty_times": lambda b: b == {"times": [], "count": 0},
    "stops": _list_of("stops"),
}


def response_ok(req, status: int, body: bytes) -> bool:
    """Whether one response has its request's intended status and shape."""
    if status != req.status:
        return False
    try:
        doc = json.loads(body)
    except ValueError:
        return False
    return SHAPES[req.shape](doc)


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def canonical(columns, rows):
    """Columns sorted by name, NaN -> None, rows sorted by ``repr``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    return [columns[i] for i in order], out


def digest(columns, rows) -> str:
    """Order-insensitive digest of a table's canonical rows."""
    cols, canon = canonical(columns, rows)
    h = hashlib.sha256(repr(cols).encode())
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()


def mismatch(name, got_cols, got_rows, want_cols, want_rows) -> str | None:
    """``None`` when the two tables are equal after canonicalisation,
    else a one-line description of the first difference."""
    gc, gr = canonical(got_cols, got_rows)
    wc, wr = canonical(want_cols, want_rows)
    if gc != wc:
        return f"{name}: columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{name}: {len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"{name}: row {i} {a} != {b}"
    return None


def duckdb_rows(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def spark_rows(df):
    return df.columns, [tuple(r) for r in df.collect()]
