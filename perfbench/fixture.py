"""Source tables for the benchmark.

Writes the six TPC-H-ish parquet tables the program reads (``part``,
``nation``, ``orders``, ``lineitem``, ``documents``, ``embeddings``) with
the schemas of the TESTDATA.md fixtures, so ``sources.tpch_adapter`` derives
the GTFS views and ``pipeline.source`` the corpus views from them, and the
DuckDB oracles in ``__spark_entry__.oracle_sql()`` run unchanged on them.
Everything is drawn from one ``numpy`` generator with a fixed seed: the
feed is the same in every run, like a checked-in fixture, and only the
traffic drawn in ``inputs`` varies with the workload seed.  No Spark is
involved, so generation costs well under a second.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of the repository's sf0.01 test fixture; the distributions below
# are those measured on its sf0.1 fixture (see README.md): stop_times rows
# draw their trip and their stop uniformly (Poisson(4) stops per trip,
# Poisson(30) rows per stop, no hub stops), stop_sequence is uniform on
# 1..7, and service ids split the trips in thirds.  One tenth of sf0.1
# keeps a whole run (set-up, timed window, checks) inside the benchmark's
# per-run budget on 4 cores.
N_STOPS = 2000
N_TRIPS = 15000
N_STOP_TIMES = 60000
MAX_STOP_SEQUENCE = 7
N_DOCS = 500
N_VECS = 500
DIM = 64
N_LABELS = 10
FIXTURE_SEED = 20240601

VOCAB = ("spark", "batch", "part", "line", "column", "order", "small",
         "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
         "filter", "query", "a", "big", "key", "window", "vector", "table",
         "stream", "the", "join", "merge", "data", "customer", "row", "plan",
         "shuffle", "read", "write", "cache", "skew", "code", "stage",
         "task", "broadcast")
_LANGS = ("en",) * 14 + ("de",) * 5 + ("fr",) * 5 + ("zh",) * 5 + ("es",) * 5
_PRIO = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PNAME_A = ("large", "hot", "small", "cold", "dim", "shiny", "plain", "round")
_PNAME_B = ("ring", "bolt", "cog", "pin", "widget", "lens", "strap", "valve")
_PTYPE = ("LARGE", "ECONOMY", "STANDARD", "MEDIUM", "PROMO")
_EPOCH_US = 788_918_400 * 1_000_000  # 1995-01-01 UTC


def _pick(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[
        rng.integers(0, len(choices), n)].tolist(), pa.string())


def _days(rng, n):
    us = _EPOCH_US + rng.integers(0, 2400, n).astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def tables() -> dict[str, pa.Table]:
    """The six source tables (same bytes on every call)."""
    rng = np.random.default_rng([FIXTURE_SEED, 0x7F4A])
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    pk = np.arange(N_STOPS, dtype=np.int64)
    part = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            np.asarray(_PNAME_A)[rng.integers(0, 8, N_STOPS)],
            np.asarray(_PNAME_B)[rng.integers(0, 8, N_STOPS)])]),
        "p_brand": pa.array([f"Brand#{i}" for i in
                             rng.integers(0, 25, N_STOPS)]),
        "p_type": _pick(rng, _PTYPE, N_STOPS),
        "p_size": pa.array(rng.integers(1, 51, N_STOPS), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    ok = np.arange(N_TRIPS, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_TRIPS // 10, N_TRIPS).astype(np.int64),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), N_TRIPS),
        "o_totalprice": rng.integers(0, 45_000_000, N_TRIPS) / 100.0 + 900,
        "o_orderdate": _days(rng, N_TRIPS),
        "o_orderpriority": _pick(rng, _PRIO, N_TRIPS),
    })
    n = N_STOP_TIMES
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, N_TRIPS, n).astype(np.int64),
        "l_partkey": rng.integers(0, N_STOPS, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, MAX_STOP_SEQUENCE + 1, n),
                                 pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": rng.integers(0, 10_000_000, n) / 100.0 + 900,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ("R", "N", "A"), n),
        "l_linestatus": _pick(rng, ("O", "F"), n),
        "l_shipdate": _days(rng, n),
    })
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for i in range(N_DOCS):
        if i % 500 == 499:  # ~0.2% exact duplicates, as in TESTDATA.md
            texts.append(texts[-1])
            continue
        texts.append(" ".join(vocab[rng.integers(0, len(VOCAB),
                                                 rng.integers(8, 100))]))
    documents = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, N_DOCS),
        "source": pa.array([f"src{i}" for i in
                            rng.integers(0, 20, N_DOCS)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, N_LABELS, N_VECS)
    centers = rng.random((N_LABELS, DIM)) - 0.5
    emb = (centers[labels] + (rng.random((N_VECS, DIM)) - 0.5) * 0.3
           ).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"nation": nation, "part": part, "orders": orders,
            "lineitem": lineitem, "documents": documents,
            "embeddings": embeddings}


def write(out_dir: str) -> dict[str, int]:
    """Write ``tables()`` as ``<out_dir>/<name>.parquet``; returns each
    table's row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in tables().items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
