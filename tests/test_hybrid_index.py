"""Stored-index hybrid retrieval (round 11): BM25 lexical arm + the
manifest-dispatched dense serving arm, fused by the shared integer
RRF — verified against a driver-side recomputation of the fusion from
the two arms' own outputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.pipeline.core import (
    bounded_rank,
)
from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (
    ivf_sq8_index_topk,
    sq8_index_topk,
    write_ivf_sq8_index,
    write_sq8_index,
)
from public_transit_data_platform_sql_nosql_spark.pipeline.text import (
    hybrid_index_search,
    search_bm25,
)
from tests.conftest import SF_DIR

TERMS = ["spark", "window", "merge"]


@pytest.fixture(scope="module")
def docs(spark):
    return E._aug(spark, SF_DIR)


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR)


def _qvec(emb, vid):
    return [float(x)
            for x in emb.filter(f"vec_id = {vid}").head()["embedding"]]


def _expected_fusion(bm_rows, dense_rows, k, rrf_k=60):
    bm = {r["doc_id"]: i + 1 for i, r in enumerate(
        sorted(bm_rows, key=lambda r: (-r["score_micro"],
                                       r["doc_id"])))}
    dn = {r["neighbor_id"]: r["rank"] for r in dense_rows}
    fused = []
    for d in set(bm) | set(dn):
        micro = (1_000_000 // (rrf_k + bm[d]) if d in bm else 0) \
            + (1_000_000 // (rrf_k + dn[d]) if d in dn else 0)
        fused.append((d, bm.get(d), dn.get(d), micro))
    fused.sort(key=lambda t: (-t[3], t[0]))
    return fused[:k]


def test_fusion_matches_recomputation(spark, docs, emb, tmp_path):
    path = str(tmp_path / "sq8")
    write_sq8_index(emb.select("vec_id", "embedding"), path)
    qv = _qvec(emb, 0)
    pool = 20
    got = [(r["doc_id"], r["bm25_rank"], r["dense_rank"],
            r["rrf_micro"])
           for r in hybrid_index_search(
               spark, docs, path, emb, TERMS, qv, k=10,
               pool=pool).collect()]
    bm_rows = search_bm25(docs, TERMS, top_k=pool).collect()
    dense_rows = sq8_index_topk(spark, path, qv, emb,
                                k=pool).collect()
    assert got == _expected_fusion(bm_rows, dense_rows, 10)
    # both arms actually contributed
    assert any(r[1] is not None and r[2] is None for r in got) or \
        any(r[1] is not None for r in got)
    assert any(r[2] is not None for r in got)


def test_kind_dispatch_and_filter(spark, docs, emb, tmp_path):
    path = str(tmp_path / "ivfsq8")
    write_ivf_sq8_index(emb.select("vec_id", "embedding"), path)
    qv = _qvec(emb, 0)
    allow_ids = [r["vec_id"] for r in
                 emb.orderBy(F.desc("vec_id")).limit(12).collect()]
    allowed = emb.filter(F.col("vec_id").isin(allow_ids)) \
        .select("vec_id")
    got = hybrid_index_search(spark, docs, path, emb, TERMS, qv,
                              k=10, pool=5, nprobe=1,
                              allowed=allowed).collect()
    assert 0 < len(got) <= 10
    assert {r["doc_id"] for r in got} <= set(allow_ids)
    # the dense arm equals the filtered serving path (probe widening
    # engaged at nprobe=1), re-ranked into the fusion
    dense = {r["neighbor_id"]: r["rank"] for r in ivf_sq8_index_topk(
        spark, path, qv, emb, k=5, nprobe=1,
        allowed=allowed).collect()}
    for r in got:
        if r["dense_rank"] is not None:
            assert dense[r["doc_id"]] == r["dense_rank"]


def test_hash_embeddings_properties(spark):
    """The corpus->vector bridge: unit norm (or exact zero), bit-level
    determinism, fixed dim, and a SHUFFLE-FREE plan (one codegen'd
    projection — no Exchange anywhere)."""
    import math

    from public_transit_data_platform_sql_nosql_spark.pipeline.text import (
        hash_embeddings,
    )
    from public_transit_data_platform_sql_nosql_spark.plans import (
        executed_plan,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    e = hash_embeddings(docs, dim=32)
    plan = executed_plan(e)
    assert "Exchange" not in plan            # narrow projection only

    rows = e.collect()
    assert all(len(r["embedding"]) == 32 for r in rows)
    for r in rows[:50]:
        n = math.sqrt(sum(x * x for x in r["embedding"]))
        assert n == 0.0 or abs(n - 1.0) < 1e-6
    # determinism: a second evaluation is bit-identical
    again = {r["vec_id"]: list(r["embedding"])
             for r in hash_embeddings(docs, dim=32).collect()}
    assert all(list(r["embedding"]) == again[r["vec_id"]] for r in rows)


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
