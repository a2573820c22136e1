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
    index_topk,
    write_index,
)
from public_transit_data_platform_sql_nosql_spark.pipeline.text import (
    hybrid_index_search,
    search_bm25,
)
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    similarity as sim,
)
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    text as ptext,
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
    write_index(emb.select("vec_id", "embedding"), path, "sq8")
    qv = _qvec(emb, 0)
    pool = 20
    got = [(r["doc_id"], r["bm25_rank"], r["dense_rank"],
            r["rrf_micro"])
           for r in hybrid_index_search(
               spark, docs, path, emb, TERMS, qv, k=10,
               pool=pool).collect()]
    bm_rows = search_bm25(docs, TERMS, top_k=pool).collect()
    dense_rows = index_topk(spark, path, qv, emb,
                            k=pool, kind="sq8").collect()
    assert got == _expected_fusion(bm_rows, dense_rows, 10)
    # both arms actually contributed
    assert any(r[1] is not None and r[2] is None for r in got) or \
        any(r[1] is not None for r in got)
    assert any(r[2] is not None for r in got)


def test_kind_dispatch_and_filter(spark, docs, emb, tmp_path):
    path = str(tmp_path / "ivfsq8")
    write_index(emb.select("vec_id", "embedding"), path, "ivf_sq8")
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
    dense = {r["neighbor_id"]: r["rank"] for r in index_topk(
        spark, path, qv, emb, k=5, nprobe=1,
        allowed=allowed, kind="ivf_sq8").collect()}
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


# ---------------------------------------------------------------------------
# batched hybrid retrieval


@pytest.mark.parametrize("kind", ["ivf_sq8", "bq"])
def test_hybrid_batch_matches_single(spark, emb, tmp_path, kind):
    docs = E._aug(spark, SF_DIR)
    path = str(tmp_path / kind)
    if kind == "ivf_sq8":
        sim.write_index(emb, path, "ivf_sq8")
    else:
        sim.write_index(emb, path, "bq")
    queries = spark.createDataFrame(
        [(1, ["spark", "window"],
          [float(x) for x in emb.filter("vec_id = 1")
           .head()["embedding"]]),
         (2, ["merge", "data", "merge"],      # dup term: set semantics
          [float(x) for x in emb.filter("vec_id = 2")
           .head()["embedding"]])],
        "query_id long, terms array<string>, embedding array<double>")
    batch = ptext.hybrid_index_search_batch(
        spark, docs, path, emb, queries, k=7, pool=20).collect()
    by_q: dict[int, set] = {}
    for r in batch:
        by_q.setdefault(int(r["query_id"]), set()).add(
            (int(r["doc_id"]),
             None if r["bm25_rank"] is None else int(r["bm25_rank"]),
             None if r["dense_rank"] is None else int(r["dense_rank"]),
             int(r["rrf_micro"])))
    for qid, terms in ((1, ["spark", "window"]), (2, ["merge", "data"])):
        qv = [float(x) for x in
              emb.filter(f"vec_id = {qid}").head()["embedding"]]
        single = ptext.hybrid_index_search(
            spark, docs, path, emb, terms, qv, k=7, pool=20).collect()
        assert by_q[qid] == {
            (int(r["doc_id"]),
             None if r["bm25_rank"] is None else int(r["bm25_rank"]),
             None if r["dense_rank"] is None else int(r["dense_rank"]),
             int(r["rrf_micro"]))
            for r in single}


def test_hybrid_batch_allowed_and_empty_terms(spark, emb, tmp_path):
    docs = E._aug(spark, SF_DIR)
    path = str(tmp_path / "allowed")
    sim.write_index(emb, path, "bq")
    allowed = emb.filter("vec_id % 2 = 0").select("vec_id")
    queries = spark.createDataFrame(
        [(1, ["spark", "window"],
          [float(x) for x in emb.filter("vec_id = 1")
           .head()["embedding"]])],
        "query_id long, terms array<string>, embedding array<double>")
    got = ptext.hybrid_index_search_batch(
        spark, docs, path, emb, queries, k=5, pool=20,
        allowed=allowed).collect()
    assert got and all(int(r["doc_id"]) % 2 == 0 for r in got)
    single = ptext.hybrid_index_search(
        spark, docs, path, emb, ["spark", "window"],
        [float(x) for x in emb.filter("vec_id = 1")
         .head()["embedding"]], k=5, pool=20, allowed=allowed).collect()
    assert {int(r["doc_id"]) for r in got} == \
        {int(r["doc_id"]) for r in single}

    bad = spark.createDataFrame(
        [(9, [], [0.0] * 64)],
        "query_id long, terms array<string>, embedding array<double>")
    with pytest.raises(ValueError, match="empty terms"):
        ptext.hybrid_index_search_batch(
            spark, docs, path, emb, bad)


# ---------------------------------------------------------------------------
# hybrid where= — attrs pushdown on BOTH arms


@pytest.fixture(scope="module")
def hybrid_fixture(spark, emb, tmp_path_factory):
    docs = E._aug(spark, SF_DIR)
    attrs = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, "a").otherwise("b")
        .alias("lang"))
    path = str(tmp_path_factory.mktemp("hyw") / "idx")
    sim.write_index(emb, path, "sq8", attrs=attrs)
    queries = spark.createDataFrame(
        [(1, ["spark", "window"], _qvec(emb, 1)),
         (2, ["merge", "data"], _qvec(emb, 2))],
        "query_id long, terms array<string>, embedding array<double>")
    return docs, path, queries


def test_hybrid_batch_where_filters_both_arms(spark, emb,
                                              hybrid_fixture):
    docs, path, queries = hybrid_fixture
    got = ptext.hybrid_index_search_batch(
        spark, docs, path, emb, queries, k=5, pool=20,
        where="lang = 'a'").collect()
    assert got and all(int(r["doc_id"]) % 2 == 0 for r in got)
    # where= is the pushdown form of the equivalent allowed= id-list
    allowed = emb.filter("vec_id % 2 = 0").select("vec_id")
    via_allowed = ptext.hybrid_index_search_batch(
        spark, docs, path, emb, queries, k=5, pool=20,
        allowed=allowed).collect()
    key = lambda rows: {  # noqa: E731
        (int(r["query_id"]), int(r["doc_id"]), int(r["rrf_micro"]))
        for r in rows}
    assert key(got) == key(via_allowed)


def test_hybrid_single_where_matches_batch(spark, emb, hybrid_fixture):
    docs, path, queries = hybrid_fixture
    single = ptext.hybrid_index_search(
        spark, docs, path, emb, ["spark", "window"], _qvec(emb, 1),
        k=5, pool=20, where="lang = 'a'").collect()
    batch = [r for r in ptext.hybrid_index_search_batch(
        spark, docs, path, emb, queries, k=5, pool=20,
        where="lang = 'a'").collect() if int(r["query_id"]) == 1]
    assert {(int(r["doc_id"]), int(r["rrf_micro"])) for r in single} \
        == {(int(r["doc_id"]), int(r["rrf_micro"])) for r in batch}


def test_hybrid_where_refused_without_attrs(spark, emb, tmp_path):
    docs = E._aug(spark, SF_DIR)
    path = str(tmp_path / "noattrs")
    sim.write_index(emb, path, "sq8")                 # attr-less
    queries = spark.createDataFrame(
        [(1, ["spark"], _qvec(emb, 1))],
        "query_id long, terms array<string>, embedding array<double>")
    with pytest.raises(ValueError, match="no attribute columns"):
        ptext.hybrid_index_search_batch(
            spark, docs, path, emb, queries, where="lang = 'a'")


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
