"""IVF x BQ index family (round 11): coarse partition pruning over the
8-byte sign codes — the cheapest probed read on the serving matrix.
Exercises the shared cluster-partitioned machinery (probe ranking,
adaptive widening, batch candidates, compaction) over the bq scorer."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (
    _index_manifest,
    compact_index,
    index_recall_curve,
    index_stats,
    index_topk,
    index_topk_batch,
    index_upsert,
    maintain_index,
    read_index_codes,
    write_index,
)
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    similarity as sim,
)
from tests.conftest import SF_DIR
from tests.test_tune import _hamming_blind_bucket


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR)


@pytest.fixture(scope="module")
def idx(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfbq") / "idx")
    write_index(emb, path, "ivf_bq")
    return path


def _qvec(emb, vid):
    return [float(x)
            for x in emb.filter(f"vec_id = {vid}").head()["embedding"]]


def _batch(rows, spark):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


def test_layout_topk_and_batch_parity(spark, emb, idx):
    m = _index_manifest(spark, idx)
    assert m["kind"] == "ivf_bq" and m["dim"] == 64
    codes = read_index_codes(spark, idx)
    assert set(codes.columns) == {"vec_id", "lo", "hi", "cluster_id"}
    assert codes.count() == emb.count()
    res = index_topk(spark, idx, _qvec(emb, 3), emb, k=5,
                     nprobe=8, kind="ivf_bq")
    rows = res.collect()
    assert rows[0]["neighbor_id"] == 3 and rows[0]["cos_sim"] == 1.0
    qids = [3, 7]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    batch = index_topk_batch(spark, idx, queries, emb, k=5,
                             nprobe=2, kind="ivf_bq")
    for qid in qids:
        single = [(r["rank"], r["neighbor_id"], r["cos_sim"])
                  for r in index_topk(
                      spark, idx, _qvec(emb, qid), emb, k=5,
                      nprobe=2, kind="ivf_bq").collect()]
        got = [(r["rank"], r["neighbor_id"], r["cos_sim"])
               for r in batch.filter(F.col("query_id") == qid)
               .orderBy("rank").collect()]
        assert got == single, f"query {qid}"
    # observability knows the kind
    st = index_stats(spark, idx)
    assert st["kind"] == "ivf_bq"
    assert st["code_bytes_per_vector"] == 8
    assert st["n_clusters"] >= 2


def test_filtered_widening_single_and_batch(spark, emb, idx):
    allow_ids = [r["vec_id"] for r in
                 emb.orderBy(F.desc("vec_id")).limit(6).collect()]
    allowed = emb.filter(F.col("vec_id").isin(allow_ids)) \
        .select("vec_id")
    qv = _qvec(emb, 3)
    res = index_topk(spark, idx, qv, emb, k=5, nprobe=1,
                     allowed=allowed, kind="ivf_bq")
    rows = res.collect()
    assert len(rows) == 5
    assert {r["neighbor_id"] for r in rows} <= set(allow_ids)
    queries = emb.filter(F.col("vec_id").isin([3, 7])).select(
        F.col("vec_id").alias("query_id"), "embedding")
    batch = index_topk_batch(spark, idx, queries, emb, k=5,
                             nprobe=1, allowed=allowed, kind="ivf_bq")
    for qid in (3, 7):
        single = [(r["rank"], r["neighbor_id"]) for r in
                  index_topk(spark, idx, _qvec(emb, qid), emb,
                             k=5, nprobe=1,
                             allowed=allowed, kind="ivf_bq").collect()]
        got = [(r["rank"], r["neighbor_id"]) for r in
               batch.filter(F.col("query_id") == qid)
               .orderBy("rank").collect()]
        assert got == single and len(got) == 5


def test_upsert_maintain_compact(spark, emb, tmp_path):
    path = str(tmp_path / "idx")
    write_index(emb, path, "ivf_bq")
    qv = _qvec(emb, 5)
    new = _batch([(870000, qv)], spark)
    st = index_upsert(spark, path, new, kind="ivf_bq")
    assert st["decision"] == "appended" and st["n_new"] == 1
    merged = emb.select("vec_id", "embedding").unionByName(new)
    ids = {r["neighbor_id"] for r in index_topk(
        spark, path, qv, merged, k=3, nprobe=8, kind="ivf_bq").collect()}
    assert 870000 in ids
    st2 = index_upsert(spark, path, new, kind="ivf_bq")
    assert st2["decision"] == "replaced"
    assert len(_index_manifest(spark, path)["codes"]) == 1
    # foreign kinds refused
    assert index_upsert(spark, path, new, kind="sq8")["decision"] \
        == "wrong_kind"
    # full probe + self-query batch: maintain says ok
    st3 = maintain_index(spark, path, new, merged, k=5,
                         nprobe=8, sample_queries=1,
                         rebuild=False, kind="ivf_bq")
    assert st3["decision"] == "ok", st3
    # fragment + compact keeps the partitioned layout
    for i in range(2):
        index_upsert(spark, path,
                     _batch([(880000 + i, qv)], spark), kind="ivf_bq")
    before = sorted((r["vec_id"], r["lo"], r["hi"], r["cluster_id"])
                    for r in read_index_codes(spark, path).collect())
    stc = compact_index(spark, path)
    assert stc["decision"] == "compacted" and stc["dirs_before"] == 3
    after = sorted((r["vec_id"], r["lo"], r["hi"], r["cluster_id"])
                   for r in read_index_codes(spark, path).collect())
    assert before == after
    # recall curve sweeps nprobe for this kind; full probe is NOT
    # necessarily 1000 permille here — BQ's Hamming shortlist is the
    # recall ceiling (1 bit/dim), which is exactly what the curve is
    # for an operator to see
    curve = index_recall_curve(
        spark, path, merged, num_queries=1, k=5, nprobes=(1, 8))
    assert [r["nprobe"] for r in curve] == [1, 8]
    assert curve[1]["min_recall_permille"] >= \
        max(curve[0]["min_recall_permille"], 600)


def test_cli_and_streaming_dispatch(spark, emb, tmp_path, capsys):
    from public_transit_data_platform_sql_nosql_spark.__main__ import main
    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
        read_version,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        stream_vector_search,
    )

    emb_path = str(tmp_path / "emb")
    emb.select("vec_id", "embedding").write.parquet(emb_path)
    path = str(tmp_path / "idx")
    assert main(["vector-index", "build", "--path", path,
                 "--emb", emb_path, "--ivf", "--bq"]) == 0
    capsys.readouterr()
    assert _index_manifest(spark, path)["kind"] == "ivf_bq"
    assert main(["vector-index", "query", "--path", path,
                 "--emb", emb_path, "--vec-id", "3", "--k", "5",
                 "--nprobe", "8"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kind"] == "ivf_bq"
    assert out["topk"][0]["neighbor_id"] == 3
    # streaming serving dispatches by the manifest kind
    qsrc = str(tmp_path / "qsrc")
    emb.filter(F.col("vec_id").isin([3, 7])).select(
        F.col("vec_id").alias("query_id"), "embedding") \
        .write.parquet(qsrc)
    results = str(tmp_path / "results")
    q = stream_vector_search(
        spark.readStream.schema("query_id long, embedding "
                                "array<double>").parquet(qsrc),
        path, emb, results, str(tmp_path / "ck"), k=5, nprobe=2)
    q.awaitTermination(120)
    served = read_version(spark, results)
    assert served.count() == 10
    single = [(r["rank"], r["neighbor_id"]) for r in
              index_topk(spark, path, _qvec(emb, 3), emb, k=5,
                         nprobe=2, kind="ivf_bq").collect()]
    got = [(r["rank"], r["neighbor_id"]) for r in
           served.filter(F.col("query_id") == 3)
           .orderBy("rank").collect()]
    assert got == single


def test_maintain_ivf_bq_bump_rerank_rung(spark, tmp_path):
    """The IVF x BQ maintainer's BQ-specific recovery: probing is
    maxed and a rebuild could only refresh centroids (signs never
    retrain), so the ladder doubles the exact-rerank depth and commits
    it as default_rerank_mult — decision as data, serving picks it up
    with no caller threading."""
    from pyspark.sql import functions as _F

    a = _hamming_blind_bucket(spark, n=120)
    b = _hamming_blind_bucket(spark, n=24, base=200).select(
        "vec_id",
        _F.expr("transform(sequence(1, 64), i -> CASE WHEN i = 3 THEN "
                "element_at(embedding, 1) WHEN i = 4 THEN "
                "element_at(embedding, 2) ELSE 0.0D END)")
        .alias("embedding"))
    corpus = a.unionByName(b).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfbq")
    sim.write_index(corpus, path, "ivf_bq", k=2)
    batch = corpus.orderBy("vec_id").limit(3)
    out = sim.maintain_index(spark, path, batch, corpus,
                             recall_floor_permille=950, kind="ivf_bq")
    # nprobe starts at the full 2-cluster depth's cap=2 fallback, so
    # the bump rung has no headroom; the rerank rung recovers: 8 -> 16
    # covers the 124-row corpus at k=10
    assert out["decision"] == "bump_rerank"
    assert out["rerank_mult"] == 2 * sim.BQ_RERANK_MULT
    assert out["recall_after_rerank_permille"] >= 950
    assert out["recall_permille"] < 950
    m = sim._index_manifest(spark, path)
    assert m["default_rerank_mult"] == 2 * sim.BQ_RERANK_MULT
    assert m["version"] == out["rerank_version"]
    # serve at the maintainer's k: the committed depth (10*16 = 160)
    # covers the 124-row corpus, so the true neighbors surface (at
    # k=5 the same depth would shortlist only 80 rows — the rung
    # commits a depth measured FOR the probe's k, as tune does)
    served = {int(r["neighbor_id"]) for r in sim.index_topk(
        spark, path, [1.0, 0.9] + [0.0] * 62, corpus, k=10,
        kind="ivf_bq").collect()}
    assert {0, 116, 117, 118, 119}.issubset(served)


# ---------------------------------------------------------------------------
# maintain_index on ivf_bq: the combined (bump_nprobe, bump_rerank) rung


def _three_cluster_corpus(spark, dim=64):
    """Three well-separated axis-pair direction groups, 8 vectors
    each — enough structure for an ivf_bq write_index(k=3) to commit a
    3-cluster layout with probe headroom above nprobe=1."""
    rows = []
    for g, (i, j) in enumerate(((0, 1), (2, 3), (4, 5))):
        for n in range(8):
            v = [0.0] * dim
            v[i] = 1.0
            v[j] = 0.5 + 0.01 * n
            rows.append((g * 100 + n, v))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


def test_maintain_ivf_bq_combined_rung_decision(spark, tmp_path,
                                                monkeypatch):
    """Either knob ALONE misses the floor but the (bumped nprobe,
    doubled rerank) combination clears it: the ladder must land on
    ``bump_nprobe_rerank`` and commit BOTH settings in one manifest
    version — not fall through to a rebuild, which for BQ cannot raise
    code resolution (sign bits never retrain) and would churn
    centroids without fixing anything.

    The recall probe's batched serving call is wrapped so it returns
    the true top-k ONLY when both knobs are raised (nprobe >= 2 AND
    resolved rerank >= 2x the default) — a deterministic pin of the
    DECISION FLOW; the measurement machinery itself is pinned
    geometrically by test_maintain_ivf_bq_bump_rerank_rung."""
    corpus = _three_cluster_corpus(spark).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfbq")
    sim.write_index(corpus, path, "ivf_bq", k=3)
    man = sim._index_manifest(spark, path)
    n_clusters = spark.read.parquet(
        f"{path}/{man['centroids']}").count()
    assert n_clusters >= 2                   # bump headroom exists

    real = sim.index_topk_batch
    cur_rm = sim._resolve_rerank(man, None)

    def gated(spark_, path_, qdf, vectors, k=10, nprobe=None,
              rerank_mult=None, **kw):
        m = sim._index_manifest(spark_, path_)
        np_ = sim._resolve_nprobe(m, nprobe)
        rm = sim._resolve_rerank(m, rerank_mult)
        if np_ >= 2 and rm >= 2 * cur_rm:
            # true top-k: full probe + corpus-covering rerank
            return real(spark_, path_, qdf, vectors, k=k,
                        nprobe=n_clusters, rerank_mult=1000, **kw)
        # junk: right schema, wrong neighbors (ids outside the corpus,
        # so no accidental overlap with the truth)
        return qdf.select("query_id").join(
            spark_.range(k).select(
                (F.col("id") + 1).cast("int").alias("rank"),
                (F.col("id") + 1_000_000).alias("neighbor_id"),
                F.lit(0.0).alias("cos_sim")))

    monkeypatch.setattr(sim, "index_topk_batch", gated)
    batch = corpus.orderBy("vec_id").limit(2)
    out = sim.maintain_index(spark, path, batch, corpus,
                             nprobe=1,
                             recall_floor_permille=950, kind="ivf_bq")
    assert out["decision"] == "bump_nprobe_rerank"
    assert out["nprobe"] == 2
    assert out["rerank_mult"] == 2 * cur_rm
    assert out["recall_permille"] < 950
    assert out["recall_after_bump_permille"] < 950
    assert out["recall_after_rerank_permille"] < 950
    assert out["recall_after_bump_rerank_permille"] >= 950
    # both knobs committed in ONE manifest version; serving with no
    # overrides resolves them
    m2 = sim._index_manifest(spark, path)
    assert m2["default_nprobe"] == 2
    assert m2["default_rerank_mult"] == 2 * cur_rm
    assert m2["version"] == out["operating_point_version"]
    assert sim._resolve_nprobe(m2, None) == 2
    assert sim._resolve_rerank(m2, None) == 2 * cur_rm


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
