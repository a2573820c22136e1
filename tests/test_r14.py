"""Round-14 surface: build-nonce cache fingerprints (the (mtime, len)
file fingerprint collides on coarse-mtime filesystems when a
delete-and-rebuild lands a same-length manifest in the same timestamp
granule — a per-commit random nonce cannot), the IVF x BQ maintainer's
combined ``bump_nprobe_rerank`` rung (either knob alone missing the
floor must not fall straight through to a rebuild that cannot raise BQ
code resolution), and the CLI ``--rerank-mults`` grid hardening (an
empty grid on a FLAT kind measures nothing — refuse with the reason,
don't report ``target_unreachable``; non-numeric input gets a JSON
error line, not a bare ``int()`` traceback)."""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.__main__ import (
    _parse_grid,
    main,
)
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    similarity as sim,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR).persist()


# ---------------------------------------------------------------------------
# build-nonce cache fingerprints


def test_manifest_carries_build_nonce(spark, emb, tmp_path):
    """Every manifest commit is stamped with a per-build random nonce
    at the single write point (jobs/versioned._write_manifest), so all
    six index writers inherit it."""
    path = str(tmp_path / "idx")
    sim.write_sq8_index(emb, path)
    m = sim._index_manifest(spark, path)
    assert isinstance(m.get("build_nonce"), str) and m["build_nonce"]


def test_fingerprint_keys_on_nonce_not_file_status(spark, emb,
                                                   tmp_path):
    """The cache fingerprint is the manifest's nonce whenever one is
    present — file status (mtime, len) is only the legacy fallback.
    Two rebuilds at the same path therefore get distinct fingerprints
    even if the filesystem's mtime granularity (frozen here by
    construction: we compare the nonce path, which never consults the
    file at all) would make their file statuses collide."""
    path = str(tmp_path / "idx")
    sim.write_sq8_index(emb, path)
    m1 = sim._index_manifest(spark, path)
    fp1 = sim._manifest_fingerprint(spark, path, int(m1["version"]), m1)
    assert fp1 == ("nonce", m1["build_nonce"])
    shutil.rmtree(path)
    sim.write_sq8_index(emb, path)
    m2 = sim._index_manifest(spark, path)
    fp2 = sim._manifest_fingerprint(spark, path, int(m2["version"]), m2)
    # versions restart at 0 on a same-path rebuild: (path, version)
    # collide, the nonces cannot
    assert int(m2["version"]) == int(m1["version"])
    assert fp2 == ("nonce", m2["build_nonce"]) and fp2 != fp1


def test_fingerprint_falls_back_for_pre_nonce_manifests(spark, emb,
                                                        tmp_path):
    """A manifest committed before the nonce existed (or a caller
    without the dict in hand) still fingerprints — via the file-status
    fallback, one stat, no Spark job."""
    path = str(tmp_path / "idx")
    sim.write_sq8_index(emb, path)
    m = dict(sim._index_manifest(spark, path))
    m.pop("build_nonce", None)
    fp = sim._manifest_fingerprint(spark, path, int(m["version"]), m)
    assert fp[0] != "nonce" and len(fp) == 2
    # and passing no dict at all takes the same fallback
    assert fp == sim._manifest_fingerprint(spark, path,
                                           int(m["version"]))


# ---------------------------------------------------------------------------
# maintain_ivf_bq_index: the combined (bump_nprobe, bump_rerank) rung


def _three_cluster_corpus(spark, dim=64):
    """Three well-separated axis-pair direction groups, 8 vectors
    each — enough structure for write_ivf_bq_index(k=3) to commit a
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
    geometrically by test_r13.test_maintain_ivf_bq_bump_rerank_rung."""
    corpus = _three_cluster_corpus(spark).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfbq")
    sim.write_ivf_bq_index(corpus, path, k=3)
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
    out = sim.maintain_ivf_bq_index(spark, path, batch, corpus,
                                    nprobe=1,
                                    recall_floor_permille=950)
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


# ---------------------------------------------------------------------------
# batched recall probes == the retired per-query loop


def test_batched_min_recall_equals_per_query_loop(spark, emb,
                                                  tmp_path):
    """The maintainers' recall probe is now ONE batched serve + ONE
    batched exact top-k per rung (_batched_min_recall) instead of a
    driver loop of single-query plans.  Decisions cannot change
    because the numbers cannot: re-derive the probe value with the old
    loop shape (single-query serves + per-query exact limit-k) at
    several (k, nprobe) points and assert equality."""
    path = str(tmp_path / "idx")
    sim.write_ivf_sq8_index(emb, path, k=4)
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.orderBy("vec_id").limit(4).collect()]
    for k, np_ in ((10, 1), (10, 2), (5, 4)):
        batched = sim._batched_min_recall(
            spark, queries, emb, k,
            lambda qdf: sim.ivf_sq8_index_topk_batch(
                spark, path, qdf, emb, k=k, nprobe=np_))
        approx = exact = None
        for qid, qv in queries:
            a = sim.ivf_sq8_index_topk(
                spark, path, qv, emb, k=k, nprobe=np_).select(
                F.lit(qid).cast("long").alias("query_id"),
                F.col("neighbor_id"))
            qcol = F.array(*[F.lit(float(x)) for x in qv])
            e = (emb.select(
                    "vec_id",
                    F.round(sim.cosine(F.col("embedding"), qcol), 6)
                    .alias("cos_sim"))
                 .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
                 .limit(k)
                 .select(F.lit(qid).cast("long").alias("query_id"),
                         F.col("vec_id").alias("neighbor_id")))
            approx = a if approx is None else approx.unionByName(a)
            exact = e if exact is None else exact.unionByName(e)
        loop = int(sim.ann_recall(approx, exact)
                   .agg(F.min("recall_permille").alias("r"))
                   .collect()[0]["r"])
        assert batched == loop


# ---------------------------------------------------------------------------
# writer-path PQ trainer: one materialization, bit-identical books


def test_pq_books_trained_equals_loop_books(spark, emb):
    """The stored-PQ writers train via _pq_books_trained (all m chains
    in ONE job, degenerate guard applied after) — its codebook table
    must be BIT-identical to the in-flight trainer's books half (the
    integer milli-quantized centroid sums are order-independent, so
    this is an equality the plans must keep)."""
    m, k, dim = 4, 8, 64
    fused = sorted(
        (int(r["subspace"]), int(r["code"]),
         tuple(float(x) for x in r["centroid"]))
        for r in sim._pq_books_trained(emb, m, k, dim, 3).collect())
    books, _ = sim._pq_books_and_assignments(emb, m, k, dim, 3)
    loop = sorted(
        (int(r["subspace"]), int(r["code"]),
         tuple(float(x) for x in r["centroid"]))
        for r in books.collect())
    assert fused == loop


def test_pq_books_trained_pins_degenerate_subspace(spark):
    """An entirely-zero training subspace still gets its pinned zero
    codeword at code 0 (the m-wide byte-layout guard), now applied
    driver-side after the single materialization."""
    dim, m = 8, 4
    rows = [(i, [1.0 + 0.1 * i, 0.5] + [0.0] * (dim - 2))
            for i in range(12)]
    emb2 = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    got = {(int(r["subspace"]), int(r["code"])):
           [float(x) for x in r["centroid"]]
           for r in sim._pq_books_trained(emb2, m, 4, dim, 3).collect()}
    # subspaces 1-3 are all-zero -> exactly one pinned zero codeword
    for j in (1, 2, 3):
        assert got[(j, 0)] == [0.0, 0.0]
        assert not any(s == j and c != 0 for s, c in got)
    assert any(s == 0 for s, c in got)    # the real subspace trained


# ---------------------------------------------------------------------------
# streaming end-to-end: the BQ rerank bump reaches a live serving
# stream at the next micro-batch boundary


def test_stream_picks_up_bump_rerank_without_restart(spark, tmp_path):
    """The closed ops loop across the streaming surface: a streamed
    upsert records its decision row, the operator's
    maintain_ivf_bq_index lands on ``bump_rerank`` (the committed
    ``default_rerank_mult`` doubles), and a live ``stream_vector_search``
    serves the NEXT micro-batch at the committed depth with no stream
    restart and no caller threading — the manifest re-resolve per
    batch is the pickup point.  Before the bump the same query's batch
    missed the Hamming-blind true neighbors; after it they surface."""
    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (  # noqa: E501
        read_version,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (  # noqa: E501
        stream_vector_index_upsert,
        stream_vector_search,
    )
    from tests.test_r13 import _hamming_blind_bucket

    a = _hamming_blind_bucket(spark, n=120)
    b = _hamming_blind_bucket(spark, n=24, base=200).select(
        "vec_id",
        F.expr("transform(sequence(1, 64), i -> CASE WHEN i = 3 THEN "
               "element_at(embedding, 1) WHEN i = 4 THEN "
               "element_at(embedding, 2) ELSE 0.0D END)")
        .alias("embedding"))
    corpus = a.unionByName(b).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfbq")
    sim.write_ivf_bq_index(corpus, path, k=2)
    truth = {0, 116, 117, 118, 119}
    qvec = [1.0, 0.9] + [0.0] * 62

    # streamed upsert (a re-submit batch): one auditable decision row
    bsrc = str(tmp_path / "bsrc")
    corpus.orderBy("vec_id").limit(3).coalesce(1).write.parquet(bsrc)
    q = stream_vector_index_upsert(
        spark.readStream.schema("vec_id long, embedding "
                                "array<double>").parquet(bsrc),
        path, str(tmp_path / "ck_up"))
    q.awaitTermination(120)
    dec = read_version(spark, f"{path}/_state/decisions").collect()
    assert [(r["decision"], r["n_replaced"]) for r in dec] == \
        [("replaced", 3)]

    # serving stream, micro-batch 1: the untuned depth (8x over a
    # 144-row corpus at k=10 shortlists 80 Hamming-tied low ids) —
    # the true high-id neighbors are missed
    qsrc = str(tmp_path / "qsrc")
    results = str(tmp_path / "results")
    ck = str(tmp_path / "ck_serve")
    spark.createDataFrame([(1, qvec)],
                          "query_id long, embedding array<double>") \
        .coalesce(1).write.mode("append").parquet(qsrc)
    stream_vector_search(
        spark.readStream.schema("query_id long, embedding "
                                "array<double>").parquet(qsrc),
        path, corpus, results, ck, k=10).awaitTermination(120)
    before = {int(r["neighbor_id"]) for r in
              read_version(spark, results)
              .filter("query_id = 1").collect()}
    assert not truth.issubset(before)

    # the maintainer's rung: probing is maxed (cap=2), a BQ rebuild
    # cannot raise code resolution -> bump_rerank commits 2x depth
    out = sim.maintain_ivf_bq_index(
        spark, path, corpus.orderBy("vec_id").limit(3), corpus,
        recall_floor_permille=950)
    assert out["decision"] == "bump_rerank"
    assert out["rerank_mult"] == 2 * sim.BQ_RERANK_MULT

    # micro-batch 2, SAME stream config, no restart-side plumbing: the
    # committed operating point is re-resolved at the batch boundary
    spark.createDataFrame([(2, qvec)],
                          "query_id long, embedding array<double>") \
        .coalesce(1).write.mode("append").parquet(qsrc)
    stream_vector_search(
        spark.readStream.schema("query_id long, embedding "
                                "array<double>").parquet(qsrc),
        path, corpus, results, ck, k=10).awaitTermination(120)
    after = {int(r["neighbor_id"]) for r in
             read_version(spark, results)
             .filter("query_id = 2").collect()}
    assert truth.issubset(after)


# ---------------------------------------------------------------------------
# CLI --rerank-mults hardening


def test_parse_grid_shapes():
    assert _parse_grid(None) == (None, None)
    assert _parse_grid("1,2,4") == ((1, 2, 4), None)
    # empty grid on an IVF kind: legal (pins the second rung off)
    assert _parse_grid("", kind="ivf_sq8") == ((), None)
    # empty grid on a FLAT kind: the rerank grid is its ONLY ladder
    grid, err = _parse_grid("", kind="bq")
    assert grid is None and "only" in err and "bq" in err
    # non-numeric: refused with the input quoted, not a traceback
    grid, err = _parse_grid("8,x", kind="ivf_sq8")
    assert grid is None and "'8,x'" in err


def test_cli_tune_empty_grid_on_flat_kind_rc2(spark, emb, tmp_path,
                                              capsys):
    """An empty --rerank-mults against a flat index used to yield an
    empty curve and decision=target_unreachable (rc 3) — a recall miss
    that measured nothing.  Now rc 2 with the reason on stdout."""
    emb_p = str(tmp_path / "emb")
    emb.write.parquet(emb_p)
    idx = str(tmp_path / "idx")
    sim.write_sq8_index(emb, idx)
    rc = main(["vector-index", "tune", "--path", idx, "--emb", emb_p,
               "--rerank-mults", ""])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and "error" in st
    assert "sq8" in st["error"]


def test_cli_recall_curve_bad_grid_rc2(spark, emb, tmp_path, capsys):
    emb_p = str(tmp_path / "emb")
    emb.write.parquet(emb_p)
    idx = str(tmp_path / "idx")
    sim.write_sq8_index(emb, idx)
    rc = main(["vector-index", "recall-curve", "--path", idx,
               "--emb", emb_p, "--rerank-mults", "8,x"])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and "integers" in st["error"]


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
