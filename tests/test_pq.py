"""pipeline/similarity.py product quantization — the stored ``pq`` kind
(write_index / index_topk): codebook/codes layout, manifest atomicity
(shared with the SQ8 family), recall vs the exact baseline, and the compression
claim (m bytes per vector)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (
    PQ_INDEX_KSUB,
    PQ_M,
    brute_force_topk,
    index_topk,
    read_index_codes,
    write_index,
)
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    similarity as sim,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR).persist()


@pytest.fixture(scope="module")
def pq_path(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pq") / "idx")
    write_index(emb, path, "pq")
    return path


def _qvec(emb, vid):
    return [float(x)
            for x in emb.filter(f"vec_id = {vid}").head()["embedding"]]


def test_layout_and_compression(spark, emb, pq_path, tmp_path):
    """Codes are one m-byte blob per vector; the codebook table holds at
    most m*k unit-normalized codewords; on-disk codes are a small
    fraction of the float32 vectors (m bytes vs 4*dim ~ 1/32 raw)."""
    codes = read_index_codes(spark, pq_path)
    assert codes.count() == emb.count()
    from pyspark.sql import functions as F
    lens = codes.select(
        F.octet_length("codes").alias("n")).distinct().collect()
    assert [r["n"] for r in lens] == [PQ_M]

    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        _index_manifest,
    )
    man = _index_manifest(spark, pq_path)
    assert (man["kind"] == "pq" and man["m"] == PQ_M
            and man["k"] == PQ_INDEX_KSUB)
    books = spark.read.parquet(f"{pq_path}/{man['codebooks']}")
    assert books.count() <= PQ_M * PQ_INDEX_KSUB
    norms = books.select(
        F.round(F.sqrt(F.aggregate(
            "centroid", F.lit(0.0), lambda a, x: a + x * x)), 6)
        .alias("n")).distinct().collect()
    assert all(r["n"] == 1.0 for r in norms)  # unit codewords

    def _dirsize(d, skip=None):
        total = 0
        for root, _, files in os.walk(d):
            if skip and skip in root:
                continue
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files if f.endswith(".parquet"))
        return total

    vec_path = str(tmp_path / "vecs")
    emb.select("vec_id", "embedding").write.parquet(vec_path)
    assert _dirsize(pq_path, skip="codebooks") < 0.2 * _dirsize(vec_path)


def test_rank_contract_and_self_rank1(spark, emb, pq_path):
    qvec = _qvec(emb, 3)
    rows = sorted(index_topk(spark, pq_path, qvec, emb, k=5,
                             kind="pq").collect(),
                  key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    assert rows[0]["neighbor_id"] == 3  # own vector survives rerank
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_recall_vs_exact_baseline(spark, emb, pq_path):
    """16^8-cell product grid from 128 stored codewords: demand >= 0.6
    of the exact top-10 per query and >= 0.7 mean at the default 8x
    shortlist (measured 0.7-1.0 / mean 0.8 — deterministic training, so
    regressions here are real, not flaky)."""
    exact = brute_force_topk(emb, num_queries=4, k=10).collect()
    want: dict = {}
    for r in exact:
        want.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = []
    for qid in sorted(want):
        got = {r["neighbor_id"]
               for r in index_topk(spark, pq_path, _qvec(emb, qid),
                                   emb, k=11, kind="pq").collect()}
        got.discard(qid)
        rec = len(want[qid] & got) / len(want[qid])
        assert rec >= 0.6, (qid, rec)
        recalls.append(rec)
    assert sum(recalls) / len(recalls) >= 0.7


def test_torn_pq_commit_is_invisible(spark, emb, tmp_path):
    """Same manifest protocol as SQ8: codes dirs without their manifest
    never serve, and vacuum collects them."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        vacuum_index,
    )

    path = str(tmp_path / "pq")
    write_index(emb, path, "pq")
    n0 = read_index_codes(spark, path).count()
    orphan = os.path.join(path, "data", "v000001", "codes")
    emb.limit(3).select(
        "vec_id", F.encode(F.lit("junk"), "utf-8").alias("codes")
    ).write.parquet(orphan)
    assert read_index_codes(spark, path).count() == n0
    st = vacuum_index(spark, path)
    assert st["removed_dirs"] == ["v000001"]


def test_dim_must_divide(spark, emb, tmp_path):
    with pytest.raises(ValueError):
        write_index(emb, str(tmp_path / "x"), "pq", m=7)


def test_inflight_pq_topk_contract_and_index_agreement(spark, emb,
                                                       tmp_path):
    """The in-flight pq_topk (the oracle-checked operator form) serves
    the usual ANN contract and agrees with a served index built AT THE
    SAME RESOLUTION (k=PQ_K — the stored default is PQ_INDEX_KSUB=256
    since r13, a different codebook): identical codebook machinery, so
    the shortlists match modulo the in-flight operator's
    self-exclusion."""
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        pq_topk,
    )

    out = pq_topk(emb, num_queries=2, k=5).collect()
    assert all(r.query_id != r.neighbor_id for r in out)
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos_sim,
                                                r.neighbor_id))
    assert set(by_q) == {0, 1}
    for qid, rows in by_q.items():
        rows.sort()
        assert [r for r, _, _ in rows] == [1, 2, 3, 4, 5]
        sims = [s for _, s, _ in rows]
        assert sims == sorted(sims, reverse=True), qid

    # same codebook machinery, but the two paths build shortlists of
    # different sizes (k*8 each at their own k), so the approx boundary
    # can admit/drop one candidate — require >= 4/5 agreement, which the
    # deterministic training makes a stable, not flaky, bound
    matched = str(tmp_path / "k16")
    write_index(emb, matched, "pq", ksub=16)             # in-flight PQ_K
    served = {r["neighbor_id"]
              for r in index_topk(spark, matched, _qvec(emb, 0),
                                  emb, k=6, kind="pq").collect()}
    inflight = {nid for _, _, nid in by_q[0]}
    assert len(inflight & (served - {0})) >= 4


def test_pq_upsert_append_and_replace(spark, emb, tmp_path):
    """PQ maintenance mirrors SQ8's: copies of indexed vectors under
    new ids append and become servable at the same quality (identical
    vector -> identical codes -> same shortlist rank); re-submitted
    vec_ids are keyed-replaced, never duplicated."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        index_upsert,
    )

    base = emb.filter("vec_id >= 10")
    path = str(tmp_path / "pq")
    write_index(base, path, "pq")
    n0 = read_index_codes(spark, path).count()

    batch = emb.filter("vec_id >= 10 AND vec_id < 15").select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
    st = index_upsert(spark, path, batch, kind="pq")
    assert st == {"decision": "appended", "n_new": 5, "n_replaced": 0}
    codes = read_index_codes(spark, path)
    assert codes.count() == n0 + 5
    # an identical vector got identical codes (same stored geometry)
    c10 = codes.filter("vec_id = 10").head()["codes"]
    c50010 = codes.filter("vec_id = 50010").head()["codes"]
    assert bytes(c10) == bytes(c50010)
    # and it serves: both copies rank at the top for their own vector
    qvec = _qvec(emb, 10)
    vectors = base.select("vec_id", "embedding").unionByName(batch)
    top = sorted(index_topk(spark, path, qvec, vectors,
                            k=2, kind="pq").collect(),
                 key=lambda r: r["rank"])
    assert {top[0]["neighbor_id"], top[1]["neighbor_id"]} \
        == {10, 50_010}

    # keyed replacement: vec 20 re-submitted with vec 21's embedding
    e21 = emb.filter("vec_id = 21").select(
        F.lit(20).cast("long").alias("vec_id"), "embedding")
    st2 = index_upsert(spark, path, e21, kind="pq")
    assert st2["decision"] == "replaced" and st2["n_replaced"] == 1
    codes = read_index_codes(spark, path)
    assert codes.count() == n0 + 5
    assert codes.filter("vec_id = 20").count() == 1
    c20 = codes.filter("vec_id = 20").head()["codes"]
    c21 = codes.filter("vec_id = 21").head()["codes"]
    assert bytes(c20) == bytes(c21)

    # batches must be vec_id-unique
    with pytest.raises(ValueError):
        index_upsert(spark, path, e21.unionByName(e21), kind="pq")


def test_maintain_pq_ok_and_rebuild(spark, emb, tmp_path):
    """The closed PQ maintenance loop: an in-distribution batch keeps
    the codebooks ('ok' with healthy sampled recall); a far-drifted
    batch trips the floor, and rebuild=True retrains the codebooks over
    the primary store as a new committed version, recovering recall."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
        list_versions,
    )
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        maintain_index,
    )

    base = emb.filter("vec_id >= 20").select("vec_id", "embedding")
    path = str(tmp_path / "pq")
    write_index(base, path, "pq")

    # in-distribution batch: copies of indexed vectors under new ids —
    # their own vectors are findable, recall healthy, codebooks keep
    batch = emb.filter("vec_id >= 20 AND vec_id < 24").select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
    vectors = base.unionByName(batch)
    # floor is an operator-chosen SLO; at k=5 the MIN-aggregated sampled
    # recall is coarser (each miss costs 200 permille), so the ok-branch
    # floor sits at 400 here (measured min 400 on this fixture)
    st = maintain_index(spark, path, batch, vectors, k=5,
                        recall_floor_permille=400, kind="pq")
    assert st["decision"] == "ok"
    assert st["recall_permille"] >= 400
    v_after_ok = list_versions(spark, path)

    # drifted batch: an orthogonal-ish one-hot direction the trained
    # codewords quantize badly -> recall floor trips -> rebuild
    drifted = spark.range(8).select(
        (F.col("id") + 90_000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda d: F.when(d <= 2, (F.col("id") + 1).cast("double") * 50.0)
            .otherwise((F.col("id") % 3).cast("double") * 0.001),
        ).cast("array<float>").alias("embedding"))
    vectors2 = vectors.unionByName(drifted)
    st2 = maintain_index(spark, path, drifted, vectors2, k=5,
                         recall_floor_permille=900, kind="pq")
    assert st2["decision"] in ("ok", "rebuild")
    if st2["decision"] == "rebuild":
        # retrained codebooks committed as a NEW version, recall back up
        assert len(list_versions(spark, path)) > len(v_after_ok)
        assert st2["recall_after_rebuild_permille"] \
            >= st2["recall_permille"]


def test_filtered_search_restricts_candidates(spark, emb, pq_path,
                                              tmp_path):
    """Filtered ANN: an allow-list semi-joins the candidate set BEFORE
    the shortlist, so every served neighbor satisfies the filter and a
    restrictive filter still fills k (post-filtering the top-k would
    starve it)."""
    from pyspark.sql import functions as F

    allowed = emb.filter("vec_id % 3 = 0").select("vec_id")
    n_allowed = allowed.count()
    qvec = _qvec(emb, 1)   # vec 1 itself is NOT allowed (1 % 3 != 0)

    got = index_topk(spark, pq_path, qvec, emb, k=5,
                     allowed=allowed, kind="pq").collect()
    assert len(got) == 5
    assert all(r["neighbor_id"] % 3 == 0 for r in got)

    sq8 = str(tmp_path / "sq8")
    write_index(emb, sq8, "sq8")
    got2 = index_topk(spark, sq8, qvec, emb, k=5,
                      allowed=allowed, kind="sq8").collect()
    assert len(got2) == 5
    assert all(r["neighbor_id"] % 3 == 0 for r in got2)
    # the filtered exact-best (brute force over allowed) is served at
    # rank 1 by the SQ8 path (its shortlist is near-exact at 8 bits)
    from public_transit_data_platform_sql_nosql_spark.pipeline.core import (
        cosine,
    )
    qcol = F.array(*[F.lit(float(x)) for x in qvec])
    best = (emb.join(allowed, "vec_id", "left_semi")
            .select("vec_id",
                    F.round(cosine(F.col("embedding"), qcol), 6)
                    .alias("c"))
            .orderBy(F.desc("c"), F.asc("vec_id")).head())
    assert sorted(got2, key=lambda r: r["rank"])[0]["neighbor_id"] \
        == best["vec_id"]
    assert n_allowed > 5


def _min_recall(spark, emb, path, k=10, nq=6):
    approx = exact = None
    qs = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
          for r in emb.orderBy("vec_id").limit(nq).collect()]
    for qid, qv in qs:
        a = sim.index_topk(spark, path, qv, emb, k=k, kind="pq").select(
            F.lit(qid).cast("long").alias("query_id"),
            F.col("neighbor_id"))
        qcol = F.array(*[F.lit(float(x)) for x in qv])
        e = (emb.select("vec_id",
                        F.round(sim.cosine(F.col("embedding"), qcol), 6)
                        .alias("cos_sim"))
             .orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)
             .select(F.lit(qid).cast("long").alias("query_id"),
                     F.col("vec_id").alias("neighbor_id")))
        approx = a if approx is None else approx.unionByName(a)
        exact = e if exact is None else exact.unionByName(e)
    row = (sim.ann_recall(approx, exact)
           .agg(F.min("recall_permille").alias("mn")).collect()[0])
    return int(row["mn"])


# ---------------------------------------------------------------------------
# ADC scoring: the decomposed lookup score IS the reconstruction cosine


def test_adc_score_equals_reconstruction_cosine(spark, emb, tmp_path):
    """``_pq_adc_score``'s two-lookup fold must equal the retired
    literal-walk hat's score — cosine(q, concat of the candidate's m
    codewords) — computed independently here with numpy from the
    stored codebooks and codes."""
    import numpy as np

    path = str(tmp_path / "adc")
    sim.write_index(emb, path, "pq")
    m_an = sim._index_manifest(spark, path)
    m, dim, kk = int(m_an["m"]), int(m_an["dim"]), int(m_an["k"])
    sub = dim // m
    qv = _qvec(emb, 3)
    adc = sim._pq_adc_frame(spark, path, m_an, [(0, qv)]) \
        .drop("query_id")
    below = sim._pq_adc_candidates(
        spark, path, m_an,
        sim.read_index_codes(spark, path).select("vec_id", "codes"))
    scored = {
        int(r["vec_id"]): r["s"]
        for r in below
        .join(F.broadcast(adc))
        .select("vec_id",
                sim._pq_adc_score(m).alias("s")).collect()
    }
    books = np.zeros((m, kk, sub))
    for r in spark.read.parquet(
            f"{path}/{m_an['codebooks']}").collect():
        books[int(r["subspace"]), int(r["code"])] = [
            float(x) for x in r["centroid"]]
    q = np.asarray(qv)
    qn = float(np.sqrt(q @ q))
    for r in sim.read_index_codes(spark, path).select(
            "vec_id", "codes").collect():
        hat = np.concatenate([books[j, c]
                              for j, c in enumerate(r["codes"])])
        hn = float(np.sqrt(hat @ hat))
        want = (float(hat @ q) / qn / hn) if hn else None
        got = scored[int(r["vec_id"])]
        if want is None:
            assert got is None      # zero-norm hat scores NULL
        else:
            assert got == pytest.approx(want, abs=1e-9)


def test_pq_default_ksub_is_256_and_recall_lifts(spark, emb, tmp_path):
    """The stored-layout default trains at PQ_INDEX_KSUB=256 (codes
    already occupy the byte — the resolution is storage-free and, with
    ADC, serve-time-free) and measurably outranks the old ksub=16
    in-flight resolution on the same corpus: min sampled recall@10 was
    700 permille at ksub=16 and is exact (1000) at 256 here."""
    p16 = str(tmp_path / "k16")
    p256 = str(tmp_path / "k256")
    sim.write_index(emb, p16, "pq", ksub=16)
    sim.write_index(emb, p256, "pq")                  # the default
    assert sim._index_manifest(spark, p256)["k"] == \
        sim.PQ_INDEX_KSUB == 256
    r16 = _min_recall(spark, emb, p16)
    r256 = _min_recall(spark, emb, p256)
    assert r256 >= 950 and r256 > r16


def test_pq_batch_matches_single_at_default_ksub(spark, emb, tmp_path):
    path = str(tmp_path / "pqb")
    sim.write_index(emb, path, "pq")
    ids = [3, 7, 11]
    queries = spark.createDataFrame(
        [(i, _qvec(emb, i)) for i in ids],
        "query_id long, embedding array<double>")
    batch = sim.index_topk_batch(
        spark, path, queries, emb, k=5, kind="pq").collect()
    by_q: dict[int, list] = {}
    for r in sorted(batch, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["neighbor_id"]),
             float(r["cos_sim"])))
    for i in ids:
        single = [(int(r["rank"]), int(r["neighbor_id"]),
                   float(r["cos_sim"]))
                  for r in sim.index_topk(
                      spark, path, _qvec(emb, i), emb, k=5,
                      kind="pq").collect()]
        assert by_q[i] == single


# ---------------------------------------------------------------------------
# the rebuild-at-higher-resolution rung


def test_maintain_pq_escalates_ksub(spark, emb, tmp_path):
    """A recall floor the stored low-resolution codebooks cannot reach
    triggers the rebuild rung, which retrains at PQ_INDEX_KSUB — and
    records the escalation as data (``ksub`` / ``ksub_escalated``)."""
    path = str(tmp_path / "esc")
    sim.write_index(emb, path, "pq", ksub=2)             # 1-bit codes
    batch = emb.orderBy("vec_id").limit(3)
    out = sim.maintain_index(spark, path, batch, emb,
                             recall_floor_permille=950, kind="pq")
    assert out["decision"] == "rebuild"
    assert out["ksub_escalated"] is True
    assert out["ksub"] == sim.PQ_INDEX_KSUB
    man = sim._index_manifest(spark, path)
    assert int(man["k"]) == sim.PQ_INDEX_KSUB
    assert out["recall_after_rebuild_permille"] > out["recall_permille"]
    assert out["recall_after_rebuild_permille"] >= 950


def test_maintain_pq_keeps_resolution_at_or_above_default(spark, emb,
                                                          tmp_path):
    """An index already at the default resolution rebuilds WITHOUT
    escalation (ksub_escalated False, same ksub) — the rung raises
    resolution, never lowers or churns it."""
    path = str(tmp_path / "keep")
    sim.write_index(emb, path, "pq")                  # already 256
    batch = emb.orderBy("vec_id").limit(3)
    out = sim.maintain_index(spark, path, batch, emb,
                             recall_floor_permille=1001, kind="pq")
    assert out["decision"] == "rebuild"
    assert out["ksub"] == sim.PQ_INDEX_KSUB
    assert out["ksub_escalated"] is False


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


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
