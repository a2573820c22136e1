"""The stored vector-index core (pipeline/similarity.py): one
write / serve / batch-serve / upsert / maintain path over the
codec x partition-layer registry.  Covers kind-true upserts and the
operating-point carry, manifest-resolved dim, filtered search with
adaptive probe widening, dangling-manifest detection, vacuum
retention, sampled training, the maintenance ladders' primary-store
contract, and batch == single-query serving for every kind."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
    list_versions,
)
from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (
    INDEX_KINDS,
    IndexCorruptError,
    _index_manifest,
    _persist_operating_point,
    _train_sample,
    index_stats,
    index_topk,
    index_topk_batch,
    index_upsert,
    read_index_codes,
    vacuum_index,
    write_index,
)
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    similarity as sim,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR)


def _qvec(emb, vid):
    return [float(x)
            for x in emb.filter(f"vec_id = {vid}").head()["embedding"]]


def test_ivf_sq8_upsert_appends_partitioned_and_serves(spark, emb,
                                                       tmp_path):
    """The kind-true ivf_sq8 upsert: an all-new batch is assigned
    against the STORED centroids and appended as a cluster-partitioned
    codes dir; the manifest keeps kind/centroids/quantizer; probed
    reads still partition-prune; the upserted vectors are served."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.plans import (
        executed_plan,
    )

    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    path = str(tmp_path / "ivfsq8")
    write_index(base, path, "ivf_sq8")
    n0 = read_index_codes(spark, path).count()

    batch = emb.filter("vec_id >= 10 AND vec_id < 18").select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
    st = index_upsert(spark, path, batch, kind="ivf_sq8")
    assert st["decision"] == "appended" and st["n_new"] == 8
    assert st["n_replaced"] == 0 and st["drifted_dims"] == []

    m = _index_manifest(spark, path)
    assert m["kind"] == "ivf_sq8"
    assert "centroids" in m and "quantizer" in m
    assert len(m["codes"]) == 2            # original dir + appended dir

    codes = read_index_codes(spark, path)
    assert codes.count() == n0 + 8
    # the appended dir is cluster-partitioned: every row has cluster_id
    assert "cluster_id" in codes.columns
    assert codes.filter("cluster_id IS NULL").count() == 0

    # probed serving still partition-prunes across BOTH referenced dirs
    qvec = _qvec(emb, 10)
    plan = executed_plan(
        index_topk(spark, path, qvec, emb, k=3, nprobe=1, kind="ivf_sq8"))
    assert "PartitionFilters" in plan

    # the upserted copy of vec 10 is served at cos_sim 1.0
    vectors = base.unionByName(batch)
    top = sorted(
        index_topk(spark, path, qvec, vectors, k=3, kind="ivf_sq8").collect(),
        key=lambda r: r["rank"])
    assert {top[0]["neighbor_id"], top[1]["neighbor_id"]} \
        == {10, 50_010}
    assert top[0]["cos_sim"] == top[1]["cos_sim"] == 1.0


def test_ivf_sq8_upsert_replace_and_drift(spark, emb, tmp_path):
    """Re-submitted vec_ids are keyed-replaced into ONE fresh
    partitioned dir; a drifted batch writes nothing and the previous
    version stays fully readable."""
    from pyspark.sql import functions as F

    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    path = str(tmp_path / "ivfsq8")
    write_index(base, path, "ivf_sq8")
    n0 = read_index_codes(spark, path).count()

    # vec 20 re-submitted carrying vec 21's embedding
    batch = emb.filter("vec_id = 21").select(
        F.lit(20).cast("long").alias("vec_id"), "embedding")
    st = index_upsert(spark, path, batch, kind="ivf_sq8")
    assert st["decision"] == "replaced" and st["n_replaced"] == 1
    m = _index_manifest(spark, path)
    assert m["kind"] == "ivf_sq8" and len(m["codes"]) == 1
    codes = read_index_codes(spark, path)
    assert codes.count() == n0
    assert codes.filter("vec_id = 20").count() == 1

    # replacement is servable: vec 20 answers for vec 21's vector
    vectors = base.filter("vec_id != 20").unionByName(batch)
    qvec = _qvec(emb, 21)
    top = sorted(
        index_topk(spark, path, qvec, vectors, k=2, kind="ivf_sq8").collect(),
        key=lambda r: r["rank"])
    assert 20 in {t["neighbor_id"] for t in top}

    # 100x-scaled batch: rebuild decision, nothing written
    wild = emb.filter("vec_id < 2").select(
        (F.col("vec_id") + 90_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(100.0))
        .alias("embedding"))
    v_before = list_versions(spark, path)
    st2 = index_upsert(spark, path, wild, kind="ivf_sq8")
    assert st2["decision"] == "rebuild" and st2["drifted_dims"]
    assert list_versions(spark, path) == v_before


def test_upsert_kind_guards_refuse_foreign_layouts(spark, emb,
                                                   tmp_path):
    """Every maintainer refuses a foreign kind with NOTHING written —
    the r9 hole where the sq8 upsert silently committed a kind-"sq8"
    manifest (dropping centroids) over an ivf_sq8 index is closed."""
    from pyspark.sql import functions as F

    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    ivf = str(tmp_path / "ivfsq8")
    write_index(base, ivf, "ivf_sq8")
    flat = str(tmp_path / "sq8")
    write_index(base, flat, "sq8")

    batch = emb.filter("vec_id < 3").select(
        (F.col("vec_id") + 70_000).alias("vec_id"), "embedding")

    st = index_upsert(spark, ivf, batch, kind="sq8")
    assert st == {"decision": "wrong_kind", "kind": "ivf_sq8",
                  "expected": "sq8"}
    m = _index_manifest(spark, ivf)
    assert m["kind"] == "ivf_sq8" and "centroids" in m
    assert len(list_versions(spark, ivf)) == 1   # nothing committed

    assert index_upsert(spark, ivf, batch, kind="pq")["decision"] \
        == "wrong_kind"
    assert index_upsert(spark, flat, batch, kind="ivf_sq8")["decision"] \
        == "wrong_kind"
    assert index_upsert(spark, flat, batch, kind="pq")["decision"] \
        == "wrong_kind"
    assert len(list_versions(spark, flat)) == 1


def test_ivf_sq8_filtered_search(spark, emb, tmp_path):
    """Filtered ANN on the composed layout: every served neighbor
    satisfies the allow-list, a restrictive filter still fills k, and
    the filtered exact-best is served at rank 1."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.pipeline.core import (  # noqa: E501
        cosine,
    )

    path = str(tmp_path / "ivfsq8")
    write_index(emb, path, "ivf_sq8")
    allowed = emb.filter("vec_id % 3 = 0").select("vec_id")
    qvec = _qvec(emb, 1)   # vec 1 itself is NOT allowed

    got = index_topk(spark, path, qvec, emb, k=5,
                     allowed=allowed, kind="ivf_sq8").collect()
    assert len(got) == 5
    assert all(r["neighbor_id"] % 3 == 0 for r in got)

    qcol = F.array(*[F.lit(float(x)) for x in qvec])
    best = (emb.join(allowed, "vec_id", "left_semi")
            .select("vec_id",
                    F.round(cosine(F.col("embedding"), qcol), 6)
                    .alias("c"))
            .orderBy(F.desc("c"), F.asc("vec_id")).head())
    assert sorted(got, key=lambda r: r["rank"])[0]["neighbor_id"] \
        == best["vec_id"]


def test_ivf_sq8_filtered_search_widens_probes(spark, emb, tmp_path):
    """The layout-specific starvation case: when every allowed vector
    lives OUTSIDE the default probed clusters, the probe set widens
    until the shortlist can fill k — a fixed nprobe=1 would return
    nothing."""
    path = str(tmp_path / "ivfsq8")
    write_index(emb, path, "ivf_sq8")
    qvec = _qvec(emb, 0)

    # which cluster does the default probe pick for this query?
    top_unfiltered = index_topk(
        spark, path, qvec, emb, k=10, nprobe=1, kind="ivf_sq8").collect()
    probed_ids = {r["neighbor_id"] for r in top_unfiltered}
    codes = read_index_codes(spark, path)
    probed_cluster = (codes.filter(
        codes.vec_id.isin(*[int(i) for i in probed_ids]))
        .select("cluster_id").distinct().collect())
    probed_set = {r["cluster_id"] for r in probed_cluster}

    # allow ONLY vectors from other clusters
    allowed = (codes.filter(
        ~codes.cluster_id.isin(*[int(c) for c in probed_set]))
        .select("vec_id"))
    n_allowed = allowed.count()
    assert n_allowed >= 5   # the fixture has >1 cluster

    got = index_topk(spark, path, qvec, emb, k=5, nprobe=1,
                     allowed=allowed, kind="ivf_sq8").collect()
    assert len(got) == 5
    allowed_ids = {r["vec_id"] for r in allowed.collect()}
    assert all(r["neighbor_id"] in allowed_ids for r in got)


def test_dim_resolved_from_manifest(spark, emb, tmp_path):
    """An index built at a non-default dim serves correctly with NO
    dim argument (the manifest is authoritative); a contradicting
    caller dim raises instead of silently nulling the scores."""
    path = str(tmp_path / "sq8_32")
    write_index(emb, path, "sq8", dim=32)
    qvec = _qvec(emb, 0)[:32]
    vecs32 = emb.selectExpr("vec_id",
                            "slice(embedding, 1, 32) AS embedding")

    top = sorted(index_topk(spark, path, qvec, vecs32, k=3, kind="sq8")
                 .collect(), key=lambda r: r["rank"])
    assert top[0]["neighbor_id"] == 0 and top[0]["cos_sim"] == 1.0

    with pytest.raises(ValueError, match="dim=32"):
        index_topk(spark, path, qvec, vecs32, k=3, dim=64, kind="sq8")
    with pytest.raises(ValueError, match="dim=32"):
        index_upsert(spark, path, vecs32.limit(1), dim=64, kind="sq8")


def test_vacuum_keep_last_floor(spark, emb, tmp_path):
    """vacuum_index(keep_last=0) would delete every data dir AND every
    manifest — it must refuse instead of destroying the index."""
    path = str(tmp_path / "sq8")
    write_index(emb, path, "sq8")
    with pytest.raises(ValueError, match="keep_last"):
        vacuum_index(spark, path, keep_last=0)
    assert list_versions(spark, path) == [0]   # untouched


def _index_recall_permille(spark, emb, serve, k=10, n_queries=4):
    """MIN sampled recall (permille) of a serving callable vs brute
    force over the corpus."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.pipeline.core import (  # noqa: E501
        cosine,
    )
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        ann_recall,
    )

    approx = exact = None
    for qid in range(n_queries):
        qvec = _qvec(emb, qid)
        a = serve(qvec).select(
            F.lit(qid).cast("long").alias("query_id"),
            F.col("neighbor_id"))
        qcol = F.array(*[F.lit(float(x)) for x in qvec])
        e = (emb.select(
                "vec_id",
                F.round(cosine(F.col("embedding"), qcol), 6)
                .alias("c"))
             .orderBy(F.desc("c"), F.asc("vec_id")).limit(k)
             .select(F.lit(qid).cast("long").alias("query_id"),
                     F.col("vec_id").alias("neighbor_id")))
        approx = a if approx is None else approx.unionByName(a)
        exact = e if exact is None else exact.unionByName(e)
    row = (ann_recall(approx, exact)
           .agg(F.min("recall_permille").alias("r")).collect()[0])
    return int(row["r"])


def test_sampled_training_preserves_recall(spark, emb, tmp_path):
    """train_fraction decouples centroid/codebook training cost from
    corpus size: at 0.25 the sampled-trained IVF-SQ8 and PQ indexes
    stay within a few recall points of their full-corpus twins (the
    distribution, not the row count, is what the chains learn), and
    every vector is still encoded/assigned."""
    full = str(tmp_path / "full")
    samp = str(tmp_path / "samp")
    write_index(emb, full, "ivf_sq8")
    write_index(emb, samp, "ivf_sq8", train_fraction=0.25)
    n = emb.count()
    assert read_index_codes(spark, samp).count() == n  # all encoded

    r_full = _index_recall_permille(
        spark, emb,
        lambda q: index_topk(spark, full, q, emb, k=10,
                             nprobe=2, kind="ivf_sq8"))
    r_samp = _index_recall_permille(
        spark, emb,
        lambda q: index_topk(spark, samp, q, emb, k=10,
                             nprobe=2, kind="ivf_sq8"))
    assert r_samp >= r_full - 200, (r_samp, r_full)

    pq_full = str(tmp_path / "pq_full")
    pq_samp = str(tmp_path / "pq_samp")
    write_index(emb, pq_full, "pq")
    write_index(emb, pq_samp, "pq", train_fraction=0.25)
    assert read_index_codes(spark, pq_samp).count() == n
    p_full = _index_recall_permille(
        spark, emb,
        lambda q: index_topk(spark, pq_full, q, emb, k=10, kind="pq"))
    p_samp = _index_recall_permille(
        spark, emb,
        lambda q: index_topk(spark, pq_samp, q, emb, k=10, kind="pq"))
    assert p_samp >= p_full - 200, (p_samp, p_full)

    with pytest.raises(ValueError, match="train_fraction"):
        write_index(emb, str(tmp_path / "bad"), "ivf_sq8",
                    train_fraction=0.0)


def test_maintain_pq_requires_postmerge_store(spark, emb, tmp_path):
    """maintain_index on a pq index refuses a pre-merge primary store:
    the probe and any rebuild read `vectors` as ground truth, so a store
    missing the batch would skew recall and drop the batch from a
    rebuild."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        maintain_index,
    )

    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    path = str(tmp_path / "pq")
    write_index(base, path, "pq")
    batch = emb.filter("vec_id < 4").select(
        (F.col("vec_id") + 60_000).alias("vec_id"), "embedding")
    with pytest.raises(ValueError, match="POST-merge"):
        maintain_index(spark, path, batch, base, kind="pq")   # pre-merge store
    assert len(list_versions(spark, path)) == 1       # nothing written
    # the merged store satisfies the contract
    st = maintain_index(spark, path, batch,
                        base.unionByName(batch), kind="pq")
    assert st["decision"] in ("ok", "rebuild")


def test_maintain_ivf_sq8_closed_loop(spark, emb, tmp_path):
    """The flagship layout's maintenance ladder: an in-distribution
    batch lands and recall clears the floor (ok / bump_nprobe); a
    drifted batch routes to rebuild — centroids AND quantizer retrain
    over the primary store as a new committed version and the batch is
    then servable; the primary-store contract raises on a pre-merge
    store."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        maintain_index,
    )

    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    path = str(tmp_path / "ivfsq8")
    write_index(base, path, "ivf_sq8")

    batch = emb.filter("vec_id >= 10 AND vec_id < 14").select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
    with pytest.raises(ValueError, match="POST-merge"):
        maintain_index(spark, path, batch, base, kind="ivf_sq8")

    merged = base.unionByName(batch)
    st = maintain_index(spark, path, batch, merged, k=5,
                        recall_floor_permille=400, kind="ivf_sq8")
    assert st["decision"] in ("ok", "bump_nprobe")
    assert st["recall_permille"] >= 400 or \
        st.get("recall_after_bump_permille", 0) >= 400

    # drifted batch: upsert refuses, the loop rebuilds BOTH artifacts
    wild = emb.filter("vec_id < 3").select(
        (F.col("vec_id") + 90_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(100.0))
        .alias("embedding"))
    merged2 = merged.unionByName(wild)
    v_before = len(list_versions(spark, path))
    st2 = maintain_index(spark, path, wild, merged2, k=5,
                         recall_floor_permille=400, kind="ivf_sq8")
    assert st2["decision"] == "rebuild" and st2["drifted_dims"]
    assert "recall_after_rebuild_permille" in st2
    assert len(list_versions(spark, path)) == v_before + 1
    m = _index_manifest(spark, path)
    assert m["kind"] == "ivf_sq8"
    # the rebuilt index serves the drifted vector
    qvec = [float(x) for x in
            wild.filter("vec_id = 90000").head()["embedding"]]
    top = sorted(index_topk(spark, path, qvec, merged2,
                            k=2, kind="ivf_sq8").collect(),
                 key=lambda r: r["rank"])
    assert top[0]["neighbor_id"] == 90_000


def test_ivf_filtered_search(spark, emb, tmp_path):
    """allowed= on the full-precision ivf kind: same semi-join +
    adaptive-widening contract as the quantized IVF kinds, so the whole
    serving API takes metadata filters uniformly."""
    path = str(tmp_path / "ivf")
    write_index(emb, path, "ivf")
    allowed = emb.filter("vec_id % 3 = 0").select("vec_id")
    qvec = _qvec(emb, 1)      # vec 1 itself is NOT allowed

    got = index_topk(spark, path, qvec, emb, k=5, nprobe=1,
                     allowed=allowed, kind="ivf").collect()
    assert len(got) == 5
    assert all(r["neighbor_id"] % 3 == 0 for r in got)


def test_train_fraction_range_validated_first(spark, emb):
    """A typo like 25 (meant 0.25) or 1.5 must raise, not silently
    train on the full corpus — the range check runs BEFORE the
    full-corpus fast path."""
    for bad in (25, 1.5, 0.0, -0.25):
        with pytest.raises(ValueError, match="train_fraction"):
            _train_sample(emb, bad)
    assert _train_sample(emb, 1.0) is emb          # fast path intact
    n = emb.count()
    assert 0 < _train_sample(emb, 0.5).count() < n


def test_filtered_widening_terminates_nprobe_zero(spark, emb, tmp_path):
    """nprobe <= 0 with allowed= must terminate (the doubling step is
    floored at +1), on the quantized and full-precision IVF kinds — and
    still fill k."""
    allowed = emb.filter("vec_id % 3 = 0").select("vec_id")
    qvec = _qvec(emb, 1)

    path = str(tmp_path / "ivfsq8")
    write_index(emb, path, "ivf_sq8")
    got = index_topk(spark, path, qvec, emb, k=5, nprobe=0,
                     allowed=allowed, kind="ivf_sq8").collect()
    assert len(got) == 5
    assert all(r["neighbor_id"] % 3 == 0 for r in got)

    full = str(tmp_path / "ivf")
    write_index(emb, full, "ivf")
    got2 = index_topk(spark, full, qvec, emb, k=5, nprobe=0,
                      allowed=allowed, kind="ivf").collect()
    assert len(got2) == 5
    assert all(r["neighbor_id"] % 3 == 0 for r in got2)


def test_batch_filtered_widening_matches_single_query(spark, emb,
                                                      tmp_path):
    """The batch twin of the r10 starvation test: every allowed vector
    lives OUTSIDE the default probed clusters, so a fixed nprobe=1
    would starve the whole batch — per-query widening fills k for
    every query and reproduces the single-query path's rows exactly
    (identical widening sequence → identical candidate sets)."""
    path = str(tmp_path / "ivfsq8")
    write_index(emb, path, "ivf_sq8")
    queries = emb.filter("vec_id < 3").select(
        emb.vec_id.alias("query_id"), "embedding")

    # clusters the UNFILTERED nprobe=1 probe would pick, per query
    codes = read_index_codes(spark, path)
    probed_set = set()
    for qid in range(3):
        ids = {r["neighbor_id"] for r in index_topk(
            spark, path, _qvec(emb, qid), emb, k=10, nprobe=1,
            kind="ivf_sq8").collect()}
        probed_set |= {r["cluster_id"] for r in codes.filter(
            codes.vec_id.isin(*[int(i) for i in ids]))
            .select("cluster_id").distinct().collect()}
    allowed = (codes.filter(
        ~codes.cluster_id.isin(*[int(c) for c in probed_set]))
        .select("vec_id"))
    assert allowed.count() >= 5

    got = {}
    for r in index_topk_batch(spark, path, queries, emb, k=5,
                              nprobe=1,
                              allowed=allowed, kind="ivf_sq8").collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["cos_sim"]))
    assert set(got) == {0, 1, 2}
    allowed_ids = {r["vec_id"] for r in allowed.collect()}
    for qid in range(3):
        assert len(got[qid]) == 5
        assert all(n in allowed_ids for _, n, _ in got[qid])
        single = sorted(
            (r["rank"], r["neighbor_id"], r["cos_sim"])
            for r in index_topk(
                spark, path, _qvec(emb, qid), emb, k=5, nprobe=1,
                allowed=allowed, kind="ivf_sq8").collect())
        assert sorted(got[qid]) == single, qid


def test_index_upsert_reclaims_orphan_dir(spark, emb, tmp_path):
    """Same crash protocol for the index writers: an orphan data/v<N>
    from a torn upsert is reclaimed by the replayed upsert."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "sq8")
    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    write_index(base, path, "sq8")
    # torn previous upsert: codes landed, manifest did not
    spark.range(5).select(
        F.col("id").alias("vec_id"),
        F.lit(b"junk").alias("codes")).write.parquet(
        f"{path}/data/v000001/codes")

    batch = emb.filter("vec_id < 3").select(
        (F.col("vec_id") + 70_000).alias("vec_id"), "embedding")
    st = index_upsert(spark, path, batch, kind="sq8")
    assert st["decision"] == "appended" and st["n_new"] == 3
    codes = read_index_codes(spark, path)
    assert codes.count() == base.count() + 3
    assert codes.filter("vec_id >= 70000").count() == 3
    assert codes.filter("vec_id < 10").count() == 0   # no junk rows


@pytest.mark.parametrize("kind", sorted(INDEX_KINDS))
def test_rebuild_killed_before_commit_keeps_serving(spark, emb, tmp_path,
                                                    monkeypatch, kind):
    """A kill between a rebuild's data write and its manifest commit:
    the previous version keeps serving byte-identical rows, and the next
    write reclaims the orphan ``data/v<N>`` and commits."""
    import os

    from public_transit_data_platform_sql_nosql_spark.jobs import versioned

    path = str(tmp_path / kind)
    write_index(emb, path, kind, ksub=16)
    qvec = _qvec(emb, 3)
    before = [tuple(r) for r in
              index_topk(spark, path, qvec, emb, k=5, kind=kind).collect()]

    def killed(*a, **kw):
        raise RuntimeError("killed before the manifest commit")

    monkeypatch.setattr(versioned, "_write_manifest", killed)
    with pytest.raises(RuntimeError, match="killed"):
        write_index(emb, path, kind, ksub=16)
    monkeypatch.undo()
    assert os.path.isdir(f"{path}/data/v000001/codes")       # the orphan
    assert _index_manifest(spark, path)["version"] == 0
    assert [tuple(r) for r in index_topk(
        spark, path, qvec, emb, k=5, kind=kind).collect()] == before

    write_index(emb, path, kind, ksub=16)
    m = _index_manifest(spark, path)
    assert m["version"] == 1 and m["codes"] == ["data/v000001/codes"]
    assert [tuple(r) for r in index_topk(
        spark, path, qvec, emb, k=5, kind=kind).collect()] == before


@pytest.mark.parametrize("kind", sorted(INDEX_KINDS))
def test_batch_serving_matches_single_query_path(spark, emb, tmp_path,
                                                 kind):
    """Every kind's batch path is ONE distributed plan whose per-query
    results equal the single-query path's; allowed= restricts every
    query's candidates, and the IVF kinds' codes scan still
    partition-prunes."""
    from public_transit_data_platform_sql_nosql_spark.plans import (
        executed_plan,
    )

    path = str(tmp_path / kind)
    write_index(emb, path, kind)
    queries = emb.filter("vec_id < 4").select(
        emb.vec_id.alias("query_id"), "embedding")
    got = {}
    for r in index_topk_batch(spark, path, queries, emb, k=5,
                              nprobe=2).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["cos_sim"]))
    assert set(got) == {0, 1, 2, 3}
    for qid in range(4):
        single = sorted(
            (r["rank"], r["neighbor_id"], r["cos_sim"])
            for r in index_topk(spark, path, _qvec(emb, qid), emb, k=5,
                                nprobe=2).collect())
        assert sorted(got[qid]) == single, qid

    if INDEX_KINDS[kind].ivf:
        plan = executed_plan(index_topk_batch(spark, path, queries, emb,
                                              k=5, nprobe=1))
        assert "PartitionFilters" in plan
    allowed = emb.filter("vec_id % 3 = 0").select("vec_id")
    filt = index_topk_batch(spark, path, queries, emb, k=5, nprobe=4,
                            allowed=allowed).collect()
    assert filt and all(r["neighbor_id"] % 3 == 0 for r in filt)


@pytest.mark.parametrize("kind", sorted(INDEX_KINDS))
def test_upsert_keeps_committed_operating_point(spark, emb, tmp_path,
                                                kind):
    """An upsert moves only the version and the codes list: the
    operating point tune_index or a maintainer's bump rung committed
    (default_rerank_mult, and default_nprobe on IVF kinds) still
    serves after an append AND after a keyed replace."""
    ivf = INDEX_KINDS[kind].ivf
    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    path = str(tmp_path / kind)
    write_index(base, path, kind, k=4, ksub=16)
    _persist_operating_point(spark, path, rerank_mult=13,
                             nprobe=3 if ivf else None)
    batch = emb.filter("vec_id < 3").select(
        (F.col("vec_id") + 90_000).alias("vec_id"), "embedding")
    for want in ("appended", "replaced"):
        assert index_upsert(spark, path, batch)["decision"] == want
        st = index_stats(spark, path)
        assert st["default_rerank_mult"] == 13, (want, st)
        assert st["rerank_tuned"] is True, (want, st)
        if ivf:
            assert st["default_nprobe"] == 3, (want, st)
            assert st["tuned"] is True, (want, st)


@pytest.mark.parametrize("kind", sorted(INDEX_KINDS))
def test_empty_upsert_commits_nothing(spark, emb, tmp_path, kind):
    """An empty batch is a noop: no manifest version, no codes dir."""
    path = str(tmp_path / kind)
    write_index(emb.select("vec_id", "embedding"), path, kind, k=4,
                ksub=16)
    before = list_versions(spark, path)
    m0 = _index_manifest(spark, path)
    st = index_upsert(spark, path,
                      emb.filter("vec_id < 0").select("vec_id", "embedding"))
    assert st == {"decision": "noop", "n_new": 0, "n_replaced": 0}
    assert list_versions(spark, path) == before
    assert _index_manifest(spark, path)["codes"] == m0["codes"]


def test_deleted_codes_dir_is_index_corrupt_error(spark, emb, tmp_path):
    """A committed manifest whose codes dir is gone is a typed
    IndexCorruptError naming the path and saying "rebuild" at every
    entry point — never PATH_NOT_FOUND deep in a plan, and never a
    probed read that silently skips the missing candidates."""
    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    path = str(tmp_path / "ivfsq8")
    write_index(base, path, "ivf_sq8", k=4)
    batch = emb.filter("vec_id < 3").select(
        (F.col("vec_id") + 90_000).alias("vec_id"), "embedding")
    assert index_upsert(spark, path, batch)["decision"] == "appended"
    gone = _index_manifest(spark, path)["codes"][-1]
    shutil.rmtree(f"{path}/{gone}")
    queries = emb.filter("vec_id < 2").select(
        emb.vec_id.alias("query_id"), "embedding")
    calls = [
        lambda: index_topk(spark, path, _qvec(emb, 10), emb, k=3),
        lambda: index_topk_batch(spark, path, queries, emb, k=3),
        lambda: index_upsert(spark, path, batch),
        lambda: index_stats(spark, path),
    ]
    for call in calls:
        with pytest.raises(IndexCorruptError, match="rebuild") as err:
            call()
        assert path in str(err.value) and gone in str(err.value)


# ---------------------------------------------------------------------------
# corpus-derived IVF cluster count


def test_default_ivf_k_scales_with_corpus(spark):
    assert sim._default_ivf_k(
        spark.range(40).selectExpr("id as vec_id")) == sim.KMEANS_K
    assert sim._default_ivf_k(
        spark.range(10_000).selectExpr("id as vec_id")) == 100
    # sqrt(500) = 22.36 -> 22 (the sf0.001 embeddings corpus)
    assert sim._default_ivf_k(
        spark.range(500).selectExpr("id as vec_id")) == 22


def test_ivf_writer_derives_k_and_explicit_k_wins(spark, emb, tmp_path):
    derived = str(tmp_path / "derived")
    sim.write_index(emb, derived, "ivf_sq8")              # k=None
    m = sim._index_manifest(spark, derived)
    n_cents = spark.read.parquet(f"{derived}/{m['centroids']}").count()
    assert n_cents == sim._default_ivf_k(emb) == 22

    pinned = str(tmp_path / "pinned")
    sim.write_index(emb, pinned, "ivf_sq8", k=4)
    m2 = sim._index_manifest(spark, pinned)
    assert spark.read.parquet(
        f"{pinned}/{m2['centroids']}").count() == 4

    # serving stays correct under the derived geometry: full-depth
    # probing reproduces exact brute force
    qv = [float(x) for x in emb.filter("vec_id = 7")
          .head()["embedding"]]
    got = sim.index_topk(spark, derived, qv, emb, k=5,
                         nprobe=n_cents, kind="ivf_sq8").collect()
    qcol = F.array(*[F.lit(float(x)) for x in qv])
    exact = (emb.select("vec_id",
                        F.round(sim.cosine(F.col("embedding"), qcol), 6)
                        .alias("cos_sim"))
             .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
             .limit(5).collect())
    assert [int(r["neighbor_id"]) for r in got] == \
        [int(r["vec_id"]) for r in exact]


# ---------------------------------------------------------------------------
# manifest-fingerprinted driver caches


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


def _corpora(spark, dim=8):
    """Corpus A clusters on axes 0/1; corpus B on axes 2/3 — A's
    centroids rank the WRONG clusters for B's queries, so a stale
    cache is visible in the results, not just in timing."""
    a = _mk(spark, [(i, [1.0 + 0.001 * i, 0.0] + [0.0] * (dim - 2))
                    for i in range(10)] +
            [(10 + i, [0.0, 1.0 + 0.001 * i] + [0.0] * (dim - 2))
             for i in range(10)])
    b = _mk(spark, [(i, [0.0, 0.0, 1.0 + 0.001 * i, 0.0]
                     + [0.0] * (dim - 4)) for i in range(10)] +
            [(10 + i, [0.0, 0.0, 0.0, 1.0 + 0.001 * i]
              + [0.0] * (dim - 4)) for i in range(10)])
    return a, b


def test_centroid_cache_survives_same_path_rebuild(spark, tmp_path):
    """Delete-and-rebuild at the same path restarts versions at 0 —
    (path, version) alone would serve corpus A's cached centroids
    against corpus B's codes.  The manifest-file fingerprint in the
    cache key makes the hot-cache serve equal the cold one."""
    dim = 8
    a, b = _corpora(spark, dim)
    path = str(tmp_path / "same")
    sim.write_index(a, path, "ivf_sq8", k=2, dim=dim)
    sim.index_topk(spark, path, [1.0] + [0.0] * (dim - 1),
                   a, k=3, nprobe=1, kind="ivf_sq8").collect()  # cache hot
    v_a = int(sim._index_manifest(spark, path)["version"])
    shutil.rmtree(path)
    sim.write_index(b, path, "ivf_sq8", k=2, dim=dim)
    assert int(sim._index_manifest(spark, path)["version"]) == v_a
    qb = [0.0, 0.0, 0.0, 1.0] + [0.0] * (dim - 4)
    hot = [int(r["neighbor_id"]) for r in sim.index_topk(
        spark, path, qb, b, k=3, nprobe=1, kind="ivf_sq8").collect()]
    sim._CENTS_CACHE.clear()
    cold = [int(r["neighbor_id"]) for r in sim.index_topk(
        spark, path, qb, b, k=3, nprobe=1, kind="ivf_sq8").collect()]
    assert hot == cold == [10, 11, 12]


def test_pq_books_cache_survives_same_path_rebuild(spark, tmp_path):
    dim = 8
    a, b = _corpora(spark, dim)
    path = str(tmp_path / "samepq")
    sim.write_index(a, path, "pq", dim=dim)
    sim.index_topk(spark, path, [1.0] + [0.0] * (dim - 1), a,
                   k=3, kind="pq").collect()               # books cache hot
    shutil.rmtree(path)
    sim.write_index(b, path, "pq", dim=dim)
    qb = [0.0, 0.0, 0.0, 1.0] + [0.0] * (dim - 4)
    hot = [int(r["neighbor_id"]) for r in sim.index_topk(
        spark, path, qb, b, k=3, kind="pq").collect()]
    sim._PQ_BOOKS_CACHE.clear()
    cold = [int(r["neighbor_id"]) for r in sim.index_topk(
        spark, path, qb, b, k=3, kind="pq").collect()]
    assert hot == cold == [10, 11, 12]


# ---------------------------------------------------------------------------
# build-nonce cache fingerprints


def test_manifest_carries_build_nonce(spark, emb, tmp_path):
    """Every manifest commit is stamped with a per-build random nonce
    at the single write point (jobs/versioned._write_manifest), so all
    six index writers inherit it."""
    path = str(tmp_path / "idx")
    sim.write_index(emb, path, "sq8")
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
    sim.write_index(emb, path, "sq8")
    m1 = sim._index_manifest(spark, path)
    fp1 = sim._manifest_fingerprint(spark, path, int(m1["version"]), m1)
    assert fp1 == ("nonce", m1["build_nonce"])
    shutil.rmtree(path)
    sim.write_index(emb, path, "sq8")
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
    sim.write_index(emb, path, "sq8")
    m = dict(sim._index_manifest(spark, path))
    m.pop("build_nonce", None)
    fp = sim._manifest_fingerprint(spark, path, int(m["version"]), m)
    assert fp[0] != "nonce" and len(fp) == 2
    # and passing no dict at all takes the same fallback
    assert fp == sim._manifest_fingerprint(spark, path,
                                           int(m["version"]))


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
    sim.write_index(emb, path, "ivf_sq8", k=4)
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.orderBy("vec_id").limit(4).collect()]
    for k, np_ in ((10, 1), (10, 2), (5, 4)):
        batched = sim._batched_min_recall(
            spark, queries, emb, k,
            lambda qdf: sim.index_topk_batch(
                spark, path, qdf, emb, k=k, nprobe=np_, kind="ivf_sq8"))
        approx = exact = None
        for qid, qv in queries:
            a = sim.index_topk(
                spark, path, qv, emb, k=k, nprobe=np_, kind="ivf_sq8").select(
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


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
