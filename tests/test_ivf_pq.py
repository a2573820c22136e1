"""IVF x PQ index family (round 11): coarse partition pruning over
product-quantized codes — the fourth point on the serving matrix and
the classic billion-scale ANN layout.  Covers the writer's layout +
pruning, single-query vs batch parity, filtered search with adaptive
probe widening, the kind-true upsert (append / replace / foreign-kind
refusal), the full maintain ladder, compaction with pruning
re-asserted, the in-flight operator twin, and the streaming + CLI
kind dispatch."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (
    _index_manifest,
    brute_force_topk,
    compact_index,
    index_topk,
    index_topk_batch,
    index_upsert,
    ivf_pq_topk,
    maintain_index,
    read_index_codes,
    write_index,
)
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    similarity as sim,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR)


@pytest.fixture(scope="module")
def idx(spark, emb, tmp_path_factory):
    """One module-scoped read-only index over the sf embeddings —
    the mutation tests build their own under tmp_path."""
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    write_index(emb, path, "ivf_pq")
    return path


def _qvec(emb, vid):
    return [float(x)
            for x in emb.filter(f"vec_id = {vid}").head()["embedding"]]


def _batch(new_rows, spark):
    return spark.createDataFrame(
        new_rows, "vec_id long, embedding array<double>")


def test_layout_and_manifest(spark, emb, idx):
    m = _index_manifest(spark, idx)
    assert m["kind"] == "ivf_pq"
    # stored-layout default resolution is PQ_INDEX_KSUB (=256; the
    # corpus trains at most min(ksub, cluster size) codewords/subspace)
    assert m["dim"] == 64 and m["m"] == 8 and m["k"] == 256
    codes = read_index_codes(spark, idx)
    assert codes.count() == emb.count()
    # m-byte blobs, cluster-partitioned on disk
    row = codes.head()
    assert len(row["codes"]) == m["m"]
    assert "cluster_id" in codes.columns


def test_topk_partition_prunes(spark, emb, idx):
    """The probed scan must read only the nprobe cluster directories —
    partition filters in the plan, not a post-scan filter."""
    res = index_topk(spark, idx, _qvec(emb, 3), emb, k=5,
                     nprobe=2, kind="ivf_pq")
    rows = res.collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    assert rows[0]["neighbor_id"] == 3 and rows[0]["cos_sim"] == 1.0
    m = _index_manifest(spark, idx)
    probed = spark.read.parquet(f"{idx}/{m['codes'][0]}") \
        .filter(F.col("cluster_id").isin([0, 1]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "cluster_id" in plan


def test_recall_beats_floor_vs_bruteforce(spark, emb, idx):
    """Serving-path sanity: with every cluster probed the PQ shortlist
    + exact re-rank should recover most of the exact top-10 (PQ at
    m=8 quantizes coarsely; the rerank shortlist is 8x k)."""
    exact = brute_force_topk(emb, num_queries=4, k=10)
    hits = total = 0
    for qid in range(4):
        e_ids = {r["neighbor_id"] for r in
                 exact.filter(F.col("query_id") == qid).collect()}
        a = index_topk(spark, idx, _qvec(emb, qid), emb, k=11,
                       nprobe=8, kind="ivf_pq")
        a_ids = {r["neighbor_id"] for r in a.collect()} - {qid}
        hits += len(e_ids & a_ids)
        total += len(e_ids)
    assert hits / total >= 0.6, f"recall {hits}/{total}"


def test_batch_matches_single_query(spark, emb, idx):
    qids = [3, 7, 11]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    batch = index_topk_batch(spark, idx, queries, emb, k=5,
                             nprobe=2, kind="ivf_pq")
    for qid in qids:
        single = [(r["rank"], r["neighbor_id"], r["cos_sim"])
                  for r in index_topk(
                      spark, idx, _qvec(emb, qid), emb, k=5,
                      nprobe=2, kind="ivf_pq").collect()]
        got = [(r["rank"], r["neighbor_id"], r["cos_sim"])
               for r in batch.filter(F.col("query_id") == qid)
               .orderBy("rank").collect()]
        assert got == single, f"query {qid}"


def test_filtered_search_widens_probes(spark, emb, idx):
    """A restrictive allow-list whose survivors live outside the
    nprobe=1 probed cluster must WIDEN the probe set, not starve the
    shortlist — and the result equals the brute-force answer within
    the allowed set (every cluster reachable)."""
    allow_ids = [r["vec_id"] for r in
                 emb.orderBy(F.desc("vec_id")).limit(6).collect()]
    allowed = emb.filter(F.col("vec_id").isin(allow_ids)) \
        .select("vec_id")
    qv = _qvec(emb, 3)
    res = index_topk(spark, idx, qv, emb, k=5, nprobe=1,
                     allowed=allowed, kind="ivf_pq")
    rows = res.collect()
    assert len(rows) == 5
    assert {r["neighbor_id"] for r in rows} <= set(allow_ids)
    # nprobe<=0 terminates too (the widening-step floor)
    res0 = index_topk(spark, idx, qv, emb, k=3, nprobe=0,
                      allowed=allowed, kind="ivf_pq")
    assert res0.count() == 3


def test_batch_filtered_matches_single(spark, emb, idx):
    allow_ids = [r["vec_id"] for r in
                 emb.orderBy(F.desc("vec_id")).limit(6).collect()]
    allowed = emb.filter(F.col("vec_id").isin(allow_ids)) \
        .select("vec_id")
    qids = [3, 7]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    batch = index_topk_batch(spark, idx, queries, emb, k=5,
                             nprobe=1, allowed=allowed, kind="ivf_pq")
    for qid in qids:
        single = [(r["rank"], r["neighbor_id"]) for r in
                  index_topk(spark, idx, _qvec(emb, qid), emb,
                             k=5, nprobe=1,
                             allowed=allowed, kind="ivf_pq").collect()]
        got = [(r["rank"], r["neighbor_id"]) for r in
               batch.filter(F.col("query_id") == qid)
               .orderBy("rank").collect()]
        assert got == single and len(got) == 5


def test_upsert_append_replace_and_refusals(spark, emb, tmp_path):
    path = str(tmp_path / "idx")
    write_index(emb, path, "ivf_pq")
    qv = _qvec(emb, 3)
    new = _batch([(900001, qv)], spark)
    st = index_upsert(spark, path, new, kind="ivf_pq")
    assert st["decision"] == "appended" and st["n_new"] == 1
    m = _index_manifest(spark, path)
    assert len(m["codes"]) == 2            # append = one more dir
    # the appended vector is served (probe wide to be deterministic)
    merged = emb.select("vec_id", "embedding").unionByName(new)
    res = index_topk(spark, path, qv, merged, k=3, nprobe=8, kind="ivf_pq")
    ids = {r["neighbor_id"] for r in res.collect()}
    assert 900001 in ids
    # re-submit = keyed replace, back to ONE dir
    st2 = index_upsert(spark, path, new, kind="ivf_pq")
    assert st2["decision"] == "replaced" and st2["n_replaced"] == 1
    m2 = _index_manifest(spark, path)
    assert len(m2["codes"]) == 1
    assert read_index_codes(spark, path).count() == emb.count() + 1
    # identical vector re-encodes bit-identically
    codes_a = read_index_codes(spark, path) \
        .filter("vec_id = 900001").head()["codes"]
    codes_b = read_index_codes(spark, path) \
        .filter("vec_id = 3").head()["codes"]
    assert bytes(codes_a) == bytes(codes_b)
    # foreign kinds are refused as data, both directions
    assert index_upsert(spark, path, new, kind="sq8")["decision"] \
        == "wrong_kind"
    assert index_upsert(spark, path, new, kind="pq")["decision"] \
        == "wrong_kind"
    pq_path = str(tmp_path / "pq")
    write_index(emb, pq_path, "pq")
    assert index_upsert(spark, pq_path, new, kind="ivf_pq")["decision"] \
        == "wrong_kind"


def test_maintain_ladder_ok(spark, emb, tmp_path):
    path = str(tmp_path / "idx")
    write_index(emb, path, "ivf_pq")
    qv = _qvec(emb, 5)
    new = _batch([(900002, qv)], spark)
    merged = emb.select("vec_id", "embedding").unionByName(new)
    # contract: vectors must already contain the batch
    with pytest.raises(ValueError, match="POST-merge"):
        maintain_index(spark, path, new,
                       emb.select("vec_id", "embedding"), kind="ivf_pq")
    st = maintain_index(spark, path, new, merged, k=5,
                        nprobe=8, sample_queries=1,
                        rebuild=False, kind="ivf_pq")
    # probing everything, the batch vector is its own nearest
    # neighbor: the sampled recall must clear the floor
    assert st["decision"] == "ok", st
    assert st["recall_permille"] >= 600


def test_compact_folds_and_keeps_pruning(spark, emb, tmp_path):
    path = str(tmp_path / "idx")
    write_index(emb, path, "ivf_pq")
    qv = _qvec(emb, 3)
    for i in range(3):
        index_upsert(
            spark, path, _batch([(910000 + i, qv)], spark), kind="ivf_pq")
    m = _index_manifest(spark, path)
    assert len(m["codes"]) == 4
    before = read_index_codes(spark, path).orderBy("vec_id").collect()
    st = compact_index(spark, path)
    assert st["decision"] == "compacted" and st["dirs_before"] == 4
    m2 = _index_manifest(spark, path)
    assert len(m2["codes"]) == 1
    after = read_index_codes(spark, path).orderBy("vec_id").collect()
    assert [(r["vec_id"], bytes(r["codes"]), r["cluster_id"])
            for r in before] == \
           [(r["vec_id"], bytes(r["codes"]), r["cluster_id"])
            for r in after]
    # cluster partitioning survives compaction (pruning re-asserted)
    probed = spark.read.parquet(f"{path}/{m2['codes'][0]}") \
        .filter(F.col("cluster_id") == 0)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "cluster_id" in plan
    # idempotent: second compact is a noop
    assert compact_index(spark, path)["decision"] == "noop"


def test_inflight_operator_agrees_with_stored_layout(spark, emb, idx):
    """ivf_pq_topk (in-flight, oracle-checkable) and the stored layout
    share geometry (same centroid table, same codebook trainer) but
    differ by one assignment/encode step (the pq_topk vs stored-pq index_topk
    convention) — at a full probe their top-5 sets must still be
    mostly the same vectors."""
    inflight = ivf_pq_topk(emb, num_queries=2, k=5, nprobe=8)
    hits = total = 0
    for qid in (0, 1):
        flight_ids = {r["neighbor_id"] for r in
                      inflight.filter(F.col("query_id") == qid)
                      .collect()}
        stored = index_topk(spark, idx, _qvec(emb, qid), emb,
                            k=6, nprobe=8, kind="ivf_pq")
        stored_ids = {r["neighbor_id"]
                      for r in stored.collect()} - {qid}
        hits += len(flight_ids & stored_ids)
        total += 5
    assert hits / total >= 0.6, f"overlap {hits}/{total}"


def test_streaming_serving_dispatches_ivf_pq(spark, emb, tmp_path):
    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
        read_version,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        stream_vector_search,
    )

    path = str(tmp_path / "idx")
    write_index(emb, path, "ivf_pq")
    src = str(tmp_path / "qsrc")
    emb.filter(F.col("vec_id").isin([3, 7])).select(
        F.col("vec_id").alias("query_id"), "embedding") \
        .write.parquet(src)
    stream = (spark.readStream.schema(
        "query_id long, embedding array<double>").parquet(src))
    results = str(tmp_path / "results")
    q = stream_vector_search(stream, path, emb, results,
                             str(tmp_path / "ck"), k=5, nprobe=2)
    q.awaitTermination(120)
    served = read_version(spark, results)
    assert served.count() == 10
    single = [(r["rank"], r["neighbor_id"]) for r in
              index_topk(spark, path, _qvec(emb, 3), emb, k=5,
                         nprobe=2, kind="ivf_pq").collect()]
    got = [(r["rank"], r["neighbor_id"]) for r in
           served.filter(F.col("query_id") == 3)
           .orderBy("rank").collect()]
    assert got == single


def test_streaming_upsert_dispatches_ivf_pq(spark, emb, tmp_path):
    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
        read_version,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        stream_vector_index_upsert,
    )

    path = str(tmp_path / "idx")
    write_index(emb, path, "ivf_pq")
    src = str(tmp_path / "bsrc")
    _batch([(920000, _qvec(emb, 3))], spark).write.parquet(src)
    stream = (spark.readStream.schema(
        "vec_id long, embedding array<double>").parquet(src))
    q = stream_vector_index_upsert(stream, path, str(tmp_path / "ck"))
    q.awaitTermination(120)
    decisions = read_version(spark, f"{path}/_state/decisions")
    rows = decisions.collect()
    assert any(r["decision"] == "appended" for r in rows)
    assert read_index_codes(spark, path).count() == emb.count() + 1


def test_cli_build_query_upsert_maintain(spark, emb, tmp_path, capsys):
    from public_transit_data_platform_sql_nosql_spark.__main__ import main

    emb_path = str(tmp_path / "emb")
    emb.select("vec_id", "embedding").write.parquet(emb_path)
    path = str(tmp_path / "idx")
    assert main(["vector-index", "build", "--path", path,
                 "--emb", emb_path, "--ivf", "--pq"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == emb.count()
    assert _index_manifest(spark, path)["kind"] == "ivf_pq"
    assert main(["vector-index", "query", "--path", path,
                 "--emb", emb_path, "--vec-id", "3", "--k", "5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kind"] == "ivf_pq"
    assert out["topk"][0]["neighbor_id"] == 3
    # batch path
    qsrc = str(tmp_path / "queries")
    emb.filter(F.col("vec_id").isin([3, 7])).select(
        F.col("vec_id").alias("query_id"), "embedding") \
        .write.parquet(qsrc)
    res_out = str(tmp_path / "res")
    assert main(["vector-index", "query-batch", "--path", path,
                 "--emb", emb_path, "--queries", qsrc,
                 "--out", res_out, "--k", "5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kind"] == "ivf_pq" and out["n_results"] == 10
    # upsert + maintain dispatch
    bsrc = str(tmp_path / "batch")
    _batch([(930000, _qvec(emb, 3))], spark).write.parquet(bsrc)
    assert main(["vector-index", "upsert", "--path", path,
                 "--batch", bsrc]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kind"] == "ivf_pq" and out["decision"] == "appended"
    merged_path = str(tmp_path / "merged")
    emb.select("vec_id", "embedding").unionByName(
        spark.read.parquet(bsrc)).write.parquet(merged_path)
    assert main(["vector-index", "maintain", "--path", path,
                 "--emb", merged_path, "--batch", bsrc,
                 "--nprobe", "8", "--k", "5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kind"] == "ivf_pq" and out["decision"] == "ok"


def test_ivf_pq_batch_matches_single_at_default_ksub(spark, emb,
                                                     tmp_path):
    path = str(tmp_path / "ivfpqb")
    sim.write_index(emb, path, "ivf_pq")
    ids = [3, 7, 11]
    queries = spark.createDataFrame(
        [(i, _qvec(emb, i)) for i in ids],
        "query_id long, embedding array<double>")
    batch = sim.index_topk_batch(
        spark, path, queries, emb, k=5, nprobe=3, kind="ivf_pq").collect()
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
                      nprobe=3, kind="ivf_pq").collect()]
        assert by_q[i] == single


def test_maintain_ivf_pq_escalates_ksub(spark, emb, tmp_path):
    """Same rung on the composed layout: bump_nprobe cannot recover a
    code-resolution floor (probing deeper re-ranks the same coarse
    codes), so the ladder falls through to the escalating rebuild."""
    path = str(tmp_path / "ivfesc")
    sim.write_index(emb, path, "ivf_pq", ksub=2)
    man0 = sim._index_manifest(spark, path)
    n_cents = spark.read.parquet(
        f"{path}/{man0['centroids']}").count()
    batch = emb.orderBy("vec_id").limit(3)
    # probe at FULL depth so the floor isolates code resolution: the
    # bump rung is already maxed (bumped == nprobe == n_clusters), so
    # only the escalating rebuild can recover — and after it, the same
    # full-depth probe must clear the floor (a default-nprobe probe
    # would stay probe-limited and prove nothing about ksub)
    out = sim.maintain_index(spark, path, batch, emb,
                             nprobe=n_cents,
                             recall_floor_permille=950, kind="ivf_pq")
    assert out["decision"] == "rebuild"
    assert out["ksub_escalated"] is True
    man = sim._index_manifest(spark, path)
    assert int(man["k"]) == sim.PQ_INDEX_KSUB
    assert out["recall_after_rebuild_permille"] >= 950


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
