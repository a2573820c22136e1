"""Binary-quantization index family (round 11): one sign bit per
dimension packed into two 32-bit halves, integer Hamming (xor +
popcount) candidate ranking, exact rerank — the cheapest pre-filter
layout on the serving matrix.  Nothing trains, so the layout has
upsert + compaction hygiene but deliberately NO maintenance loop."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (
    _bq_query_bits,
    _index_manifest,
    bq_topk,
    brute_force_topk,
    compact_index,
    index_topk,
    index_topk_batch,
    index_upsert,
    read_index_codes,
    write_index,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR)


@pytest.fixture(scope="module")
def idx(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bq") / "idx")
    write_index(emb, path, "bq")
    return path


def _qvec(emb, vid):
    return [float(x)
            for x in emb.filter(f"vec_id = {vid}").head()["embedding"]]


def test_layout_is_8_bytes_per_vector(spark, emb, idx):
    m = _index_manifest(spark, idx)
    assert m["kind"] == "bq" and m["dim"] == 64
    codes = read_index_codes(spark, idx)
    assert codes.columns == ["vec_id", "lo", "hi"]
    assert codes.count() == emb.count()
    # halves fit in 32 bits — the sign-bit-free packing contract
    mx = codes.agg(F.max("lo").alias("l"), F.max("hi").alias("h"),
                   F.min("lo").alias("ml"),
                   F.min("hi").alias("mh")).head()
    assert 0 <= mx["ml"] and mx["l"] < 2 ** 32
    assert 0 <= mx["mh"] and mx["h"] < 2 ** 32


def test_packing_matches_driver_side_bits(spark, emb, idx):
    """The stored halves equal the Python reimplementation bit for
    bit — pins the packing expression both serving paths inline."""
    rows = {r["vec_id"]: (r["lo"], r["hi"])
            for r in read_index_codes(spark, idx)
            .filter(F.col("vec_id") < 4).collect()}
    for vid, stored in rows.items():
        assert stored == _bq_query_bits(_qvec(emb, vid)), f"vec {vid}"


def test_topk_self_hit_and_recall(spark, emb, idx):
    res = index_topk(spark, idx, _qvec(emb, 3), emb, k=5, kind="bq")
    rows = res.collect()
    assert rows[0]["neighbor_id"] == 3 and rows[0]["cos_sim"] == 1.0
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    exact = brute_force_topk(emb, num_queries=4, k=10)
    hits = total = 0
    for qid in range(4):
        e_ids = {r["neighbor_id"] for r in
                 exact.filter(F.col("query_id") == qid).collect()}
        a = index_topk(spark, idx, _qvec(emb, qid), emb, k=11, kind="bq")
        a_ids = {r["neighbor_id"] for r in a.collect()} - {qid}
        hits += len(e_ids & a_ids)
        total += len(e_ids)
    assert hits / total >= 0.6, f"recall {hits}/{total}"


def test_batch_matches_single_query(spark, emb, idx):
    qids = [3, 7, 11]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    batch = index_topk_batch(spark, idx, queries, emb, k=5, kind="bq")
    for qid in qids:
        single = [(r["rank"], r["neighbor_id"], r["cos_sim"])
                  for r in index_topk(
                      spark, idx, _qvec(emb, qid), emb, k=5,
                      kind="bq").collect()]
        got = [(r["rank"], r["neighbor_id"], r["cos_sim"])
               for r in batch.filter(F.col("query_id") == qid)
               .orderBy("rank").collect()]
        assert got == single, f"query {qid}"


def test_filtered_search(spark, emb, idx):
    allow_ids = [r["vec_id"] for r in
                 emb.orderBy(F.desc("vec_id")).limit(6).collect()]
    allowed = emb.filter(F.col("vec_id").isin(allow_ids)) \
        .select("vec_id")
    res = index_topk(spark, idx, _qvec(emb, 3), emb, k=5,
                     allowed=allowed, kind="bq")
    rows = res.collect()
    assert len(rows) == 5
    assert {r["neighbor_id"] for r in rows} <= set(allow_ids)


def test_upsert_append_replace_refusals_compact(spark, emb, tmp_path):
    path = str(tmp_path / "idx")
    write_index(emb, path, "bq")
    qv = _qvec(emb, 3)
    new = spark.createDataFrame([(940000, qv)],
                                "vec_id long, embedding array<double>")
    st = index_upsert(spark, path, new, kind="bq")
    assert st["decision"] == "appended" and st["n_new"] == 1
    merged = emb.select("vec_id", "embedding").unionByName(new)
    ids = {r["neighbor_id"] for r in
           index_topk(spark, path, qv, merged, k=3, kind="bq").collect()}
    assert 940000 in ids
    # identical vector -> identical halves as its source
    halves = {r["vec_id"]: (r["lo"], r["hi"])
              for r in read_index_codes(spark, path)
              .filter(F.col("vec_id").isin([3, 940000])).collect()}
    assert halves[3] == halves[940000]
    st2 = index_upsert(spark, path, new, kind="bq")
    assert st2["decision"] == "replaced" and st2["n_replaced"] == 1
    assert len(_index_manifest(spark, path)["codes"]) == 1
    # foreign kinds refused both directions
    assert index_upsert(spark, path, new, kind="sq8")["decision"] \
        == "wrong_kind"
    # append-fragment then compact (flat branch)
    for i in range(2):
        index_upsert(
            spark, path,
            spark.createDataFrame([(950000 + i, qv)],
                                  "vec_id long, embedding "
                                  "array<double>"), kind="bq")
    assert len(_index_manifest(spark, path)["codes"]) == 3
    before = sorted((r["vec_id"], r["lo"], r["hi"])
                    for r in read_index_codes(spark, path).collect())
    st3 = compact_index(spark, path)
    assert st3["decision"] == "compacted" and st3["dirs_before"] == 3
    after = sorted((r["vec_id"], r["lo"], r["hi"])
                   for r in read_index_codes(spark, path).collect())
    assert before == after
    assert compact_index(spark, path)["decision"] == "noop"


def test_streaming_serving_and_upsert_dispatch_bq(spark, emb,
                                                  tmp_path):
    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
        read_version,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        stream_vector_index_upsert,
        stream_vector_search,
    )

    path = str(tmp_path / "idx")
    write_index(emb, path, "bq")
    qsrc = str(tmp_path / "qsrc")
    emb.filter(F.col("vec_id").isin([3, 7])).select(
        F.col("vec_id").alias("query_id"), "embedding") \
        .write.parquet(qsrc)
    results = str(tmp_path / "results")
    q = stream_vector_search(
        spark.readStream.schema("query_id long, embedding "
                                "array<double>").parquet(qsrc),
        path, emb, results, str(tmp_path / "ck1"), k=5)
    q.awaitTermination(120)
    served = read_version(spark, results)
    assert served.count() == 10
    single = [(r["rank"], r["neighbor_id"]) for r in
              index_topk(spark, path, _qvec(emb, 3), emb,
                         k=5, kind="bq").collect()]
    got = [(r["rank"], r["neighbor_id"]) for r in
           served.filter(F.col("query_id") == 3)
           .orderBy("rank").collect()]
    assert got == single
    bsrc = str(tmp_path / "bsrc")
    spark.createDataFrame([(960000, _qvec(emb, 3))],
                          "vec_id long, embedding array<double>") \
        .write.parquet(bsrc)
    q2 = stream_vector_index_upsert(
        spark.readStream.schema("vec_id long, embedding "
                                "array<double>").parquet(bsrc),
        path, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    decisions = read_version(spark, f"{path}/_state/decisions")
    assert any(r["decision"] == "appended"
               for r in decisions.collect())
    assert read_index_codes(spark, path).count() == emb.count() + 1


def test_cli_build_query_batch_upsert(spark, emb, tmp_path, capsys):
    from public_transit_data_platform_sql_nosql_spark.__main__ import main

    emb_path = str(tmp_path / "emb")
    emb.select("vec_id", "embedding").write.parquet(emb_path)
    path = str(tmp_path / "idx")
    assert main(["vector-index", "build", "--path", path,
                 "--emb", emb_path, "--bq"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["bq"] is True and out["rows"] == emb.count()
    assert _index_manifest(spark, path)["kind"] == "bq"
    assert main(["vector-index", "query", "--path", path,
                 "--emb", emb_path, "--vec-id", "3", "--k", "5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kind"] == "bq"
    assert out["topk"][0]["neighbor_id"] == 3
    qsrc = str(tmp_path / "queries")
    emb.filter(F.col("vec_id").isin([3, 7])).select(
        F.col("vec_id").alias("query_id"), "embedding") \
        .write.parquet(qsrc)
    res_out = str(tmp_path / "res")
    assert main(["vector-index", "query-batch", "--path", path,
                 "--emb", emb_path, "--queries", qsrc,
                 "--out", res_out, "--k", "5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kind"] == "bq" and out["n_results"] == 10
    bsrc = str(tmp_path / "batch")
    spark.createDataFrame([(970000, _qvec(emb, 3))],
                          "vec_id long, embedding array<double>") \
        .write.parquet(bsrc)
    assert main(["vector-index", "upsert", "--path", path,
                 "--batch", bsrc]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kind"] == "bq" and out["decision"] == "appended"


def test_inflight_matches_oracle_shape(spark, emb):
    """bq_topk returns the shared ANN contract and the self-query's
    nearest neighbors (the full driver-parity hash check runs in
    test_driver_parity / the driver gate)."""
    res = bq_topk(emb, num_queries=2, k=5)
    assert res.columns == ["query_id", "rank", "neighbor_id",
                           "cos_sim"]
    assert res.count() == 10


def test_dim_guard(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="64 sign bits"):
        write_index(emb, str(tmp_path / "x"), "bq", dim=32)
    with pytest.raises(ValueError, match="64 sign bits"):
        bq_topk(emb, dim=128)


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
