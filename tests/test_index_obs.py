"""Index observability (round 11): index_stats (layout health +
fragmentation + cluster balance as data) and index_recall_curve
(recall-vs-nprobe sweep) — the measurements an operator reads to
decide compact/vacuum/bump-nprobe/rebuild instead of guessing."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (
    index_recall_curve,
    index_stats,
    index_upsert,
    write_index,
)
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    similarity as sim,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR)


def test_stats_flat_and_fragmentation(spark, emb, tmp_path):
    path = str(tmp_path / "bq")
    write_index(emb, path, "bq")
    st = index_stats(spark, path)
    assert st["kind"] == "bq" and st["dim"] == 64
    assert st["n_vectors"] == emb.count()
    assert st["n_codes_dirs"] == 1
    assert st["code_bytes_per_vector"] == 8
    assert "n_clusters" not in st
    qv = [float(x) for x in emb.filter("vec_id = 3")
          .head()["embedding"]]
    index_upsert(spark, path, spark.createDataFrame(
        [(980000, qv)], "vec_id long, embedding array<double>"), kind="bq")
    st2 = index_stats(spark, path)
    assert st2["n_codes_dirs"] == 2            # the compaction signal
    assert st2["n_vectors"] == emb.count() + 1


def test_stats_cluster_balance(spark, emb, tmp_path):
    path = str(tmp_path / "ivfsq8")
    write_index(emb, path, "ivf_sq8")
    st = index_stats(spark, path)
    assert st["kind"] == "ivf_sq8"
    assert st["code_bytes_per_vector"] == 64
    assert st["n_clusters"] >= 2
    assert st["cluster_size_min"] >= 1
    assert st["cluster_size_max"] >= st["cluster_size_min"]
    # imbalance is max/mean: >= 1000 permille by construction
    assert st["cluster_imbalance_permille"] >= 1000


def test_recall_curve_monotone_in_nprobe(spark, emb, tmp_path):
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        _index_manifest,
    )

    path = str(tmp_path / "ivfsq8")
    write_index(emb, path, "ivf_sq8")
    # full probe = the DERIVED cluster count (k ~ sqrt(N) since r12)
    n_clusters = spark.read.parquet(
        f"{path}/{_index_manifest(spark, path)['centroids']}").count()
    vectors = emb.select("vec_id", "embedding")
    curve = index_recall_curve(spark, path, vectors, num_queries=2,
                               k=5, nprobes=(1, n_clusters))
    assert [r["nprobe"] for r in curve] == [1, n_clusters]
    # probing everything cannot recall less than probing one cluster
    assert curve[1]["min_recall_permille"] >= \
        curve[0]["min_recall_permille"]
    # full probe + exact rerank over a self-included query: perfect
    assert curve[1]["min_recall_permille"] == 1000
    for r in curve:
        assert r["mean_recall_permille"] >= r["min_recall_permille"]


def test_recall_curve_flat_kind_rerank_ladder(spark, emb, tmp_path):
    """r13: a flat kind's curve sweeps its one quality knob — the
    exact-rerank depth — on a geometric ladder ending at the depth
    whose shortlist covers the corpus (recall 1000 by construction),
    instead of the single constant-depth point it measured before."""
    path = str(tmp_path / "bq")
    write_index(emb, path, "bq")
    vectors = emb.select("vec_id", "embedding")
    curve = index_recall_curve(spark, path, vectors, num_queries=2,
                               k=5)
    n = vectors.count()
    mults = [r["rerank_mult"] for r in curve]
    assert all(r["nprobe"] is None for r in curve)
    assert mults == sorted(mults) and len(mults) > 1
    assert mults[-1] * 5 >= n          # reaches the exact point ...
    assert curve[-1]["min_recall_permille"] == 1000  # ... and shows it
    assert all(r["min_recall_permille"] > 0 for r in curve)


def test_cli_stats_and_recall_curve(spark, emb, tmp_path, capsys):
    from public_transit_data_platform_sql_nosql_spark.__main__ import main

    emb_path = str(tmp_path / "emb")
    emb.select("vec_id", "embedding").write.parquet(emb_path)
    path = str(tmp_path / "idx")
    assert main(["vector-index", "build", "--path", path,
                 "--emb", emb_path, "--ivf"]) == 0
    capsys.readouterr()
    assert main(["vector-index", "stats", "--path", path]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["kind"] == "ivf_sq8" and st["n_vectors"] == emb.count()
    assert main(["vector-index", "recall-curve", "--path", path,
                 "--emb", emb_path, "--k", "5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # default grid = the geometric ladder up to the index's own
    # (derived) cluster count — always reaches full probe (r12)
    depths = [r["nprobe"] for r in out["curve"]]
    assert depths == sorted(depths) and depths[0] == 1
    assert depths[-1] == st["n_clusters"]


def test_vacuum_new_kinds_round_trip(spark, emb, tmp_path):
    """vacuum_index retains every artifact a LIVE manifest references
    for the r11 kinds too: ivf_pq manifests carry BOTH centroids and
    codebooks refs, bq manifests carry codes only — after upserts
    push old versions out of the retention window, vacuum must
    collect the superseded dirs and the index must still serve."""
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        index_topk,
        vacuum_index,
    )

    qv = [float(x) for x in emb.filter("vec_id = 3")
          .head()["embedding"]]
    for kind, kw in (("ivf_pq", {"nprobe": 8}), ("bq", {})):
        path = str(tmp_path / kind)
        write_index(emb.select("vec_id", "embedding"), path, kind)
        new = spark.createDataFrame(
            [(990000, qv)], "vec_id long, embedding array<double>")
        index_upsert(spark, path, new, kind=kind)      # append (v1)
        index_upsert(spark, path, new, kind=kind)      # replace (v2)
        st = vacuum_index(spark, path, keep_last=1)
        assert st["kept_versions"] == [2]
        assert st["removed_manifests"] == [0, 1]
        # superseded codes dirs are gone; referenced artifacts remain
        assert len(st["removed_dirs"]) >= 1
        res = index_topk(spark, path, qv,
                         emb.select("vec_id", "embedding").unionByName(new),
                         k=3, kind=kind, **kw)
        ids = {r["neighbor_id"] for r in res.collect()}
        assert 990000 in ids or 3 in ids


def test_cli_upsert_auto_compact(spark, emb, tmp_path, capsys):
    """--auto-compact folds the codes dirs inside the upsert command
    once the manifest fragments past --compact-dirs (the streaming
    maintainer's auto_compact, batch form)."""
    import json as _json

    from public_transit_data_platform_sql_nosql_spark.__main__ import main
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        _index_manifest,
    )

    emb_path = str(tmp_path / "emb")
    emb.select("vec_id", "embedding").write.parquet(emb_path)
    path = str(tmp_path / "idx")
    write_index(spark.read.parquet(emb_path), path, "bq")
    qv = [float(x) for x in emb.filter("vec_id = 3")
          .head()["embedding"]]
    for i, thresh_hit in ((0, False), (1, True)):
        bsrc = str(tmp_path / f"batch{i}")
        spark.createDataFrame(
            [(995000 + i, qv)], "vec_id long, embedding array<double>"
        ).write.parquet(bsrc)
        assert main(["vector-index", "upsert", "--path", path,
                     "--batch", bsrc, "--auto-compact",
                     "--compact-dirs", "3"]) == 0
        out = _json.loads(
            capsys.readouterr().out.strip().splitlines()[-1])
        assert out["decision"] == "appended"
        assert ("compact" in out) == thresh_hit, out
    m = _index_manifest(spark, path)
    assert len(m["codes"]) == 1            # folded back to one dir


# ---------------------------------------------------------------------------
# index_stats reports the operating point for IVF kinds ONLY


def test_index_stats_operating_point_ivf_only(spark, emb, tmp_path):
    flat = str(tmp_path / "flat")
    sim.write_index(emb, flat, "sq8")
    st = sim.index_stats(spark, flat)
    assert "default_nprobe" not in st and "tuned" not in st
    # ... but the RERANK operating point is every kind's knob
    assert st["default_rerank_mult"] == sim.SQ_RERANK_MULT
    assert st["rerank_tuned"] is False

    ivf = str(tmp_path / "ivf")
    sim.write_index(emb, ivf, "ivf_sq8", k=4)
    st2 = sim.index_stats(spark, ivf)
    assert st2["default_nprobe"] == sim.DEFAULT_NPROBE
    assert st2["tuned"] is False
    assert st2["default_rerank_mult"] == sim.SQ_RERANK_MULT
    assert st2["rerank_tuned"] is False


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
