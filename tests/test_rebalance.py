"""rebalance_index (round 11b): targeted IVF skew repair — split the
hottest cluster in two at O(hot cluster) cost, codes unchanged (only
list membership moves), retired ids masked via the manifest's
excluded_clusters list until compaction drops them physically.  The
repair index_stats' cluster_imbalance_permille signal points at,
sitting between the bump rung (probe more) and a full rebuild
(retrain everything)."""

from __future__ import annotations

import hashlib
from functools import partial

import pytest
from pyspark.sql import functions as F

from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
    list_versions,
    read_version,
)
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    similarity as sim,
)
from public_transit_data_platform_sql_nosql_spark.pipeline.core import P


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P


def _mk_emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")


def _skewed_corpus(spark, n_hot=40, n_cold=4, dim=8):
    """One fat group (axis 0) + one thin group (axis 1), with the two
    k-means SEED ids (smallest md5(salt||id)) planted one per group so
    the k=2 build deterministically yields a hot and a cold cluster."""
    ids = sorted(range(200), key=lambda i: (_h(f"{sim.KMEANS_SALT}{i}"),
                                            i))
    seed_hot, seed_cold = ids[0], ids[1]
    rest = [i for i in range(200) if i not in (seed_hot, seed_cold)]
    hot_ids = [seed_hot] + rest[:n_hot - 1]
    cold_ids = [seed_cold] + rest[n_hot - 1:n_hot - 1 + n_cold - 1]
    rows = []
    for j, i in enumerate(hot_ids):
        rows.append((i, [1.0, 0.001 * j] + [0.0] * (dim - 2)))
    for j, i in enumerate(cold_ids):
        rows.append((i, [0.001 * j, 1.0] + [0.0] * (dim - 2)))
    return _mk_emb(spark, rows)


@pytest.fixture(scope="module")
def corpus(spark):
    return _skewed_corpus(spark).localCheckpoint(eager=True)


def _sizes(spark, path):
    m = sim._index_manifest(spark, path)
    return {int(r["cluster_id"]): int(r["n"])
            for r in sim._manifest_codes(spark, path, m)
            .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
            .collect()}


def test_rebalance_splits_hot_cluster_ivf_sq8(spark, corpus, tmp_path):
    path = str(tmp_path / "ivfsq8")
    sim.write_index(corpus, path, "ivf_sq8", k=2, dim=8)
    before = _sizes(spark, path)
    assert sorted(before.values()) == [4, 40]
    hot_cid = max(before, key=lambda c: before[c])
    qv = [1.0, 0.015] + [0.0] * 6
    served_before = sim.index_topk(
        spark, path, qv, corpus, k=8, nprobe=4, kind="ivf_sq8").collect()

    st = sim.rebalance_index(spark, path, corpus,
                             max_imbalance_permille=1500)
    assert st["decision"] == "split"
    assert st["cluster_id"] == hot_cid
    assert st["n_vectors_moved"] == 40
    assert st["imbalance_permille"] == int(1000 * 40 / 22)

    after = _sizes(spark, path)
    assert hot_cid not in after
    assert set(st["new_cluster_ids"]) <= set(after)
    assert sum(after.values()) == 44                  # nothing lost
    assert len(after) == 3
    stats = sim.index_stats(spark, path)
    assert stats["n_vectors"] == 44                   # no double count
    assert stats["n_retired_clusters"] == 1
    assert stats["n_clusters"] == 3

    # serving parity: same candidates -> identical results at a probe
    # depth covering every cluster
    served_after = sim.index_topk(
        spark, path, qv, corpus, k=8, nprobe=4, kind="ivf_sq8").collect()
    assert [tuple(r) for r in served_after] == \
        [tuple(r) for r in served_before]

    m = sim._index_manifest(spark, path)
    assert m["excluded_clusters"] == [hot_cid]
    # centroid table swapped: retired id gone, two sub-centroids in
    cents = {int(r["cluster_id"]) for r in
             spark.read.parquet(f"{path}/{m['centroids']}").collect()}
    assert cents == set(after)


def test_rebalance_balanced_and_flat_are_noops(spark, corpus,
                                               tmp_path):
    path = str(tmp_path / "ivfsq8_bal")
    sim.write_index(corpus, path, "ivf_sq8", k=2, dim=8)
    v0 = list_versions(spark, path)[-1]
    st = sim.rebalance_index(spark, path, corpus,
                             max_imbalance_permille=1900)
    assert st["decision"] == "balanced"
    assert st["imbalance_permille"] <= 1900
    assert list_versions(spark, path)[-1] == v0

    flat = str(tmp_path / "sq8")
    sim.write_index(corpus, flat, "sq8", dim=8)
    st2 = sim.rebalance_index(spark, flat, corpus)
    assert st2 == {"decision": "flat_kind", "kind": "sq8"}


def test_rebalance_primary_store_contract(spark, corpus, tmp_path):
    path = str(tmp_path / "ivfsq8_contract")
    sim.write_index(corpus, path, "ivf_sq8", k=2, dim=8)
    with pytest.raises(ValueError, match="primary store"):
        sim.rebalance_index(spark, path,
                            corpus.filter("vec_id % 2 = 0"),
                            max_imbalance_permille=1500)


def test_rebalance_survives_upsert_and_compact(spark, corpus,
                                               tmp_path):
    """An APPENDED upsert after the split keeps the retired-cluster
    mask (old dirs are immutable); compaction then drops the masked
    rows physically and clears the mask — counts stay exact
    throughout and the tuned default_nprobe rides along."""
    path = str(tmp_path / "ivfsq8_cycle")
    sim.write_index(corpus, path, "ivf_sq8", k=2, dim=8)
    assert sim.tune_index(spark, path, corpus,
                          target_recall_permille=100,
                          nprobes=(1,))["decision"] == "tuned"
    st = sim.rebalance_index(spark, path, corpus,
                             max_imbalance_permille=1500)
    assert st["decision"] == "split"
    assert sim._index_manifest(spark, path)["default_nprobe"] == 1

    batch = _mk_emb(spark, [(900001, [1.0, 0.02] + [0.0] * 6)])
    up = sim.index_upsert(spark, path, batch, kind="ivf_sq8")
    assert up["decision"] == "appended"
    m = sim._index_manifest(spark, path)
    assert m["excluded_clusters"] == [st["cluster_id"]]
    assert m["default_nprobe"] == 1
    assert sim.index_stats(spark, path)["n_vectors"] == 45

    cp = sim.compact_index(spark, path)
    assert cp["decision"] == "compacted"
    m2 = sim._index_manifest(spark, path)
    assert "excluded_clusters" not in m2
    assert m2["default_nprobe"] == 1
    st2 = sim.index_stats(spark, path)
    assert st2["n_vectors"] == 45
    assert st2["n_codes_dirs"] == 1
    # the folded dir physically lacks the retired cluster
    raw = sim._read_codes(spark, path, m2["codes"])
    assert raw.filter(
        F.col("cluster_id") == st["cluster_id"]).count() == 0

    # vacuum collects the pre-split dirs; the index stays servable
    sim.vacuum_index(spark, path, keep_last=1)
    assert sim.read_index_codes(spark, path).count() == 45


@pytest.mark.parametrize("kind", ["ivf_pq", "ivf_bq"])
def test_rebalance_other_ivf_kinds(spark, corpus, tmp_path, kind):
    path = str(tmp_path / kind)
    if kind == "ivf_pq":
        emb, qv = corpus, [1.0, 0.015] + [0.0] * 6
        sim.write_index(emb, path, "ivf_pq", k=2, dim=8)
    else:
        # bq packs exactly 64 sign bits — same skew, zero-padded
        emb = _skewed_corpus(spark, dim=64).localCheckpoint(eager=True)
        qv = [1.0, 0.015] + [0.0] * 62
        sim.write_index(emb, path, "ivf_bq", k=2, dim=64)
    corpus = emb
    serve = partial(sim.index_topk, kind=kind)
    before = serve(spark, path, qv, corpus, k=8, nprobe=4).collect()
    st = sim.rebalance_index(spark, path, corpus,
                             max_imbalance_permille=1500)
    assert st["decision"] == "split"
    stats = sim.index_stats(spark, path)
    assert stats["n_vectors"] == 44
    assert stats["n_clusters"] == 3
    after = serve(spark, path, qv, corpus, k=8, nprobe=4).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]


def test_streaming_maintainer_emits_rebalance_hint(spark, corpus,
                                                   tmp_path):
    """The opt-in skew watch: a micro-batch that lands in the hot
    region pushes imbalance past the threshold -> a `rebalance` hint
    row (n_new = imbalance permille) in the decisions store."""
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (  # noqa: E501
        stream_vector_index_upsert,
    )

    idx = str(tmp_path / "idx")
    sim.write_index(corpus, idx, "ivf_sq8", k=2, dim=8)
    src = str(tmp_path / "src")
    _mk_emb(spark, [(800000 + i, [1.0, 0.03 + 0.001 * i] + [0.0] * 6)
                    for i in range(4)]) \
        .coalesce(1).write.parquet(f"{src}/a.parquet")
    stream = (spark.readStream
              .schema("vec_id long, embedding array<double>")
              .parquet(f"{src}/*.parquet"))
    q = stream_vector_index_upsert(stream, idx, str(tmp_path / "chk"),
                                   rebalance_hint_permille=1500)
    q.awaitTermination()
    decisions = read_version(spark, f"{idx}/_state/decisions").collect()
    kinds = [d["decision"] for d in decisions]
    assert "appended" in kinds and "rebalance" in kinds
    hint = [d for d in decisions if d["decision"] == "rebalance"][0]
    assert hint["n_new"] > 1500                 # the measured permille


def test_rebalance_hot_read_partition_prunes(spark, corpus, tmp_path):
    """The split's cost claim, plan-asserted: the hot cluster's rows
    are read through a PartitionFilters-pruned scan (cluster_id is the
    hive partition column), and a retired cluster's mask is ALSO a
    partition filter — excluded partitions are never opened."""
    from public_transit_data_platform_sql_nosql_spark.plans import (
        executed_plan,
    )

    path = str(tmp_path / "ivfsq8_plan")
    sim.write_index(corpus, path, "ivf_sq8", k=2, dim=8)
    m = sim._index_manifest(spark, path)
    codes = sim._manifest_codes(spark, path, m)
    plan = executed_plan(
        codes.filter(F.col("cluster_id") == 1).select("vec_id"))
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf and "cluster_id" in pf[0].split("PartitionFilters:")[1]

    st = sim.rebalance_index(spark, path, corpus,
                             max_imbalance_permille=1500)
    assert st["decision"] == "split"
    m2 = sim._index_manifest(spark, path)
    plan2 = executed_plan(
        sim._manifest_codes(spark, path, m2).select("vec_id"))
    # the exclusion mask reaches every referenced dir's scan as a
    # partition filter (NOT isin / not-equal on the partition column)
    pf2 = [ln for ln in plan2.split("\n") if "PartitionFilters" in ln]
    assert pf2
    masked = [ln for ln in pf2
              if "cluster_id" in ln.split("PartitionFilters:")[1]]
    assert masked, plan2


# ---------------------------------------------------------------------------
# rebalance_index: degenerate hot list refuses as data


def _degenerate_corpus(spark):
    """The _skewed_corpus shape, but the hot group is ONE repeated
    embedding — 2-means over it collapses to a single sub-cluster."""
    from tests.test_rebalance import _h, _mk_emb

    ids = sorted(range(200),
                 key=lambda i: (_h(f"{sim.KMEANS_SALT}{i}"), i))
    seed_hot, seed_cold = ids[0], ids[1]
    rest = [i for i in range(200) if i not in (seed_hot, seed_cold)]
    hot_ids = [seed_hot] + rest[:39]
    cold_ids = [seed_cold] + rest[39:42]
    rows = [(i, [1.0, 0.0] + [0.0] * 6) for i in hot_ids]
    rows += [(i, [0.001 * j, 1.0] + [0.0] * 6)
             for j, i in enumerate(cold_ids)]
    return _mk_emb(spark, rows)


def test_rebalance_unsplittable_commits_nothing(spark, tmp_path):
    corpus = _degenerate_corpus(spark).localCheckpoint(eager=True)
    path = str(tmp_path / "degen")
    sim.write_index(corpus, path, "ivf_sq8", k=2, dim=8)
    v0 = sim._index_manifest(spark, path)["version"]
    st = sim.rebalance_index(spark, path, corpus,
                             max_imbalance_permille=1500)
    assert st["decision"] == "unsplittable"
    assert st["n_sub_clusters"] == 1
    assert "new_cluster_ids" not in st
    m = sim._index_manifest(spark, path)
    assert m["version"] == v0                   # nothing committed
    assert "excluded_clusters" not in m


def test_rebalance_keeps_tuned_full_probe_full(spark, tmp_path):
    """A split adds one cluster: a tuned default_nprobe that probed
    every cluster moves to the new count, so the exact ``ivf`` kind
    still serves exact recall after the split."""
    import __spark_entry__ as E
    from tests.conftest import SF_DIR

    emb = E._emb(spark, SF_DIR).select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    sim.write_index(emb, path, "ivf")
    n0 = sim.index_stats(spark, path)["n_clusters"]
    tuned = sim.tune_index(spark, path, emb, target_recall_permille=1000,
                           nprobes=(n0,))
    assert tuned["nprobe"] == n0
    assert sim.rebalance_index(spark, path, emb,
                               max_imbalance_permille=0)["decision"] \
        == "split"
    st = sim.index_stats(spark, path)
    assert st["n_clusters"] == n0 + 1
    assert st["default_nprobe"] == st["n_clusters"]
    out = sim.maintain_index(spark, path, emb.filter("vec_id < 4"), emb,
                             rebuild=False)
    assert out["recall_permille"] == 1000, out


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
