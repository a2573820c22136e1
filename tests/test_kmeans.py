"""embedding_kmeans: exact numpy mirror of the deterministic Lloyd's
iterations, clustering-quality sanity, DuckDB differential, and the
broadcast-only plan shape; plus the full-precision ``ivf`` index kind
that stores its clustering (probe pruning, upsert, maintenance rungs)
and hypothesis properties of the IVF trainer's hash-sample and the
filtered probe-widening loop."""

from __future__ import annotations

import hashlib
import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    similarity as sim,
)
from public_transit_data_platform_sql_nosql_spark.pipeline.core import P
from public_transit_data_platform_sql_nosql_spark.plans import plan_summary
from tests.conftest import SF_DIR, duckdb_rows, spark_rows


def _emb(spark):
    return E._emb(spark, SF_DIR)


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P


def _numpy_kmeans(vecs: dict[int, np.ndarray], k: int, n_iter: int):
    """Independent mirror: same seeding, same round-6 argmax tie-break,
    same milli-quantized integer centroid sums."""
    ids = sorted(vecs)
    seeds = sorted(ids, key=lambda v: (_h(f"{sim.KMEANS_SALT}{v}"), v))[:k]
    cents = {c: vecs[v].astype(float) for c, v in enumerate(seeds)}

    def assign(cents):
        out = {}
        for v in ids:
            best = None
            for c in sorted(cents):
                ctr = cents[c]
                cos = float(vecs[v] @ ctr) / np.sqrt(float(vecs[v] @ vecs[v])) \
                    / np.sqrt(float(ctr @ ctr))
                cos = round(cos, 6)
                if best is None or cos > best[1]:
                    best = (c, cos)
            out[v] = best
        return out

    a = assign(cents)
    for _ in range(n_iter - 1):
        sums: dict[int, np.ndarray] = {}
        for v, (c, _cos) in a.items():
            q = np.round(vecs[v] * 1000).astype(np.int64)
            sums[c] = sums.get(c, np.zeros(len(q), dtype=np.int64)) + q
        cents = {c: s.astype(float) for c, s in sums.items()}
        a = assign(cents)
    return a


def test_kmeans_matches_numpy_mirror(spark):
    emb = _emb(spark)
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=float)
            for r in emb.collect()}
    expect = _numpy_kmeans(vecs, sim.KMEANS_K, sim.KMEANS_ITERS)
    got = {r["vec_id"]: (r["cluster_id"], r["cos_sim"])
           for r in sim.embedding_kmeans(emb).collect()}
    assert set(got) == set(expect)
    for v in got:
        assert got[v][0] == expect[v][0], (v, got[v], expect[v])
        assert abs(got[v][1] - expect[v][1]) < 1e-9


def test_kmeans_matches_duckdb_oracle(spark, ddb):
    s = spark_rows(E.queries()["embedding_kmeans"](spark, SF_DIR))
    d = duckdb_rows(ddb, E.oracle_sql()["embedding_kmeans"])
    assert s == d


def test_kmeans_clusters_are_coherent(spark):
    """Mean cosine-to-own-centroid beats the mean pairwise cosine of the
    corpus — i.e. the clustering actually clusters."""
    emb = _emb(spark)
    rows = sim.embedding_kmeans(emb).collect()
    own = float(np.mean([r["cos_sim"] for r in rows]))
    vecs = np.array(
        [r["embedding"] for r in emb.limit(100).collect()], dtype=float)
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    global_mean = float((norm @ norm.T).mean())
    assert own > global_mean + 0.05
    # every cluster id in range, all vectors assigned
    assert {r["cluster_id"] for r in rows} <= set(range(sim.KMEANS_K))
    assert len(rows) == emb.count()


def test_kmeans_plan_shape(spark):
    """Centroid joins must broadcast; no sort-merge join or shuffle-side
    cartesian anywhere in the unrolled plan."""
    p = plan_summary(sim.embedding_kmeans(_emb(spark)))
    assert p["sort_merge_joins"] == 0
    assert p["cartesian_products"] == 0
    # the k-row centroid table rides a broadcast (nested-loop for the
    # conditionless scoring join) — never a shuffle of the vector side
    assert p["broadcast_nested_loop_joins"] >= 1


def test_semantic_dedup_matches_duckdb_oracle(spark, ddb):
    s = spark_rows(E.queries()["semantic_dedup"](spark, SF_DIR))
    d = duckdb_rows(ddb, E.oracle_sql()["semantic_dedup"])
    assert s == d


def test_semantic_dedup_drops_planted_near_dups(spark):
    """The augmented corpus plants a ~0.999-cosine copy of every 5th
    vector (vec_id + 1_000_000); semantic dedup must drop (almost all
    of) the copies and keep originals — keep-first keeps the smaller
    vec_id."""
    rows = sim.semantic_dedup(E._emb_aug(spark, SF_DIR)).collect()
    kept = {r["vec_id"] for r in rows if r["kept"]}
    planted = {r["vec_id"] for r in rows} - {
        r["vec_id"] for r in rows if r["vec_id"] < 1_000_000}
    dropped_planted = planted - kept
    # recall bound: a planted pair is only missed when k-means splits it
    # across clusters
    assert len(dropped_planted) >= 0.9 * len(planted)
    # originals whose copy was dropped are kept (keep-first)
    assert all(v - 1_000_000 in kept or v in kept for v in planted)


def test_semantic_dedup_plan_has_no_cartesian(spark):
    """The pairwise stage must run as a cluster_id-blocked equi-join —
    never a cartesian; the only nested-loop is the k-row centroid
    broadcast inside the k-means subtree."""
    p = plan_summary(sim.semantic_dedup(E._emb_aug(spark, SF_DIR)))
    assert p["cartesian_products"] == 0


def test_ivf_index_write_query_roundtrip(spark, tmp_path):
    """The full-precision ivf kind: a query reads ONLY the probed
    cluster directories (no other cluster's file is an input),
    matches a brute-force recompute within those clusters, and with
    nprobe = every cluster equals the global exact top-k."""
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    sim.write_index(emb, path, "ivf")

    qvec = [float(x) for x in
            emb.filter("vec_id = 0").collect()[0]["embedding"]]
    m = sim._index_manifest(spark, path)
    probe = [cid for _, cid in sim._rank_centroids(
        qvec, sim._centroid_rows(spark, path, m))[:2]]
    res = sim.index_topk(spark, path, qvec, emb, k=5, nprobe=2, kind="ivf")
    scanned = {int(re.search(r"cluster_id=(\d+)", f).group(1))
               for f in res.inputFiles() if "cluster_id=" in f}
    assert scanned == set(probe)
    rows = res.collect()
    assert len(rows) == 5

    # brute-force mirror within the probed clusters
    stored = sim.read_index_codes(spark, path).collect()
    qa = np.array(qvec)

    def cos(v):
        v = np.array(v, dtype=float)
        return round(float(v @ qa) / np.linalg.norm(v) / np.linalg.norm(qa),
                     6)

    cand = sorted(
        ((cos(r["embedding"]), r["vec_id"]) for r in stored
         if r["cluster_id"] in probe),
        key=lambda t: (-t[0], t[1]))[:5]
    assert [(r["cos_sim"], r["neighbor_id"]) for r in rows] == cand

    # probing every cluster recovers the global exact top-k ("every" =
    # the DERIVED cluster count, k ~ sqrt(N))
    n_clusters = sim.index_stats(spark, path)["n_clusters"]
    full = sim.index_topk(spark, path, qvec, emb, k=5, nprobe=n_clusters,
                          kind="ivf").collect()
    allc = sorted(((cos(r["embedding"]), r["vec_id"]) for r in stored),
                  key=lambda t: (-t[0], t[1]))[:5]
    assert [(r["cos_sim"], r["neighbor_id"]) for r in full] == allc


def test_kmeans_iterate_matches_unrolled(spark):
    """The checkpointed loop and the unrolled static plan are the same
    algorithm — identical assignments at matching n_iter."""
    emb = _emb(spark)
    for n in (2, 3):
        unrolled = {(r["vec_id"], r["cluster_id"], r["cos_sim"])
                    for r in sim.embedding_kmeans(emb, n_iter=n).collect()}
        looped = {(r["vec_id"], r["cluster_id"], r["cos_sim"])
                  for r in sim.embedding_kmeans_iterate(
                      emb, n_iter=n).collect()}
        assert unrolled == looped


def test_ivf_kind_upsert_colocates_and_serves(spark, tmp_path):
    """New vectors merge into the stored ivf kind assigned against the
    STORED centroids; re-submitted keys are replaced (each vec_id stays
    unique, whichever cluster it lands in), identical embeddings
    upserted together colocate, and queries see the new vectors."""
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    sim.write_index(emb, path, "ivf")
    n0 = sim.read_index_codes(spark, path).count()

    # re-insert three existing vectors (update path, vec 0 included) +
    # one new vector duplicating vec 0's embedding — identical
    # embeddings assigned in the same upsert MUST colocate
    base = {r["vec_id"]: r for r in emb.collect()}
    v0 = base[0]["embedding"]
    newbie = [(999999, v0, base[0]["label"])]
    updates = spark.createDataFrame(
        [(0, v0, base[0]["label"]),
         (1, base[1]["embedding"], base[1]["label"]),
         (2, base[2]["embedding"], base[2]["label"])] + newbie,
        emb.schema)
    st = sim.index_upsert(spark, path, updates, kind="ivf")
    assert (st["decision"], st["n_new"], st["n_replaced"]) \
        == ("replaced", 4, 3)

    after = sim.read_index_codes(spark, path)
    assert after.count() == n0 + 1
    assert after.select("vec_id").distinct().count() == n0 + 1
    got = {r["vec_id"]: r["cluster_id"] for r in after.collect()
           if r["vec_id"] in (0, 999999)}
    assert got[999999] == got[0]
    # the duplicate embedding ranks at the top of a query for v0
    vectors = emb.unionByName(spark.createDataFrame(newbie, emb.schema))
    top = sim.index_topk(spark, path, [float(x) for x in v0], vectors,
                         k=2, nprobe=2, kind="ivf").collect()
    assert {r["neighbor_id"] for r in top} == {0, 999999}
    assert all(r["cos_sim"] == 1.0 for r in top)


# --- maintenance loop (upsert -> recall monitor -> decision) --------------


def _mk_emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")


def _two_group_base(spark):
    """Two tight groups: A along axis 0, B along axis 1 (8-dim)."""
    rows = []
    for i in range(20):
        a = [1.0, 0.001 * i] + [0.0] * 6
        b = [0.001 * i, 1.0] + [0.0] * 6
        rows.append((i, a))
        rows.append((100 + i, b))
    return _mk_emb(spark, rows)


def _straddle_batch(spark, n=16):
    """Drift batch: vectors near the A/B boundary, alternately tilted so
    the stored centroids split them across BOTH clusters — their mutual
    nearest neighbors then straddle a stale cluster boundary, which is
    exactly the drift pattern that breaks nprobe=1 serving."""
    rows = []
    for i in range(n):
        v = [1.0, 1.0] + [0.001 * i] * 6
        v[i % 2] += 0.05
        rows.append((1000 + i, v))
    return _mk_emb(spark, rows)


def test_maintain_ok_when_batch_matches_geometry(spark, tmp_path):
    """A batch from the SAME distribution as a stored cluster keeps
    recall at the floor -> decision 'ok', index untouched."""
    path = str(tmp_path / "ivf_ok")
    base = _two_group_base(spark)
    sim.write_index(base, path, "ivf", k=2, dim=8)
    batch = _mk_emb(spark, [
        (2000 + i, [1.0, 0.002 * i + 0.0005] + [0.0] * 6)
        for i in range(6)
    ])
    st = sim.maintain_index(spark, path, batch, base.unionByName(batch),
                            k=5, nprobe=1, recall_floor_permille=900,
                            sample_queries=4, kind="ivf")
    assert st["decision"] == "ok"
    assert st["recall_permille"] >= 900
    assert st["nprobe"] == 1


def test_maintain_planted_drift_flips_to_bump(spark, tmp_path):
    """Boundary-straddling drift tanks nprobe=1 recall; doubling the
    probes recovers it -> decision 'bump_nprobe' with the new setting."""
    path = str(tmp_path / "ivf_bump")
    base, batch = _two_group_base(spark), _straddle_batch(spark)
    sim.write_index(base, path, "ivf", k=2, dim=8)
    st = sim.maintain_index(spark, path, batch, base.unionByName(batch),
                            k=10, nprobe=1, recall_floor_permille=900,
                            sample_queries=4, kind="ivf")
    assert st["recall_permille"] < 900
    assert st["decision"] == "bump_nprobe"
    assert st["nprobe"] == 2
    assert st["recall_after_bump_permille"] >= 900
    # no rerank rung: the full-precision scores are already exact
    assert "recall_after_rerank_permille" not in st


def test_maintain_planted_drift_rebuilds_at_probe_cap(spark, tmp_path):
    """Same drift but the probe budget is capped at 1: the only move
    left is re-clustering -> decision 'rebuild', executed in place, and
    the re-measured recall improves (the drift group now has its own
    centroid geometry)."""
    path = str(tmp_path / "ivf_rebuild")
    base, batch = _two_group_base(spark), _straddle_batch(spark)
    vectors = base.unionByName(batch)
    sim.write_index(base, path, "ivf", k=2, dim=8)
    st = sim.maintain_index(spark, path, batch, vectors, k=10, nprobe=1,
                            max_nprobe=1, recall_floor_permille=900,
                            sample_queries=4, kind="ivf")
    assert st["decision"] == "rebuild"
    assert "recall_after_bump_permille" not in st
    assert "recall_after_rerank_permille" not in st
    assert st["recall_after_rebuild_permille"] > st["recall_permille"]
    # the index still serves and holds base + batch
    assert sim.read_index_codes(spark, path).count() == 40 + 16
    q = sim.index_topk(
        spark, path, [1.05, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], vectors,
        k=3, nprobe=2, kind="ivf")
    assert len(q.collect()) == 3


def test_maintain_empty_batch_is_ok(spark, tmp_path):
    path = str(tmp_path / "ivf_empty")
    base = _two_group_base(spark)
    sim.write_index(base, path, "ivf", k=2, dim=8)
    empty = _mk_emb(spark, [])
    st = sim.maintain_index(spark, path, empty, base, k=5, nprobe=1,
                            recall_floor_permille=900, kind="ivf")
    assert st["decision"] == "ok"
    assert st["recall_permille"] is None


# --- filtered-ANN probe widening (mirrors index_topk on IVF kinds) ----------


def _widen(per_cluster_allowed, nprobe, k):
    """Python mirror of the widening loop: probe the ranked clusters,
    doubling nprobe until the probed set holds >= k allowed candidates
    or every cluster is probed.  Returns (final_nprobe, reachable,
    steps)."""
    n = len(per_cluster_allowed)
    steps = 0
    while nprobe < n:
        reachable = sum(per_cluster_allowed[:nprobe])
        if reachable >= k:
            break
        nprobe = min(nprobe * 2, n)
        steps += 1
    return nprobe, sum(per_cluster_allowed[:nprobe]), steps


@given(st.lists(st.integers(min_value=0, max_value=30), min_size=1,
                max_size=64),
       st.integers(min_value=1, max_value=16),
       st.integers(min_value=1, max_value=20))
@settings(max_examples=300, deadline=None)
def test_probe_widening_terminates_and_suffices(clusters, nprobe, k):
    """The two laws the filtered serving path needs: the loop runs at
    most log2(n) doubling steps, and the final probe set holds
    min(k, total_allowed) candidates — a restrictive filter can starve
    the shortlist ONLY when the whole index holds fewer than k allowed
    vectors (at which point every one of them is probed)."""
    total = sum(clusters)
    final_np, reachable, steps = _widen(clusters, nprobe, k)
    assert steps <= max(1, len(clusters)).bit_length()
    assert reachable >= min(k, total)


# --- trainer hash-sample nesting (mirrors similarity._train_sample) --------


def _sample(ids, fraction):
    permille = max(1, int(round(fraction * 1000)))
    return {i for i in ids
            if _h(sim.TRAIN_SALT + str(i)) % 1000 < permille}


@given(st.sets(st.integers(min_value=0, max_value=10**6), max_size=300),
       st.floats(min_value=0.01, max_value=0.99),
       st.floats(min_value=0.01, max_value=0.99))
@settings(max_examples=200, deadline=None)
def test_train_sample_is_nested_and_deterministic(ids, f1, f2):
    """Samples at different fractions NEST (the threshold filter is
    monotone in the fraction), so raising train_fraction only adds
    vectors — no churn in which vectors train — and re-sampling at the
    same fraction is bit-stable."""
    lo, hi = sorted((f1, f2))
    assert _sample(ids, lo) <= _sample(ids, hi)
    assert _sample(ids, f1) == _sample(ids, f1)
