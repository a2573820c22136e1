"""tune_index (round 11b): the closed tuning loop — measured recall
curve -> smallest nprobe meeting the target -> manifest-committed
``default_nprobe`` -> every ``nprobe=None`` serving call probes at it
(single, batch, streaming, CLI all share `_resolve_nprobe`).  Also the
maintainers' bump rung, which now PERSISTS its new setting through the
same commit shape instead of returning it as advice."""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
    list_versions,
)
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    similarity as sim,
)
from tests.conftest import SF_DIR
from tests.test_rebalance import _skewed_corpus


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR)


def _mk_emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")


def test_tune_commits_default_nprobe_serving_resolves(spark, emb,
                                                      tmp_path):
    """tune at a reachable target commits default_nprobe as a
    manifest-only version bump, and nprobe=None serving (single AND
    batch) then returns exactly what the explicit setting returns."""
    path = str(tmp_path / "ivfsq8")
    sim.write_index(emb, path, "ivf_sq8")
    v0 = list_versions(spark, path)[-1]
    st = sim.tune_index(spark, path, emb, target_recall_permille=100,
                        nprobes=(1, 2))
    assert st["decision"] == "tuned"        # untuned default is 2;
    assert st["nprobe"] == 1                # target 100 is met at 1
    assert st["previous_nprobe"] == 2
    assert [r["nprobe"] for r in st["curve"]] == [1, 2]
    m = sim._index_manifest(spark, path)
    assert m["default_nprobe"] == 1
    assert m["version"] == st["version"] > v0
    # manifest-only commit: same codes/centroids/quantizer refs
    assert m["codes"] and m["centroids"] and m["quantizer"]

    qv = [float(x) for x in emb.filter("vec_id = 7").head()["embedding"]]
    got = sim.index_topk(spark, path, qv, emb, k=5, kind="ivf_sq8").collect()
    want = sim.index_topk(spark, path, qv, emb, k=5,
                          nprobe=1, kind="ivf_sq8").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    queries = emb.filter("vec_id % 37 = 0").selectExpr(
        "vec_id as query_id", "embedding")
    gb = sim.index_topk_batch(spark, path, queries, emb, k=5, kind="ivf_sq8")
    wb = sim.index_topk_batch(spark, path, queries, emb, k=5,
                              nprobe=1, kind="ivf_sq8")
    assert sorted(map(tuple, gb.collect())) == \
        sorted(map(tuple, wb.collect()))

    # re-tuning at the same target is a noop: no new version
    st2 = sim.tune_index(spark, path, emb, target_recall_permille=100,
                         nprobes=(1, 2))
    assert st2["decision"] == "noop" and st2["nprobe"] == 1
    assert list_versions(spark, path)[-1] == st["version"]


def test_tune_flat_kind_commits_rerank_depth(spark, emb, tmp_path):
    """r13: the flat kinds are no longer 'nothing to tune' — their one
    quality knob is the exact-rerank depth, and tune_index sweeps it
    and commits default_rerank_mult exactly like the IVF nprobe
    commit (a pick equal to the constant fallback still pins)."""
    path = str(tmp_path / "bq")
    sim.write_index(emb, path, "bq")
    v0 = list_versions(spark, path)[-1]
    st = sim.tune_index(spark, path, emb)
    assert st["decision"] == "tuned" and st["kind"] == "bq"
    assert "nprobe" not in st
    rm = st["rerank_mult"]
    m = sim._index_manifest(spark, path)
    assert m["default_rerank_mult"] == rm
    assert list_versions(spark, path)[-1] == st["version"] != v0
    # curve rows carry the rerank grid, nprobe stays None
    assert all(r["nprobe"] is None and "rerank_mult" in r
               for r in st["curve"])
    # re-tune at the same target: explicitly pinned and equal -> noop
    st2 = sim.tune_index(spark, path, emb)
    assert st2["decision"] == "noop" and st2["rerank_mult"] == rm
    assert list_versions(spark, path)[-1] == st["version"]


def test_tune_target_unreachable_writes_nothing(spark, emb, tmp_path,
                                                monkeypatch):
    """No measured depth meets the target -> decision as data, NO
    manifest write (serving deeper than measured would be a guess)."""
    path = str(tmp_path / "ivfsq8_unreach")
    sim.write_index(emb, path, "ivf_sq8")
    v0 = list_versions(spark, path)[-1]
    monkeypatch.setattr(sim, "index_recall_curve", lambda *a, **k: [
        {"nprobe": 1, "min_recall_permille": 400,
         "mean_recall_permille": 600},
        {"nprobe": 2, "min_recall_permille": 700,
         "mean_recall_permille": 800},
    ])
    # rerank_mults=() pins the second rung OFF: this test isolates the
    # nprobe rung's refusal (the rerank rung would really measure the
    # index and reach the target on its corpus-covering ladder)
    st = sim.tune_index(spark, path, emb, target_recall_permille=900,
                        nprobes=(1, 2), rerank_mults=())
    assert st["decision"] == "target_unreachable"
    assert "nprobe" not in st
    assert list_versions(spark, path)[-1] == v0
    assert "default_nprobe" not in sim._index_manifest(spark, path)


def test_tune_validates_target_range(spark, emb, tmp_path):
    path = str(tmp_path / "ivfsq8_range")
    sim.write_index(emb, path, "ivf_sq8")
    with pytest.raises(ValueError, match="target_recall_permille"):
        sim.tune_index(spark, path, emb, target_recall_permille=0)
    with pytest.raises(ValueError, match="target_recall_permille"):
        sim.tune_index(spark, path, emb, target_recall_permille=1500)


def test_upsert_carries_tuned_nprobe_forward(spark, emb, tmp_path):
    """An appended upsert after tune keeps serving at the tuned point
    (the manifest rewrite carries default_nprobe; only a rebuild —
    new centroids — resets it)."""
    path = str(tmp_path / "ivfsq8_carry")
    sim.write_index(emb, path, "ivf_sq8")
    st = sim.tune_index(spark, path, emb, target_recall_permille=100,
                        nprobes=(1,))
    assert st["decision"] == "tuned" and st["nprobe"] == 1
    qv = [float(x) for x in emb.filter("vec_id = 3")
          .head()["embedding"]]
    up = sim.index_upsert(spark, path, _mk_emb(
        spark, [(990000, qv)]), kind="ivf_sq8")
    assert up["decision"] == "appended"
    assert sim._index_manifest(spark, path)["default_nprobe"] == 1
    # compaction preserves it too ({**m} rewrite)
    cp = sim.compact_index(spark, path)
    assert cp["decision"] == "compacted"
    assert sim._index_manifest(spark, path)["default_nprobe"] == 1


def _two_group_base(spark):
    rows = []
    for i in range(20):
        rows.append((i, [1.0, 0.001 * i] + [0.0] * 6))
        rows.append((100 + i, [0.001 * i, 1.0] + [0.0] * 6))
    return _mk_emb(spark, rows)


def _straddle_batch_in_range(spark, n=16):
    """The test_kmeans straddle pattern kept INSIDE the stored
    quantizer's per-dim ranges (tilt down, pad dims stay 0.0) so the
    SQ8 drift screen doesn't flip the upsert to rebuild before the
    bump rung gets measured."""
    rows = []
    for i in range(n):
        v = [1.0, 1.0] + [0.0] * 6
        v[i % 2] -= 0.05
        rows.append((1000 + i, v))
    return _mk_emb(spark, rows)


def test_maintain_bump_persists_to_manifest(spark, tmp_path):
    """The bump rung commits its new setting: after decision
    'bump_nprobe', nprobe=None serving probes at the bumped depth with
    no caller threading (the loop the r10 maintainers left open)."""
    path = str(tmp_path / "ivfsq8_bump")
    base = _two_group_base(spark)
    sim.write_index(base, path, "ivf_sq8", k=2, dim=8)
    batch = _straddle_batch_in_range(spark)
    vectors = base.unionByName(batch)
    st = sim.maintain_index(spark, path, batch, vectors,
                            k=10, nprobe=1, sample_queries=4,
                            recall_floor_permille=900, kind="ivf_sq8")
    assert st["decision"] == "bump_nprobe"
    assert st["nprobe"] == 2
    m = sim._index_manifest(spark, path)
    assert m["default_nprobe"] == 2
    assert m["version"] == st["nprobe_version"]
    # and a later maintain at the SAME (now-default) depth reads the
    # manifest: nprobe=None resolves to the persisted 2
    st2 = sim.maintain_index(spark, path, batch, vectors,
                             k=10, sample_queries=4,
                             recall_floor_permille=900, kind="ivf_sq8")
    assert st2["nprobe"] >= 2
    assert st2["decision"] == "ok"


# ---------------------------------------------------------------------------
# tune_index pins the measured point even when it equals the fallback


def test_tune_pins_pick_equal_to_default(spark, tmp_path):
    corpus = _skewed_corpus(spark).localCheckpoint(eager=True)
    path = str(tmp_path / "tune")
    sim.write_index(corpus, path, "ivf_sq8", k=2, dim=8)
    # nprobes=(2,) makes the measured pick exactly DEFAULT_NPROBE on an
    # UNTUNED manifest — the r11 defect declared 'noop' and wrote
    # nothing, leaving the operating point riding the constant
    ix0 = sim.index_stats(spark, path)
    assert ix0["tuned"] is False and ix0["default_nprobe"] == 2
    st = sim.tune_index(spark, path, corpus, target_recall_permille=1,
                        nprobes=(2,))
    assert st["decision"] == "tuned" and st["nprobe"] == 2
    assert sim._index_manifest(spark, path)["default_nprobe"] == 2
    ix1 = sim.index_stats(spark, path)
    assert ix1["tuned"] is True and ix1["default_nprobe"] == 2
    # now EXPLICITLY pinned and equal -> noop, no version bump
    v = sim._index_manifest(spark, path)["version"]
    st2 = sim.tune_index(spark, path, corpus,
                         target_recall_permille=1, nprobes=(2,))
    assert st2["decision"] == "noop"
    assert sim._index_manifest(spark, path)["version"] == v


# ---------------------------------------------------------------------------
# tunable rerank depth — the flat kinds' operating point


def _hamming_blind_bucket(spark, n=24, dim=64, base=0):
    """One sign-bucket whose WITHIN-bucket ranking Hamming cannot see:
    every vector is [1, a_j, 0...] with a_j > 0 (identical sign bits),
    the low ids carry a_j far from vec 0's and the TOP ids carry a_j
    closest to it — so a shallow Hamming shortlist (tie-broken by
    vec_id ASC) picks the low-id decoys and only a deeper exact rerank
    recovers vec 0's true neighbors."""
    rows = [(base + 0, [1.0, 0.9] + [0.0] * (dim - 2))]
    for j in range(1, n - 4):
        rows.append((base + j,
                     [1.0, 0.1 + 0.0001 * j] + [0.0] * (dim - 2)))
    for i, a in enumerate((0.89, 0.88, 0.87, 0.86)):
        rows.append((base + n - 4 + i,
                     [1.0, a] + [0.0] * (dim - 2)))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


def test_tune_bq_rerank_depth_changes_served_results(spark, tmp_path):
    """End to end on a corpus where Hamming ties within the bucket:
    the untuned (shallow) serve returns the low-id decoys, tune_index
    measures the rerank curve and commits the smallest depth meeting
    the target, and the SAME serving call (rerank_mult=None) then
    returns the true neighbors — the operating point changed serving
    without any caller threading a number through."""
    corpus = _hamming_blind_bucket(spark).localCheckpoint(eager=True)
    path = str(tmp_path / "bq")
    sim.write_index(corpus, path, "bq")
    # true top-5 for vec 0: itself + the four a~0.86-0.89 high ids
    truth = {0, 20, 21, 22, 23}
    shallow = {int(r["neighbor_id"]) for r in sim.index_topk(
        spark, path, [1.0, 0.9] + [0.0] * 62, corpus, k=5,
        rerank_mult=1, kind="bq").collect()}
    assert shallow == {0, 1, 2, 3, 4}       # Hamming-tie decoys
    st = sim.tune_index(spark, path, corpus, k=5,
                        rerank_mults=(1, 2, 4, 8))
    assert st["decision"] == "tuned"
    assert st["rerank_mult"] == 8           # 5*8 covers the 24 rows
    served = {int(r["neighbor_id"]) for r in sim.index_topk(
        spark, path, [1.0, 0.9] + [0.0] * 62, corpus,
        k=5,
        kind="bq").collect()}                     # rerank_mult=None resolves
    assert served == truth
    # the curve recorded WHY: min recall climbs with depth
    mins = [r["min_recall_permille"] for r in st["curve"]]
    assert mins[0] < 950 <= mins[-1]


def test_tune_ivf_second_rung_commits_both_knobs(spark, tmp_path):
    """An IVF index whose probe sweep cannot reach the target (codes
    cannot rank within the probed cluster) falls through to the rerank
    rung: ceiling-check at full probe, nested probe sweep at the first
    depth that clears, ONE manifest bump carrying both knobs."""
    from pyspark.sql import functions as _F

    # bucket A: 120 Hamming-blind rows (ids 0-119); bucket B: 24 far
    # rows on other axes (ids 200+) so k=2 clustering separates them
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
    st = sim.tune_index(spark, path, corpus, k=5,
                        rerank_mults=(16, 32))
    assert st["decision"] == "tuned"
    assert st["rerank_mult"] == 32          # 5*16=80 misses ids 116+
    assert st["nprobe"] >= 1
    assert st["rerank_curve"], "second rung must record its points"
    m = sim._index_manifest(spark, path)
    assert m["default_rerank_mult"] == 32
    assert m["default_nprobe"] == st["nprobe"]
    # the committed pair serves the true neighbors with no overrides
    served = {int(r["neighbor_id"]) for r in sim.index_topk(
        spark, path, [1.0, 0.9] + [0.0] * 62, corpus, k=5,
        kind="ivf_bq").collect()}
    assert served == {0, 116, 117, 118, 119}


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
