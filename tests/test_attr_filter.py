"""Attribute-pushdown filtered ANN on the flagship layout (round 11b):
``write_index(..., attrs=...)`` stores filterable scalar columns
WITH the codes, and ``where=`` on the serving paths pushes the
predicate to the codes scan (PushedFilters) instead of semi-joining an
id list — the multi-tenant / corpus-facet serving shape.  Same
adaptive probe widening as ``allowed=``, counts running under the
pushed predicate; upserts must carry the same attribute columns."""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    similarity as sim,
)
from tests.conftest import SF_DIR
from tests.test_rebalance import _skewed_corpus


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR)


def _attrs(emb):
    # deterministic facet: lang cycles en/fr/de by vec_id
    return emb.select(
        "vec_id",
        F.element_at(F.array(F.lit("en"), F.lit("fr"), F.lit("de")),
                     (F.col("vec_id") % 3 + 1).cast("int"))
        .alias("lang"))


@pytest.fixture(scope="module")
def attr_index(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("attr") / "ivfsq8")
    sim.write_index(emb, path, "ivf_sq8", attrs=_attrs(emb))
    return path


def test_where_equals_allowed_form(spark, emb, attr_index):
    """The pushdown form returns exactly what the id-list form returns
    for the equivalent filter — same rows, same ranks."""
    qv = [float(x) for x in emb.filter("vec_id = 7")
          .head()["embedding"]]
    by_where = sim.index_topk(
        spark, attr_index, qv, emb, k=5, nprobe=2,
        where="lang = 'en'", kind="ivf_sq8").collect()
    allowed = _attrs(emb).filter("lang = 'en'").select("vec_id")
    by_allowed = sim.index_topk(
        spark, attr_index, qv, emb, k=5, nprobe=2,
        allowed=allowed, kind="ivf_sq8").collect()
    assert [tuple(r) for r in by_where] == \
        [tuple(r) for r in by_allowed]
    # and every served neighbor satisfies the predicate
    assert all(int(r["neighbor_id"]) % 3 == 0 for r in by_where)


def test_where_reaches_scan_as_pushed_filter(spark, emb, attr_index):
    """The plan claim: the predicate lands on the CODES scan as a
    parquet PushedFilters entry — no join in the candidate stage."""
    from public_transit_data_platform_sql_nosql_spark.plans import (
        executed_plan,
    )

    qv = [float(x) for x in emb.filter("vec_id = 7")
          .head()["embedding"]]
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = executed_plan(sim.index_topk(
            spark, attr_index, qv, emb, k=5, nprobe=2,
            where="lang = 'en'", kind="ivf_sq8"))
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    codes_scans = [
        ln for ln in plan.split("\n")
        if "FileScan parquet" in ln and "/codes" in ln]
    assert codes_scans
    assert any("EqualTo(lang,en)" in ln.split("PushedFilters:")[-1]
               for ln in codes_scans if "PushedFilters:" in ln), plan


def test_where_widens_probes(spark, tmp_path):
    """A facet stored only OUTSIDE the query's best cluster widens the
    probe set instead of starving the shortlist (the allowed= contract,
    pushdown form)."""
    from tests.test_rebalance import _skewed_corpus

    corpus = _skewed_corpus(spark)
    # hot group (axis 0) carries lang 'a'; cold group (axis 1) 'b'
    attrs = corpus.select(
        "vec_id",
        F.when(F.element_at("embedding", 1) > 0.5, "a")
        .otherwise("b").alias("lang"))
    path = str(tmp_path / "widen")
    sim.write_index(corpus, path, "ivf_sq8", k=2, dim=8, attrs=attrs)
    qv = [1.0, 0.015] + [0.0] * 6          # firmly in the hot cluster
    got = sim.index_topk(spark, path, qv, corpus, k=3,
                         nprobe=1, where="lang = 'b'",
                         kind="ivf_sq8").collect()
    assert len(got) == 3                    # widened past cluster 1
    cold = {int(r["vec_id"]) for r in attrs.filter("lang = 'b'")
            .collect()}
    assert all(int(r["neighbor_id"]) in cold for r in got)


def test_batch_where_matches_single(spark, emb, attr_index):
    queries = emb.filter("vec_id % 41 = 0").selectExpr(
        "vec_id as query_id", "embedding")
    batch = sim.index_topk_batch(
        spark, attr_index, queries, emb, k=4, nprobe=2,
        where="lang = 'fr'", kind="ivf_sq8").collect()
    rows_by_q = {}
    for r in batch:
        rows_by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["neighbor_id"]), r["cos_sim"]))
    for q in queries.collect():
        single = sim.index_topk(
            spark, attr_index, [float(x) for x in q["embedding"]],
            emb, k=4, nprobe=2, where="lang = 'fr'", kind="ivf_sq8").collect()
        assert sorted(rows_by_q[int(q["query_id"])]) == sorted(
            (int(r["rank"]), int(r["neighbor_id"]), r["cos_sim"])
            for r in single)


def test_upsert_carries_attrs_and_contract(spark, emb, tmp_path):
    path = str(tmp_path / "up")
    sim.write_index(emb, path, "ivf_sq8", attrs=_attrs(emb))
    assert sim._index_manifest(spark, path)["attrs"] == ["lang"]

    qv = [float(x) for x in emb.filter("vec_id = 3")
          .head()["embedding"]]
    # attrs as columns ON the batch (the streaming-feed shape)
    batch = spark.createDataFrame(
        [(970001, qv, "en")],
        "vec_id long, embedding array<double>, lang string")
    st = sim.index_upsert(spark, path, batch, kind="ivf_sq8")
    assert st["decision"] == "appended"
    merged = emb.select("vec_id", "embedding").unionByName(
        batch.select("vec_id", "embedding"))
    got = sim.index_topk(spark, path, qv, merged,
                         k=3, nprobe=8, where="lang = 'en'", kind="ivf_sq8")
    assert 970001 in {int(r["neighbor_id"]) for r in got.collect()}

    # keyed replace keeps every survivor's attrs queryable
    st2 = sim.index_upsert(spark, path, batch, kind="ivf_sq8")
    assert st2["decision"] == "replaced"
    n_en = sim._manifest_codes(
        spark, path, sim._index_manifest(spark, path)) \
        .filter("lang = 'en'").count()
    assert n_en == _attrs(emb).filter("lang = 'en'").count() + 1

    # a bare batch is refused — NULL attrs would silently vanish from
    # every where= filter
    bare = spark.createDataFrame(
        [(970002, qv)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="missing"):
        sim.index_upsert(spark, path, bare, kind="ivf_sq8")

    # and attrs against an attr-less index are refused too
    plain = str(tmp_path / "plain")
    sim.write_index(emb, plain, "ivf_sq8")
    with pytest.raises(ValueError, match="no attribute columns"):
        sim.index_upsert(
            spark, plain, bare, attrs=_attrs(emb), kind="ivf_sq8")


def test_attrs_survive_compact_and_rebalance(spark, tmp_path):
    from tests.test_rebalance import _skewed_corpus

    corpus = _skewed_corpus(spark)
    attrs = corpus.select(
        "vec_id", (F.col("vec_id") % 2 == 0).cast("string")
        .alias("even"))
    path = str(tmp_path / "cycle")
    sim.write_index(corpus, path, "ivf_sq8", k=2, dim=8, attrs=attrs)
    n_even = attrs.filter("even = 'true'").count()

    st = sim.rebalance_index(spark, path, corpus,
                             max_imbalance_permille=1500)
    assert st["decision"] == "split"
    m = sim._index_manifest(spark, path)
    assert m["attrs"] == ["even"]           # {**m} rewrite carries it
    assert sim._manifest_codes(spark, path, m) \
        .filter("even = 'true'").count() == n_even

    cp = sim.compact_index(spark, path)
    assert cp["decision"] == "compacted"
    m2 = sim._index_manifest(spark, path)
    assert m2["attrs"] == ["even"]
    assert sim._manifest_codes(spark, path, m2) \
        .filter("even = 'true'").count() == n_even


def test_maintain_rebuild_preserves_attrs(spark, tmp_path):
    """The retrain rung never strips filterability: a drift-forced
    rebuild self-carries the stored attribute columns, with the
    refused batch's attrs taken from the batch itself (they never
    reached the codes)."""
    base = spark.createDataFrame(
        [(i, [1.0, 0.001 * i] + [0.0] * 6, "en") for i in range(12)]
        + [(100 + i, [0.001 * i, 1.0] + [0.0] * 6, "fr")
           for i in range(12)],
        "vec_id long, embedding array<double>, lang string")
    path = str(tmp_path / "rebuild")
    sim.write_index(base.select("vec_id", "embedding"), path, "ivf_sq8",
                    k=2, dim=8,
                    attrs=base.select("vec_id", "lang"))
    wild = spark.createDataFrame(
        [(900 + i, [100.0 + i, 50.0] + [0.0] * 6, "de")
         for i in range(3)],
        "vec_id long, embedding array<double>, lang string")
    vectors = base.select("vec_id", "embedding").unionByName(
        wild.select("vec_id", "embedding"))
    st = sim.maintain_index(spark, path, wild, vectors, k=5, kind="ivf_sq8")
    assert st["decision"] == "rebuild"
    m = sim._index_manifest(spark, path)
    assert m["attrs"] == ["lang"]
    codes = sim._manifest_codes(spark, path, m)
    assert codes.count() == 27
    assert codes.filter("lang IS NULL").count() == 0
    assert codes.filter("lang = 'de'").count() == 3   # from the batch


@pytest.mark.parametrize("kind", ["ivf_pq", "ivf_bq"])
def test_where_pushdown_other_ivf_kinds(spark, tmp_path, kind):
    """The pushdown contract is uniform across the cluster-partitioned
    layouts: where == allowed-form results, upsert carries attrs
    (batch-column shape), bare batches refused."""
    from tests.test_rebalance import _skewed_corpus

    dim = 8 if kind == "ivf_pq" else 64
    corpus = _skewed_corpus(spark, dim=dim).localCheckpoint(eager=True)
    attrs = corpus.select(
        "vec_id",
        F.when(F.element_at("embedding", 1) > 0.5, "a")
        .otherwise("b").alias("lang"))
    path = str(tmp_path / kind)
    sim.write_index(corpus, path, kind, k=2, dim=dim, attrs=attrs)
    serve = partial(sim.index_topk, kind=kind)
    upsert = partial(sim.index_upsert, kind=kind)
    assert sim._index_manifest(spark, path)["attrs"] == ["lang"]

    qv = [1.0, 0.015] + [0.0] * (dim - 2)
    by_where = serve(spark, path, qv, corpus, k=3, nprobe=1,
                     where="lang = 'b'").collect()
    by_allowed = serve(spark, path, qv, corpus, k=3, nprobe=1,
                       allowed=attrs.filter("lang = 'b'")
                       .select("vec_id")).collect()
    assert len(by_where) == 3               # widened past the hot cluster
    assert [tuple(r) for r in by_where] == \
        [tuple(r) for r in by_allowed]

    batch = spark.createDataFrame(
        [(970001, qv, "b")],
        "vec_id long, embedding array<double>, lang string")
    st = upsert(spark, path, batch)
    assert st["decision"] == "appended"
    m = sim._index_manifest(spark, path)
    assert m["attrs"] == ["lang"]
    assert sim._manifest_codes(spark, path, m) \
        .filter("lang = 'b'").count() == 5  # 4 cold + the upsert

    bare = spark.createDataFrame(
        [(970002, qv)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="missing"):
        upsert(spark, path, bare)


# ---------------------------------------------------------------------------
# flat-layout attrs / where= pushdown (completing the matrix)


def _flat_fixture(spark, kind, tmp_path):
    dim = 8 if kind in ("sq8", "pq") else 64
    corpus = _skewed_corpus(spark, dim=dim).localCheckpoint(eager=True)
    attrs = corpus.select(
        "vec_id",
        F.when(F.element_at("embedding", 1) > 0.5, "a")
        .otherwise("b").alias("lang"))
    path = str(tmp_path / kind)
    sim.write_index(corpus, path, kind, dim=dim, attrs=attrs)
    return (corpus, attrs, path, dim, partial(sim.index_topk, kind=kind),
            partial(sim.index_topk_batch, kind=kind),
            partial(sim.index_upsert, kind=kind))


@pytest.mark.parametrize("kind", ["sq8", "pq", "bq"])
def test_flat_where_pushdown(spark, tmp_path, kind):
    """The pushdown contract on the flat layouts: manifest records the
    attr columns, where= == allowed-form results (no widening needed —
    a flat scan sees everything), upserts carry attrs (batch-column
    shape), bare batches against an attrs index are refused."""
    corpus, attrs, path, dim, serve, batch_serve, upsert = \
        _flat_fixture(spark, kind, tmp_path)
    assert sim._index_manifest(spark, path)["attrs"] == ["lang"]

    qv = [1.0, 0.015] + [0.0] * (dim - 2)
    by_where = serve(spark, path, qv, corpus, k=3,
                     where="lang = 'b'").collect()
    by_allowed = serve(spark, path, qv, corpus, k=3,
                       allowed=attrs.filter("lang = 'b'")
                       .select("vec_id")).collect()
    assert len(by_where) == 3
    assert [tuple(r) for r in by_where] == \
        [tuple(r) for r in by_allowed]
    cold = {int(r["vec_id"]) for r in attrs.filter("lang = 'b'")
            .collect()}
    assert all(int(r["neighbor_id"]) in cold for r in by_where)

    # batch path parity with the single path under the same filter
    queries = corpus.limit(3).selectExpr("vec_id as query_id",
                                         "embedding")
    got = batch_serve(spark, path, queries, corpus, k=3,
                      where="lang = 'b'").collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["neighbor_id"]), r["cos_sim"]))
    for q in queries.collect():
        single = serve(spark, path,
                       [float(x) for x in q["embedding"]],
                       corpus, k=3, where="lang = 'b'").collect()
        assert sorted(by_q[int(q["query_id"])]) == sorted(
            (int(r["rank"]), int(r["neighbor_id"]), r["cos_sim"])
            for r in single)

    # upsert with attrs as batch columns; where= then serves the row
    batch = spark.createDataFrame(
        [(970001, qv, "b")],
        "vec_id long, embedding array<double>, lang string")
    st = upsert(spark, path, batch)
    assert st["decision"] == "appended"
    m = sim._index_manifest(spark, path)
    assert m["attrs"] == ["lang"]
    assert sim._manifest_codes(spark, path, m) \
        .filter("lang = 'b'").count() == 5      # 4 cold + the upsert

    bare = spark.createDataFrame(
        [(970002, qv)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="missing"):
        upsert(spark, path, bare)


def test_flat_where_reaches_scan_as_pushed_filter(spark, tmp_path):
    from public_transit_data_platform_sql_nosql_spark.plans import (
        executed_plan,
    )

    corpus, attrs, path, dim, serve, _, _ = _flat_fixture(
        spark, "sq8", tmp_path)
    qv = [1.0, 0.015] + [0.0] * (dim - 2)
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = executed_plan(serve(spark, path, qv, corpus, k=3,
                                   where="lang = 'b'"))
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    codes_scans = [
        ln for ln in plan.split("\n")
        if "FileScan parquet" in ln and "/codes" in ln]
    assert codes_scans
    assert any("EqualTo(lang,b)" in ln.split("PushedFilters:")[-1]
               for ln in codes_scans if "PushedFilters:" in ln), plan


def test_flat_pq_maintain_rebuild_preserves_attrs(spark, tmp_path):
    """maintain_index's rebuild rung on a pq index self-carries stored
    attrs (the _attrs_self_carry contract on the flat codebook layout)."""
    corpus, attrs, path, dim, serve, _, _ = _flat_fixture(
        spark, "pq", tmp_path)
    batch = spark.createDataFrame(
        [(970001, [0.5] * dim, "b")],
        "vec_id long, embedding array<double>, lang string")
    vectors = corpus.unionByName(batch.select("vec_id", "embedding"))
    # floor 1001 is unreachable -> the ladder lands on rebuild
    st = sim.maintain_index(spark, path, batch, vectors, k=3,
                            recall_floor_permille=1001, kind="pq")
    assert st["decision"] == "rebuild"
    m = sim._index_manifest(spark, path)
    assert m["attrs"] == ["lang"]
    codes = sim._manifest_codes(spark, path, m)
    assert codes.filter("lang IS NULL").count() == 0
    assert codes.filter("vec_id = 970001").head()["lang"] == "b"


@pytest.mark.parametrize("kind", ["ivf_pq", "ivf_bq"])
def test_ivf_maintain_rebuild_preserves_attrs(spark, tmp_path, kind):
    """The r11 ADVICE defect: maintain_ivf_pq/ivf_bq's rebuild rung
    rebuilt WITHOUT attrs, silently stripping filterability.  Now all
    maintainers share _attrs_self_carry."""
    dim = 8 if kind == "ivf_pq" else 64
    corpus = _skewed_corpus(spark, dim=dim).localCheckpoint(eager=True)
    attrs = corpus.select(
        "vec_id",
        F.when(F.element_at("embedding", 1) > 0.5, "a")
        .otherwise("b").alias("lang"))
    path = str(tmp_path / kind)
    sim.write_index(corpus, path, kind, k=2, dim=dim, attrs=attrs)
    batch = spark.createDataFrame(
        [(970001, [0.5] * dim, "b")],
        "vec_id long, embedding array<double>, lang string")
    vectors = corpus.unionByName(batch.select("vec_id", "embedding"))
    # unreachable floor + max_nprobe=1 (bump cannot raise) -> rebuild
    st = sim.maintain_index(spark, path, batch, vectors, k=3,
                            recall_floor_permille=1001, max_nprobe=1,
                            kind=kind)
    assert st["decision"] == "rebuild"
    m = sim._index_manifest(spark, path)
    assert m["attrs"] == ["lang"]
    codes = sim._manifest_codes(spark, path, m)
    assert codes.filter("lang IS NULL").count() == 0
    assert codes.filter("vec_id = 970001").head()["lang"] == "b"
    # the rebuilt index still serves where= (the defect's symptom was
    # AnalysisException here)
    got = sim.index_topk(spark, path, [1.0, 0.015] + [0.0] * (dim - 2),
                         vectors, k=3, nprobe=2, where="lang = 'b'",
                         kind=kind).collect()
    assert len(got) == 3


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
