"""pipeline/similarity.py sq8_topk — scalar-quantized ANN: recall vs
the exact baseline, rank contract, constant-dimension robustness,
partitioning invariance, the byte-pack codec and cache hygiene.
Driver parity at sf0.001/0.01 pins the exact values against the
DuckDB mirror.  Most tests here are slow-tier (stored-index e2e);
the codec property and the cache check run in the default tier."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (
    brute_force_topk,
    sq8_topk,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR)


@pytest.mark.slow  # SLOW TIER: see pytest.ini
def test_recall_vs_exact_baseline(spark, emb):
    """8-bit reconstruction barely moves cosine ranks: demand >= 90%
    of the exact top-10 recovered per query (the 4x shortlist absorbs
    quantization rank noise)."""
    exact = brute_force_topk(emb, k=10).collect()
    approx = sq8_topk(emb, k=10).collect()
    want: dict = {}
    for r in exact:
        want.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(got) == set(want)
    for qid in want:
        recall = len(want[qid] & got[qid]) / len(want[qid])
        assert recall >= 0.9, (qid, recall)


@pytest.mark.slow  # SLOW TIER: see pytest.ini
def test_rank_contract_and_no_self(spark, emb):
    out = sq8_topk(emb, num_queries=4, k=5).collect()
    assert all(r.query_id != r.neighbor_id for r in out)
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos_sim))
    for qid, rows in by_q.items():
        rows.sort()
        assert [r for r, _ in rows] == list(range(1, len(rows) + 1))
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True), qid


@pytest.mark.slow  # SLOW TIER: see pytest.ini
def test_constant_dimension_is_harmless(spark):
    """A zero-spread dimension hits the mx==mn NULL guard: codes
    collapse to the reconstruction midpoint and ranking still works."""
    from pyspark.sql import functions as F

    df = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda d: F.when(d == 1, F.lit(7.0)).otherwise(
                F.cos(d.cast("double") * (F.col("id") + 1))),
        ).cast("array<float>").alias("embedding"),
    )
    out = sq8_topk(df, num_queries=2, k=3, dim=8)
    assert out.count() == 6


@pytest.mark.slow  # SLOW TIER: see pytest.ini
def test_partitioning_invariance(spark, emb):
    a = sorted(map(tuple, sq8_topk(emb, num_queries=2, k=5).collect()))
    b = sorted(map(tuple, sq8_topk(emb.repartition(7),
                                   num_queries=2, k=5).collect()))
    assert a == b


@pytest.mark.slow  # SLOW TIER: see pytest.ini
def test_index_roundtrip_and_compression(spark, emb, tmp_path):
    """write_index -> index_topk on the sq8 kind serves the same neighbors the
    in-flight operator finds for the same query, the packed codes table
    on disk is a small fraction of the vectors it stands in for, and
    the served ranks are exact-cosine ordered."""
    import os

    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        index_topk,
        write_index,
    )

    path = str(tmp_path / "sq8")
    write_index(emb, path, "sq8")

    qvec = [float(x) for x in
            emb.filter("vec_id = 0").head()["embedding"]]
    got = index_topk(spark, path, qvec, emb, k=5, kind="sq8").collect()
    assert [r["rank"] for r in sorted(got, key=lambda r: r["rank"])] \
        == [1, 2, 3, 4, 5]
    sims = [r["cos_sim"] for r in sorted(got, key=lambda r: r["rank"])]
    assert sims == sorted(sims, reverse=True)
    # the query vector itself lives in the corpus: it must be rank 1
    assert sorted(got, key=lambda r: r["rank"])[0]["neighbor_id"] == 0

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
    # one 64-byte blob per row vs array<float32>: raw ratio 1/4, and the
    # blob column carries no per-element repetition levels
    codes_size = _dirsize(path, skip="quantizer")
    assert codes_size < 0.35 * _dirsize(vec_path)


@pytest.mark.slow  # SLOW TIER: see pytest.ini
def test_index_agrees_with_inflight_operator(spark, emb, tmp_path):
    """Same quantizer, same reconstruction: the served top-k for query
    vec 3 equals the in-flight sq8_topk row set for that query (modulo
    the self-exclusion the in-flight operator applies)."""
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        index_topk,
        write_index,
    )

    path = str(tmp_path / "sq8")
    write_index(emb, path, "sq8")
    qvec = [float(x) for x in
            emb.filter("vec_id = 3").head()["embedding"]]
    served = {r["neighbor_id"]
              for r in index_topk(spark, path, qvec, emb,
                                  k=6, kind="sq8").collect()}
    inflight = {r.neighbor_id for r in sq8_topk(
        emb, num_queries=4, k=5).collect() if r.query_id == 3}
    # served includes the self row; drop it before comparing
    assert inflight <= served or inflight == (served - {3})


@pytest.mark.slow  # SLOW TIER: see pytest.ini
def test_ivf_sq8_composed_layout(spark, emb, tmp_path):
    """Pruning x compression: the composed index partition-prunes to
    the probed cluster directories (PartitionFilters in the plan),
    serves exact-cosine-ordered ranks, and at full probe (nprobe = k)
    agrees with the flat SQ8 index for the same query."""
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        _index_manifest,
        index_topk,
        write_index,
    )
    from public_transit_data_platform_sql_nosql_spark.plans import (
        executed_plan,
    )

    path = str(tmp_path / "ivfsq8")
    write_index(emb, path, "ivf_sq8")
    qvec = [float(x) for x in
            emb.filter("vec_id = 0").head()["embedding"]]

    got = index_topk(spark, path, qvec, emb, k=5, nprobe=2, kind="ivf_sq8")
    rows = sorted(got.collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    assert rows[0]["neighbor_id"] == 0  # the query's own vector
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)

    # partition pruning is visible in the scan, not a post-filter
    probe_plan = executed_plan(
        index_topk(spark, path, qvec, emb, k=5, nprobe=1, kind="ivf_sq8"))
    assert "PartitionFilters" in probe_plan

    # full probe == flat SQ8 index (same quantizer, same arithmetic);
    # "full" = the DERIVED cluster count (k ~ sqrt(N) since r12)
    flat = str(tmp_path / "flat")
    write_index(emb, flat, "sq8")
    n_clusters = spark.read.parquet(
        f"{path}/{_index_manifest(spark, path)['centroids']}").count()
    a = sorted(map(tuple, index_topk(
        spark, path, qvec, emb, k=5, nprobe=n_clusters,
        kind="ivf_sq8").collect()))
    b = sorted(map(tuple, index_topk(
        spark, flat, qvec, emb, k=5, kind="sq8").collect()))
    assert a == b


@pytest.mark.slow  # SLOW TIER: see pytest.ini
def test_index_upsert_decision_loop(spark, emb, tmp_path):
    """In-range batches append and become servable; a batch whose
    values drift outside the trained quantizer range refuses to write
    and returns the rebuild decision with the offending dims."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        index_topk,
        index_upsert,
        read_index_codes,
        write_index,
    )

    base = emb.filter("vec_id >= 10")
    path = str(tmp_path / "sq8")
    write_index(base, path, "sq8")
    n0 = read_index_codes(spark, path).count()

    # copies of base vectors under new ids are in-range by
    # construction: appended (truly held-out vectors CAN drift — the
    # rebuild branch below — which is exactly why the guard exists)
    batch = emb.filter("vec_id >= 10 AND vec_id < 20").select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding",
        "label")
    st = index_upsert(spark, path, batch, kind="sq8")
    assert st == {"decision": "appended", "n_new": 10,
                  "n_replaced": 0, "drifted_dims": []}
    assert read_index_codes(spark, path).count() == n0 + 10
    # the appended copy is servable: identical vector, cos_sim 1.0
    qvec = [float(x) for x in
            emb.filter("vec_id = 10").head()["embedding"]]
    served = index_topk(
        spark, path, qvec,
        base.unionByName(batch), k=3, kind="sq8").collect()
    by_rank = sorted(served, key=lambda r: r["rank"])
    assert {by_rank[0]["neighbor_id"], by_rank[1]["neighbor_id"]} \
        == {10, 50_010}
    assert by_rank[0]["cos_sim"] == by_rank[1]["cos_sim"] == 1.0

    # a 100x-scaled batch is far out of range: rebuild, nothing written
    wild = emb.filter("vec_id < 3").select(
        (F.col("vec_id") + 90000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: x * F.lit(100.0)).alias("embedding"))
    n1 = read_index_codes(spark, path).count()
    st2 = index_upsert(spark, path, wild, kind="sq8")
    assert st2["decision"] == "rebuild" and st2["drifted_dims"]
    assert read_index_codes(spark, path).count() == n1


@pytest.mark.slow  # SLOW TIER: see pytest.ini
def test_upsert_replaces_resubmitted_vec_ids(spark, emb, tmp_path):
    """A batch re-submitting an already-indexed vec_id rewrites that
    row instead of appending a duplicate: the index stays one-row-per-
    vec_id, the new codes win, and the decision says 'replaced'."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        index_topk,
        index_upsert,
        read_index_codes,
        write_index,
    )

    base = emb.filter("vec_id >= 10")
    path = str(tmp_path / "sq8")
    write_index(base, path, "sq8")
    n0 = read_index_codes(spark, path).count()

    # re-submit vec 10 carrying vec 11's embedding, plus one new id
    e11 = emb.filter("vec_id = 11").select(
        F.lit(10).cast("long").alias("vec_id"), "embedding")
    new = emb.filter("vec_id = 12").select(
        (F.col("vec_id") + 70_000).alias("vec_id"), "embedding")
    st = index_upsert(spark, path, e11.unionByName(new), kind="sq8")
    assert st["decision"] == "replaced"
    assert st["n_replaced"] == 1 and st["n_new"] == 2

    codes = read_index_codes(spark, path)
    assert codes.count() == n0 + 1                       # no dup rows
    assert codes.filter("vec_id = 10").count() == 1
    # vec 10 now answers for vec 11's vector at cos_sim 1.0
    qvec = [float(x) for x in
            emb.filter("vec_id = 11").head()["embedding"]]
    vectors = base.filter("vec_id != 10").unionByName(
        e11.select("vec_id", "embedding")
        .withColumn("label", F.lit(None).cast("string"))
        .select(*base.columns)).unionByName(
        new.withColumn("label", F.lit(None).cast("string"))
        .select(*base.columns))
    served = sorted(index_topk(spark, path, qvec, vectors,
                               k=3, kind="sq8").collect(),
                    key=lambda r: r["rank"])
    top2 = {served[0]["neighbor_id"], served[1]["neighbor_id"]}
    assert {10, 11} == top2
    assert served[0]["cos_sim"] == served[1]["cos_sim"] == 1.0

    # batches must be vec_id-unique: ambiguous merges raise pre-write
    import pytest as _pytest
    dup = e11.unionByName(e11)
    with _pytest.raises(ValueError):
        index_upsert(spark, path, dup, kind="sq8")


@pytest.mark.slow  # SLOW TIER: see pytest.ini
def test_pack_unpack_round_trips_every_byte(spark):
    """The packed-blob codec is exact for all 256 code values."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        _sq8_pack,
        _sq8_unpack,
    )

    df = spark.range(1).select(
        F.sequence(F.lit(0), F.lit(255)).alias("codes"))
    row = df.select(
        _sq8_unpack(_sq8_pack(F.col("codes")), 256).alias("back"),
        F.octet_length(_sq8_pack(F.col("codes"))).alias("nbytes"),
    ).head()
    assert row["nbytes"] == 256
    assert list(row["back"]) == list(range(256))


@pytest.mark.slow  # SLOW TIER: see pytest.ini
def test_crash_between_data_and_manifest_is_invisible(spark, emb,
                                                      tmp_path):
    """Torn-write safety: data dirs written without their manifest (a
    crash before the commit rename) are never served — readers resolve
    the previous committed version; vacuum collects the orphan so the
    next commit can reuse the version slot."""
    import os

    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        index_topk,
        index_upsert,
        read_index_codes,
        vacuum_index,
        write_index,
    )
    from pyspark.sql import functions as F

    base = emb.filter("vec_id >= 10")
    path = str(tmp_path / "sq8")
    write_index(base, path, "sq8")
    n0 = read_index_codes(spark, path).count()

    # simulate a crashed v1 commit: codes dir written, no manifest
    orphan = os.path.join(path, "data", "v000001", "codes")
    emb.filter("vec_id < 5").select(
        "vec_id", F.encode(F.lit("junk"), "utf-8").alias("codes")
    ).write.parquet(orphan)

    # readers see only v0 — count unchanged, serving works
    assert read_index_codes(spark, path).count() == n0
    qvec = [float(x) for x in
            emb.filter("vec_id = 10").head()["embedding"]]
    top = sorted(index_topk(spark, path, qvec, base, k=1,
                            kind="sq8").collect(),
                 key=lambda r: r["rank"])
    assert top[0]["neighbor_id"] == 10

    # the orphan blocks v1's directory slot: vacuum collects it...
    st = vacuum_index(spark, path)
    assert st["removed_dirs"] == ["v000001"]
    assert not os.path.exists(os.path.join(path, "data", "v000001"))
    # ...and the next commit lands cleanly as v1
    batch = emb.filter("vec_id >= 10 AND vec_id < 12").select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
    st2 = index_upsert(spark, path, batch, kind="sq8")
    assert st2["decision"] == "appended"
    assert read_index_codes(spark, path).count() == n0 + 2


@pytest.mark.slow  # SLOW TIER: see pytest.ini
def test_index_scan_reads_only_codes_columns(spark, emb, tmp_path):
    """The serving scan's IO claim, asserted on the plan: the SQ8
    shortlist stage scans ONLY (vec_id, codes) from the codes table —
    full-precision embeddings never appear in its ReadSchema (they are
    read separately for the bounded rerank join)."""
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        index_topk,
        write_index,
    )
    from public_transit_data_platform_sql_nosql_spark.plans import (
        executed_plan,
    )

    path = str(tmp_path / "sq8")
    write_index(emb, path, "sq8")
    qvec = [float(x) for x in
            emb.filter("vec_id = 0").head()["embedding"]]
    # Location strings truncate at spark.sql.maxMetadataStringLength
    # (default 100) — a tmp_path long enough to cut exactly at
    # ".../sq8" made this assertion order/run-number dependent; widen
    # the cap while reading the plan
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = executed_plan(
            index_topk(spark, path, qvec, emb, k=5, kind="sq8"))
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    # No scan under the index path may read a full-precision embedding
    # column, and the codes table must actually be scanned.  (The
    # quantizer-stats scan — struct<mns,mxs> only — legitimately
    # appears as its own file scan under the path.)
    saw_codes = False
    for chunk in plan.split("Location:")[1:]:
        if "/sq8/" in chunk.split("\n")[0]:
            schema = chunk.split("ReadSchema:")[-1].split("\n")[0]
            assert "embedding" not in schema
            saw_codes = saw_codes or "codes" in schema
    assert saw_codes



# ---------------------------------------------------------------------------
# default tier: the codec's byte algebra and the operator's cache hygiene


@given(st.lists(st.integers(min_value=0, max_value=255), min_size=1,
                max_size=128))
@settings(max_examples=300, deadline=None)
def test_hex_pack_codec_is_a_bijection(codes):
    """The pure-Python mirror of _sq8_pack/_sq8_unpack: zero-padded hex
    pairs concatenated then parsed back recover any byte sequence, and
    the packed width is exactly len(codes) bytes."""
    packed = bytes.fromhex("".join(f"{c:02x}" for c in codes))
    assert len(packed) == len(codes)
    hexed = packed.hex()
    back = [int(hexed[i:i + 2], 16) for i in range(0, len(hexed), 2)]
    assert back == codes


def test_sq8_topk_leaves_no_cached_block(spark, emb):
    """The in-flight quantizer row is collected, not persisted: after a
    run the session's persistent-RDD count is back at its baseline."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    assert sq8_topk(emb, num_queries=4, k=5).collect()
    assert jsc.getPersistentRDDs().size() == before
