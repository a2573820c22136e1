"""pipeline/profile.py kmv_distinct — the oracle-able cardinality
sketch: exactness under k, error bound over k, null handling, and the
TakeOrderedAndProject plan shape; plus hypothesis properties of the
set algebra behind the sketch merges and kmv_overlap."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from public_transit_data_platform_sql_nosql_spark.pipeline.profile import (
    KMV_K,
    KMV_SPACE,
    kmv_distinct,
)


def test_exact_when_under_k(spark):
    df = spark.range(40).select(
        F.col("id"),
        (F.col("id") % 7).alias("m7"),
        F.lit(None).cast("string").alias("void"),
    )
    got = {r["column"]: r for r in
           kmv_distinct(df, ["id", "m7", "void"]).collect()}
    # 40 and 7 distinct values: both under k=64 -> exact
    assert got["id"]["est_distinct"] == 40
    assert got["id"]["n_sketch"] == 40
    assert got["m7"]["est_distinct"] == 7
    # all-NULL column: empty sketch, estimate 0
    assert got["void"]["n_sketch"] == 0
    assert got["void"]["kth_hash"] is None
    assert got["void"]["est_distinct"] == 0


def test_error_bound_over_k(spark):
    """KMV stderr ~ 1/sqrt(k-2) ~= 13% at k=64; assert a 3-sigma band
    on cardinalities 100x past the sketch size.  Duplicates must not
    bias the estimate (hash-distinct before the k-minimum)."""
    df = spark.range(200_000).select(
        (F.col("id") % 6400).alias("c6400"),
        (F.col("id") % 40_000).alias("c40000"),
    )
    got = {r["column"]: r["est_distinct"]
           for r in kmv_distinct(df, ["c6400", "c40000"]).collect()}
    for col, truth in (("c6400", 6400), ("c40000", 40_000)):
        assert abs(got[col] - truth) / truth < 0.40, (col, got[col])


def test_estimate_is_deterministic_and_insensitive_to_partitioning(spark):
    df = spark.range(10_000).select((F.col("id") % 3000).alias("v"))
    a = kmv_distinct(df, ["v"]).head()
    b = kmv_distinct(df.repartition(13), ["v"]).head()
    assert a["est_distinct"] == b["est_distinct"]
    assert a["kth_hash"] == b["kth_hash"]
    assert a["n_sketch"] == KMV_K


def test_plan_uses_bounded_topk(spark):
    from public_transit_data_platform_sql_nosql_spark.plans import (
        executed_plan,
    )

    df = spark.range(1000).select(F.col("id").alias("v"))
    plan = executed_plan(kmv_distinct(df, ["v"]))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_kmv_overlap_estimates_and_exact_regime(spark):
    """Overlap screen semantics: on an under-k pair the sketches ARE
    the full hash sets, so jaccard/intersection/union are EXACT; on an
    over-k pair the estimates stay within the KMV error envelope of the
    true planted overlap."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.pipeline.profile import (
        KMV_K,
        kmv_overlap,
    )

    # exact regime: 30 + 30 values, 10 shared -> union 50, jacc 1/5
    a = spark.range(30).select(
        F.concat(F.lit("v"), F.col("id")).alias("v"))
    b = spark.range(20, 50).select(
        F.concat(F.lit("v"), F.col("id")).alias("v"))
    row = kmv_overlap(a, b, "v").head()
    assert row["n_union_sketch"] == 50 < KMV_K
    assert row["est_union"] == 50
    assert row["match_k"] == 10 == row["est_intersection"]
    assert row["est_jaccard_permille"] == 10 * 1000 // 50
    assert row["est_distinct_a"] == 30 and row["est_distinct_b"] == 30

    # sketch regime: 3000 + 3000 with 1000 shared (union 5000)
    a = spark.range(3000).select(
        F.concat(F.lit("x"), F.col("id")).alias("v"))
    b = spark.range(2000, 5000).select(
        F.concat(F.lit("x"), F.col("id")).alias("v"))
    row = kmv_overlap(a, b, "v").head()
    assert row["n_union_sketch"] == KMV_K
    # ~13% stderr at k=64; allow 4 sigma on each estimate
    assert abs(row["est_union"] - 5000) < 5000 * 0.52
    assert abs(row["est_intersection"] - 1000) < 1000 * 1.0 + 200
    assert 0 < row["est_jaccard_permille"] < 1000


def test_kmv_overlap_disjoint_and_identical(spark):
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.pipeline.profile import (
        kmv_overlap,
    )

    a = spark.range(2000).select(
        F.concat(F.lit("a"), F.col("id")).alias("v"))
    b = spark.range(2000).select(
        F.concat(F.lit("b"), F.col("id")).alias("v"))
    row = kmv_overlap(a, b, "v").head()
    assert row["match_k"] == 0
    assert row["est_intersection"] == 0 == row["est_jaccard_permille"]

    row = kmv_overlap(a, a, "v").head()
    assert row["est_jaccard_permille"] == 1000
    assert row["est_intersection"] == row["est_union"]


# --- properties of the sketch algebra (hypothesis, pure Python) -----------


@given(st.lists(st.integers(min_value=0, max_value=10**9), max_size=200),
       st.lists(st.integers(min_value=0, max_value=10**9), max_size=200),
       st.integers(min_value=1, max_value=32))
def test_kmv_merge_law(a, b, k):
    """kmin(A ∪ B) == kmin(kmin(A) ∪ kmin(B)) — the exact-merge law
    stream_kmv_cardinality is built on."""
    def kmin(s):
        return sorted(set(s))[:k]

    assert kmin(a + b) == kmin(kmin(a) + kmin(b))


def _h(v) -> int:
    """Stand-in for core.md5_hash64's bounded hash: md5 -> [0, P)."""
    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16) \
        % KMV_SPACE


def _kmv(values, k=KMV_K):
    return sorted({_h(v) for v in values})[:k]


def _overlap(a, b, k=KMV_K):
    """Python mirror of pipeline/profile.kmv_overlap's set algebra."""
    ka, kb = _kmv(a, k), _kmv(b, k)
    merged = sorted(set(ka) | set(kb))[:k]
    n = len(merged)
    match = sum(1 for h in merged if h in set(ka) and h in set(kb))
    est_union = n if n < k else (k - 1) * KMV_SPACE // max(merged[-1], 1)
    return n, match, est_union


sets_small = st.sets(st.integers(min_value=0, max_value=10_000),
                     max_size=40)


@given(sets_small, sets_small)
@settings(max_examples=200, deadline=None)
def test_kmv_overlap_exact_in_under_k_regime(a, b):
    """Below k the sketches ARE the hash sets: match equals the true
    intersection size and est_union the true union size (hash
    collisions are possible in principle but astronomically unlikely
    over these domains — and they would be engine-identical anyway)."""
    n, match, est_union = _overlap(a, b)
    assert n == len(a | b) < KMV_K
    assert match == len(a & b)
    assert est_union == len(a | b)


@given(st.sets(st.integers(min_value=0, max_value=10**9), min_size=500,
               max_size=800),
       st.integers(min_value=0, max_value=400))
@settings(max_examples=30, deadline=None)
def test_kmv_union_minima_decide_membership(universe, n_shared):
    """The law kmv_overlap leans on: every union k-minimum that belongs
    to side A is IN A's sketch (A's kth minimum bounds the union's), so
    testing sketch membership equals testing set membership."""
    u = sorted(universe)
    shared = set(u[:n_shared])
    rest = u[n_shared:]
    a = shared | set(rest[: len(rest) // 2])
    b = shared | set(rest[len(rest) // 2:])
    ka, kb = set(_kmv(a)), set(_kmv(b))
    merged = sorted(set(_kmv(a)) | set(_kmv(b)))[:KMV_K]
    ha = {_h(v) for v in a}
    hb = {_h(v) for v in b}
    for h in merged:
        assert (h in ka) == (h in ha)
        assert (h in kb) == (h in hb)
