"""Table profiler: exact variant vs DuckDB, approx variant error-bounded
vs exact, single-scan plan shape; hypothesis properties of the
integer-moment Pearson form numeric_correlations computes."""

from __future__ import annotations

import math
import statistics

from hypothesis import given, settings
from hypothesis import strategies as st

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    profile as prof,
)
from public_transit_data_platform_sql_nosql_spark.plans import plan_summary
from tests.conftest import SF_DIR, duckdb_rows, spark_rows


def test_table_profile_matches_duckdb(spark, ddb):
    s = spark_rows(E.queries()["table_profile"](spark, SF_DIR))
    d = duckdb_rows(ddb, E.oracle_sql()["table_profile"])
    assert s == d


def test_approx_profile_within_error_bound(spark):
    docs = E._aug(spark, SF_DIR)
    exact = {r["column"]: r["n_distinct"]
             for r in prof.table_profile(docs).collect()}
    approx = prof.approx_profile(docs, rsd=0.05).collect()
    for r in approx:
        e = exact[r["column"]]
        # HLL++ at rsd=0.05: allow 4 sigma
        assert abs(r["n_distinct"] - e) <= max(2, 0.2 * e), (r["column"],
                                                             r["n_distinct"],
                                                             e)
        # the non-distinct stats are identical (same expressions)
        assert r["n_rows"] == docs.count()


def test_profile_is_single_scan(spark):
    docs = E._aug(spark, SF_DIR)
    # docs_aug is a union of two reads of the same file; profile must
    # not multiply that — the approx path stays one aggregation with no
    # per-column re-scan (file_scans == the union's own 2)
    p = plan_summary(prof.approx_profile(docs))
    assert p["file_scans"] <= 2


def _skew_sides(spark):
    # hot key "h" (40 x 30 pairs), modest keys, right-only and
    # left-only keys, and NULL keys on both sides
    lrows = ([("h",)] * 40 + [("a",)] * 5 + [("b",)] * 2
             + [("lonly",)] * 3 + [(None,)] * 4)
    rrows = ([("h",)] * 30 + [("a",)] * 6 + [("ronly",)] * 7
             + [(None,)] * 2)
    left = spark.createDataFrame(lrows, "k string")
    right = spark.createDataFrame(rrows, "k string")
    return left, right


def test_join_key_profile_counts_and_order(spark):
    left, right = _skew_sides(spark)
    rows = prof.join_key_profile(left, right, "k", top_n=10).collect()
    got = {r["k"]: (r["left_rows"], r["right_rows"], r["pair_rows"])
           for r in rows}
    assert got == {
        "h": (40, 30, 1200),
        "a": (5, 6, 30),
        None: (4, 2, 8),       # null keys must be SHOWN, not dropped
        "lonly": (3, 0, 0),
        "ronly": (0, 7, 0),
        "b": (2, 0, 0),
    }
    # ordered by pair contribution, hottest first
    assert [r["k"] for r in rows[:3]] == ["h", "a", None]


def test_join_key_profile_summary_is_exact(spark):
    left, right = _skew_sides(spark)
    s = prof.join_key_profile_summary(left, right, "k").collect()[0]
    # est must equal the REAL inner equi-join output (nulls never match)
    real = left.join(right, "k").count()
    assert s["est_output_rows"] == real == 1200 + 30
    assert s["n_matching_keys"] == 2
    assert s["hottest_key_permille"] == 1200 * 1000 // 1230


def test_join_key_profile_summary_empty(spark):
    left = spark.createDataFrame([("x",)], "k string")
    right = spark.createDataFrame([("y",)], "k string")
    s = prof.join_key_profile_summary(left, right, "k").collect()[0]
    assert (s["est_output_rows"], s["n_matching_keys"],
            s["hottest_key_permille"]) == (0, 0, 0)


def test_corpus_report_semantics(spark):
    """Constructed slices: dup pressure, emptiness, and integer means
    verified against hand-computed values."""
    from public_transit_data_platform_sql_nosql_spark.pipeline.profile import (
        corpus_report,
    )

    docs = spark.createDataFrame(
        [(0, "the cat sat", "en", "s1"),
         (1, "the cat sat", "en", "s1"),      # exact dup of 0
         (2, "", "en", "s1"),                 # empty
         (3, "unique words here", "fr", "s1"),
         (4, "autre texte ici la", "fr", "s2")],
        "doc_id long, text string, lang string, source string")
    got = {(r["source"], r["lang"]): r for r in corpus_report(docs).collect()}
    en = got[("s1", "en")]
    assert en["n_docs"] == 3 and en["n_empty"] == 1
    assert en["n_dup_texts"] == 1            # two identical texts -> 1 dup
    assert en["sum_tokens"] == 6 and en["mean_tokens"] == 2
    fr1 = got[("s1", "fr")]
    assert fr1["n_docs"] == 1 and fr1["n_dup_texts"] == 0
    assert fr1["sum_tokens"] == 3
    assert got[("s2", "fr")]["sum_tokens"] == 4
    # quality micro is the 6dp-rounded doc score scaled by 1e6
    from public_transit_data_platform_sql_nosql_spark.pipeline.text import (
        quality_scores,
    )
    q3 = [r["quality_score"] for r in quality_scores(
        docs.filter("doc_id = 3")).collect()][0]
    assert fr1["mean_quality_micro"] == round(q3 * 1_000_000)


def test_approx_quantiles_error_bounded(spark):
    """The sketch path stays within rank-error of the exact variant:
    with accuracy=10000 on sf0.001 lineitem the approx value must sit
    between the exact values at p +/- 1/accuracy-ish rank error (here:
    simply within the exact [p-0.01, p+0.01] envelope)."""
    import __spark_entry__ as E
    from public_transit_data_platform_sql_nosql_spark.pipeline.profile import (
        approx_column_quantiles,
        column_quantiles,
    )
    from tests.conftest import SF_DIR

    li = E._lineitem(spark, SF_DIR)
    cols = ["l_quantity", "l_extendedprice"]
    ps = (0.25, 0.5, 0.75)
    lo_ps = tuple(p - 0.01 for p in ps)
    hi_ps = tuple(p + 0.01 for p in ps)
    exact_lo = {(r["column"], round(r["p"] + 0.01, 2)): r["value"]
                for r in column_quantiles(li, cols, lo_ps).collect()}
    exact_hi = {(r["column"], round(r["p"] - 0.01, 2)): r["value"]
                for r in column_quantiles(li, cols, hi_ps).collect()}
    approx = {(r["column"], r["p"]): r["value"]
              for r in approx_column_quantiles(li, cols, ps).collect()}
    for k, v in approx.items():
        kk = (k[0], round(k[1], 2))
        assert exact_lo[kk] <= v <= exact_hi[kk], (k, v)


def test_quantiles_monotone_and_shape(spark):
    from public_transit_data_platform_sql_nosql_spark.pipeline.profile import (
        DEFAULT_QUANTILES,
        column_quantiles,
    )

    df = spark.range(1000).selectExpr("id AS a", "id * id AS b")
    rows = column_quantiles(df, ["a", "b"]).collect()
    assert len(rows) == 2 * len(DEFAULT_QUANTILES)
    for c in ("a", "b"):
        vals = [r["value"] for r in sorted(
            (x for x in rows if x["column"] == c), key=lambda r: r["p"])]
        assert vals == sorted(vals)
    med_a = [r["value"] for r in rows
             if r["column"] == "a" and r["p"] == 0.5][0]
    assert med_a == 499.5


def test_correlations_match_statistics_and_handle_edges(spark):
    """Pearson matrix semantics on hand-checkable data: a perfectly
    linear pair hits 1.0 / -1.0, an independent-ish pair stays small,
    NULL rows drop complete-case (one shared n), and a zero-variance
    column yields NULL, never a division blow-up."""
    import statistics as st

    from public_transit_data_platform_sql_nosql_spark.pipeline.profile import (
        numeric_correlations,
    )

    rows = [(float(i), float(2 * i + 3), float(-i), 7.0,
             float((i * 37) % 11)) for i in range(50)]
    rows.append((None, 1.0, 1.0, 7.0, 1.0))     # dropped (complete-case)
    df = spark.createDataFrame(
        rows, "a double, b double, c double, konst double, m double")
    got = {(r["col_x"], r["col_y"]): (r["n_rows"], r["corr"])
           for r in numeric_correlations(
               df, ["a", "b", "c", "konst", "m"]).collect()}
    assert len(got) == 10
    assert all(n == 50 for n, _ in got.values())
    assert got[("a", "b")][1] == 1.0
    assert got[("a", "c")][1] == -1.0
    # zero-variance column: NULL against everything
    for other in ("a", "b", "c", "m"):
        key = tuple(sorted(("konst", other)))
        assert got[key][1] is None
    # agrees with the library statistic on the quantized values
    want = round(st.correlation([r[0] for r in rows[:50]],
                                [r[4] for r in rows[:50]]), 6)
    assert abs(got[("a", "m")][1] - want) < 1e-9


def test_correlations_partitioning_invariance(spark):
    """Integer-moment sums are order-independent: any repartitioning
    yields bit-identical correlations."""
    from public_transit_data_platform_sql_nosql_spark.pipeline.profile import (
        numeric_correlations,
    )

    li = E._lineitem(spark, SF_DIR)
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    a = sorted(map(tuple, numeric_correlations(li, cols).collect()))
    b = sorted(map(tuple, numeric_correlations(
        li.repartition(13), cols).collect()))
    assert a == b


# --- integer-moment correlation algebra (hypothesis, pure Python) ---------

floats = st.integers(min_value=-10_000, max_value=10_000)
pairs = st.lists(st.tuples(floats, floats), min_size=3, max_size=60)


def _corr_from_int_moments(xy):
    """The integer-moment Pearson form numeric_correlations computes."""
    n = len(xy)
    sx = sum(x for x, _ in xy)
    sy = sum(y for _, y in xy)
    sxx = sum(x * x for x, _ in xy)
    syy = sum(y * y for _, y in xy)
    sxy = sum(x * y for x, y in xy)
    den_x = n * sxx - sx * sx
    den_y = n * syy - sy * sy
    if den_x <= 0 or den_y <= 0:
        return None
    return (n * sxy - sx * sy) / math.sqrt(den_x) / math.sqrt(den_y)


@given(pairs)
@settings(max_examples=200, deadline=None)
def test_integer_moment_corr_matches_library(xy):
    got = _corr_from_int_moments(xy)
    xs = [x for x, _ in xy]
    ys = [y for _, y in xy]
    if got is None:
        assert len(set(xs)) == 1 or len(set(ys)) == 1
        return
    want = statistics.correlation(xs, ys)
    assert abs(got - want) < 1e-9
    assert -1.0 - 1e-12 <= got <= 1.0 + 1e-12


@given(pairs, st.integers(min_value=1, max_value=50),
       st.integers(min_value=-100, max_value=100))
@settings(max_examples=100, deadline=None)
def test_integer_moment_corr_scale_shift_invariant(xy, scale, shift):
    """Pearson r is invariant under positive affine maps — the property
    that makes the quantization step (v -> round(v * scale)) a no-op on
    the statistic beyond granularity."""
    got = _corr_from_int_moments(xy)
    mapped = [(x * scale + shift, y) for x, y in xy]
    got2 = _corr_from_int_moments(mapped)
    if got is None or got2 is None:
        assert got == got2
        return
    assert abs(got - got2) < 1e-9
