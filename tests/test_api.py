"""API-layer parity: the reference's implicit differential test is that
its SQL and CSV backends return identical JSON where their semantics agree
(`Reporting/Poster_Report.md:64,73`).  Mirror it: live DataFrame path vs
precomputed-Parquet fast path, plus shape/quirk invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from public_transit_data_platform_sql_nosql_spark.api import TransitAPI, shapes
from public_transit_data_platform_sql_nosql_spark.jobs.precompute import (
    materialize_all,
)
from public_transit_data_platform_sql_nosql_spark.operators.params import (
    normalize_service_id,
    sanitize_limit,
)
from public_transit_data_platform_sql_nosql_spark.plans import jobs_run
from public_transit_data_platform_sql_nosql_spark.queries.common import (
    hourly_frequency,
)
from public_transit_data_platform_sql_nosql_spark.queries.q1_busiest_stops import (
    q1_busiest_stops,
)
from public_transit_data_platform_sql_nosql_spark.queries.q2_duration_speed import (
    q2_per_service_breakdown,
    q2_route_stats,
)
from public_transit_data_platform_sql_nosql_spark.queries.q3_transfer_points import (
    q3_transfer_points,
)
from public_transit_data_platform_sql_nosql_spark.sources.tpch_adapter import (
    register_gtfs_views,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def apis(spark, tmp_path_factory):
    gtfs = register_gtfs_views(spark, SF_DIR)
    out = str(tmp_path_factory.mktemp("precompute"))
    materialize_all(gtfs, out)
    live = TransitAPI(spark, gtfs, precompute_dir=None)
    fast = TransitAPI(spark, gtfs, precompute_dir=out)
    return live, fast


@pytest.mark.parametrize("sid", [None, "1", "2", "4"])
def test_q1_live_equals_fast(apis, sid):
    live, fast = apis
    assert live.q1(sid, 10) == fast.q1(sid, 10)


def test_q1_limit_sanitizer_through_api(apis):
    live, _ = apis
    assert len(live.q1(None, "junk")) <= 20       # junk -> default 20
    assert len(live.q1(None, -3)) <= 20           # non-positive -> 20
    all_rows = live.q1(None, "all")
    assert len(all_rows) >= len(live.q1(None, 20))


def test_q2_single_service_live_equals_fast(apis):
    live, fast = apis
    a, b = live.q2("1", 10), fast.q2("1", 10)
    assert a["mode"] == b["mode"] == "single_service"
    assert a["overall"] == b["overall"]
    assert a["routes"] == b["routes"]


def test_q2_whole_week_shape_and_quirks(apis):
    live, _ = apis
    p = live.q2(None, 5)
    assert p["mode"] == "whole_week"
    assert set(p["overall"]) == {"avg_duration_min", "avg_speed_kmh"}
    for r in p["routes"]:
        # global rows carry no stddev (sql_utils.py:221-228)
        assert set(r["global"]) == {"total_trips", "avg_trip_distance_km",
                                    "avg_duration_min", "avg_speed_kmh"}
        for s in r["services"]:
            assert s["service_id"] in ("1", "2", "3")
            # 2dp rounding applied (F5)
            v = s["avg_duration_min"]
            assert v is None or round(v, 2) == v


def test_q4_whole_week_quirks(apis):
    live, _ = apis
    p = live.q4(None, 5)
    assert p["max_hour"] >= 24          # GTFS overnight hours present
    assert len(p["routes"]) <= 5
    for r in p["routes"]:
        assert r["service_id"] == "all"  # SQL-backend label
        totals = r["totals_by_service"]
        assert set(totals) == {"1", "2", "3"}
        # fixed /3.0 divisor (A15)
        assert r["average_daily_trips"] == sum(totals.values()) / 3.0
        hours = [h["hour"] for h in r["hourly"]]
        assert hours == sorted(hours)
        assert r["total_daily_trips"] == sum(h["trips"] for h in r["hourly"])


def test_q4_fast_path_csv_backend_labels(apis):
    _, fast = apis
    p = fast.q4(None, 5)
    for r in p["routes"]:
        assert r["service_id"] == "4"    # CSV-backend label quirk
        assert "totals_by_service" in r


def test_q4_fast_limit_all_not_capped(apis):
    """limit='all' must return every route key, not the default 20
    (regression: double sanitize_limit turned 'all' into None -> 20)."""
    _, fast = apis
    n_keys = (
        fast.spark.read.parquet(
            f"{fast.precompute_dir}/q4_hourly_frequency")
        .filter("service_id = '4'")
        .select("route_long_name", "route_short_name").distinct().count()
    )
    assert len(fast.q4(None, "all")["routes"]) == n_keys


def test_q4_fast_collects_only_survivors(apis, monkeypatch):
    """The fast path must semi-join to the top-N keys BEFORE collect —
    never pull the whole precomputed table to the driver."""
    # Spark 4: patch the concrete Classic DataFrame (the pyspark.sql
    # base class method is overridden there)
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    _, fast = apis
    full = (
        fast.spark.read.parquet(
            f"{fast.precompute_dir}/q4_hourly_frequency")
        .filter("service_id = '4'").count()
    )
    collected = []
    orig = ClassicDF.collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(ClassicDF, "collect", spy)
    p = fast.q4(None, 2)
    assert len(p["routes"]) == 2
    assert collected and max(collected) < full


def test_q4_live_equals_fast_modulo_label(apis):
    """Live vs fast parity in the zone where the reference's own backends
    agree: long names served by a SINGLE route_id.  (On colliding long
    names the reference SQL backend's dict-overwrite quirk loses rows
    while its CSV backend sums them — both quirks preserved, so those
    keys legitimately diverge.)"""
    live, fast = apis
    singles = {
        r["route_long_name"]
        for r in (live.gtfs["routes"].groupBy("route_long_name")
                  .count().filter("count = 1").collect())
    }
    assert singles, "fixture should have at least one non-colliding route"
    a, b = live.q4("1", "all"), fast.q4("1", "all")
    assert a["max_hour"] == b["max_hour"]
    al = {r["route_long_name"]: (r["total_daily_trips"], r["hourly"])
          for r in a["routes"] if r["route_long_name"] in singles}
    bl = {r["route_long_name"]: (r["total_daily_trips"], r["hourly"])
          for r in b["routes"] if r["route_long_name"] in singles}
    assert al == bl


def test_q3_shape(apis):
    live, _ = apis
    rows = live.q3("1", 10)
    for r in rows:
        assert r["num_unique_routes"] >= 2
        assert round(r["stop_lat"], 6) == r["stop_lat"]


@pytest.mark.parametrize("sid", [None, "1", "2", "4"])
def test_q3_live_equals_fast(apis, sid):
    live, fast = apis
    assert live.q3(sid, 10) == fast.q3(sid, 10)


def test_q4_session_scoped_cache(apis):
    """Repeat live q4() calls must hit the session-persisted hourly frame
    (the reference's app-start ensure_view, sql_utils.py:46-70) — the
    second call's source plans as an InMemoryTableScan — and refresh()
    must drop it."""
    from public_transit_data_platform_sql_nosql_spark.plans import (
        executed_plan,
    )

    live, _ = apis
    first = live.q4("1", 5)
    cached = live._hourly_joined()
    assert cached.storageLevel.useMemory
    assert "InMemoryTableScan" in executed_plan(
        cached.filter(cached["service_id"] == "1"))
    # second call returns identical payload off the cache
    assert live.q4("1", 5) == first
    live.refresh()
    assert not cached.storageLevel.useMemory
    # cache rebuilds transparently after invalidation
    assert live.q4("1", 5) == first


def test_fast_paths_no_driver_roundtrip(apis, monkeypatch):
    """Fast-path q2/q4 semi-join the ranked frame directly, like the live
    q2 path — createDataFrame must never run anywhere in the API."""
    _, fast = apis

    def boom(*a, **k):
        raise AssertionError("fast path round-tripped through "
                             "createDataFrame")

    monkeypatch.setattr(fast.spark, "createDataFrame", boom)
    assert fast.q2(None, 5)["routes"]
    assert fast.q4(None, 5)["routes"]
    assert fast.q2("1", 5)["routes"]
    assert fast.q4("2", 5)["routes"]


def test_q2_live_whole_week_no_driver_roundtrip(apis, monkeypatch):
    """The whole-week breakdown must semi-join the ranked frame directly —
    never collect route names and re-create a DataFrame from the driver."""
    live, _ = apis

    def boom(*a, **k):
        raise AssertionError("live q2 round-tripped through createDataFrame")

    monkeypatch.setattr(live.spark, "createDataFrame", boom)
    p = live.q2(None, 5)
    assert p["mode"] == "whole_week" and p["routes"]


# ---------------------------------------------------------------------------
# golden JSON matrix (SURVEY.md §5.2): every endpoint across
# service_id x limit, live AND fast path — the mode switches change payload
# SHAPE (`sql_utils.py:256-308`), so each cell asserts the shape contract
# for its mode plus live/fast agreement wherever the reference's own
# backends agree.

_Q1_KEYS = {"stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon",
            "total_trip_events", "num_unique_routes"}
_MATRIX = [(sid, lim) for sid in ("1", "2", "3", "4", None)
           for lim in (10, 20, "all", "junk")]


@pytest.mark.parametrize("sid,lim", _MATRIX)
def test_golden_json_matrix(apis, sid, lim):
    import json

    live, fast = apis
    n = sanitize_limit(lim)
    nsid = normalize_service_id(sid)

    # Q1: live == fast exactly, fixed row shape, ranked order
    a, b = live.q1(sid, lim), fast.q1(sid, lim)
    json.dumps(a)
    assert a == b
    assert all(set(r) == _Q1_KEYS for r in a)
    if n is not None:
        assert len(a) <= n
    ev = [r["total_trip_events"] for r in a]
    assert ev == sorted(ev, reverse=True)

    # Q3 (live only — the reference has no CSV fast path for it)
    c = live.q3(sid, lim)
    json.dumps(c)
    if n is not None:
        assert len(c) <= n
    assert all(r["num_unique_routes"] >= 2 for r in c)

    # Q2: mode switch + per-mode shape
    p_live, p_fast = live.q2(sid, lim), fast.q2(sid, lim)
    json.dumps(p_live)
    json.dumps(p_fast)
    mode = "single_service" if nsid else "whole_week"
    assert p_live["mode"] == p_fast["mode"] == mode
    assert set(p_live["overall"]) == {"avg_duration_min", "avg_speed_kmh"}
    if n is not None:
        assert len(p_live["routes"]) <= n and len(p_fast["routes"]) <= n
    if mode == "single_service":
        assert p_live["overall"] == p_fast["overall"]
        assert p_live["routes"] == p_fast["routes"]
    else:
        for r in p_live["routes"]:
            assert set(r["global"]) == {"total_trips", "avg_trip_distance_km",
                                        "avg_duration_min", "avg_speed_kmh"}
            assert {s["service_id"] for s in r["services"]} <= {"1", "2", "3"}

    # Q4: backend label quirks + hourly-series invariants
    q_live, q_fast = live.q4(sid, lim), fast.q4(sid, lim)
    json.dumps(q_live)
    json.dumps(q_fast)
    assert q_live["max_hour"] == q_fast["max_hour"]
    assert all(r["service_id"] == (nsid or "all") for r in q_live["routes"])
    assert all(r["service_id"] == (nsid or "4") for r in q_fast["routes"])
    if n is not None:
        assert len(q_live["routes"]) <= n and len(q_fast["routes"]) <= n
    for r in q_live["routes"] + q_fast["routes"]:
        hours = [h["hour"] for h in r["hourly"]]
        assert hours == sorted(hours)
        assert r["total_daily_trips"] == sum(h["trips"] for h in r["hourly"])
        if nsid is None:
            assert set(r["totals_by_service"]) == {"1", "2", "3"}
            assert r["average_daily_trips"] == (
                sum(r["totals_by_service"].values()) / 3.0)


def test_q2_session_scoped_cache(apis):
    """VERDICT r4 item 6: live q2() must reuse a session-persisted
    trip-stats frame across requests (the Q2 analog of the Q4 hourly
    cache) — its source plans as an InMemoryTableScan — and refresh()
    must drop it.  Covers both q2 modes (weekday + whole-week) off the
    same cache."""
    from public_transit_data_platform_sql_nosql_spark.plans import (
        executed_plan,
    )

    live, _ = apis
    first = live.q2("1", 5)
    week = live.q2(None, 5)
    cached = live._q2_stats_joined()
    assert cached.storageLevel.useMemory
    assert "InMemoryTableScan" in executed_plan(
        cached.filter(cached["service_id"] == "1"))
    assert live.q2("1", 5) == first
    assert live.q2(None, 5) == week
    live.refresh()
    assert not cached.storageLevel.useMemory
    assert live.q2("1", 5) == first


# ---------------------------------------------------------------------------
# live analytics over session-scoped partial aggregates: one Spark job per
# request, bodies equal to the batch operators', partials released by
# refresh()


@pytest.mark.parametrize("endpoint", ["q1", "q2", "q3", "q4"])
def test_live_analytics_one_job_per_request(apis, endpoint):
    """After one warm call has built its partial, every live analytics
    request in every service mode is exactly one Spark job."""
    live, _ = apis
    call = getattr(live, endpoint)
    call(None, 5)
    counts = {(sid, lim): jobs_run(live.spark, lambda: call(sid, lim))
              for sid in (None, "1", "2", "3") for lim in (5, 50)}
    assert counts == dict.fromkeys(counts, 1)


def _dicts(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def _batch_bodies(gtfs, sid):
    """endpoint -> limit -> the body the batch operators give: each
    ranking collected once with limit 'all' and cut per limit (every
    ranking has a total order), shaped through api/shapes.py."""
    st, trips, stops, routes = (gtfs[t] for t in
                                ("stop_times", "trips", "stops", "routes"))
    nsid = normalize_service_id(sid)

    def cut(rows, lim):
        n = sanitize_limit(lim)
        return rows if n is None else rows[:n]

    q1_rows = _dicts(q1_busiest_stops(st, trips, stops, sid, "all"))
    q3_rows = _dicts(q3_transfer_points(st, trips, stops, sid, "all"))
    if nsid is None:
        ranked = q2_route_stats(st, trips, routes, None, "all",
                                whole_week=True)
        ranked_rows = _dicts(ranked)
        rep = {r["route_long_name"]: r["s"] for r in _dicts(
            routes.groupBy("route_long_name")
            .agg(F.min("route_short_name").alias("s")))}
        service_rows = _dicts(q2_per_service_breakdown(
            st, trips, routes, ranked))

        def q2(lim):
            return shapes.shape_q2_whole_week(
                [{**r, "route_short_name": rep.get(r["route_long_name"])
                  if r["route_long_name"] is not None else None}
                 for r in cut(ranked_rows, lim)], service_rows)
    else:
        q2_rows = _dicts(q2_route_stats(st, trips, routes, nsid, "all",
                                        whole_week=False))

        def q2(lim):
            return shapes.shape_q2_single_service(
                [{**r, "service_id": nsid} for r in cut(q2_rows, lim)])

    hourly = hourly_frequency(st, trips).join(
        routes.select("route_id", "route_short_name", "route_long_name"),
        "route_id")
    if nsid is not None:
        hourly = hourly.filter(F.col("service_id") == nsid)
    totals = _dicts(hourly.groupBy("route_long_name")
                    .agg(F.sum("trips_per_hour").alias("t"))
                    .orderBy(F.desc("t"), F.asc("route_long_name")))
    max_hour = hourly.agg(F.max("hour_of_day")).first()[0]
    detail = _dicts(hourly.orderBy(
        "route_long_name", "service_id", "hour_of_day",
        F.coalesce("route_short_name", F.lit(""))))

    def q4(lim):
        selected = {t["route_long_name"] for t in cut(totals, lim)}
        return shapes.shape_q4(
            [r for r in detail if r["route_long_name"] is not None
             and r["route_long_name"] in selected], selected, nsid,
            int(max_hour or 0))

    return {
        "q1": lambda lim: shapes.shape_q1_rows(cut(q1_rows, lim)),
        "q3": lambda lim: shapes.shape_q3_rows(cut(q3_rows, lim)),
        "q2": q2,
        "q4": q4,
    }


@pytest.mark.parametrize("sid", [None, "1", "2", "3", "4"])
def test_live_bodies_match_batch_operators(apis, sid):
    """Every live body -- whole-week q2 and q4 on colliding long names
    included -- equals the one the batch operators
    (q1_busiest_stops, q3_transfer_points, q2_route_stats +
    q2_per_service_breakdown, hourly_frequency + a max_hour aggregate)
    give through api/shapes.py."""
    live, _ = apis
    want = _batch_bodies(live.gtfs, sid)
    for lim in (1, 5, 20, "all", "junk"):
        for ep, body in want.items():
            assert getattr(live, ep)(sid, lim) == shapes.to_json_safe(
                body(lim)), (ep, lim)


def test_refresh_releases_every_partial(spark, apis):
    """Serving every endpoint in every service mode persists the live
    partials; refresh() releases all of them (the persistent-RDD count
    returns to its value before the API was built), and the next
    requests rebuild them and serve the same bodies."""
    live, _ = apis
    # partials with the same plan are one cached copy: start this API's
    # from an empty slate
    live.refresh()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    api = TransitAPI(spark, live.gtfs, precompute_dir=None)
    calls = [(ep, sid) for ep in ("q1", "q2", "q3", "q4")
             for sid in (None, "1", "2", "3")]
    bodies = {c: getattr(api, c[0])(c[1], 5) for c in calls}
    assert jsc.getPersistentRDDs().size() > before
    api.refresh()
    assert jsc.getPersistentRDDs().size() == before
    for c in calls:
        assert getattr(api, c[0])(c[1], 5) == bodies[c], c
    api.refresh()
    assert jsc.getPersistentRDDs().size() == before


def test_partial_recached_after_another_api_refresh(spark, apis):
    """APIs over the same feed share one cached copy of each partial
    (the CacheManager keys by plan).  When one API's refresh() drops
    it, the other re-persists it on its next request instead of
    recomputing the partial inside every later request."""
    live, _ = apis
    a = TransitAPI(spark, live.gtfs, precompute_dir=None)
    b = TransitAPI(spark, live.gtfs, precompute_dir=None)
    try:
        for api in (a, b):
            api.q1(None, 5)
            api.q2(None, 5)
        a.refresh()
        b.q1(None, 5)
        b.q2(None, 5)
        assert jobs_run(spark, lambda: b.q1(None, 5)) == 1
        assert jobs_run(spark, lambda: b.q2(None, 5)) == 1
    finally:
        a.refresh()
        b.refresh()
