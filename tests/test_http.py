"""HTTP layer: the reference's two Flask surfaces (`SQL/app.py:81-126`,
`Mongo/app.py:47-244`) served over the Spark engine — route shapes, edge
behaviors (400/404/unknown-stop quirks), and agreement with the
underlying TransitAPI / timetable functions."""

from __future__ import annotations

import pytest

flask = pytest.importorskip("flask")

from pyspark.sql import functions as F

from public_transit_data_platform_sql_nosql_spark.api import TransitAPI
from public_transit_data_platform_sql_nosql_spark.api.http import create_app
from public_transit_data_platform_sql_nosql_spark.jobs.denormalize import (
    denormalize_stop_timetables,
    write_stop_timetables,
)
from public_transit_data_platform_sql_nosql_spark.plans.inspect import jobs_run
from public_transit_data_platform_sql_nosql_spark.queries import timetable as tt
from public_transit_data_platform_sql_nosql_spark.queries.timetable import (
    wrap_clock_time,
)
from public_transit_data_platform_sql_nosql_spark.sources.tpch_adapter import (
    register_gtfs_views,
)
from tests.conftest import SF_DIR

STOP = "17"


@pytest.fixture(scope="module")
def web(spark):
    gtfs = register_gtfs_views(spark, SF_DIR)
    denorm = denormalize_stop_timetables(
        gtfs["stop_times"], gtfs["trips"], gtfs["stops"], gtfs["routes"]
    ).persist()
    denorm.count()  # materialize once; endpoints are point lookups
    api = TransitAPI(spark, gtfs, precompute_dir=None)
    app = create_app(api, denorm)
    app.config["TESTING"] = True
    yield app.test_client(), api, denorm
    denorm.unpersist()


def test_analytics_routes_match_transit_api(web):
    client, api, _ = web
    assert (client.get("/api/q1?limit=5").get_json()
            == {"items": api.q1(None, 5)})
    assert (client.get("/api/q3?service_id=1&limit=5").get_json()
            == {"items": api.q3("1", 5)})
    assert client.get("/api/q2?service_id=2").get_json() == api.q2("2", None)
    p = client.get("/api/q4?limit=3").get_json()
    assert p == api.q4(None, 3)
    assert all(r["service_id"] == "all" for r in p["routes"])


def test_get_stops_sorted(web, spark):
    client, _, denorm = web
    rows = client.get("/get_stops").get_json()
    assert rows and set(rows[0]) == {"stop_id", "stop_name", "stop_code"}
    names = [r["stop_name"] for r in rows]
    assert names == sorted(names)
    assert len(rows) == denorm.count()
    # served from the list collected at app build: no Spark job, and the
    # Spark operator's rows, in its order
    assert jobs_run(spark, lambda: client.get("/get_stops")) == 0
    assert rows == [r.asDict() for r in tt.get_stops(denorm).collect()]


def test_get_timetable_shape_and_errors(web):
    client, _, denorm = web
    assert client.get("/get_timetable").status_code == 400
    r = client.get("/get_timetable?stop_id=no-such-stop")
    assert r.status_code == 404
    sched = client.get(f"/get_timetable?stop_id={STOP}").get_json()
    assert sched
    expect = {}
    for row in tt.get_timetable(denorm, STOP).collect():
        expect.setdefault(row["route_long_name"], {})[
            row["trip_headsign"]] = list(row["times"])
    # json round-trips None keys to "null"
    assert sched == {
        k: {("null" if hk is None else hk): v for hk, v in hs.items()}
        for k, hs in expect.items()
    }
    for hs in sched.values():
        for times in hs.values():
            assert times == sorted(times)


def test_get_routes_for_stop(web):
    client, _, _ = web
    assert client.get("/get_routes_for_stop").status_code == 400
    assert client.get(
        "/get_routes_for_stop?stop_id=no-such-stop").get_json() == []
    pairs = client.get(f"/get_routes_for_stop?stop_id={STOP}").get_json()
    assert pairs
    assert all(set(p) == {"route_short_name", "trip_headsign"}
               for p in pairs)
    keys = [(p["route_short_name"], p["trip_headsign"]) for p in pairs]
    assert keys == sorted(keys)
    assert all(p["route_short_name"] != "None" for p in pairs)
    # service filter narrows (or keeps) the pair set
    narrowed = client.get(
        f"/get_routes_for_stop?stop_id={STOP}&service_id=1").get_json()
    assert {(p["route_short_name"], p["trip_headsign"])
            for p in narrowed} <= set(keys)


def test_get_arrivals_grouped_and_flat(web):
    client, _, _ = web
    assert client.get("/get_arrivals").status_code == 400
    # unknown stop returns the FLAT empty shape even without filters
    assert (client.get("/get_arrivals?stop_id=no-such-stop").get_json()
            == {"times": [], "count": 0})
    g = client.get(f"/get_arrivals?stop_id={STOP}").get_json()
    assert set(g) == {"groups", "total_count"}
    assert g["total_count"] == sum(x["count"] for x in g["groups"])
    gkeys = [(x["route_short_name"], x["trip_headsign"])
             for x in g["groups"]]
    assert gkeys == sorted(gkeys)
    # drill one group down to flat mode; its times must reappear
    grp = next(x for x in g["groups"] if x["route_short_name"])
    flat = client.get(
        f"/get_arrivals?stop_id={STOP}"
        f"&route_short_name={grp['route_short_name']}"
        f"&trip_headsign={grp['trip_headsign']}").get_json()
    assert set(flat) == {"times", "count"}
    assert flat["count"] == len(flat["times"])
    assert flat["times"] == sorted(flat["times"])
    assert flat["times"] == grp["times"]
    # all times are clock-face wrapped (the reference's simplify_time)
    assert all(t[:2].isdigit() and int(t[:2]) < 24 for t in flat["times"])


def test_get_arrivals_flat_not_in_service_drilldown(web):
    """The reference's flat branch (`Mongo/app.py:185-204`) matches the
    requested headsign by direct equality — no NOT-IN-SERVICE exclusion —
    so drilling into a NOT IN SERVICE headsign returns its times."""
    from pyspark.sql import functions as F

    client, _, denorm = web
    probe = (
        denorm.select("stop_id",
                      F.explode("upcoming_services").alias("s"))
        .filter((F.col("s.trip_headsign") == "NOT IN SERVICE")
                & F.col("s.service_id").isin("1", "2", "3")
                & F.col("s.departure_time").isNotNull()
                & (F.col("s.departure_time") != "")
                & F.col("s.route_short_name").isNotNull())
        .select("stop_id", "s.route_short_name")
        .limit(1).collect()
    )
    assert probe, "fixture should inject NOT IN SERVICE headsigns"
    stop, rsn = probe[0]["stop_id"], probe[0]["route_short_name"]
    flat = client.get(
        f"/get_arrivals?stop_id={stop}&route_short_name={rsn}"
        "&trip_headsign=NOT%20IN%20SERVICE").get_json()
    assert flat["count"] > 0 and flat["count"] == len(flat["times"])
    # but the same headsign stays excluded from grouped mode (P8)
    g = client.get(f"/get_arrivals?stop_id={stop}").get_json()
    assert all(x["trip_headsign"] != "NOT IN SERVICE" for x in g["groups"])


def test_get_timetable_keeps_null_times_as_nat(web):
    """Null departure_times reach the reference's Mongo doc as the string
    'NaT' (`Mongo/denormalization.py:97` stringifies pandas NaT) and show
    up in the timetable — mirrored here instead of being dropped."""
    from pyspark.sql import functions as F

    client, _, denorm = web
    probe = (
        denorm.select("stop_id",
                      F.explode("upcoming_services").alias("s"))
        .filter(F.col("s.departure_time").isNull())
        .select("stop_id").orderBy("stop_id").limit(1).collect()
    )
    assert probe, "fixture should inject null departure_times"
    stop = probe[0]["stop_id"]
    resp = client.get(f"/get_timetable?stop_id={stop}")
    assert resp.status_code == 200
    sched = resp.get_json()
    times = [t for route in sched.values()
             for ts in route.values() for t in ts]
    assert "NaT" in times
    # NaT sorts after every HH:MM:SS string, same as the reference's
    # Python sorted() over strings
    for route in sched.values():
        for ts in route.values():
            assert ts == sorted(ts)


def test_get_timetable_null_group_keys_serialize(web):
    """A stop whose services mix null and named route/headsign keys must
    answer 200 with the None keys emitted as the "null" JSON key (the
    reference's sorted jsonify would 500 there — documented deviation)."""
    from pyspark.sql import functions as F

    client, _, denorm = web
    probe = (
        denorm.select("stop_id",
                      F.explode("upcoming_services").alias("s"))
        .groupBy("stop_id")
        .agg(F.sum(F.col("s.trip_headsign").isNull().cast("int"))
             .alias("nulls"),
             F.sum(F.col("s.trip_headsign").isNotNull().cast("int"))
             .alias("named"))
        .filter((F.col("nulls") > 0) & (F.col("named") > 0))
        .orderBy("stop_id").limit(1).collect()
    )
    assert probe, "fixture should mix null and named headsigns somewhere"
    stop = probe[0]["stop_id"]
    resp = client.get(f"/get_timetable?stop_id={stop}")
    assert resp.status_code == 200
    sched = resp.get_json()
    assert "null" in {h for route in sched.values() for h in route}


LOOKUPS = {
    "timetable": "/get_timetable?stop_id={}",
    "routes": "/get_routes_for_stop?stop_id={}",
    "arrivals": "/get_arrivals?stop_id={}",
    "arrivals_flat": ("/get_arrivals?stop_id={}&route_short_name=NATION_3"
                      "&trip_headsign=4-NOT%20SPECIFIED"),
}


@pytest.mark.parametrize("endpoint", sorted(LOOKUPS))
def test_one_spark_job_per_timetable_request(web, spark, endpoint):
    """A stop lookup is one document fetch (one narrow Spark job) shaped
    in Python; the unknown-stop answer is a Python set probe that
    costs zero jobs."""
    client, _, _ = web
    url = LOOKUPS[endpoint]
    assert client.get(url.format(STOP)).status_code == 200
    assert jobs_run(spark, lambda: client.get(url.format(STOP))) == 1
    assert jobs_run(spark, lambda: client.get(url.format("nope"))) == 0


def test_wrap_clock_time():
    assert wrap_clock_time("25:30:00") == "01:30:00"
    assert wrap_clock_time("09:05:00") == "09:05:00"
    assert wrap_clock_time(None) == ""
    assert wrap_clock_time("") == ""


def test_root_serves_ui_and_api_discovery(web):
    """'/' serves the HTML dashboard (reference parity: index.html at
    root) and /api keeps the machine-readable endpoint listing."""
    client, _, _ = web
    r = client.get("/")
    assert r.status_code == 200
    assert r.content_type.startswith("text/html")
    body = r.get_data(as_text=True)
    for ep in ("/api/", "/get_timetable", "/get_routes_for_stop",
               "/get_stops"):
        assert ep in body
    r2 = client.get("/api")
    assert r2.status_code == 200
    assert "/api/q1" in r2.get_json()["endpoints"]


def test_stops_nearby_endpoint(web, spark):
    client, _, denorm = web
    # use a real stop's coordinates as the query point -> distance 0 hit
    probe = denorm.select(
        "stop_id",
        denorm["location"]["coordinates"][1].alias("lat"),
        denorm["location"]["coordinates"][0].alias("lon"),
    ).orderBy("stop_id").first()
    r = client.get(f"/api/stops_nearby?lat={probe['lat']}"
                   f"&lon={probe['lon']}&radius=0.05&limit=5")
    assert r.status_code == 200
    stops = r.get_json()["stops"]
    assert stops, "query at a stop's own location must hit"
    assert stops[0]["stop_id"] == probe["stop_id"]
    assert stops[0]["dist2_deg"] == 0.0
    assert stops[0]["stop_name"] is not None
    d = [s["dist2_deg"] for s in stops]
    assert d == sorted(d) and len(stops) <= 5


def test_stops_nearby_validation(web):
    client, _, _ = web
    assert client.get("/api/stops_nearby").status_code == 400
    assert client.get(
        "/api/stops_nearby?lat=43.5&lon=abc").status_code == 400
    assert client.get(
        "/api/stops_nearby?lat=43.5&lon=-79.5&radius=-1").status_code == 400


# -- parity of the served bodies with the Spark reference operators --------


def _services(denorm):
    return denorm.select("stop_id", F.explode("upcoming_services").alias("s"))


def _public_valid():
    return (F.col("s.service_id").isin("1", "2", "3")
            & F.col("s.trip_headsign").isNotNull()
            & (F.col("s.trip_headsign") != "NOT IN SERVICE"))


def _shared_null_short_name_stop(denorm) -> str:
    """A stop where two routes with a null short name share a headsign:
    their grouped /get_arrivals groups tie on (route_short_name,
    trip_headsign) and only route_id orders them."""
    probe = (
        _services(denorm)
        .filter(_public_valid() & F.col("s.route_short_name").isNull())
        .groupBy("stop_id", "s.trip_headsign")
        .agg(F.countDistinct("s.route_id").alias("routes"))
        .filter(F.col("routes") > 1)
        .orderBy("stop_id").limit(1).collect()
    )
    assert probe, "fixture should have null-short-name routes sharing a " \
                  "headsign at some stop"
    return probe[0]["stop_id"]


def _parity_stops(denorm) -> list[str]:
    """STOP plus one stop per edge case the shapers must reproduce: a null
    departure time, mixed null and named headsigns, a public NOT IN
    SERVICE headsign, and null-short-name routes sharing a headsign."""
    svc = _services(denorm)
    first = lambda df: df.select("stop_id").orderBy("stop_id").first()[0]
    null_time = first(svc.filter(F.col("s.departure_time").isNull()))
    mixed = first(
        svc.groupBy("stop_id")
        .agg(F.sum(F.col("s.trip_headsign").isNull().cast("int"))
             .alias("nulls"),
             F.sum(F.col("s.trip_headsign").isNotNull().cast("int"))
             .alias("named"))
        .filter((F.col("nulls") > 0) & (F.col("named") > 0)))
    nis = first(svc.filter(
        (F.col("s.trip_headsign") == "NOT IN SERVICE")
        & F.col("s.service_id").isin("1", "2", "3")
        & F.col("s.route_short_name").isNotNull()))
    return list(dict.fromkeys(
        [STOP, null_time, mixed, nis, _shared_null_short_name_stop(denorm)]))


def _reference_bodies(denorm, stop: str) -> dict[str, object]:
    """url -> the JSON body built from the Spark operators' collects: the
    grouped, flat and timetable shaping the HTTP layer applied to them
    before lookups became one document fetch."""
    from urllib.parse import quote

    out = {}
    sched: dict = {}
    for r in tt.get_timetable(denorm, stop).collect():
        by_head = sched.setdefault(
            "null" if r["route_long_name"] is None else r["route_long_name"],
            {})
        head = "null" if r["trip_headsign"] is None else r["trip_headsign"]
        by_head[head] = sorted(by_head.get(head, []) + list(r["times"]))
    out[f"/get_timetable?stop_id={stop}"] = sched
    drills = set()
    for sid in (None, "1", "2", "3", "9"):
        q = f"stop_id={stop}" + ("" if sid is None else f"&service_id={sid}")
        rows = tt.get_routes_for_stop(denorm, stop, sid).collect()
        out[f"/get_routes_for_stop?{q}"] = [
            {"route_short_name": s, "trip_headsign": h}
            for s, h in sorted({(str(r["route_short_name"]),
                                 str(r["trip_headsign"]))
                                for r in rows
                                if r["route_short_name"] is not None})]
        groups = []
        for r in tt.get_arrivals_grouped(denorm, stop,
                                         service_id=sid).collect():
            times = sorted(t for t in map(wrap_clock_time, r["times"]) if t)
            groups.append({"route_id": r["route_id"] or "",
                           "route_short_name": (
                               "" if r["route_short_name"] is None
                               else str(r["route_short_name"])),
                           "trip_headsign": r["trip_headsign"],
                           "times": times, "count": len(times)})
            if sid is None and r["route_short_name"] is not None:
                drills.add((r["route_short_name"], r["trip_headsign"]))
        groups.sort(key=lambda g: (g["route_short_name"], g["trip_headsign"],
                                   g["route_id"]))
        out[f"/get_arrivals?{q}"] = {
            "groups": groups, "total_count": sum(g["count"] for g in groups)}
    for r in (_services(denorm).filter(f"stop_id = '{stop}'")
              .filter("s.trip_headsign = 'NOT IN SERVICE'")
              .select("s.route_short_name").distinct().collect()):
        if r[0] is not None:
            drills.add((r[0], "NOT IN SERVICE"))
    # drill-downs: every NOT IN SERVICE pair, plus the first two named
    # groups (with and without a service_id) to bound the test's jobs
    named = sorted(d for d in drills if d[1] != "NOT IN SERVICE")[:2]
    for rsn, head in sorted(d for d in drills
                            if d[1] == "NOT IN SERVICE" or d in named):
        for sid in (None, "1"):
            times = sorted(
                t for t in (wrap_clock_time(r["departure_time"]) for r in
                            tt.get_arrivals_flat(denorm, stop, rsn, head,
                                                 sid).collect()) if t)
            url = (f"/get_arrivals?stop_id={stop}"
                   f"&route_short_name={quote(rsn)}"
                   f"&trip_headsign={quote(head)}"
                   + ("" if sid is None else f"&service_id={sid}"))
            out[url] = {"times": times, "count": len(times)}
    return out


def test_lookup_bodies_match_spark_operators(web):
    """Every stop-lookup body equals the one built from the Spark
    reference operators (tt.get_*), over stops that hit each edge case
    and every service_id mode, flat drill-downs included."""
    client, _, denorm = web
    for stop in _parity_stops(denorm):
        for url, want in _reference_bodies(denorm, stop).items():
            resp = client.get(url)
            assert resp.status_code == 200, url
            assert resp.get_json() == want, url


def test_lookup_bodies_from_bucketed_store(web, spark, tmp_path):
    """A bucketed on-disk doc store serves the same bodies: the document
    fetch prunes to one stop_bucket directory and is still one job."""
    client, api, denorm = web
    store = str(tmp_path / "doc_store")
    write_stop_timetables(denorm, store, bucket_stops=True)
    stored = spark.read.parquet(store)
    disk = create_app(api, stored).test_client()
    urls = [u.format(STOP) for u in LOOKUPS.values()]
    urls += [u + "&service_id=2" for u in urls[1:]]
    for url in urls:
        assert disk.get(url).get_json() == client.get(url).get_json(), url
    assert jobs_run(spark, lambda: disk.get(
        f"/get_timetable?stop_id={STOP}")) == 1
    assert disk.get("/get_stops").get_json() == \
        client.get("/get_stops").get_json()


def test_grouped_arrivals_full_key_order(web):
    """Groups that tie on (route_short_name, trip_headsign) — routes with
    a null short name rendered as "" — come back ordered by route_id, in
    the HTTP body and in the Spark operator alike."""
    client, _, denorm = web
    stop = _shared_null_short_name_stop(denorm)
    groups = client.get(f"/get_arrivals?stop_id={stop}").get_json()["groups"]
    keys = [(g["route_short_name"], g["trip_headsign"], g["route_id"])
            for g in groups]
    assert keys == sorted(keys)
    ties = [k[:2] for k in keys]
    assert any(ties.count(t) > 1 for t in ties)
    rows = tt.get_arrivals_grouped(denorm, stop).collect()
    spark_keys = [(r["route_short_name"] is not None,
                   r["route_short_name"] or "", r["trip_headsign"],
                   r["route_id"]) for r in rows]
    assert spark_keys == sorted(spark_keys)
