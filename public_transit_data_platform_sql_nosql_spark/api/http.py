"""Thin Flask layer over the Spark engine — the reference's two HTTP
surfaces on one app.

Routes mirror `/root/reference/SQL/app.py:81-126` (the four analytics
endpoints, CSV-vs-SQL backend switch included via ``TransitAPI``'s
precompute probe) and `/root/reference/Mongo/app.py:47-244` (the four
timetable endpoints over the denormalized stop collection), including the
reference's edge behaviors:

- q1/q3 wrap rows in ``{"items": [...]}``; q2/q4 return the payload dict
  (`SQL/app.py:90,105`).
- ``/get_timetable`` 400s on a missing param and 404s on an unknown stop
  (`Mongo/app.py:75,82`); ``/get_routes_for_stop`` returns ``[]`` for an
  unknown stop (`Mongo/app.py:128`); ``/get_arrivals`` returns the FLAT
  empty shape ``{"times": [], "count": 0}`` for an unknown stop even in
  grouped mode (`Mongo/app.py:175-176` — quirk preserved).
- ``/get_arrivals`` picks flat vs grouped on whether BOTH
  ``route_short_name`` and ``trip_headsign`` are present
  (`Mongo/app.py:186`), and clock-face-wraps times at the edge exactly
  where the reference's ``simplify_time`` strips the Timedelta day part
  (`Mongo/app.py:177-181`).  The flat branch matches the requested
  headsign by DIRECT equality (no NOT-IN-SERVICE/null exclusion,
  `Mongo/app.py:185-204`); only the grouped branch applies P8.
- ``/get_timetable`` AND ``/get_arrivals`` keep null departure_times as
  the literal 'NaT' (the reference ETL stringifies pandas NaT into the
  stored doc, `Mongo/denormalization.py:97`, and 'NaT' is truthy so it
  survives the reference's ``if t`` filters and is counted); null
  route/headsign group keys are emitted as the "null" JSON key — the
  reference's ``.get(key, default)`` fallbacks are dead code since the
  ETL writes every key (see queries/timetable.py), and its Flask
  jsonify would 500 sorting a None key against named ones, so this is
  the one deliberate deviation.  A route/headsign genuinely NAMED
  'null' would collide with that key: the handler merges the groups'
  time lists instead of letting one silently clobber the other.

Scale/serving notes: each stop-lookup endpoint is ONE document fetch
(``queries.timetable.stop_services``: one narrow Spark job, the
reference's ``find_one``) and then pure-Python shaping of that stop's
services (the ``*_body`` shapers beside it) — the Spark ``get_*``
operators in queries/timetable.py are the set-oriented batch path and
the reference the shapers are tested against.  Pass a ``.persist()``-ed
(or bucketed-by-stop_id) denorm frame so the fetch hits cached
partitions instead of re-running the ETL.  ``/get_stops`` and the
unknown-stop checks answer from the stop list collected at app build
(zero Spark jobs).  Each analytics endpoint is ONE Spark job over a
session-scoped partial aggregate that ``TransitAPI`` builds on first use,
collecting only the ranked top-N results (see api/app.py).
Flask itself is optional: the module import-gates it so the engine stays
usable where Flask isn't installed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries import timetable as tt
from .app import TransitAPI

try:  # environment contract: gate non-core deps behind an import-try
    from flask import Flask, jsonify, request
except ImportError:  # pragma: no cover
    Flask = None


def create_app(analytics: TransitAPI, denorm: DataFrame):
    """Build the Flask app over a ``TransitAPI`` (live or fast backend)
    and the denormalized stop table (`jobs/denormalize.py`)."""
    if Flask is None:  # pragma: no cover
        raise ImportError("flask is not installed; the HTTP layer is "
                          "optional — use TransitAPI / queries.timetable "
                          "directly")
    app = Flask("public_transit_data_platform_sql_nosql_spark")

    # find_one-existence analog, serving-path shape: collect the stop
    # list once at app build (bounded: three short strings per physical
    # stop — a few MB even for a national feed) so the 404 check is a
    # Python set probe and /get_stops a prebuilt list, neither a
    # per-request Spark job; `refresh_stops` re-reads both after a denorm
    # reload.  The list keeps tt.get_stops' order: (stop_name, stop_id)
    # ascending, nulls first.
    # one-element holder so refresh swaps id set AND list atomically —
    # clear()-then-update would 404 valid stops for concurrent requests
    # during the (potentially seconds-long, disk-backed) rebuild window
    stops: list[tuple[frozenset[str], list[dict]]] = [(frozenset(), [])]

    def _nulls_first(v):
        return (v is not None, v or "")

    def refresh_stops() -> None:
        rows = denorm.select("stop_id", "stop_name", "stop_code").collect()
        rows.sort(key=lambda r: (_nulls_first(r["stop_name"]),
                                 _nulls_first(r["stop_id"])))
        stops[0] = (frozenset(r["stop_id"] for r in rows),
                    [r.asDict() for r in rows])

    refresh_stops()
    app.refresh_stops = refresh_stops

    def _stop_exists(stop_id: str) -> bool:
        return stop_id in stops[0][0]

    # -- analytics (SQL/app.py:81-126) ----------------------------------

    @app.get("/api/q1")
    def api_q1():
        return jsonify({"items": analytics.q1(
            request.args.get("service_id"), request.args.get("limit"))})

    @app.get("/api/q2")
    def api_q2():
        return jsonify(analytics.q2(
            request.args.get("service_id"), request.args.get("limit")))

    @app.get("/api/q3")
    def api_q3():
        return jsonify({"items": analytics.q3(
            request.args.get("service_id"), request.args.get("limit"))})

    @app.get("/api/q4")
    def api_q4():
        return jsonify(analytics.q4(
            request.args.get("service_id"), request.args.get("limit")))

    # -- timetable (Mongo/app.py:47-244) --------------------------------

    @app.get("/get_stops")
    def get_stops():
        return jsonify(stops[0][1])

    @app.get("/get_timetable")
    def get_timetable():
        stop_id = request.args.get("stop_id")
        if not stop_id:
            return jsonify({"error": "Missing 'stop_id' parameter"}), 400
        if not _stop_exists(stop_id):
            return jsonify({"error": f"Stop ID not found: {stop_id}"}), 404
        return jsonify(tt.timetable_body(tt.stop_services(denorm, stop_id)))

    @app.get("/get_routes_for_stop")
    def get_routes_for_stop():
        stop_id = request.args.get("stop_id")
        if not stop_id:
            return jsonify({"error": "Missing 'stop_id' parameter"}), 400
        if not _stop_exists(stop_id):
            return jsonify([])
        return jsonify(tt.routes_for_stop_body(
            tt.stop_services(denorm, stop_id),
            request.args.get("service_id")))

    @app.get("/get_arrivals")
    def get_arrivals():
        stop_id = request.args.get("stop_id")
        rsn = request.args.get("route_short_name")
        headsign = request.args.get("trip_headsign")
        sid = request.args.get("service_id")
        if not stop_id:
            return jsonify({"error": "Missing 'stop_id' parameter"}), 400
        if not _stop_exists(stop_id):
            # flat empty shape even for grouped requests — reference quirk
            return jsonify({"times": [], "count": 0})
        services = tt.stop_services(denorm, stop_id)
        if rsn is not None and headsign is not None:
            return jsonify(tt.arrivals_flat_body(services, rsn, headsign,
                                                 sid))
        return jsonify(tt.arrivals_grouped_body(services, sid))

    # -- geo extension (the reference renders stops on a Leaflet map but
    #    never serves a spatial QUERY; this is the "stops near me" lookup
    #    that map consumes, backed by queries/geo.py's cell-pruned scan) --

    @app.get("/api/stops_nearby")
    def api_stops_nearby():
        from ..queries.geo import DEFAULT_EPS, stops_nearby

        try:
            lat = float(request.args["lat"])
            lon = float(request.args["lon"])
            radius = float(request.args.get("radius", DEFAULT_EPS))
            limit = int(request.args.get("limit", 20))
        except (KeyError, ValueError):
            return jsonify({"error": "lat and lon are required floats; "
                                     "radius/limit optional"}), 400
        if radius <= 0 or limit <= 0:
            return jsonify({"error": "radius and limit must be > 0"}), 400
        pts = denorm.select(
            "stop_id", "stop_name",
            F.col("location")["coordinates"][1].alias("stop_lat"),
            F.col("location")["coordinates"][0].alias("stop_lon"),
        )
        rows = stops_nearby(pts, lat, lon, radius=radius, limit=limit,
                            extra_cols=("stop_name",)).collect()
        return jsonify({"stops": [
            {"stop_id": r["stop_id"], "stop_name": r["stop_name"],
             "stop_lat": r["stop_lat"], "stop_lon": r["stop_lon"],
             "dist2_deg": r["dist2_deg"]} for r in rows]})

    # -- UI + discovery (reference serves index.html at "/":
    #    SQL/app.py:78, Mongo/index.html; ours is an original page) ----

    @app.get("/")
    def index():
        from .ui import INDEX_HTML

        return INDEX_HTML, 200, {"Content-Type": "text/html; charset=utf-8"}

    @app.get("/api")
    def api_index():
        return jsonify({"endpoints": ["/api/q1", "/api/q2", "/api/q3",
                                      "/api/q4", "/get_stops",
                                      "/get_timetable",
                                      "/get_routes_for_stop",
                                      "/get_arrivals",
                                      "/api/stops_nearby"]})

    return app
