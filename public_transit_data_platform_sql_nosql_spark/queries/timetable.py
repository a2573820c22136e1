"""Timetable lookup operations over the denormalized stop table -- the
reference's Mongo query service (`/root/reference/Mongo/app.py:47-244`).

The reference does ``find_one`` by stop_id then filters/groups/sorts the
``upcoming_services`` array in Python.  This module has both halves of
that split:

- **Serving** (one stop per request): ``stop_services`` is the
  ``find_one`` -- one narrow Spark job, no exchange, partition-pruned on
  a bucketed store -- and the ``*_body`` shapers filter, group and sort
  that one document's services in plain Python into the exact JSON
  bodies the HTTP endpoints return (api/http.py).
- **Batch / reference**: ``get_timetable``, ``get_routes_for_stop``,
  ``get_arrivals_flat`` and ``get_arrivals_grouped`` are the same
  operations as Spark array expressions / explode pipelines, which work
  set-oriented over ALL stops at once.  They are the registered
  DuckDB-oracle queries and the reference the serving shapers are
  tested against (tests/test_http.py).
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from ..functions.gtfs_time import (
    GTFS_TIME_PATTERN,
    time_to_secs,
    wrap_display_time,
)
from ..operators.params import PUBLIC_SERVICE_IDS

NOT_IN_SERVICE = "NOT IN SERVICE"
_PUBLIC = frozenset(PUBLIC_SERVICE_IDS)
_GTFS_TIME = re.compile(GTFS_TIME_PATTERN, re.ASCII)


def get_stops(stops_or_denorm: DataFrame) -> DataFrame:
    """S9: id/code/name projection sorted by name
    (`Mongo/app.py:56-59`)."""
    return (
        stops_or_denorm.select("stop_id", "stop_name", "stop_code")
        .orderBy("stop_name", "stop_id")
    )


def _public_service(x: Column) -> Column:
    """P7: public services only (`Mongo/app.py:131-135`)."""
    return x["service_id"].isin(*PUBLIC_SERVICE_IDS)


def _valid_headsign(x: Column) -> Column:
    """P8: drop NULL / 'NOT IN SERVICE' headsigns
    (`Mongo/app.py:139-143`)."""
    return x["trip_headsign"].isNotNull() & (
        x["trip_headsign"] != NOT_IN_SERVICE
    )


def _exploded(denorm: DataFrame, stop_id: str | None,
              filtered: bool = True,
              valid_headsign: bool = True) -> DataFrame:
    """Explode ``upcoming_services``; ``filtered`` applies P7 and (by
    default) P8 (used by routes-for-stop and arrivals; get_timetable
    shows all services, `Mongo/app.py:87-102`).  ``valid_headsign=False``
    keeps the public-service filter but skips the NOT-IN-SERVICE/null
    headsign exclusion — the reference's flat arrivals drill-down
    (`Mongo/app.py:185-204`) matches the requested headsign directly and
    never applies P8."""
    if stop_id is None:
        df = denorm
    else:
        # point_read prunes to one stop_bucket partition when the denorm
        # came from a bucketed doc store (jobs/denormalize.py) — plain
        # frames fall back to the pushed stop_id filter
        from ..jobs.denormalize import point_read

        df = point_read(denorm, stop_id)
    svc = F.col("upcoming_services")
    if filtered:
        if valid_headsign:
            svc = F.filter(
                svc, lambda x: _public_service(x) & _valid_headsign(x)
            )
        else:
            svc = F.filter(svc, _public_service)
    return df.select(
        "stop_id", F.explode(svc).alias("s")
    ).select(
        "stop_id",
        F.col("s.route_id").alias("route_id"),
        F.col("s.route_short_name").alias("route_short_name"),
        F.col("s.route_long_name").alias("route_long_name"),
        F.col("s.trip_id").alias("trip_id"),
        F.col("s.service_id").alias("service_id"),
        F.col("s.trip_headsign").alias("trip_headsign"),
        F.col("s.departure_time").alias("departure_time"),
    )


def get_routes_for_stop(denorm: DataFrame, stop_id: str,
                        service_id: str | None = None) -> DataFrame:
    """A18/O11: distinct (route_short_name, trip_headsign) pairs at a stop,
    optionally narrowed to one public service (`Mongo/app.py:116-149`)."""
    df = _exploded(denorm, stop_id)
    if service_id is not None:
        df = df.filter(F.col("service_id") == service_id)
    return (
        df.select("route_short_name", "trip_headsign")
        .distinct()
        .orderBy("route_short_name", "trip_headsign")
    )


def get_arrivals_flat(
    denorm: DataFrame,
    stop_id: str,
    route_short_name: str | None = None,
    trip_headsign: str | None = None,
    service_id: str | None = None,
) -> DataFrame:
    """P9/P10: flat arrivals mode — the sorted list of non-empty departure
    times at a stop, optionally narrowed to a (route_short_name,
    trip_headsign, service_id) selection (`Mongo/app.py:185-204`, the
    route+headsign drill-down that returns ``{"times": [...], "count"}``).

    The public-service filter (P7) always applies, matching the
    reference's ``allowed_services`` check.  The valid-headsign exclusion
    (P8) applies ONLY when no explicit ``trip_headsign`` is requested:
    the reference's flat branch (`Mongo/app.py:185-204`) matches the
    requested headsign by direct equality with no NOT-IN-SERVICE/null
    exclusion, so a drill-down into trip_headsign='NOT IN SERVICE'
    returns its times there — and here.  The reference's
    ``simplify_time`` display unwrap is an API-edge concern
    (api/shapes.py), not part of the set semantics.

    Null departure_times are KEPT, as the literal 'NaT', exactly like
    ``get_timetable``: the reference ETL stringifies pandas NaT into the
    stored doc (`Mongo/denormalization.py:97`), and the string 'NaT' is
    truthy, so it survives the reference's ``[t for t in times if t]``
    and is counted ('NaT' also sorts after every HH:MM:SS string in both
    engines).  Only genuinely empty strings are dropped — the one falsy
    value the reference's filter can see.
    """
    df = _exploded(
        denorm, stop_id, valid_headsign=(trip_headsign is None)
    ).withColumn(
        "departure_time", F.coalesce(F.col("departure_time"), F.lit("NaT"))
    ).filter(F.col("departure_time") != "")
    for col, val in (
        ("route_short_name", route_short_name),
        ("trip_headsign", trip_headsign),
        ("service_id", service_id),
    ):
        if val is not None:
            df = df.filter(F.col(col) == val)
    return df.select("departure_time").orderBy("departure_time")


def get_arrivals_grouped(
    denorm: DataFrame,
    stop_id: str,
    route_short_name: str | None = None,
    trip_headsign: str | None = None,
    service_id: str | None = None,
) -> DataFrame:
    """A19: arrivals at a stop grouped by (route_id, headsign) with the
    sorted time list and per-group count (`Mongo/app.py:206-244`),
    ordered by (route_short_name, trip_headsign, route_id) so groups that
    share a short name and headsign have a defined order.

    Null departure_times are kept as 'NaT' in the time lists and counts,
    matching the reference's truthy stringified-NaT behavior — see
    ``get_arrivals_flat``."""
    df = _exploded(denorm, stop_id).withColumn(
        "departure_time", F.coalesce(F.col("departure_time"), F.lit("NaT"))
    ).filter(F.col("departure_time") != "")
    for col, val in (
        ("route_short_name", route_short_name),
        ("trip_headsign", trip_headsign),
        ("service_id", service_id),
    ):
        if val is not None:
            df = df.filter(F.col(col) == val)
    return (
        df.groupBy("route_id", "route_short_name", "trip_headsign")
        .agg(
            F.sort_array(F.collect_list("departure_time")).alias("times"),
            F.count(F.lit(1)).alias("count"),
        )
        .orderBy("route_short_name", "trip_headsign", "route_id")
    )


def get_timetable(denorm: DataFrame, stop_id: str) -> DataFrame:
    """A17/O9: route_long_name -> headsign -> sorted wrapped times
    (`Mongo/app.py:66-113`).  Times are clock-face wrapped like the
    reference's Timedelta round-trip (hour 25 -> 01).

    Null departure_times are KEPT and rendered as the literal 'NaT':
    the reference's ETL stores ``str(row['departure_time'])``
    (`Mongo/denormalization.py:97`), so a SQL NULL time reaches Mongo as
    the string 'NaT' (pandas NaT stringified) and shows up in the
    timetable; dropping the row here would silently diverge.  Null
    route_long_name / trip_headsign group keys pass through unchanged —
    the reference's ``service.get(key, default)`` defaults are dead code
    (the ETL writes every key on every service dict, so ``.get`` never
    falls back to 'Unknown Route'/'Unknown Direction').  The HTTP edge
    maps a None key to the literal "null" (api/http.py — Flask's sorted
    jsonify cannot mix None and str keys; the reference app would 500
    there)."""
    df = _exploded(denorm, stop_id, filtered=False)
    wrapped = F.coalesce(
        wrap_display_time(time_to_secs(F.col("departure_time"))),
        F.lit("NaT"),
    )
    return (
        df.withColumn("display_time", wrapped)
        .groupBy("route_long_name", "trip_headsign")
        .agg(
            F.sort_array(F.collect_list("display_time")).alias("times"),
        )
        .orderBy("route_long_name", "trip_headsign")
    )


# -- serving: one document fetch, then Python shaping (the find_one path) --


def stop_services(denorm: DataFrame, stop_id: str) -> list[Row]:
    """The reference's ``find_one`` (`Mongo/app.py:73-82`): one stop's
    ``upcoming_services`` rows.  One narrow Spark job with no exchange;
    ``point_read`` prunes a bucketed store to one ``stop_bucket``
    directory.  An unknown stop yields ``[]``."""
    from ..jobs.denormalize import point_read

    rows = point_read(denorm, stop_id).select("upcoming_services").collect()
    return [s for r in rows for s in r["upcoming_services"]]


def wrap_clock_time(t: Optional[str]) -> str:
    """GTFS '25:30:00' -> '01:30:00' — the edge twin of the reference's
    ``simplify_time`` (`Mongo/app.py:177-181`), which strips the pandas
    Timedelta day part from the stored string."""
    if not t:
        return ""
    try:
        h = int(str(t).split(":", 1)[0])
    except ValueError:
        return str(t)
    return f"{h % 24:02d}:" + str(t).split(":", 1)[1]


def _display_time(t: Optional[str]) -> str:
    """``get_timetable``'s display column in Python: ``time_to_secs``
    then ``wrap_display_time``; what the pattern rejects (null included)
    renders as 'NaT'."""
    if t is None or not _GTFS_TIME.match(t):
        return "NaT"
    h, m, s = (int(p) for p in t.split(":"))
    secs = (h * 3600 + m * 60 + s) % 86400
    return f"{secs // 3600:02d}:{secs % 3600 // 60:02d}:{secs % 60:02d}"


def _served(s: Row, service_id: Optional[str],
            valid_headsign: bool = True) -> bool:
    """P7, P8 (unless ``valid_headsign=False``) and the optional
    ``service_id`` equality — ``_exploded``'s filters on one row."""
    if s["service_id"] not in _PUBLIC:
        return False
    if valid_headsign and s["trip_headsign"] in (None, NOT_IN_SERVICE):
        return False
    return service_id is None or s["service_id"] == service_id


def _arrival_times(deps) -> list[str]:
    """Null -> 'NaT', clock-face wrapped, sorted, empty strings dropped
    (``wrap_clock_time('')`` is '') — the arrivals time-list semantics of
    ``get_arrivals_*`` plus the edge wrap."""
    wrapped = (wrap_clock_time("NaT" if d is None else d) for d in deps)
    return sorted(t for t in wrapped if t)


def timetable_body(services: list[Row]) -> dict[str, dict[str, list[str]]]:
    """``/get_timetable``: route_long_name -> headsign -> sorted display
    times over ALL services (no P7/P8), as ``get_timetable``.

    Null group keys become the literal "null" key — what plain
    json.dumps emits for a None dict key.  DELIBERATE deviation: Flask's
    sort_keys jsonify raises on a dict mixing None and str keys, so the
    reference app 500s on a stop whose services mix null and named
    routes.  A group genuinely named 'null' shares that key, so the two
    groups' times merge instead of one clobbering the other."""
    sched: dict[str, dict[str, list[str]]] = {}
    for s in services:
        route = s["route_long_name"]
        head = s["trip_headsign"]
        sched.setdefault("null" if route is None else route, {}).setdefault(
            "null" if head is None else head, []
        ).append(_display_time(s["departure_time"]))
    for by_head in sched.values():
        for times in by_head.values():
            times.sort()
    return sched


def routes_for_stop_body(services: list[Row],
                         service_id: Optional[str] = None) -> list[dict]:
    """``/get_routes_for_stop``: the sorted distinct (route_short_name,
    trip_headsign) pairs of ``get_routes_for_stop``; the reference drops
    null short names and str-casts (`Mongo/app.py:140-145`)."""
    pairs = sorted({
        (str(s["route_short_name"]), str(s["trip_headsign"]))
        for s in services
        if _served(s, service_id) and s["route_short_name"] is not None
    })
    return [{"route_short_name": r, "trip_headsign": h} for r, h in pairs]


def arrivals_flat_body(services: list[Row], route_short_name: str,
                       trip_headsign: str,
                       service_id: Optional[str] = None) -> dict:
    """``/get_arrivals`` drill-down: ``get_arrivals_flat`` for one
    (route_short_name, trip_headsign) — P7 only; the headsign matches by
    direct equality, 'NOT IN SERVICE' included (`Mongo/app.py:185-204`)."""
    times = _arrival_times(
        s["departure_time"] for s in services
        if _served(s, service_id, valid_headsign=False)
        and s["route_short_name"] == route_short_name
        and s["trip_headsign"] == trip_headsign
    )
    return {"times": times, "count": len(times)}


def arrivals_grouped_body(services: list[Row],
                          service_id: Optional[str] = None) -> dict:
    """``/get_arrivals`` grouped mode: ``get_arrivals_grouped``'s
    (route_id, route_short_name, trip_headsign) groups, ordered by
    (route_short_name, trip_headsign, route_id) — the full group key, so
    routes sharing a short name and headsign come back in a defined
    order (`Mongo/app.py:206-244`)."""
    by_key: dict[tuple, list[Optional[str]]] = {}
    for s in services:
        # a group whose every time is '' does not exist in Spark's groupBy
        if _served(s, service_id) and s["departure_time"] != "":
            key = (s["route_id"], s["route_short_name"], s["trip_headsign"])
            by_key.setdefault(key, []).append(s["departure_time"])
    groups = []
    for (route_id, short_name, headsign), deps in by_key.items():
        times = _arrival_times(deps)
        groups.append({
            "route_id": route_id or "",
            "route_short_name": ("" if short_name is None
                                 else str(short_name)),
            "trip_headsign": headsign,
            "times": times,
            "count": len(times),
        })
    groups.sort(key=lambda g: (g["route_short_name"], g["trip_headsign"],
                               g["route_id"]))
    return {"groups": groups,
            "total_count": sum(g["count"] for g in groups)}
