"""Reference JSON payload assembly (SURVEY.md SS2.11, F5/F6/F10/F11).

Pure Python over ``collect()``-ed rows — the reference rounds and nests at
the API edge, after the database returns (`/root/reference/SQL/
sql_utils.py:94-105,216-308,354-422`), and so do we: Spark produces the
(small) ranked result sets, this module reproduces the exact dict shapes,
including the quirks:

- ``_round2``/``_round6`` use Python float formatting (banker's-ish on
  binary doubles), NOT SQL HALF_UP — applied post-collect like the
  reference (F5/F6).
- Q2 whole-week ``overall`` is computed from the ALREADY-ROUNDED per-route
  globals with an ``or 0.0`` None-guard (`sql_utils.py:246-254`), while
  single-service mode uses the raw values (`sql_utils.py:284-290`) — two
  subtly different weighted means, both preserved.
- Q4 ``max_hour`` spans ALL service-filtered rows, computed BEFORE the
  ranked-route restriction (`sql_utils.py:360-369`).
- The fixed ``/3.0`` weekly average divisor (`sql_utils.py:397`).
"""

from __future__ import annotations

from collections import defaultdict
from typing import Any, Optional


def round2(v: Optional[float]) -> Optional[float]:
    """F5: the reference's ``_round2`` (`sql_utils.py:172-175`), with one
    robustness addition: the double is quantized to 8 dp BEFORE the 2-dp
    format.  The live and fast paths aggregate the same data through
    different physical plans (cache layouts, precompute jobs), so their
    doubles can differ in the last ulp; a value sitting exactly at a 2-dp
    half boundary (15.42499999999999982 vs 15.42500000000000071) would
    then round differently per path.  The reference never faces this —
    its CSV fast path stores the SQL path's literal values — so the
    pre-quantize (same move as __spark_entry__._round2's DECIMAL(28,8)
    hop) restores the determinism the reference gets for free.  Output
    differs from a raw ``f"{v:.2f}"`` only when the true value lies
    within 1e-8 of a half boundary, where the reference itself is
    ulp-unstable."""
    if v is None:
        return None
    return float(f"{round(float(v), 8):.2f}")


def round6(v: Optional[float]) -> Optional[float]:
    """F6: coordinate rounding (`sql_utils.py:100-101`)."""
    if v is None:
        return None
    return float(f"{float(v):.6f}")


def to_json_safe(obj: Any) -> Any:
    """F11: recursive numpy/NaN-safe conversion (`SQL/app.py:35-56`).
    Spark ``collect()`` returns native Python types, so this is a thin
    shim kept for interface parity (dict/list walk + float NaN -> None)."""
    if isinstance(obj, dict):
        return {k: to_json_safe(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [to_json_safe(v) for v in obj]
    if isinstance(obj, float) and obj != obj:  # NaN
        return None
    return obj


def shape_q1_rows(rows: list[dict]) -> list[dict]:
    """Q1 row shape (`sql_utils.py:94-105`)."""
    return [
        {
            "stop_id": r["stop_id"],
            "stop_code": r.get("stop_code"),
            "stop_name": r["stop_name"],
            "stop_lat": round6(r["stop_lat"]),
            "stop_lon": round6(r["stop_lon"]),
            "total_trip_events": int(r["total_trip_events"]),
            "num_unique_routes": int(r["num_unique_routes"]),
        }
        for r in rows
    ]


def shape_q3_rows(rows: list[dict]) -> list[dict]:
    """Q3 row shape (`sql_utils.py:136-145`)."""
    return [
        {
            "stop_id": r["stop_id"],
            "stop_code": r.get("stop_code"),
            "stop_name": r["stop_name"],
            "stop_lat": round6(r["stop_lat"]),
            "stop_lon": round6(r["stop_lon"]),
            "num_unique_routes": int(r["num_unique_routes"]),
        }
        for r in rows
    ]


def _q2_service_entry(r: dict) -> dict:
    return {
        "service_id": str(r["service_id"]),
        "total_trips": int(r["total_trips"]),
        "avg_trip_distance_km": round2(r["avg_trip_distance_km"]),
        "avg_duration_min": round2(r["avg_duration_min"]),
        "duration_stddev_min": round2(r.get("duration_stddev_min")),
        "avg_speed_kmh": round2(r["avg_speed_kmh"]),
    }


def shape_q2_whole_week(global_rows: list[dict],
                        service_rows: list[dict],
                        key: tuple[str, ...] = ("route_long_name",),
                        ) -> dict:
    """Q2 whole-week payload (`sql_utils.py:216-263`).

    ``key`` is the route identity: the SQL live path keys by long name only
    (`sql_utils.py:190` — same-named routes collapse), the CSV fast path by
    (long, short) (`csv_backend.py:100-103`); both reference behaviors are
    expressible.
    """
    keyfn = lambda r: tuple(r.get(k) for k in key)
    selected = {keyfn(r) for r in global_rows}
    routes: dict[tuple, dict] = {}
    for r in global_rows:
        routes[keyfn(r)] = {
            "route_long_name": r["route_long_name"],
            "route_short_name": r.get("route_short_name"),
            "global": {
                "total_trips": int(r["total_trips"]),
                "avg_trip_distance_km": round2(r["avg_trip_distance_km"]),
                "avg_duration_min": round2(r["avg_duration_min"]),
                "avg_speed_kmh": round2(r["avg_speed_kmh"]),
            },
            "services": [],
        }
    for r in service_rows:
        k = keyfn(r)
        if k in selected:
            routes[k]["services"].append(_q2_service_entry(r))
    total = sum(v["global"]["total_trips"] for v in routes.values()) or 1
    dur = sum((v["global"]["avg_duration_min"] or 0.0)
              * v["global"]["total_trips"] for v in routes.values()) / total
    spd = sum((v["global"]["avg_speed_kmh"] or 0.0)
              * v["global"]["total_trips"] for v in routes.values()) / total
    return {
        "mode": "whole_week",
        "routes": list(routes.values()),
        "overall": {"avg_duration_min": round2(dur),
                    "avg_speed_kmh": round2(spd)},
    }


def shape_q2_single_service(rows: list[dict]) -> dict:
    """Q2 single-service payload (`sql_utils.py:284-308`) — overall is
    weighted over the RAW (unrounded) per-route values."""
    total = sum(int(r["total_trips"]) for r in rows) or 1
    dur = sum(float(r["avg_duration_min"]) * int(r["total_trips"])
              for r in rows) / total
    spd = sum(float(r["avg_speed_kmh"]) * int(r["total_trips"])
              for r in rows) / total
    return {
        "mode": "single_service",
        "routes": [
            {
                "route_long_name": r["route_long_name"],
                "route_short_name": r.get("route_short_name"),
                **_q2_service_entry(r),
            }
            for r in rows
        ],
        "overall": {"avg_duration_min": round2(dur),
                    "avg_speed_kmh": round2(spd)},
    }


def shape_q4(detail_rows: list[dict],
             selected_routes: set[str],
             service_filter: Optional[str],
             max_hour: int) -> dict:
    """Q4 payload (`sql_utils.py:354-422`): per-route hourly series;
    whole-week mode adds totals_by_service + the /3.0 average.
    ``max_hour`` is the caller's: the reference takes it over every
    service-filtered row, not just the ranked detail rows here."""
    route_hours: dict[str, dict[str, dict[int, int]]] = defaultdict(
        lambda: defaultdict(dict))
    route_short: dict[str, Optional[str]] = {}
    for r in detail_rows:
        route = r["route_long_name"]
        sid = str(r["service_id"])
        hour = int(r["hour_of_day"]) if r["hour_of_day"] is not None else 0
        trips = (int(r["trips_per_hour"])
                 if r["trips_per_hour"] is not None else 0)
        route_hours[route][sid][hour] = trips
        if route not in route_short:
            route_short[route] = r.get("route_short_name")
    result_routes: list[dict] = []
    for route, service_map in route_hours.items():
        if route not in selected_routes:
            continue
        if service_filter is None:
            hourly: dict[int, int] = defaultdict(int)
            for sid_map in service_map.values():
                for h, c in sid_map.items():
                    hourly[h] += c
            series = [{"hour": h, "trips": hourly[h]}
                      for h in sorted(hourly)]
            totals = {s: sum(service_map.get(s, {}).values())
                      for s in ("1", "2", "3")}
            result_routes.append({
                "route_long_name": route,
                "route_short_name": route_short.get(route),
                "service_id": "all",
                "hourly": series,
                "total_daily_trips": sum(hourly.values()),
                "totals_by_service": totals,
                "average_daily_trips": sum(totals.values()) / 3.0,
            })
        else:
            sid_map = service_map.get(service_filter, {})
            series = [{"hour": h, "trips": sid_map[h]}
                      for h in sorted(sid_map)]
            result_routes.append({
                "route_long_name": route,
                "route_short_name": route_short.get(route),
                "service_id": service_filter,
                "hourly": series,
                "total_daily_trips": sum(sid_map.values()),
            })
    return {"max_hour": max_hour, "routes": result_routes}
