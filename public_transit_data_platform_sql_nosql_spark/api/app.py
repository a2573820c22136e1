"""The reference's JSON API surface on Spark (SURVEY.md SS3.1).

``TransitAPI`` mirrors `/root/reference/SQL/app.py:81-126`: four endpoints
``q1``..``q4`` taking ``(service_id, limit)``, each choosing between

- the LIVE path — the DataFrame pipelines in ``queries/`` (the SQL-backend
  analog, `sql_utils.py:73-422`), and
- the FAST path — filter/sort/limit over materialized Parquet result
  tables written by ``jobs/precompute.py`` (the CSV-backend analog,
  `csv_backend.py:40-214`), chosen by the same existence probe
  (`SQL/app.py:61-65`).

Backend-specific shape quirks are preserved faithfully: the CSV backend
keys Q2/Q4 whole-week routes by (long, short) name and labels Q4
whole-week rows ``service_id='4'``, while the SQL backend keys by long
name only and labels them ``'all'`` (`csv_backend.py:100-103,175-191` vs
`sql_utils.py:190,390`).

Serving notes (beyond the reference, which collects everything):

- Each live request runs ONE Spark job.  Like the reference's app-start
  view (`SQL/app.py:73`, `sql_utils.py:46-70`), ``TransitAPI`` keeps a
  service-unfiltered partial aggregate per query, built and persisted on
  the first request that needs it and dropped by ``refresh()``: stop
  events per (stop, route, service) for Q1 and Q3, hash-partitioned by
  stop_id; per-trip stats for Q2 and the hourly view for Q4, each in one
  partition.  A request is one plan over its partial (queries/q*), with
  no exchange, so a ranked request is one job (``limit='all'`` on Q1/Q3
  adds the global sort's sampling and shuffle).
- Q4's ``max_hour`` and route ranking, and Q2's whole-week rows, are
  window aggregates in that one plan, and only the ranked routes' rows
  are collected -- the reference ships every route's rows to Python and
  drops them there (`sql_utils.py:341-369`).
- Where the reference's loose MySQL ``GROUP BY`` picks an arbitrary
  route_short_name per collapsed long name, we pick ``min()`` --
  deterministic under retries/partitioning (documented deviation).
"""

from __future__ import annotations

import threading
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..jobs.precompute import precomputed_available, read_precomputed
from ..operators.params import apply_limit, normalize_service_id
from ..queries.q1_busiest_stops import q1_from_counts, stop_route_counts
from ..queries.q2_duration_speed import (
    q2_route_stats,
    q2_stats_partial,
    q2_whole_week_ranked,
)
from ..queries.q3_transfer_points import q3_from_counts
from ..queries.q4_hourly_frequency import hourly_named, q4_detail_ranked
from . import shapes


def _dicts(df: DataFrame) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


class _SessionCache:
    """Persisted frames built on first use and dropped together.  The
    lock serializes first builds: under a threaded server, two
    concurrent first calls would otherwise both persist a frame and
    orphan one cached copy for the session."""

    def __init__(self) -> None:
        self._frames: dict[str, DataFrame] = {}
        self._lock = threading.Lock()

    def get(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """The frame ``name``, (re)built and persisted unless still
        cached.  Spark's CacheManager keys cached data by plan, so APIs
        over the same feed share one copy, and another API's
        ``refresh()`` may have dropped it."""
        with self._lock:
            df = self._frames.get(name)
            if df is None or not df.storageLevel.useMemory:
                df = self._frames[name] = build().persist()
            return df

    def clear(self) -> None:
        with self._lock:
            for df in self._frames.values():
                df.unpersist()
            self._frames.clear()


class TransitAPI:
    def __init__(self, spark: SparkSession, gtfs: dict[str, DataFrame],
                 precompute_dir: Optional[str] = None) -> None:
        self.spark = spark
        self.gtfs = gtfs
        self.precompute_dir = precompute_dir
        # the live path's session-scoped partial aggregates (module notes)
        self._cache = _SessionCache()

    def _fast(self, name: str) -> bool:
        return (self.precompute_dir is not None
                and precomputed_available(self.precompute_dir, name))

    def _stop_route_counts(self) -> DataFrame:
        g = self.gtfs
        return self._cache.get("stop_route_counts", lambda: stop_route_counts(
            g["stop_times"], g["trips"], g["stops"]))

    def _q2_stats_joined(self) -> DataFrame:
        g = self.gtfs
        return self._cache.get("q2_stats", lambda: q2_stats_partial(
            g["stop_times"], g["trips"], g["routes"]))

    def _hourly_joined(self) -> DataFrame:
        g = self.gtfs
        return self._cache.get("hourly", lambda: hourly_named(
            g["stop_times"], g["trips"], g["routes"]))

    def refresh(self) -> None:
        """Drop the session-scoped partials (the reference's equivalent
        is restarting the app / re-running ensure_view); the next live
        request rebuilds the one it needs.  Call after the underlying
        GTFS frames change."""
        self._cache.clear()

    # -- Q1 ---------------------------------------------------------------

    def q1(self, service_id: object = None,
           limit: object = None) -> list[dict]:
        if self._fast("q1_busiest_stops"):
            df = read_precomputed(self.spark, self.precompute_dir,
                                  "q1_busiest_stops",
                                  normalize_service_id(service_id))
            df = apply_limit(
                df.orderBy(F.desc("total_trip_events"), F.asc("stop_id")),
                limit,
            ).drop("service_id")
        else:
            df = q1_from_counts(self._stop_route_counts(), service_id, limit)
        return shapes.to_json_safe(shapes.shape_q1_rows(_dicts(df)))

    # -- Q3 ---------------------------------------------------------------

    def q3(self, service_id: object = None,
           limit: object = None) -> list[dict]:
        if self._fast("q3_transfer_points"):
            df = read_precomputed(self.spark, self.precompute_dir,
                                  "q3_transfer_points",
                                  normalize_service_id(service_id))
            df = apply_limit(
                df.orderBy(F.desc("num_unique_routes"), F.asc("stop_id")),
                limit,
            ).drop("service_id")
        else:
            df = q3_from_counts(self._stop_route_counts(), service_id, limit)
        return shapes.to_json_safe(shapes.shape_q3_rows(_dicts(df)))

    # -- Q2 ---------------------------------------------------------------

    def q2(self, service_id: object = None,
           limit: object = None) -> dict[str, Any]:
        sid = normalize_service_id(service_id)
        if self._fast("q2_duration_speed"):
            return shapes.to_json_safe(self._q2_fast(sid, limit))
        if sid is None:
            rows = _dicts(q2_whole_week_ranked(self._q2_stats_joined(),
                                               limit))
            global_rows = list({r["rank"]: r["route"] for r in rows}.values())
            # a null long name gets no drill-down rows (the reference's
            # membership join never matches it)
            service_rows = [r for r in rows
                            if r["route_long_name"] is not None]
            payload = shapes.shape_q2_whole_week(global_rows, service_rows)
        else:
            rows = _dicts(q2_route_stats(
                self.gtfs["stop_times"], self.gtfs["trips"],
                self.gtfs["routes"], sid, limit, whole_week=False,
                stats_joined=self._q2_stats_joined()))
            for r in rows:
                r.setdefault("service_id", sid)
            payload = shapes.shape_q2_single_service(rows)
        return shapes.to_json_safe(payload)

    def _q2_fast(self, sid: Optional[str], limit: object) -> dict[str, Any]:
        """CSV-backend semantics: routes keyed by (long, short)
        (`csv_backend.py:83-169`)."""
        tbl = read_precomputed(self.spark, self.precompute_dir,
                               "q2_duration_speed", sid)
        ranked = apply_limit(
            tbl.orderBy(F.desc("avg_duration_min"),
                        F.asc("route_long_name"),
                        F.asc(F.coalesce("route_short_name", F.lit("")))),
            limit,
        )
        rows = _dicts(ranked)
        if sid is not None:
            return shapes.shape_q2_single_service(rows)
        key = ("route_long_name", "route_short_name")
        # semi-join the ranked frame DIRECTLY (closed plan) — the
        # collected rows above are for JSON shaping only, never
        # round-tripped back into a DataFrame
        sel = ranked.select("route_long_name", "route_short_name")
        # svc is the partition key: the isin prunes to 3 directories
        per_service = self.spark.read.parquet(
            f"{self.precompute_dir}/q2_duration_speed"
        ).filter(F.col("svc").isin("s1", "s2", "s3")).drop("svc")
        service_rows = _dicts(
            per_service.join(
                F.broadcast(sel),
                [per_service["route_long_name"].eqNullSafe(
                    sel["route_long_name"]),
                 per_service["route_short_name"].eqNullSafe(
                     sel["route_short_name"])],
                "left_semi",
            ).orderBy("route_long_name", "service_id")
        )
        return shapes.shape_q2_whole_week(rows, service_rows, key=key)

    # -- Q4 ---------------------------------------------------------------

    def q4(self, service_id: object = None,
           limit: object = None) -> dict[str, Any]:
        sid = normalize_service_id(service_id)
        if self._fast("q4_hourly_frequency"):
            return shapes.to_json_safe(self._q4_fast(sid, limit))
        rows = _dicts(q4_detail_ranked(self._hourly_joined(), sid, limit))
        # a null long name takes a rank but serves no rows (the
        # reference's membership join never matches it)
        detail = [r for r in rows if r["route_long_name"] is not None]
        return shapes.to_json_safe(shapes.shape_q4(
            detail, {r["route_long_name"] for r in detail}, sid,
            int(rows[0]["max_hour"] or 0) if rows else 0))

    def _q4_fast(self, sid: Optional[str], limit: object) -> dict[str, Any]:
        """CSV-backend semantics (`csv_backend.py:172-214`): keyed by
        (long, short); whole-week rows labeled '4'.

        Unlike the reference (which loads the whole result CSV into pandas
        and drops non-selected routes in Python), selection happens in
        Spark: detail rows and per-service totals are broadcast-left-semi
        joined to the top-N keys BEFORE collect, so the driver only ever
        holds the survivors — at 100x the result table the reference's
        full collect is a driver OOM, this stays O(top-N).
        """
        label = sid if sid is not None else "4"
        tbl = read_precomputed(self.spark, self.precompute_dir,
                               "q4_hourly_frequency", sid)
        totals = (
            tbl.groupBy("route_long_name", "route_short_name")
            .agg(F.sum("trips_per_hour").alias("total_daily_trips"))
            .orderBy(F.desc("total_daily_trips"), F.asc("route_long_name"),
                     F.asc(F.coalesce("route_short_name", F.lit(""))))
        )
        # raw limit: apply_limit sanitizes internally ('all' => unlimited)
        topdf = apply_limit(totals, limit)
        top = _dicts(topdf)
        # semi-join the ranked frame directly — no driver round-trip (the
        # collected rows feed JSON shaping only).  The key columns are
        # RENAMED because topdf shares lineage with tbl (both read the
        # same parquet): qualified self-join refs would be ambiguous.
        sel = topdf.select(
            F.col("route_long_name").alias("sel_long_name"),
            F.col("route_short_name").alias("sel_short_name"),
        )

        def _semi(df: DataFrame) -> DataFrame:
            return df.join(
                F.broadcast(sel),
                [df["route_long_name"].eqNullSafe(F.col("sel_long_name")),
                 df["route_short_name"].eqNullSafe(
                     F.col("sel_short_name"))],
                "left_semi",
            )

        rows = _dicts(_semi(tbl).orderBy("route_long_name", "hour_of_day"))
        by_route: dict[tuple, list[dict]] = {}
        for r in rows:
            by_route.setdefault(
                (r["route_long_name"], r["route_short_name"]), []
            ).append(r)
        ps_by_key: dict[tuple, dict[str, int]] = {}
        if label == "4":
            ps = _dicts(_semi(
                self.spark.read.parquet(
                    f"{self.precompute_dir}/q4_hourly_frequency")
                .filter(F.col("svc").isin("s1", "s2", "s3")).drop("svc")
                .groupBy("route_long_name", "route_short_name", "service_id")
                .agg(F.sum("trips_per_hour").alias("trips_per_hour"))
            ))
            for r in ps:
                ps_by_key.setdefault(
                    (r["route_long_name"], r["route_short_name"]), {}
                )[str(r["service_id"])] = int(r["trips_per_hour"])
        totals_by_key = {(t["route_long_name"], t["route_short_name"]):
                         int(t["total_daily_trips"]) for t in top}
        out_routes = []
        # pandas groupby iterates keys in sorted order (`csv_backend.py:186`)
        for k in sorted(by_route, key=lambda k: (k[0], k[1] or "")):
            g = by_route[k]
            obj: dict[str, Any] = {
                "route_long_name": k[0],
                "route_short_name": k[1],
                "service_id": label,
                "hourly": [{"hour": int(r["hour_of_day"]),
                            "trips": int(r["trips_per_hour"])} for r in g],
                "total_daily_trips": totals_by_key[k],
            }
            if label == "4":
                tbs = {"1": 0, "2": 0, "3": 0}
                tbs.update(ps_by_key.get(k, {}))
                obj["totals_by_service"] = tbs
                obj["average_daily_trips"] = sum(tbs.values()) / 3.0
            out_routes.append(obj)
        # max_hour over the FULL service-filtered table (reference
        # semantics) as a 1-row aggregate, not a collect
        max_hour = tbl.agg(F.max("hour_of_day")).first()[0]
        return {"max_hour": int(max_hour or 0), "routes": out_routes}
