"""Q2 -- average trip duration / distance / speed per route (reference
`/root/reference/SQL/sql_utils.py:148-308`, `SQL/Q2 average duration.sql`).

Semantics preserved exactly (SURVEY.md A5-A8, A12):

- per-trip CTE: duration = max(arrival) - min(departure) seconds, distance =
  max - min shape_dist_traveled, HAVING duration > 60 (queries/common.py);
- speed is the AVERAGE OF PER-TRIP SPEEDS ``avg(dist / nullif(dur,0) *
  3600)`` -- NOT total-distance/total-time (`sql_utils.py:187`);
- stddev of duration is POPULATION sigma (MySQL ``STDDEV``): Spark
  ``stddev_pop``, never the sample default (`sql_utils.py:206`);
- whole-week mode groups by route_long_name ONLY, collapsing same-named
  routes (`sql_utils.py:190`); single-service mode groups by (long, short);
- the overall headline numbers are trip-count-weighted means over the
  selected routes with a ``greatest(sum,1)`` zero guard
  (`sql_utils.py:246-254,284-290`).

Serving: the live API persists ``q2_stats_partial`` once per session and
answers each request with one plan over it -- ``q2_route_stats`` for one
service, ``q2_whole_week_ranked`` for the whole week.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.params import apply_limit, apply_service_filter, sanitize_limit
from .common import trip_stats


def _speed_kmh() -> F.Column:
    dur = F.col("trip_duration_seconds")
    return F.col("trip_distance") / F.nullif(dur, F.lit(0)) * 3600


def _route_measures() -> list[Column]:
    """Q2's measures over a group of per-trip rows."""
    dur = F.col("trip_duration_seconds")
    return [
        F.count(F.lit(1)).alias("total_trips"),
        F.avg("trip_distance").alias("avg_trip_distance_km"),
        (F.avg(dur) / 60.0).alias("avg_duration_min"),
        (F.stddev_pop(dur) / 60.0).alias("duration_stddev_min"),
        F.avg(_speed_kmh()).alias("avg_speed_kmh"),
    ]


def route_trip_stats(
    stop_times: DataFrame,
    trips: DataFrame,
    service_id: object = None,
) -> DataFrame:
    return apply_service_filter(trip_stats(stop_times, trips), service_id)


def trip_stats_joined(stop_times: DataFrame, trips: DataFrame,
                      routes: DataFrame) -> DataFrame:
    """The service-UNfiltered per-trip stats frame joined to route names —
    the shared upstream of every batch Q2 variant (the live API's
    session copy is :func:`q2_stats_partial`)."""
    return trip_stats(stop_times, trips).join(
        F.broadcast(routes.select("route_id", "route_short_name",
                                  "route_long_name")),
        "route_id",
    )


def q2_stats_partial(stop_times: DataFrame, trips: DataFrame,
                     routes: DataFrame) -> DataFrame:
    """:func:`trip_stats_joined` plus ``rep_short_name`` -- the
    ``min(route_short_name)`` over the routes sharing a long name, the
    whole-week payload's route label (deterministic where the
    reference's loose MySQL ``GROUP BY`` picks any) -- in ONE partition.

    ``TransitAPI`` persists one per session (the analog of the
    reference's app-start view, `sql_utils.py:46-70`).  The frame holds
    one row per trip, and in one partition every per-request aggregate,
    window and global rank over it plans with no exchange: one Spark job
    per request.  ``repartition(1)`` rather than ``coalesce(1)``: the
    shuffle keeps the per-trip aggregation beneath it parallel."""
    rep = routes.groupBy("route_long_name").agg(
        F.min("route_short_name").alias("rep_short_name"))
    named = routes.select("route_id", "route_short_name",
                          "route_long_name").join(rep, "route_long_name",
                                                  "left")
    return trip_stats(stop_times, trips).join(
        F.broadcast(named), "route_id").repartition(1)


def q2_whole_week_ranked(stats: DataFrame, limit: object = 20) -> DataFrame:
    """Whole-week Q2 as one plan over :func:`q2_stats_partial`: one row
    per (route_long_name, service_id) of the top ``limit`` long names,
    ordered by ``rank`` then service_id.

    Each row carries the per-service aggregates (the drill-down,
    :func:`q2_per_service_breakdown`'s columns) and, in the struct
    ``route``, its long name's whole-week row (:func:`q2_route_stats`
    with ``whole_week=True``, labelled ``rep_short_name``).  The
    whole-week means are window sums of the per-service partial sums
    and counts; ``rank`` is the dense rank over (avg_duration_min desc,
    route_long_name) -- the batch ranking, so rank <= n keeps the same
    long names as its limit.  Null long names rank like any name; their
    drill-down rows are the caller's to drop (the batch breakdown's
    equi-join never matches them)."""
    dur, dist, speed = (F.col("trip_duration_seconds"),
                        F.col("trip_distance"), _speed_kmh())
    per_service = stats.groupBy("route_long_name", "service_id").agg(
        *_route_measures(),
        F.sum(dist).alias("dist_sum"), F.count(dist).alias("dist_n"),
        F.sum(dur).alias("dur_sum"),
        F.sum(speed).alias("speed_sum"), F.count(speed).alias("speed_n"),
        F.min("rep_short_name").alias("rep_short_name"),
    )
    by_name = Window.partitionBy("route_long_name")

    def total(c: str) -> Column:
        return F.sum(c).over(by_name)

    # avg = sum / count, as Spark's Average computes it; a null sum is a
    # zero count, and null / 0 is null
    trips = total("total_trips")
    weekly = per_service.select("*", F.struct(
        F.col("route_long_name"),
        F.col("rep_short_name").alias("route_short_name"),
        trips.alias("total_trips"),
        (total("dist_sum") / total("dist_n")).alias("avg_trip_distance_km"),
        (total("dur_sum") / trips / 60.0).alias("avg_duration_min"),
        (total("speed_sum") / total("speed_n")).alias("avg_speed_kmh"),
    ).alias("route"))
    ranked = weekly.withColumn("rank", F.dense_rank().over(Window.orderBy(
        F.desc("route.avg_duration_min"), F.asc("route_long_name"))))
    n = sanitize_limit(limit)
    if n is not None:
        ranked = ranked.filter(F.col("rank") <= n)
    return ranked.orderBy("rank", "service_id")


def q2_route_stats(
    stop_times: DataFrame,
    trips: DataFrame,
    routes: DataFrame,
    service_id: object = None,
    limit: object = 20,
    whole_week: bool | None = None,
    stats_joined: DataFrame | None = None,
) -> DataFrame:
    """Per-route aggregates ranked by avg duration (O3).

    ``whole_week`` defaults to True iff no service filter is active, like the
    reference's mode switch (`sql_utils.py:177-178`).  ``stats_joined``
    (if given) replaces the stop_times re-aggregation — a
    :func:`trip_stats_joined` or :func:`q2_stats_partial` frame; the
    service filter still applies on top.
    """
    if stats_joined is None:
        stats_joined = trip_stats_joined(stop_times, trips, routes)
    if whole_week is None:
        whole_week = service_id is None or str(service_id) not in ("1", "2", "3")
    joined = apply_service_filter(stats_joined, service_id)
    group_cols = (["route_long_name"] if whole_week
                  else ["route_long_name", "route_short_name"])
    agg = (
        joined.groupBy(*group_cols)
        .agg(*_route_measures())
        .orderBy(F.desc("avg_duration_min"), F.asc("route_long_name"))
    )
    return apply_limit(agg, limit)


def longest_trip_path(
    stop_times: DataFrame,
    trips: DataFrame,
    routes: DataFrame,
    stops: DataFrame,
    route_long_name: str,
    service_id: object = None,
) -> DataFrame:
    """Ordered stop path of the "longest" trip of a named route — the Q2
    visualization helper (J6 + A21 + O13, reference
    `/root/reference/SQL/Q2 average duration.sql:40-57`).

    The reference CTE groups ``trips`` rows by trip_id (count is always 1,
    its PK) and lets MySQL pick an arbitrary LIMIT-1 row; its documented
    intent is "the trip with the most stops".  We implement the intent:
    count stop events per trip, tiebreak on trip_id for determinism.

    Scale: the named-route restriction broadcasts a tiny routes subset into
    the trips scan; the top-1 winner is a one-row frame broadcast back into
    the stop_times scan — no scalar-subquery recomputation, no driver-side
    collect, and the big table is scanned with an early semi-join filter.
    """
    rids = F.broadcast(
        routes.filter(F.col("route_long_name") == route_long_name)
        .select("route_id")
    )
    cand = apply_service_filter(trips.join(rids, "route_id"), service_id)
    top1 = (
        stop_times.join(
            F.broadcast(cand.select("trip_id")), "trip_id", "left_semi"
        )
        .groupBy("trip_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("trip_id"))
        .limit(1)
    )
    return (
        stop_times.join(F.broadcast(top1.select("trip_id")), "trip_id")
        .join(stops, "stop_id")
        .select("trip_id", "stop_id", "stop_name", "stop_lat", "stop_lon",
                "stop_sequence")
        .orderBy("stop_sequence")
    )


def q2_overall(selected_routes: DataFrame) -> DataFrame:
    """Trip-count-weighted overall means over a ranked-routes frame
    (columns total_trips, avg_duration_min, avg_speed_kmh) -- A12 with the
    reference's ``or 1`` guard (`sql_utils.py:246,284`)."""
    w = F.greatest(F.sum("total_trips"), F.lit(1))
    return selected_routes.agg(
        (F.sum(F.col("avg_duration_min") * F.col("total_trips")) / w)
        .alias("avg_duration_min"),
        (F.sum(F.col("avg_speed_kmh") * F.col("total_trips")) / w)
        .alias("avg_speed_kmh"),
    )


def q2_per_service_breakdown(
    stop_times: DataFrame,
    trips: DataFrame,
    routes: DataFrame,
    top_routes: DataFrame,
) -> DataFrame:
    """Whole-week drill-down: per-service rows restricted to the ranked
    routes -- the reference's membership-set semi join J5
    (`sql_utils.py:196,231-232`)."""
    return (
        trip_stats_joined(stop_times, trips, routes)
        .join(F.broadcast(top_routes.select("route_long_name")),
              "route_long_name", "left_semi")
        .groupBy("route_long_name", "service_id")
        .agg(*_route_measures())
        .orderBy("route_long_name", "service_id")
    )


def route_duration_quantiles(
    stop_times: DataFrame,
    trips: DataFrame,
    routes: DataFrame,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-route trip-duration quantiles via ``percentile_approx`` — the
    sketch companion to q2's mean/stddev (an extension; the reference has
    no quantile query).

    The scale path: exact percentiles need a per-route SORT of every trip
    duration; the approx sketch is a bounded-size per-partition
    accumulator merged once per route — same shuffle shape as the
    existing avg/stddev aggregate.  Error is bounded by 1/``accuracy``
    in rank space.  Approximate by construction, so no value-hash oracle;
    tests bound it against exact percentiles
    (tests/test_events_approx.py)."""
    from .common import trip_stats

    per_trip = trip_stats(stop_times, trips)
    qcols = [
        F.percentile_approx("trip_duration_seconds", F.lit(p),
                            F.lit(accuracy))
        .alias(f"p{int(p * 100)}_duration_secs")
        for p in probs
    ]
    return (
        per_trip.groupBy("route_id")
        .agg(F.count(F.lit(1)).alias("n_trips"), *qcols)
        .join(F.broadcast(routes.select("route_id", "route_long_name")),
              "route_id")
        .orderBy("route_id")
    )
