"""Q1 -- busiest stops (reference `/root/reference/SQL/sql_utils.py:73-105`,
static SQL `SQL/Q1_busiest_stop.sql`).

Pipeline: stop_times |><| trips (trip_id) |><| stops (stop_id)
          -> optional service filter -> groupBy stop attrs
          -> COUNT(*) total_trip_events, COUNT(DISTINCT route_id)
          -> ORDER BY total_trip_events DESC LIMIT n.

Scale notes: stop_times is the fact table; trips and stops are dimensions
and are broadcast so the only shuffle is the final aggregation on stop_id.
COUNT(DISTINCT) is exact (golden-matched output -- SURVEY.md A2 forbids
approx_count_distinct).  Ordering adds a stop_id tiebreak so top-k is
deterministic across engines (MySQL's was arbitrary under ties).

Serving: ``q1_busiest_stops`` is the batch operator (the DuckDB-oracle
query).  The live API answers from ``stop_route_counts`` -- a
service-unfiltered partial aggregate it persists once per session and
shares with Q3 -- through ``q1_from_counts``, one Spark job per ranked
request.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.hints import broadcast_if_small
from ..operators.params import apply_limit, apply_service_filter

STOP_ATTRS = ("stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon")


def q1_busiest_stops(
    stop_times: DataFrame,
    trips: DataFrame,
    stops: DataFrame,
    service_id: object = None,
    limit: object = 20,
) -> DataFrame:
    t = apply_service_filter(
        trips.select("trip_id", "route_id", "service_id"), service_id
    )
    # Aggregate on stop_id ALONE, then attach the stop attributes to the
    # aggregated rows (opt guide §2.3 "project before the exchange" /
    # §1.2 step 1): stop_code/name/lat/lon are functionally dependent on
    # stop_id (GTFS stops.txt primary key), so grouping by the narrow
    # key computes the same groups while the aggregation exchanges one
    # string key instead of five mixed-type columns, and the dimension
    # join runs over |stops| aggregated rows instead of every fact row.
    # The inner join still drops stop_ids absent from stops — after the
    # aggregation instead of before, same surviving set.
    #
    # size(collect_set(route_id)) instead of countDistinct (r15, opt
    # guide §2.4): the exact-distinct plan ran TWO exchanges — a
    # (stop_id, route_id) dedup shuffle feeding a stop_id count shuffle;
    # the collect_set aggregation dedups map-side into per-stop partial
    # sets (bounded by routes-serving-the-stop, the same rows the dedup
    # exchange shuffled) and shares the ONE stop_id exchange with the
    # event count.  Interleaved sf1 A/B, 7 paired rounds: collect_set
    # won or tied every round (settled meds ~3.4 s both, first rounds
    # 6.2 vs 7.8 s).  Equivalent: both ignore NULLs and count each
    # (stop, route) pair once.  (The same rewrite measured a LOSS on
    # q4's hourly_frequency, where the pre-join distinct collapses the
    # fact table — kept there.)
    agg = (
        stop_times.select("trip_id", "stop_id")
        .join(broadcast_if_small(t), "trip_id")
        .groupBy("stop_id")
        .agg(
            F.count(F.lit(1)).alias("total_trip_events"),
            F.size(F.collect_set("route_id")).cast("long")
            .alias("num_unique_routes"),
        )
        .join(F.broadcast(stops.select(*STOP_ATTRS)), "stop_id")
        .select(*STOP_ATTRS, "total_trip_events", "num_unique_routes")
        .orderBy(F.desc("total_trip_events"), F.asc("stop_id"))
    )
    return apply_limit(agg, limit)


def stop_route_counts(
    stop_times: DataFrame,
    trips: DataFrame,
    stops: DataFrame,
) -> DataFrame:
    """Stop events per (stop_id, route_id, service_id) as ``n``, with the
    stop attributes attached: the partial aggregate the live Q1 and Q3
    endpoints share (the reference builds its analytics view once at app
    start, `SQL/app.py:73`).  Any service filter is a filter on these
    rows, and the whole week is their sum, so one copy serves every
    mode.

    Hash-partitioned by stop_id: a per-request ``groupBy(stop_id,
    attrs...)`` over it, its distinct route count included, then plans
    with no exchange, and ``orderBy`` + ``limit`` runs as
    TakeOrderedAndProject -- one Spark job per request.  The inner stops
    join drops stop_ids absent from stops, as the batch operators do."""
    return (
        stop_times.select("trip_id", "stop_id")
        .join(broadcast_if_small(
            trips.select("trip_id", "route_id", "service_id")), "trip_id")
        .groupBy("stop_id", "route_id", "service_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(stops.select(*STOP_ATTRS)), "stop_id")
        .repartition("stop_id")
    )


def q1_from_counts(
    counts: DataFrame,
    service_id: object = None,
    limit: object = 20,
) -> DataFrame:
    """Q1 over :func:`stop_route_counts`: the same rows and order as
    :func:`q1_busiest_stops` (summed events, distinct routes)."""
    agg = (
        apply_service_filter(counts, service_id)
        .groupBy(*STOP_ATTRS)
        .agg(
            F.sum("n").alias("total_trip_events"),
            F.countDistinct("route_id").alias("num_unique_routes"),
        )
        .orderBy(F.desc("total_trip_events"), F.asc("stop_id"))
    )
    return apply_limit(agg, limit)


def q1_busiest_stops_approx(
    stop_times: DataFrame,
    trips: DataFrame,
    stops: DataFrame,
    service_id: object = None,
    limit: object = 20,
    rsd: float = 0.02,
) -> DataFrame:
    """Q1's scale variant: ``approx_count_distinct`` (HLL++) for the
    per-stop route count.

    Exact COUNT(DISTINCT route_id) expands each group into its distinct
    route set before counting — a second shuffle keyed on (stop, route).
    The sketch keeps the plan at ONE aggregation pass with a fixed-size
    accumulator per stop, which is the shape to run when stops number in
    the millions and golden-exact route counts don't matter (dashboards,
    monitoring).  total_trip_events (the ranking key) stays exact, so
    the top-k ordering matches the exact variant wherever event counts
    differ — only the route-count column is approximate (bounded by
    ``rsd``; tests/test_events_approx.py).
    """
    t = apply_service_filter(
        trips.select("trip_id", "route_id", "service_id"), service_id
    )
    agg = (
        stop_times.select("trip_id", "stop_id")
        .join(broadcast_if_small(t), "trip_id")
        .join(F.broadcast(stops.select(*STOP_ATTRS)), "stop_id")
        .groupBy(*STOP_ATTRS)
        .agg(
            F.count(F.lit(1)).alias("total_trip_events"),
            F.approx_count_distinct("route_id", rsd)
            .alias("num_unique_routes_approx"),
        )
        .orderBy(F.desc("total_trip_events"), F.asc("stop_id"))
    )
    return apply_limit(agg, limit)
