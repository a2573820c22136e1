"""Grid-bucketed geospatial operators over ``stops`` (extension surface).

The reference stores ``stop_lat``/``stop_lon`` (`/root/reference/SQL/transit
schema.sql:71-72`) and renders them on a Leaflet map, but never runs a
spatial *query* — SURVEY.md marks S11 (geo index) n/a.  These operators add
the two spatial shapes a transit platform actually needs, built the way a
distributed engine does spatial joins at scale: **uniform grid binning +
equi-join on cell id**, never a distance cross join.

Distance metric — deliberately transcendental-free
--------------------------------------------------
True haversine needs sin/cos, and libm transcendentals are NOT guaranteed
bit-identical across engines (the differential oracle hash-compares
values).  At city scale (< a few km) the flat-earth equirectangular
approximation is accurate to well under 1 %%: we measure squared distance
in *latitude-equivalent degrees*

    dist2_deg = (lat1-lat2)^2 + ((lon1-lon2) * LON_SCALE)^2

with ``LON_SCALE`` a fixed literal (cos of the service area's center
latitude, precomputed) so both Spark and DuckDB evaluate the identical
IEEE multiply/add sequence.  Callers wanting meters multiply by
(111_320 m/deg)^2 outside the engine.

Scale design
------------
- ``stop_pairs_within`` (self-join): each point gets a home cell
  ``(floor(lat/eps), floor(scaled_lon/eps))``; the LEFT side is exploded
  into its 3x3 cell neighborhood and equi-joined against RIGHT home
  cells.  Every candidate pair is generated exactly once (a right row's
  home cell is unique), so no distinct is needed; the ``a < b`` guard
  both halves the output and drops self-pairs.  Cost is
  9·|points| join rows against a cell-partitioned table — shuffle on the
  cell key, no BroadcastNestedLoop/Cartesian anywhere (plan-asserted in
  tests/test_geo.py).  Dense-city cell skew is bounded by cell area, and
  AQE skew-join splits a pathological cell.
- ``stops_nearby`` (point query): the candidate cell ids are computed
  driver-side (a constant 3x3 list) and pushed into the scan as an IN
  filter on integer columns — partition-prunable if the table is written
  bucketed/partitioned by cell, and never touches the full table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# cos(43.5 deg) for the GTA-ish service area of the synthetic stops
# (lat 43..44).  A literal, not a computed cos — see module docstring.
LON_SCALE = 0.725

# default cell/radius width in latitude-degrees (~2.2 km)
DEFAULT_EPS = 0.02

_NEIGHBOR_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def _cells(df: DataFrame, eps: float,
           extra: tuple[str, ...] = ()) -> DataFrame:
    """Home-cell assignment: floor-divide the (scaled) coordinates by the
    cell width.  Pure arithmetic => bit-identical across engines."""
    return df.select(
        "stop_id", *extra, "stop_lat", "stop_lon",
        F.floor(F.col("stop_lat") / F.lit(eps)).alias("cx"),
        F.floor(F.col("stop_lon") * F.lit(LON_SCALE) / F.lit(eps))
        .alias("cy"),
    )


def _dist2(lat_a, lon_a, lat_b, lon_b):
    dlat = lat_a - lat_b
    dlon = (lon_a - lon_b) * F.lit(LON_SCALE)
    return dlat * dlat + dlon * dlon


def stop_pairs_within(stops: DataFrame,
                      eps: float = DEFAULT_EPS) -> DataFrame:
    """All unordered stop pairs within ``eps`` latitude-equivalent degrees
    — the grid-blocked spatial self-join (e.g. transfer-walk candidates).

    Returns (stop_id_a, stop_id_b, dist2_deg) with a < b numerically.
    """
    if eps <= 0:
        raise ValueError(f"eps must be positive, got {eps!r}")
    pts = _cells(stops, eps)
    left = pts.select(
        F.col("stop_id").alias("id_a"),
        F.col("stop_lat").alias("lat_a"),
        F.col("stop_lon").alias("lon_a"),
        F.explode(
            F.array(*[
                F.struct((F.col("cx") + F.lit(dx)).alias("cx"),
                         (F.col("cy") + F.lit(dy)).alias("cy"))
                for dx, dy in _NEIGHBOR_OFFSETS
            ])
        ).alias("cell"),
    ).select("id_a", "lat_a", "lon_a", "cell.cx", "cell.cy")
    right = pts.select(
        F.col("stop_id").alias("id_b"),
        F.col("stop_lat").alias("lat_b"),
        F.col("stop_lon").alias("lon_b"),
        "cx", "cy",
    )
    d2 = _dist2(F.col("lat_a"), F.col("lon_a"),
                F.col("lat_b"), F.col("lon_b"))
    return (
        left.join(right, ["cx", "cy"])
        .filter(F.col("id_a").cast("long") < F.col("id_b").cast("long"))
        .filter(d2 <= F.lit(eps) * F.lit(eps))
        .select(
            F.col("id_a").alias("stop_id_a"),
            F.col("id_b").alias("stop_id_b"),
            d2.alias("dist2_deg"),
        )
    )


def transfer_walk_candidates(stops: DataFrame, stop_times: DataFrame,
                             trips: DataFrame,
                             eps: float = DEFAULT_EPS) -> DataFrame:
    """Connectivity grade for every stop pair within ``eps``: how many
    routes serve BOTH stops.  ``n_shared_routes = 0`` marks a
    walkable-transfer candidate — a short walk bridging two otherwise
    unconnected lines (the geo complement of Q3's same-stop transfer
    points); higher counts grade the pair as already-connected.

    The full graded table (not just the zero rows) is returned
    deliberately: on a dense network most close pairs share a route, and
    a consumer tuning walk radius / connectivity thresholds needs the
    distribution, not a possibly-empty remainder.

    Composition: the grid-blocked ``stop_pairs_within`` self-join, then
    a distinct (stop, route) double hash-join counting route matches per
    pair, landed back on the pair table with a left join (count 0 where
    no match).  Cost is bounded by |close pairs| x routes-per-stop,
    never |stops|^2.

    The close-pair table feeds BOTH the shared-route probe and the final
    left join; Catalyst does not share subtrees across joins, so it is
    persisted here (one grid join, two consumers) — the same
    shared-intermediate pattern as curation.training_chunks.  It is
    |close pairs|-sized (already radius-filtered), not corpus-sized.
    """
    pairs = stop_pairs_within(stops, eps).persist()
    stop_routes = (
        stop_times.join(trips.select("trip_id", "route_id"), "trip_id")
        .select("stop_id", "route_id")
        .distinct()
    )
    ra = stop_routes.select(F.col("stop_id").alias("stop_id_a"),
                            F.col("route_id").alias("route_a"))
    rb = stop_routes.select(F.col("stop_id").alias("stop_id_b"),
                            F.col("route_id").alias("route_b"))
    j1 = pairs.join(ra, "stop_id_a")
    shared = (
        j1.join(rb, (j1["stop_id_b"] == rb["stop_id_b"])
                & (j1["route_a"] == rb["route_b"]))
        .groupBy(j1["stop_id_a"], j1["stop_id_b"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_routes"))
    )
    return (
        pairs.join(shared, ["stop_id_a", "stop_id_b"], "left")
        .select(
            "stop_id_a", "stop_id_b", "dist2_deg",
            F.coalesce(F.col("n_shared_routes"), F.lit(0).cast("long"))
            .alias("n_shared_routes"),
            (F.coalesce(F.col("n_shared_routes"), F.lit(0)) == 0)
            .alias("is_walk_candidate"),
        )
    )


def stops_nearby(stops: DataFrame, lat: float, lon: float,
                 radius: float = DEFAULT_EPS,
                 limit: int | None = None,
                 extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Stops within ``radius`` latitude-equivalent degrees of a point,
    nearest first — the map-tap lookup behind a "stops near me" endpoint.

    The 3x3 candidate cell list is computed HERE (driver-side constants)
    and applied as an IN filter on the integer cell columns, so a
    cell-partitioned layout prunes to 9 partitions before any distance
    math runs.
    """
    if radius <= 0:
        raise ValueError(f"radius must be positive, got {radius!r}")
    import math

    cx0 = math.floor(lat / radius)
    cy0 = math.floor(lon * LON_SCALE / radius)
    cand = [(cx0 + dx, cy0 + dy) for dx, dy in _NEIGHBOR_OFFSETS]
    pts = _cells(stops, radius, extra_cols)
    d2 = _dist2(F.lit(lat), F.lit(lon),
                F.col("stop_lat"), F.col("stop_lon"))
    in_cells = None
    for x, y in cand:
        hit = (F.col("cx") == F.lit(x)) & (F.col("cy") == F.lit(y))
        in_cells = hit if in_cells is None else (in_cells | hit)
    out = (
        pts.filter(in_cells)
        .filter(d2 <= F.lit(radius) * F.lit(radius))
        .select("stop_id", *extra_cols, "stop_lat", "stop_lon",
                d2.alias("dist2_deg"))
        .orderBy(F.asc("dist2_deg"), F.asc("stop_id"))
    )
    return out.limit(limit) if limit is not None else out


def write_stops_cell_layout(stops: DataFrame, path: str,
                            eps: float = DEFAULT_EPS) -> None:
    """Persist stops hive-partitioned by grid cell — the serving layout
    ``stops_nearby`` was designed against (its docstring promises the
    integer-cell filter is "partition-prunable under a cell-partitioned
    layout"; this is the writer that makes that true — the geo twin of
    the IVF index kinds' cluster-partitioned codes, pipeline/similarity.py).

    Layout: ``cx=NN/cy=MM/`` directories keyed by the same floor-divide
    cell ids the query side computes, plus a one-row ``_meta`` table
    (cell width + lon scale) so readers reconstruct the exact geometry
    instead of trusting a caller-supplied eps.  At scale a nearby
    lookup then reads a handful of directories, not the stop table.
    """
    if eps <= 0:
        raise ValueError(f"eps must be positive, got {eps!r}")
    out = (
        stops
        .withColumn("cx", F.floor(F.col("stop_lat") / F.lit(eps)))
        .withColumn(
            "cy",
            F.floor(F.col("stop_lon") * F.lit(LON_SCALE) / F.lit(eps)))
    )
    (
        out.repartition("cx", "cy")
        .write.mode("overwrite").partitionBy("cx", "cy").parquet(path)
    )
    spark = stops.sparkSession
    (
        spark.createDataFrame([(float(eps), float(LON_SCALE))],
                              "eps double, lon_scale double")
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/_meta")
    )


def stops_nearby_indexed(spark, path: str, lat: float, lon: float,
                         radius: float = DEFAULT_EPS,
                         limit: int | None = None) -> DataFrame:
    """``stops_nearby`` over a ``write_stops_cell_layout`` directory:
    the candidate cell RANGE covering the query disk is computed
    driver-side in the LAYOUT's cell width (read from ``_meta``) and
    pushed as IN filters on the partition columns — PartitionFilters
    prune to the covering rectangle before any distance math runs
    (plan-asserted in tests/test_geo.py).  Any query radius works
    against any layout width: a radius of r covers ceil(2r/eps)+1 cells
    per axis.  Returns the same rows, columns, and order as the
    in-memory ``stops_nearby`` at equal parameters."""
    if radius <= 0:
        raise ValueError(f"radius must be positive, got {radius!r}")
    import math

    meta = spark.read.parquet(f"{path}/_meta").collect()[0]
    eps = meta["eps"]
    slon = lon * LON_SCALE
    cxs = list(range(math.floor((lat - radius) / eps),
                     math.floor((lat + radius) / eps) + 1))
    cys = list(range(math.floor((slon - radius) / eps),
                     math.floor((slon + radius) / eps) + 1))
    d2 = _dist2(F.lit(lat), F.lit(lon),
                F.col("stop_lat"), F.col("stop_lon"))
    out = (
        spark.read.parquet(path)
        .filter(F.col("cx").isin(cxs) & F.col("cy").isin(cys))
        .filter(d2 <= F.lit(radius) * F.lit(radius))
        .select("stop_id", "stop_lat", "stop_lon", d2.alias("dist2_deg"))
        .orderBy(F.asc("dist2_deg"), F.asc("stop_id"))
    )
    return out.limit(limit) if limit is not None else out
