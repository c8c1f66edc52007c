"""Radius search family (reference geo_manager.py:218-437) as lazy DataFrame
pipelines.

Shape of the computation (SURVEY.md §3.2): the origin is a point lookup (a
one-row DataFrame, broadcast — NOT collected to the driver, so the whole
query stays one Spark job at any scale); the search itself is a single
`filter()` scan with a cheap ellipse/bbox predicate — exactly the
reference's staged design (approximate test first, exact haversine only for
returned rows, geo_manager.py:190-199 comment).

Scale: the predicate is pure column arithmetic → whole-stage codegen, and
its bounding-box envelope is min/max-pushdown-friendly, so Parquet row-group
pruning applies when `shapes` is sorted/partitioned by a space-filling order
(see geo.ingest). No shuffle for id-results; `full_results` adds none either
(hits already carry all columns).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from yat_geo_db_spark.geo.geometry import (
    haversine_miles,
    latitude_delta_col,
    longitude_delta_col,
)
from yat_geo_db_spark.session import literal_frame

#: sentinel for missing endpoints (geo_manager.py:374-378)
MISSING_DISTANCE = 999.0

#: beyond this radius (miles) the equirectangular ellipse no longer
#: approximates the haversine disk within the kNN probe's 10% acceptance
#: margin — fall through to the exact unbounded scan instead of escalating
_FLAT_EARTH_MAX_RADIUS = 500.0


def shape_filters_predicate(filters: dict | None) -> Column:
    """Dynamic conjunctive equality filter (geo_manager.py:45-58).

    Keys are dotted paths (`ref_data.state_prov`) — native struct-field
    references in Spark, so Parquet pushdown + column pruning are free.
    """
    if not filters:
        return F.lit(True)
    return reduce(
        Column.__and__,
        [F.col(k).eqNullSafe(F.lit(v)) for k, v in filters.items()],
    )


def _ellipse_match(lat: Column, lng: Column, o_lat: Column, o_lng: Column,
                  lat_delta: Column, lng_delta: Column) -> Column:
    """Approximate within-radius test (geo_manager.py:190-199): ellipse in
    degree space — 2 multiplies per row instead of haversine trig."""
    return (
        F.pow((o_lat - lat) / lat_delta, 2) + F.pow((o_lng - lng) / lng_delta, 2)
    ) < 1


def _bbox_contains(o_lat: Column, o_lng: Column) -> Column:
    """Aggregate shapes match when the *origin point* falls inside their
    bbox (geo_manager.py:201-215 — note the reference tests point-in-bbox,
    not shape-in-radius; we preserve that). Null bbox fields (non-aggregate
    or corrupt rows) evaluate NULL → treated as no-match, mirroring the
    reference's except→False."""
    return (
        (F.col("bbox.ur_latitude") >= o_lat)
        & (o_lat >= F.col("bbox.ll_latitude"))
        & (F.col("bbox.ur_longitude") >= o_lng)
        & (o_lng >= F.col("bbox.ll_longitude"))
    )


def radius_match(o_lat: Column, o_lng: Column, lat_delta: Column,
                 lng_delta: Column, country_filter: Column | None = None) -> Column:
    """Dispatch predicate (geo_manager.py:184-188): aggregates use bbox
    containment, points use the ellipse test; optional country equality
    guard (the reference's chained `!=` at :194 reduces to plain equality).

    A NULL `country_filter` value passes through: the reference sets
    `country_filter = None` when the origin has no country
    (geo_manager.py:255-258) and then skips country filtering entirely, so
    an origin shape with NULL ref_data.country must not restrict results."""
    base = F.when(F.col("is_aggregate"), _bbox_contains(o_lat, o_lng)).otherwise(
        _ellipse_match(F.col("latitude"), F.col("longitude"), o_lat, o_lng,
                       lat_delta, lng_delta)
    )
    if country_filter is not None:
        guard = F.when(country_filter.isNull(), F.lit(True)).otherwise(
            F.col("ref_data.country") == country_filter
        )
        base = guard & base
    return base


def origin_df(shapes: DataFrame, reference_code: str) -> DataFrame:
    """One-row origin projection for a PK (geo_manager.py:265-271)."""
    return shapes.filter(F.col("reference_code") == F.lit(reference_code)).select(
        F.col("latitude").alias("o_lat"),
        F.col("longitude").alias("o_lng"),
        F.col("is_aggregate").alias("o_is_aggregate"),
        F.col("area").alias("o_area"),
        F.col("ref_data.country").alias("o_country"),
    )


def radius_search(
    shapes: DataFrame,
    reference_code: str,
    radius: float,
    country_exact: bool = False,
    full_results: bool = False,
    filters: dict | None = None,
) -> DataFrame:
    """`radius_search` (geo_manager.py:237-281): PK lookup → radius filter.

    Returns ids (default) or full shape rows with distance columns
    (`full_results=True`). Missing reference_code → empty result (the
    broadcast origin is empty ⇒ cross join yields no rows), matching the
    reference's `[]`.
    """
    origin = F.broadcast(origin_df(shapes, reference_code))
    radius_lit = F.lit(float(radius))
    lat_delta = latitude_delta_col(radius_lit)
    lng_delta = longitude_delta_col(F.col("o_lat"), radius_lit)
    country = F.col("o_country") if country_exact else None

    hits = (
        shapes.crossJoin(origin)
        .filter(radius_match(F.col("o_lat"), F.col("o_lng"), lat_delta, lng_delta, country))
        .filter(shape_filters_predicate(filters))
    )
    if not full_results:
        return hits.select("id")
    return _attach_pair_distance(hits).drop(
        "o_lat", "o_lng", "o_is_aggregate", "o_area", "o_country"
    )


def radius_search_lat_lng(
    shapes: DataFrame,
    latitude: float,
    longitude: float,
    radius: float,
    country_filter: str | None = None,
    full_results: bool = False,
    filters: dict | None = None,
    exclude_aggregates: bool = False,
) -> DataFrame:
    """`radius_search_lat_lng` / `radius_lat_lng_search`
    (geo_manager.py:283-366): literal-origin variant. With
    ``exclude_aggregates`` this is R4 (points only). ``full_results`` attaches
    raw haversine distance (normalized == raw, aggregate flag True —
    geo_manager.py:312-321)."""
    from yat_geo_db_spark.geo.geometry import (
        latitude_delta_from_miles,
        longitude_delta_from_miles,
    )

    o_lat, o_lng = F.lit(float(latitude)), F.lit(float(longitude))
    radius_lit = F.lit(float(radius))
    lat_delta = latitude_delta_col(radius_lit)
    lng_delta = longitude_delta_col(o_lat, radius_lit)
    country = F.lit(country_filter) if country_filter is not None else None

    # Redundant LITERAL envelope implied by the ellipse ((Δlat/latΔ)² ≤ sum
    # < 1 ⇒ |Δlat| < latΔ): the ellipse itself is arithmetic Parquet can't
    # push, but these plain range comparisons reach the scan as
    # PushedFilters and prune row groups on a lat-sorted layout. Aggregates
    # pass through (their branch is bbox containment, and a big shape's
    # centroid may sit outside the point envelope); the exact predicate
    # still decides membership — results are unchanged.
    lat_d = latitude_delta_from_miles(float(radius))
    lng_d = longitude_delta_from_miles(float(latitude), float(radius))
    envelope = F.col("is_aggregate") | (
        (F.col("latitude") >= F.lit(float(latitude) - lat_d))
        & (F.col("latitude") <= F.lit(float(latitude) + lat_d))
        & (F.col("longitude") >= F.lit(float(longitude) - lng_d))
        & (F.col("longitude") <= F.lit(float(longitude) + lng_d))
    )

    hits = shapes.filter(envelope).filter(
        radius_match(o_lat, o_lng, lat_delta, lng_delta, country)
    ).filter(shape_filters_predicate(filters))
    if exclude_aggregates:
        hits = hits.filter(~F.col("is_aggregate"))
    if not full_results:
        return hits.select("id")
    dist = F.round(
        haversine_miles(o_lat, o_lng, F.col("latitude"), F.col("longitude")), 4
    )
    return hits.withColumns(
        {
            "distance": dist,
            "normalized_distance": dist,
            "distance_aggregate": F.lit(True),
        }
    )


def viewport_search(
    shapes: DataFrame,
    ll_lat: float,
    ll_lng: float,
    ur_lat: float,
    ur_lng: float,
    filters: dict | None = None,
) -> DataFrame:
    """Shapes whose point falls inside a lat/lng viewport (map-window
    query — the R7 bbox predicate with the roles reversed: literal box,
    data points). Pure range predicates → parquet min/max row-group
    pruning on a lat-sorted layout; no shuffle."""
    inside = (
        (F.col("latitude") >= F.lit(ll_lat))
        & (F.col("latitude") <= F.lit(ur_lat))
        & (F.col("longitude") >= F.lit(ll_lng))
        & (F.col("longitude") <= F.lit(ur_lng))
    )
    return (
        shapes.filter(inside)
        .filter(shape_filters_predicate(filters))
        .select("id", "reference_code", "value", "geo_type")
    )


def knn_search(
    shapes: DataFrame,
    latitude: float,
    longitude: float,
    k: int = 10,
    filters: dict | None = None,
    exclude_aggregates: bool = True,
    prefilter_radius: float | None = 250.0,
    max_expansions: int = 2,
) -> DataFrame:
    """k-nearest shapes to a literal point by haversine distance — the
    top-k generalization of radius search (no reference analog; same
    metric-space shape as the vector top-k in pipelines.similarity).

    Physical form: the ellipse pre-filter (R6, geo_manager.py:190-199
    semantics) bounds the scan to a disk of `prefilter_radius` miles, then
    one filtered scan + `TakeOrderedAndProject` — per-partition top-k and a
    k-row merge, NO global sort. The pre-filter's range predicates prune
    parquet row groups on a lat-sorted layout, so at planet scale the trig
    runs over the neighborhood, not the planet.

    Exactness: the ellipse approximates the disk of radius r in local
    degree metric, so the pre-filtered top-k equals the global top-k when
    the k-th distance lands safely inside (≤ 0.9·r, absorbing the
    flat-vs-sphere error). That is validated with a k-row probe; on a miss
    the radius escalates ×4 up to `max_expansions` times, then falls back
    to the unbounded scan. The equirectangular ellipse only approximates
    the haversine disk to within the 10% margin at local scale, so
    escalated radii beyond ``_FLAT_EARTH_MAX_RADIUS`` miles skip straight
    to the exact unbounded scan rather than trust the probe's acceptance
    test. `prefilter_radius=None` disables the bound.

    NOTE this function probes EAGERLY: the ≤ k-row validation probe runs
    Spark jobs at call time (unlike the rest of this module's lazy
    DataFrame builders), and the accepted result is returned as a
    `session.literal_frame` of the probe's rows — the winning scan executes
    once, not again at caller materialization, and reading the result
    starts no Python worker."""
    o_lat, o_lng = F.lit(float(latitude)), F.lit(float(longitude))
    dist = F.round(
        haversine_miles(o_lat, o_lng, F.col("latitude"), F.col("longitude")), 4
    )
    hits = shapes.filter(shape_filters_predicate(filters))
    if exclude_aggregates:
        hits = hits.filter(~F.col("is_aggregate"))

    def _topk(df: DataFrame) -> DataFrame:
        return (
            df.select("id", "reference_code", "value", dist.alias("distance"))
            .orderBy(F.asc("distance"), F.asc("id"))
            .limit(k)
        )

    if prefilter_radius is not None:
        spark = shapes.sparkSession
        r = float(prefilter_radius)
        for _ in range(max_expansions + 1):
            if r > _FLAT_EARTH_MAX_RADIUS:
                break  # flat-earth error exceeds the 0.9 acceptance margin
            radius_lit = F.lit(r)
            pre = hits.filter(
                _ellipse_match(
                    F.col("latitude"), F.col("longitude"), o_lat, o_lng,
                    latitude_delta_col(radius_lit),
                    longitude_delta_col(o_lat, radius_lit),
                )
            )
            shaped = _topk(pre)
            probe = shaped.collect()  # ≤ k rows to the driver
            if len(probe) == k and probe[-1]["distance"] <= 0.9 * r:
                # the probe already holds the exact answer — return its rows
                # instead of a plan that would re-run the scan when the
                # caller materializes
                return literal_frame(spark, probe, shaped.schema)
            r *= 4.0
    return _topk(hits)


def _normalized_distance(dist: Column) -> Column:
    """The reference's normalization ladder (geo_manager.py:386-426).

    Divergence note (documented, SURVEY.md §7): the reference checks
    `orig.is_aggregate` before `dest`, so its final "both aggregates" branch
    (with the `mean(a, b)` arity bug at :424) is unreachable; we implement
    the reachable semantics — origin's area wins, else destination's.
    """
    return (
        F.when(~F.col("o_is_aggregate") & ~F.col("is_aggregate"), dist)
        .when(F.col("o_is_aggregate"),
              F.when(F.col("o_area") < 10, dist)
              .otherwise(dist / F.log(F.greatest(F.col("o_area"), F.lit(1.0)))))
        .otherwise(
            F.when(F.col("area") < 10, dist)
            .otherwise(dist / F.log(F.greatest(F.col("area"), F.lit(1.0)))))
    )


def _attach_pair_distance(hits: DataFrame) -> DataFrame:
    dist = F.round(
        haversine_miles(F.col("o_lat"), F.col("o_lng"),
                        F.col("latitude"), F.col("longitude")), 4
    )
    return hits.withColumns(
        {
            "distance": dist,
            "normalized_distance": _normalized_distance(dist),
            "distance_aggregate": F.col("o_is_aggregate") | F.col("is_aggregate"),
        }
    )


def pair_distances(shapes: DataFrame, pairs: DataFrame,
                   orig_col: str = "orig_ref", dest_col: str = "dest_ref") -> DataFrame:
    """`get_shape_pair_distance` (geo_manager.py:368-426) generalized to a
    relation of (orig_ref, dest_ref) pairs — the scalable form: two hash
    joins against `shapes` (broadcast when `pairs` or the key side is small),
    then pure column math. Missing endpoints get the 999 sentinel
    (geo_manager.py:374-378) — plus an explicit `found` boolean so callers
    can distinguish a missing endpoint from a real pair whose rounded
    distance happens to equal 999.0 miles (the sentinel is kept for
    reference parity, but it is not the discriminator)."""
    orig = shapes.select(
        F.col("reference_code").alias(orig_col),
        F.col("latitude").alias("o_lat"),
        F.col("longitude").alias("o_lng"),
        F.col("is_aggregate").alias("o_is_aggregate"),
        F.col("area").alias("o_area"),
    )
    dest = shapes.select(
        F.col("reference_code").alias(dest_col),
        F.col("latitude").alias("latitude"),
        F.col("longitude").alias("longitude"),
        F.col("is_aggregate").alias("is_aggregate"),
        F.col("area").alias("area"),
    )
    joined = (
        pairs.join(orig, on=orig_col, how="left")
        .join(dest, on=dest_col, how="left")
    )
    found = F.col("o_lat").isNotNull() & F.col("latitude").isNotNull()
    dist = F.round(
        haversine_miles(F.col("o_lat"), F.col("o_lng"),
                        F.col("latitude"), F.col("longitude")), 4
    )
    return joined.select(
        orig_col,
        dest_col,
        F.when(found, dist).otherwise(F.lit(MISSING_DISTANCE)).alias("distance"),
        F.when(found, _normalized_distance(dist))
        .otherwise(F.lit(MISSING_DISTANCE))
        .alias("normalized_distance"),
        F.when(found, F.col("o_is_aggregate") | F.col("is_aggregate"))
        .otherwise(F.lit(False))
        .alias("distance_aggregate"),
        found.alias("found"),
    )


def radius_join(
    shapes: DataFrame,
    origins: DataFrame,
    radius: float,
    origin_id_col: str = "origin_id",
    lat_col: str = "latitude",
    lng_col: str = "longitude",
    filters: dict | None = None,
) -> DataFrame:
    """Batch radius search — the spatial theta-join: every (origin, shape)
    pair whose shape matches the reference's radius predicate around that
    origin (R5 dispatch: ellipse for points, origin-in-bbox for
    aggregates). One corpus scan amortized over the whole origin table,
    where per-origin radius_search calls would each re-scan.

    Scale shape: `origins` is broadcast (a query batch, small by
    definition), the predicate evaluates inside the join condition of a
    BroadcastNestedLoopJoin — shapes stream through once, nothing
    shuffles. The per-origin longitude delta is a Column over the origin's
    latitude, so each origin gets its own correctly-scaled ellipse.

    Returns (origin_id, id, reference_code, distance) with exact
    haversine distance attached post-predicate (rounded at 4 like R1)."""
    from yat_geo_db_spark.geo.geometry import haversine_miles

    radius_lit = F.lit(float(radius))
    o = F.broadcast(
        origins.select(
            F.col(origin_id_col),
            F.col(lat_col).alias("o_lat"),
            F.col(lng_col).alias("o_lng"),
        )
    )
    lat_delta = latitude_delta_col(radius_lit)
    lng_delta = longitude_delta_col(F.col("o_lat"), radius_lit)
    pred = radius_match(F.col("o_lat"), F.col("o_lng"), lat_delta, lng_delta)
    hits = (
        shapes.filter(shape_filters_predicate(filters))
        .crossJoin(o)
        .filter(pred)
    )
    dist = F.round(
        haversine_miles(
            F.col("o_lat"), F.col("o_lng"), F.col("latitude"), F.col("longitude")
        ),
        4,
    )
    return hits.select(
        origin_id_col, "id", "reference_code", dist.alias("distance")
    )


def nearest_facility(
    points: DataFrame,
    facilities: DataFrame,
    point_id: str = "id",
    facility_id: str = "id",
) -> DataFrame:
    """Assign every point to its nearest facility (the Voronoi /
    service-territory partition): broadcast the facility table, score
    every (point, facility) haversine pair inside a BNLJ — points
    stream once, nothing shuffles — and keep the per-point argmin via
    ONE min(struct(distance, facility)) aggregate, ties to the lower
    facility id. Facility tables are small by nature (stores, DCs,
    metros)."""
    from yat_geo_db_spark.geo.geometry import haversine_miles

    p = points.select(
        F.col(point_id).alias("point_id"),
        F.col("latitude").alias("_plat"),
        F.col("longitude").alias("_plng"),
    ).where(F.col("_plat").isNotNull() & F.col("_plng").isNotNull())
    f = facilities.select(
        F.col(facility_id).alias("facility_id"),
        F.col("latitude").alias("_flat"),
        F.col("longitude").alias("_flng"),
    ).where(F.col("_flat").isNotNull() & F.col("_flng").isNotNull())
    scored = p.crossJoin(F.broadcast(f)).select(
        "point_id",
        "facility_id",
        F.round(
            haversine_miles(
                F.col("_plat"), F.col("_plng"),
                F.col("_flat"), F.col("_flng"),
            ),
            4,
        ).alias("distance"),
    )
    best = scored.groupBy("point_id").agg(
        F.min(
            F.struct(
                F.col("distance").alias("distance"),
                F.col("facility_id").alias("facility_id"),
            )
        ).alias("_m")
    )
    return best.select(
        "point_id",
        F.col("_m.facility_id").alias("facility_id"),
        F.col("_m.distance").alias("distance"),
    )
