"""Geo operator registry — every geo family from SURVEY.md §2.2–2.5 as a
named `(spark_fn, oracle_sql)` pair.

The `shapes` input is the deterministic fixture (geo.fixture.SHAPES_CTE)
derived from `customer`, so both engines read identical data at any scale
factor. Spark-side wrappers round score/distance outputs exactly like the
oracle SQL so the driver's value hash matches (SURVEY.md §7 float note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T

from yat_geo_db_spark.geo import fuzzy, lookup, radius
from yat_geo_db_spark.geo.fixture import SHAPES_CTE, shapes_df
from yat_geo_db_spark.queries import ducksql
from yat_geo_db_spark.session import literal_frame
from yat_geo_db_spark.testdata import register_views

#: fixed query points — ids that exist at every scale factor (c_custkey ≥ 1)
REF_NASHUA_1 = "us__tn__nashua_1"      # id=1: gm=1 ci=1 si=0
REF_METRO_2 = "us__tn__ashland_2"      # id=2: gm=2 (MetroArea, aggregate)
QUERY_CITY = "Nashville, TN"
QUERY_ZIP = "17919"                     # numeric → zip-mode scoring (id=1's zip)
ORIGIN_LAT, ORIGIN_LNG = 29.139, -121.949


#: shapes fixture cache — the CTE over `customer` is identical for every geo
#: query at a given (session, sf_dir); deriving + caching it once removes the
#: dominant per-query fixed cost in the driver's 95-query correctness pass.
_SHAPES_CACHE: dict = {}


def _shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark, sf_dir)
    cached = _SHAPES_CACHE.get(key)
    if cached is not None:
        return cached
    register_views(spark, sf_dir, tables=("customer",))
    df = shapes_df(spark).cache()
    _SHAPES_CACHE[key] = df
    return df


def _fuzzy_out(df: DataFrame, search_entity: str) -> DataFrame:
    """Round scores like the oracle, collect the top-k and add the
    `distance` payload in the driver (long, for dtype parity); the
    collected rows come back, in their ranked order, as a DataFrame that
    starts no Python worker."""
    out = df.select(
        "id", "value", "clean_value",
        F.round("ngram_similarity", 6).alias("ngram_similarity"),
        F.round("score", 6).alias("score"),
    )
    schema = T.StructType(out.schema.fields + [T.StructField("distance", T.LongType())])
    rows = [
        (*r, fuzzy.result_distance(search_entity, r["clean_value"]))
        for r in out.collect()
    ]
    return literal_frame(df.sparkSession, rows, schema)


def _radius_full_out(df: DataFrame) -> DataFrame:
    return df.select(
        "id",
        "reference_code",
        "value",
        "geo_type",
        "distance",
        F.round("normalized_distance", 6).alias("normalized_distance"),
        "distance_aggregate",
    )


# --------------------------------------------------------------------------
# Spark-side callables (driver signature: (spark, sf_dir) -> DataFrame)
# --------------------------------------------------------------------------

def q_fuzzy_city(spark, sf_dir):
    """F12 flagship: trigram probe → candidate cap → score → dedupe → top-k."""
    return _fuzzy_out(
        fuzzy.fuzzy_search(_shapes(spark, sf_dir), QUERY_CITY, 10), QUERY_CITY
    )


def q_fuzzy_filtered(spark, sf_dir):
    """F12 + P12 dotted-path filters (post-cap, like the reference)."""
    return _fuzzy_out(
        fuzzy.fuzzy_search(
            _shapes(spark, sf_dir),
            QUERY_CITY,
            10,
            filters={"ref_data.state_prov": "TN", "geo_type": "City"},
        ),
        QUERY_CITY,
    )


def q_fuzzy_partitioned(spark, sf_dir):
    """F14: partition-scoped search — the index is restricted to one
    partition BEFORE candidate generation (partition-local counts and cap),
    unlike geo_fuzzy_filtered whose filters apply after the cap."""
    return _fuzzy_out(
        fuzzy.fuzzy_search(
            _shapes(spark, sf_dir),
            QUERY_CITY,
            10,
            partition=("ref_data.state_prov", "TN"),
        ),
        QUERY_CITY,
    )


def q_fuzzy_zip(spark, sf_dir):
    """F9 numeric branch: zip-mode scores against the first space-token."""
    return _fuzzy_out(
        fuzzy.fuzzy_search(_shapes(spark, sf_dir), QUERY_ZIP, 10), QUERY_ZIP
    )


def q_best_fuzzy(spark, sf_dir):
    """F13: top-1 with a 0.90 score threshold."""
    return _fuzzy_out(
        fuzzy.best_fuzzy_search(_shapes(spark, sf_dir), QUERY_CITY, 0.90),
        QUERY_CITY,
    )


def q_radius_ids(spark, sf_dir):
    """R1-R7: PK origin → ellipse/bbox predicate scan → ids."""
    return radius.radius_search(_shapes(spark, sf_dir), REF_NASHUA_1, 50.0)


def q_radius_full(spark, sf_dir):
    """R2 full_results + country_exact: hits enriched with distances."""
    return _radius_full_out(
        radius.radius_search(
            _shapes(spark, sf_dir), REF_NASHUA_1, 50.0,
            country_exact=True, full_results=True,
        )
    )


def q_radius_latlng(spark, sf_dir):
    """R4: literal origin, aggregates excluded, dotted-path filter."""
    return radius.radius_search_lat_lng(
        _shapes(spark, sf_dir), ORIGIN_LAT, ORIGIN_LNG, 75.0,
        filters={"ref_data.state_prov": "TN"}, exclude_aggregates=True,
    )


def q_knn(spark, sf_dir):
    """kNN: 10 nearest point shapes to a literal origin (top-k haversine —
    TakeOrderedAndProject, no global sort)."""
    return radius.knn_search(_shapes(spark, sf_dir), ORIGIN_LAT, ORIGIN_LNG, k=10)


def _knn_oracle() -> str:
    from yat_geo_db_spark.geo.geometry import haversine_sql

    dist = (
        "round("
        + haversine_sql(str(ORIGIN_LAT), str(ORIGIN_LNG), "latitude", "longitude")
        + ", 4)"
    )
    return (
        f"WITH {SHAPES_CTE} "
        f"SELECT id, reference_code, value, {dist} AS distance "
        f"FROM shapes WHERE NOT is_aggregate "
        f"ORDER BY distance, id LIMIT 10"
    )


#: viewport covering the TN cluster at every scale factor
VIEW_BOX = (28.0, -123.5, 31.5, -120.0)


def q_viewport(spark, sf_dir):
    """Map-window query: point-in-literal-bbox range predicates."""
    return radius.viewport_search(_shapes(spark, sf_dir), *VIEW_BOX)


def _viewport_oracle() -> str:
    ll_lat, ll_lng, ur_lat, ur_lng = VIEW_BOX
    return (
        f"WITH {SHAPES_CTE} "
        f"SELECT id, reference_code, value, geo_type FROM shapes "
        f"WHERE latitude BETWEEN {ll_lat} AND {ur_lat} "
        f"AND longitude BETWEEN {ll_lng} AND {ur_lng}"
    )


def q_pair_distances(spark, sf_dir):
    """R8/G1: all-pairs distance + normalization ladder over a small id set."""
    shapes = _shapes(spark, sf_dir)
    small = shapes.filter(F.col("id") < 24)
    pairs = small.select(F.col("reference_code").alias("orig_ref")).crossJoin(
        small.select(F.col("reference_code").alias("dest_ref"))
    )
    out = radius.pair_distances(shapes, pairs)
    return out.select(
        "orig_ref",
        "dest_ref",
        "distance",
        F.round("normalized_distance", 6).alias("normalized_distance"),
        "distance_aggregate",
    )


def q_point_lookup(spark, sf_dir):
    """P1: full record by PK (flat projection for the oracle compare)."""
    return lookup.shape_by_ref_code(_shapes(spark, sf_dir), REF_NASHUA_1).select(
        "id", "reference_code", "value", "clean_value", "geo_type",
        "latitude", "longitude", "population",
        F.col("ref_data.state_prov").alias("state_prov"),
        F.col("ref_data.country").alias("country"),
    )


def q_id_ref_map(spark, sf_dir):
    """P3/P4: id ↔ reference_code projection (broadcast side for serving)."""
    return lookup.id_ref_code_map(_shapes(spark, sf_dir)).filter(F.col("id") < 200)


def q_quote_location(spark, sf_dir):
    """P6: CASE-WHEN reshape (MetroArea rows expose metro fields)."""
    return lookup.quote_location(_shapes(spark, sf_dir)).filter(F.col("id") < 400)


def q_shape_display(spark, sf_dir):
    """P8: geo_type-routed display projection (user_friendly)."""
    return lookup.shape_display(
        _shapes(spark, sf_dir), long_desc=True, user_friendly=True
    )


def q_tversky_compare(spark, sf_dir):
    """F3: symmetric Tversky of a query vs the distinct City names."""
    shapes = _shapes(spark, sf_dir)
    options = (
        shapes.filter((F.col("geo_type") == "City") & (F.col("id") < 200))
        .select(F.col("clean_value").alias("option"))
        .distinct()
    )
    return fuzzy.tversky_compare(options, "nashville tn")


def q_geo_type_of(spark, sf_dir):
    """P5: key-relation → geo_type (broadcast map-side join)."""
    shapes = _shapes(spark, sf_dir)
    keys = shapes.filter(F.col("id") < 100).select("reference_code")
    return lookup.geo_type_of(shapes, keys)


def q_local_time(spark, sf_dir):
    """P10: tz-aware local time — non-deterministic ⇒ rows-only check."""
    return lookup.shape_local_time(_shapes(spark, sf_dir)).filter(F.col("id") < 50)


#: pinned UTC instants for the deterministic local-time twin — one under
#: northern DST, one under standard time, so both offsets of every
#: fixture zone are value-checked
AS_OF_SUMMER = "2026-07-01 12:00:00"
AS_OF_WINTER = "2026-01-15 12:00:00"


def q_local_time_asof(spark, sf_dir):
    """P10 deterministic twin: the tz conversion at two pinned instants
    (DST + standard), hash-checked against DuckDB's ICU timezone()."""
    shapes = _shapes(spark, sf_dir).filter(F.col("id") < 200)
    s = lookup.shape_local_time_asof(shapes, AS_OF_SUMMER).withColumn(
        "as_of", F.lit("summer")
    )
    w = lookup.shape_local_time_asof(shapes, AS_OF_WINTER).withColumn(
        "as_of", F.lit("winter")
    )
    return s.unionByName(w)


def _local_time_asof_sql() -> str:
    return f"""WITH {SHAPES_CTE},
base AS (SELECT reference_code, primary_timezone FROM shapes WHERE id < 200),
inst AS (
  SELECT 'summer' AS as_of, TIMESTAMPTZ '{AS_OF_SUMMER}+00' AS t
  UNION ALL
  SELECT 'winter' AS as_of, TIMESTAMPTZ '{AS_OF_WINTER}+00' AS t
)
SELECT reference_code, primary_timezone,
       timezone(coalesce(primary_timezone, 'UTC'), t) AS local_time,
       as_of
FROM base CROSS JOIN inst"""


def q_num_shapes(spark, sf_dir):
    """S6: corpus cardinality."""
    shapes = _shapes(spark, sf_dir)
    return shapes.agg(F.count(F.lit(1)).alias("n_shapes"))


# --------------------------------------------------------------------------
# Oracle SQL
# --------------------------------------------------------------------------

_QUOTE_LOCATION_SQL = f"""
WITH {SHAPES_CTE}
SELECT id, reference_code,
  CASE WHEN geo_type = 'MetroArea' THEN NULL ELSE rd_zip_code END AS zip_code,
  CASE WHEN geo_type = 'MetroArea' THEN NULL ELSE rd_city END AS city_name,
  CASE WHEN geo_type = 'MetroArea' THEN NULL ELSE rd_state_prov END AS state_code,
  CASE WHEN geo_type = 'MetroArea' THEN NULL ELSE rd_country END AS country_code,
  CASE WHEN geo_type = 'MetroArea' THEN rd_city END AS namesake_city,
  CASE WHEN geo_type = 'MetroArea' THEN rd_metro END AS metro_area_name,
  CASE WHEN geo_type = 'MetroArea' THEN rd_metro_size END AS metro_area_size_rank,
  CASE WHEN geo_type = 'MetroArea' THEN rd_state_prov END AS metro_area_primary_state_code,
  CASE WHEN geo_type = 'MetroArea' THEN rd_country END AS metro_area_primary_country_code
FROM shapes WHERE id < 400
"""

_SHAPE_DISPLAY_SQL = f"""
WITH {SHAPES_CTE}
SELECT reference_code,
  CASE WHEN geo_type IN ('County', 'ZipCode') THEN long_display
       WHEN geo_type = 'MetroArea' THEN short_display
       ELSE long_display END AS display
FROM shapes
"""

_POINT_LOOKUP_SQL = f"""
WITH {SHAPES_CTE}
SELECT id, reference_code, value, clean_value, geo_type,
       latitude, longitude, population,
       rd_state_prov AS state_prov, rd_country AS country
FROM shapes WHERE reference_code = '{REF_NASHUA_1}'
"""

def _tversky_compare_sql() -> str:
    from yat_geo_db_spark.geo.fuzzy import clean_entity, ngrams_list

    query = clean_entity("nashville tn")
    q_set = sorted(set(ngrams_list(query)))
    return f"""
WITH {SHAPES_CTE},
opts AS (SELECT DISTINCT clean_value AS option FROM shapes
         WHERE geo_type = 'City' AND id < 200),
g AS (SELECT option, {ducksql.grams_sql('option')} AS og FROM opts),
f AS (SELECT option,
             len(list_intersect({ducksql.sql_str_list(q_set)}, og)) AS i,
             len(og) AS sd
      FROM g)
SELECT option,
       round({ducksql.tversky_sql('i', 'sd', len(q_set), 'option', 0.5, 0.5)}, 6)
         AS score
FROM f
"""




def q_radius_join(spark, sf_dir):
    """Batch radius search (spatial theta-join): 5 point origins x shapes
    within 100 miles, one corpus scan amortized over the batch. Origins
    broadcast; the per-origin ellipse scales its longitude delta to that
    origin's latitude."""
    shapes = _shapes(spark, sf_dir)
    origins = (
        shapes.filter((F.col("id") < 10) & ~F.col("is_aggregate"))
        .select(
            F.col("id").alias("origin_id"), "latitude", "longitude"
        )
    )
    return radius.radius_join(shapes, origins, 100.0)


def _radius_join_oracle(radius_mi: float = 100.0) -> str:
    from yat_geo_db_spark.geo.geometry import haversine_sql

    match = ducksql.radius_match_sql("o.o_lat", "o.o_lng", radius_mi)
    dist = haversine_sql("o.o_lat", "o.o_lng", "s.latitude", "s.longitude")
    return (
        f"WITH {SHAPES_CTE}, "
        "o AS (SELECT id AS origin_id, latitude AS o_lat, longitude AS o_lng "
        "FROM shapes WHERE id < 10 AND NOT is_aggregate) "
        f"SELECT o.origin_id, s.id, s.reference_code, "
        f"round({dist}, 4) AS distance "
        f"FROM shapes s CROSS JOIN o WHERE {match}"
    )


FUZZY_JOIN_CAP = 50


def q_fuzzy_join(spark, sf_dir):
    """Batch entity resolution (fuzzy.fuzzy_join): every 3rd shape's
    name, corrupted by dropping its first character, is matched back
    against the full trigram index IN ONE JOB — the join
    generalization of the reference's one-query-per-call fuzzy_search.
    Output: each probe's best match with its Tversky similarity."""
    shapes = _shapes(spark, sf_dir)
    probes = shapes.filter(F.col("id") % 3 == 0).select(
        F.col("id").alias("probe_id"),
        F.expr("substring(value, 2)").alias("probe_value"),
    )
    return fuzzy.fuzzy_join(
        shapes, probes, num_results=1, candidate_cap=FUZZY_JOIN_CAP
    ).orderBy("probe_id")


def _fuzzy_join_oracle(cap: int = FUZZY_JOIN_CAP) -> str:
    g = ducksql.grams_sql
    tv = (
        "CASE WHEN length(clean_value) > 0 AND i > 0 "
        "THEN CAST(i AS DOUBLE) / (CAST(i AS DOUBLE) "
        "+ 0.85 * (CAST(qn AS DOUBLE) - CAST(i AS DOUBLE)) "
        "+ 0.15 * (CAST(sd AS DOUBLE) - CAST(i AS DOUBLE))) ELSE 0.0 END"
    )
    return f"""
WITH {SHAPES_CTE},
probes AS (
  SELECT id AS probe_id, lower(replace(substr(value, 2), ',', '')) AS pq
  FROM shapes WHERE id % 3 = 0
),
qg AS (
  SELECT probe_id, unnest({g('pq', distinct=False)}) AS ngram FROM probes
),
postings AS (
  SELECT id AS entity_id, unnest({g('clean_value', distinct=False)}) AS ngram
  FROM shapes
),
nsh AS (SELECT count(*) AS n FROM shapes),
keep AS (
  SELECT ngram FROM (
    SELECT ngram, count(DISTINCT entity_id) AS df FROM postings GROUP BY ngram
  ), nsh
  WHERE CAST(df AS DOUBLE) <= 0.1 * CAST(n AS DOUBLE)
),
cand AS (
  SELECT probe_id, entity_id, count(*) AS cnt
  FROM qg
  JOIN (SELECT p.* FROM postings p JOIN keep USING (ngram)) cp USING (ngram)
  GROUP BY probe_id, entity_id
),
capped AS (
  SELECT probe_id, entity_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY probe_id ORDER BY cnt DESC, entity_id) AS rn
    FROM cand
  ) WHERE rn <= {cap}
),
feat AS (
  SELECT c.probe_id, p.pq, s.id, s.value, s.clean_value,
         len(list_intersect({g('p.pq')}, {g('s.clean_value')})) AS i,
         len({g('p.pq')}) AS qn,
         len(list_distinct({g('s.clean_value')})) AS sd
  FROM capped c
  JOIN probes p USING (probe_id)
  JOIN shapes s ON c.entity_id = s.id
),
sim AS (
  SELECT *, round(CASE WHEN starts_with(clean_value, pq)
                       THEN ({tv}) * 1.15 ELSE ({tv}) END, 6) AS similarity
  FROM feat
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY probe_id ORDER BY similarity DESC, id) AS INT) AS rank
  FROM sim WHERE similarity > 0.0
)
SELECT probe_id, pq AS probe_clean, id, value, clean_value, similarity, rank
FROM ranked WHERE rank <= 1
ORDER BY probe_id
"""



def q_density_hotspots(spark, sf_dir):
    """Grid-density hotspots (geo.grid.density_hotspots): occupied
    1°×1° cells scored by 3×3-neighborhood point mass, top 20. The
    geo complement to radius search — a density read with no pairwise
    distances; the oracle repeats the bucketing and the 9-offset
    spread."""
    from yat_geo_db_spark.geo.grid import density_hotspots

    return density_hotspots(_shapes(spark, sf_dir), cell_deg=1.0, top_k=20)


_DENSITY_HOTSPOTS_SQL = f"""
WITH {SHAPES_CTE},
pts AS (
  SELECT CAST(floor(longitude / 1.0) AS BIGINT) AS cx,
         CAST(floor(latitude / 1.0) AS BIGINT) AS cy
  FROM shapes
  WHERE latitude IS NOT NULL AND longitude IS NOT NULL
    AND NOT is_aggregate
),
counts AS (SELECT cx, cy, count(*) AS n_cell FROM pts GROUP BY cx, cy),
offs(dx, dy) AS (
  VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)
),
hood AS (
  SELECT cx + dx AS tx, cy + dy AS ty, sum(n_cell) AS n_neighborhood
  FROM counts, offs
  GROUP BY 1, 2
)
SELECT c.cx, c.cy, c.n_cell,
       CAST(n_neighborhood AS BIGINT) AS n_neighborhood
FROM counts c JOIN hood ON c.cx = hood.tx AND c.cy = hood.ty
ORDER BY n_neighborhood DESC, c.cy, c.cx
LIMIT 20
"""



def q_geohash_cells(spark, sf_dir):
    """Base32 geohash bucketing (geo.grid.geohash_col, precision 4 ≈
    39 km × 19 km): shapes per geohash cell — the interoperable
    join-key form of the grid layout. Pure-projection hash, one cell
    count; the oracle runs the generated SQL twin of the same bit
    interleave."""
    from yat_geo_db_spark.geo.grid import geohash_col

    shapes = _shapes(spark, sf_dir)
    return (
        shapes.where(
            F.col("latitude").isNotNull() & F.col("longitude").isNotNull()
        )
        .select(
            geohash_col(F.col("latitude"), F.col("longitude"), 4).alias(
                "geohash"
            )
        )
        .groupBy("geohash")
        .agg(F.count(F.lit(1)).alias("n_shapes"))
        .orderBy("geohash")
    )


def _geohash_cells_sql() -> str:
    from yat_geo_db_spark.geo.grid import geohash_sql

    gh = geohash_sql("latitude", "longitude", 4)
    return f"""
WITH {SHAPES_CTE}
SELECT {gh} AS geohash, count(*) AS n_shapes
FROM shapes
WHERE latitude IS NOT NULL AND longitude IS NOT NULL
GROUP BY 1
ORDER BY geohash
"""



def q_nearest_facility(spark, sf_dir):
    """Voronoi assignment (geo.radius.nearest_facility): every
    non-aggregate shape assigned to its nearest AGGREGATE shape (metro
    areas as facilities) by haversine argmin — broadcast BNLJ, points
    stream once; min(struct) ties to the lower facility id."""
    from yat_geo_db_spark.geo.radius import nearest_facility

    shapes = _shapes(spark, sf_dir)
    return nearest_facility(
        shapes.where(~F.col("is_aggregate")),
        shapes.where(F.col("is_aggregate")),
    ).orderBy("point_id")


def _nearest_facility_sql() -> str:
    from yat_geo_db_spark.geo.geometry import haversine_sql

    d = haversine_sql("p.latitude", "p.longitude", "f.latitude", "f.longitude")
    return f"""
WITH {SHAPES_CTE},
p AS (SELECT id, latitude, longitude FROM shapes
      WHERE NOT is_aggregate
        AND latitude IS NOT NULL AND longitude IS NOT NULL),
f AS (SELECT id, latitude, longitude FROM shapes
      WHERE is_aggregate
        AND latitude IS NOT NULL AND longitude IS NOT NULL),
scored AS (
  SELECT p.id AS point_id, f.id AS facility_id,
         round({d}, 4) AS distance
  FROM p, f
),
best AS (
  SELECT point_id, facility_id, distance,
         row_number() OVER (
           PARTITION BY point_id ORDER BY distance, facility_id
         ) AS rn
  FROM scored
)
SELECT point_id, facility_id, distance FROM best WHERE rn = 1
ORDER BY point_id
"""


QUERIES: dict = {
    "geo_fuzzy_join": (q_fuzzy_join, _fuzzy_join_oracle()),
    "geo_fuzzy_city": (
        q_fuzzy_city,
        ducksql.fuzzy_search_oracle(QUERY_CITY, 10),
    ),
    "geo_fuzzy_filtered": (
        q_fuzzy_filtered,
        ducksql.fuzzy_search_oracle(
            QUERY_CITY, 10,
            where="rd_state_prov = 'TN' AND geo_type = 'City'",
        ),
    ),
    "geo_fuzzy_partitioned": (
        q_fuzzy_partitioned,
        ducksql.fuzzy_search_oracle(
            QUERY_CITY, 10, pre_where="rd_state_prov = 'TN'"
        ),
    ),
    "geo_fuzzy_zip": (
        q_fuzzy_zip,
        ducksql.fuzzy_search_oracle(QUERY_ZIP, 10),
    ),
    "geo_best_fuzzy": (
        q_best_fuzzy,
        f"SELECT * FROM ({ducksql.fuzzy_search_oracle(QUERY_CITY, 1)}) WHERE score >= 0.90",
    ),
    "geo_radius_ids": (
        q_radius_ids,
        ducksql.radius_search_oracle(REF_NASHUA_1, 50.0),
    ),
    "geo_radius_full": (
        q_radius_full,
        ducksql.radius_search_oracle(
            REF_NASHUA_1, 50.0, country_exact=True, full_results=True
        ),
    ),
    "geo_knn": (q_knn, _knn_oracle()),
    "geo_viewport": (q_viewport, _viewport_oracle()),
    "geo_radius_latlng": (
        q_radius_latlng,
        ducksql.radius_latlng_oracle(
            ORIGIN_LAT, ORIGIN_LNG, 75.0,
            where="s.rd_state_prov = 'TN'", exclude_aggregates=True,
        ),
    ),
    "geo_pair_distances": (q_pair_distances, ducksql.pair_distance_oracle(24)),
    "geo_radius_join": (q_radius_join, _radius_join_oracle()),
    "geo_density_hotspots": (q_density_hotspots, _DENSITY_HOTSPOTS_SQL),
    "geo_geohash_cells": (q_geohash_cells, _geohash_cells_sql()),
    "geo_nearest_facility": (q_nearest_facility, _nearest_facility_sql()),
    "geo_point_lookup": (q_point_lookup, _POINT_LOOKUP_SQL),
    "geo_id_ref_map": (
        q_id_ref_map,
        f"WITH {SHAPES_CTE} SELECT id, reference_code FROM shapes WHERE id < 200",
    ),
    "geo_quote_location": (q_quote_location, _QUOTE_LOCATION_SQL),
    "geo_shape_display": (q_shape_display, _SHAPE_DISPLAY_SQL),
    "geo_tversky_compare": (
        q_tversky_compare,
        _tversky_compare_sql(),
    ),
    "geo_type_of": (
        q_geo_type_of,
        f"WITH {SHAPES_CTE} SELECT reference_code, geo_type FROM shapes WHERE id < 100",
    ),
    "geo_local_time": (q_local_time, None),  # wall-clock ⇒ rows-only
    "geo_local_time_asof": (q_local_time_asof, _local_time_asof_sql()),
    "geo_num_shapes": (
        q_num_shapes,
        f"WITH {SHAPES_CTE} SELECT count(*) AS n_shapes FROM shapes",
    ),
}
