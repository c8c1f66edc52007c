"""DuckDB SQL fragment builders for the oracle side of the registry.

Every fragment mirrors its Spark Column twin operation-for-operation (same
association order, same casts) so doubles come out bit-identical and the
driver's value hash matches. Score-like outputs are still rounded (6dp) and
distances rounded (4dp, like the reference) to absorb libm last-ulp noise in
transcendental functions.
"""

from __future__ import annotations

from yat_geo_db_spark.geo.fuzzy import CANDIDATE_FLOOR, clean_entity, ngrams_list
from yat_geo_db_spark.geo.fixture import SHAPES_CTE
from yat_geo_db_spark.geo.geometry import (
    haversine_sql,
    latitude_delta_sql,
    longitude_delta_sql,
)


def grams_sql(t: str, distinct: bool = True, n: int = 3) -> str:
    """Character q-grams of expression `t` (DuckDB list)."""
    core = (
        f"list_transform(range(1, length({t}) - {n - 2}), "
        f"i -> substr({t}, CAST(i AS INT), {n}))"
    )
    if distinct:
        core = f"list_distinct({core})"
    return (
        f"CASE WHEN length({t}) >= {n} THEN {core} "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def sql_str_list(items) -> str:
    return "[" + ", ".join("'" + i.replace("'", "''") + "'" for i in items) + "]"


def tversky_sql(i: str, sd: str, qn: int, t: str,
                a: float = 0.85, b: float = 0.15) -> str:
    """Tversky index given precomputed intersection size `i`, distinct-source
    size `sd`, query-set size `qn`, and the source expression `t` (for the
    empty guard). Mirrors fuzzy.tversky_index_col."""
    return (
        f"CASE WHEN length({t}) > 0 AND {i} > 0 "
        f"THEN CAST({i} AS DOUBLE) / "
        f"(CAST({i} AS DOUBLE) + {a} * (CAST({qn} AS DOUBLE) - CAST({i} AS DOUBLE))"
        f" + {b} * (CAST({sd} AS DOUBLE) - CAST({i} AS DOUBLE))) "
        f"ELSE 0.0 END"
    )


def prefix_boost_sql(tv: str, t: str, query: str) -> str:
    q = query.replace("'", "''")
    return f"CASE WHEN {t} LIKE '{q}%' THEN {tv} * 1.15 ELSE {tv} END"


def geo_score_sql(fz: str, pop: str) -> str:
    return (
        f"CASE WHEN {pop} <= 0 OR {fz} <= 0.65 THEN {fz} * 0.9 "
        f"ELSE {fz} * 0.9 + ln({pop}) * 0.1 END"
    )


def damerau_sql(query: str, t: str) -> str:
    """F4: min(DL of first-comma-tokens, DL of full strings)."""
    q = query.replace("'", "''")
    q0 = q.split(",")[0]
    return (
        f"CAST(least(damerau_levenshtein('{q0}', split_part({t}, ',', 1)), "
        f"damerau_levenshtein('{q}', {t})) AS BIGINT)"
    )


def fuzzy_search_oracle(search_entity: str, num_results: int = 50,
                        where: str = "", pre_where: str = "") -> str:
    """Full F12 pipeline oracle (mirrors fuzzy.fuzzy_search stage by stage).

    `where` applies AFTER the candidate cap (P12 filters semantics);
    `pre_where` scopes the index BEFORE candidate generation (F14 partition
    scoping — candidate counts and the top-500 cap become partition-local).
    """
    query = clean_entity(search_entity)
    q_set = sorted(set(ngrams_list(query)))
    qn = len(q_set)
    cap = max(num_results, CANDIDATE_FLOOR)
    numeric = query.isnumeric()
    target = "split_part(clean_value, ' ', 1)" if numeric else "clean_value"
    where_clause = f"WHERE {where}" if where else ""
    pre_where_clause = f"WHERE {pre_where}" if pre_where else ""
    tg_block = (
        f"{grams_sql(target)} AS tg_grams,"
        if numeric
        else "cv_grams AS tg_grams,"
    )
    return f"""
WITH {SHAPES_CTE},
postings AS (
  SELECT id AS entity_id, unnest({grams_sql('clean_value', distinct=False)}) AS gram
  FROM shapes {pre_where_clause}
),
cand AS (
  SELECT entity_id, count(*) AS cnt
  FROM postings
  WHERE gram IN (SELECT unnest({sql_str_list(q_set)}))
  GROUP BY entity_id
  ORDER BY cnt DESC, entity_id
  LIMIT {cap}
),
base AS (
  SELECT s.*, {grams_sql('s.clean_value')} AS cv_grams
  FROM shapes s JOIN cand c ON s.id = c.entity_id
  {where_clause}
),
base2 AS (
  SELECT *, {tg_block} {target} AS tgt FROM base
),
feat AS (
  SELECT *,
    len(list_intersect({sql_str_list(q_set)}, cv_grams)) AS i_cv,
    len(cv_grams) AS sd_cv,
    len(list_intersect({sql_str_list(q_set)}, tg_grams)) AS i_tg,
    len(tg_grams) AS sd_tg
  FROM base2
),
tv AS (
  SELECT *,
    {tversky_sql('i_cv', 'sd_cv', qn, 'clean_value')} AS tv_cv,
    {tversky_sql('i_tg', 'sd_tg', qn, 'tgt')} AS tv_tg
  FROM feat
),
boosted AS (
  SELECT *,
    {prefix_boost_sql('tv_cv', 'clean_value', query)} AS ngram_similarity,
    {prefix_boost_sql('tv_tg', 'tgt', query)} AS fz
  FROM tv
),
sc AS (
  SELECT *, {geo_score_sql('fz', 'population')} AS score FROM boosted
),
dd AS (
  SELECT *, row_number() OVER (
      PARTITION BY clean_value ORDER BY round(score, 6) DESC, id) AS rn
  FROM sc
)
SELECT id, value, clean_value,
       round(ngram_similarity, 6) AS ngram_similarity,
       round(score, 6) AS score, {damerau_sql(query, 'clean_value')} AS distance
FROM dd WHERE rn = 1
ORDER BY round(score, 6) DESC, id
LIMIT {num_results}
"""


def radius_match_sql(o_lat: str, o_lng: str, radius: float,
                     country: str | None = None) -> str:
    """R5 dispatch predicate (aggregate→bbox containment, point→ellipse)."""
    lat_d = latitude_delta_sql(radius)
    lng_d = longitude_delta_sql(o_lat, radius)
    pred = (
        f"(CASE WHEN s.is_aggregate THEN "
        f"(s.bb_ur_lat >= {o_lat} AND {o_lat} >= s.bb_ll_lat "
        f"AND s.bb_ur_lng >= {o_lng} AND {o_lng} >= s.bb_ll_lng) "
        f"ELSE (pow(({o_lat} - s.latitude) / {lat_d}, 2) "
        f"+ pow(({o_lng} - s.longitude) / {lng_d}, 2) < 1) END)"
    )
    if country is not None:
        # NULL filter value ⇒ pass-through (reference skips country filtering
        # when the origin has no country, geo_manager.py:255-258)
        pred = f"(({country} IS NULL) OR (s.rd_country = {country})) AND {pred}"
    return pred


def radius_latlng_oracle(latitude: float, longitude: float, radius: float,
                         country: str | None = None,
                         exclude_aggregates: bool = False,
                         where: str = "") -> str:
    """R3/R4 oracle: literal-origin radius scan returning ids."""
    country_expr = f"'{country}'" if country is not None else None
    match = radius_match_sql(repr(float(latitude)), repr(float(longitude)),
                             radius, country_expr)
    extra = f"AND ({where})" if where else ""
    agg = "AND NOT s.is_aggregate" if exclude_aggregates else ""
    return (
        f"WITH {SHAPES_CTE} "
        f"SELECT s.id FROM shapes s WHERE {match} {agg} {extra}"
    )


def normalized_distance_sql(dist: str) -> str:
    """R8 normalization ladder (origin-aggregate wins, then destination)."""
    return (
        f"CASE WHEN NOT o_agg AND NOT is_aggregate THEN {dist} "
        f"WHEN o_agg THEN "
        f"(CASE WHEN o_area < 10 THEN {dist} "
        f"ELSE {dist} / ln(greatest(o_area, 1.0)) END) "
        f"ELSE (CASE WHEN area < 10 THEN {dist} "
        f"ELSE {dist} / ln(greatest(area, 1.0)) END) END"
    )


def radius_search_oracle(reference_code: str, radius: float,
                         country_exact: bool = False,
                         full_results: bool = False,
                         where: str = "") -> str:
    ref = reference_code.replace("'", "''")
    country = "o.o_country" if country_exact else None
    match = radius_match_sql("o.o_lat", "o.o_lng", radius, country)
    where_extra = f"AND ({where})" if where else ""
    origin = (
        "o AS (SELECT latitude AS o_lat, longitude AS o_lng, "
        "is_aggregate AS o_agg, area AS o_area, rd_country AS o_country "
        f"FROM shapes WHERE reference_code = '{ref}')"
    )
    if not full_results:
        return (
            f"WITH {SHAPES_CTE}, {origin} "
            f"SELECT s.id FROM shapes s, o WHERE {match} {where_extra}"
        )
    dist = "round(" + haversine_sql("o_lat", "o_lng", "latitude", "longitude") + ", 4)"
    return f"""
WITH {SHAPES_CTE}, {origin},
hits AS (
  SELECT s.*, o.o_lat, o.o_lng, o.o_agg, o.o_area
  FROM shapes s, o WHERE {match} {where_extra}
),
d AS (SELECT *, {dist} AS distance FROM hits)
SELECT id, reference_code, value, geo_type, distance,
       round({normalized_distance_sql('distance')}, 6) AS normalized_distance,
       (o_agg OR is_aggregate) AS distance_aggregate
FROM d
"""


def pair_distance_oracle(max_id: int = 24) -> str:
    dist = "round(" + haversine_sql("o_lat", "o_lng", "latitude", "longitude") + ", 4)"
    return f"""
WITH {SHAPES_CTE},
o AS (SELECT reference_code AS orig_ref, latitude AS o_lat, longitude AS o_lng,
             is_aggregate AS o_agg, area AS o_area
      FROM shapes WHERE id < {max_id}),
t AS (SELECT reference_code AS dest_ref, latitude, longitude,
             is_aggregate, area
      FROM shapes WHERE id < {max_id}),
j AS (SELECT * FROM o, t),
d AS (SELECT *, {dist} AS distance FROM j)
SELECT orig_ref, dest_ref, distance,
       round({normalized_distance_sql('distance')}, 6) AS normalized_distance,
       (o_agg OR is_aggregate) AS distance_aggregate
FROM d
"""


def mix_sql(expr: str, mod: int = 1_000_003) -> str:
    """Mirror of text.mix_hash_col / sample_hash_col's residue: reduce the
    key mod the prime FIRST (pmod — DuckDB's % is sign-preserving like
    Spark's), then multiply and reduce again. Overflow-free for 64-bit
    keys; value-identical to the old (key*C) % mod wherever that didn't
    overflow."""
    return (
        f"((({expr}) % {mod} + {mod}) % {mod} * 2654435761) % {mod}"
    )


def bucket_sql(expr: str, n: int) -> str:
    """Mirror of text.bucket_hash_col: the mixed residue folded mod n."""
    return f"({mix_sql(expr)} % {n})"
