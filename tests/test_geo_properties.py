"""Property-style invariants from SURVEY.md §5: radius monotonicity,
self-distance, symmetry, edge-case behavior of the fuzzy pipeline, and
golden values for the scalar functions."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from yat_geo_db_spark.geo import fuzzy, radius
from yat_geo_db_spark.geo.fuzzy import (
    _damerau_levenshtein,
    geo_damerau_distance_py,
    ngrams_list,
)
from yat_geo_db_spark.geo.geometry import (
    haversine_miles,
    latitude_delta_from_miles,
    longitude_delta_from_miles,
)

REF = "us__tn__nashua_1"


def ids(df) -> set:
    return {r["id"] for r in df.collect()}


def test_radius_monotonicity(shapes):
    small = ids(radius.radius_search(shapes, REF, 20.0))
    large = ids(radius.radius_search(shapes, REF, 60.0))
    assert small <= large
    assert len(large) > 0


def test_radius_missing_ref_is_empty(shapes):
    assert radius.radius_search(shapes, "no__such__place", 100.0).count() == 0


def test_radius_country_filter_subset(shapes):
    all_ids = ids(radius.radius_search(shapes, REF, 60.0))
    us_only = ids(radius.radius_search(shapes, REF, 60.0, country_exact=True))
    assert us_only <= all_ids


def test_radius_null_origin_country_passes_through(shapes):
    """country_exact with a NULL-country origin must not restrict results:
    the reference sets country_filter=None and skips country filtering
    (geo_manager.py:255-258)."""
    nulled = shapes.withColumn(
        "ref_data",
        F.when(
            F.col("reference_code") == REF,
            F.col("ref_data").withField("country", F.lit(None).cast("string")),
        ).otherwise(F.col("ref_data")),
    )
    plain = ids(radius.radius_search(nulled, REF, 60.0))
    exact = ids(radius.radius_search(nulled, REF, 60.0, country_exact=True))
    assert exact == plain and len(plain) > 0


def test_radius_excludes_aggregates_when_asked(shapes):
    got = radius.radius_search_lat_lng(
        shapes, 29.139, -121.949, 60.0, exclude_aggregates=True, full_results=False
    )
    joined = got.join(shapes, "id").filter(F.col("is_aggregate"))
    assert joined.count() == 0


def test_fuzzy_empty_and_short_queries(shapes):
    assert fuzzy.fuzzy_search(shapes, "", 10).count() == 0
    assert fuzzy.fuzzy_search(shapes, "ab", 10).count() == 0  # < 3 chars, no grams
    assert fuzzy.fuzzy_search(shapes, "!!!", 10).count() == 0  # cleans to empty


def test_fuzzy_finds_exact_city_first(shapes):
    top = fuzzy.fuzzy_search(shapes, "Nashville, TN", 5).first()
    assert top["clean_value"] == "nashville tn"


def test_fuzzy_filters_restrict(shapes):
    unfiltered = fuzzy.fuzzy_search(shapes, "Nashville, TN", 50)
    filtered = fuzzy.fuzzy_search(
        shapes, "Nashville, TN", 50, filters={"geo_type": "City"}
    )
    got = filtered.join(shapes.select("id", "geo_type"), "id").collect()
    assert all(r["geo_type"] == "City" for r in got)
    assert filtered.count() <= unfiltered.count()


def test_best_fuzzy_threshold(shapes):
    hit = fuzzy.best_fuzzy_search(shapes, "Nashville, TN", 0.90)
    assert hit.count() == 1
    miss = fuzzy.best_fuzzy_search(shapes, "zzzqqqxxx", 0.90)
    assert miss.count() == 0


def test_pair_distance_self_zero_and_missing_sentinel(shapes, spark):
    pairs = spark.createDataFrame(
        [(REF, REF), (REF, "no__such__place")], "orig_ref string, dest_ref string"
    )
    rows = {
        (r["orig_ref"], r["dest_ref"]): r
        for r in radius.pair_distances(shapes, pairs).collect()
    }
    assert rows[(REF, REF)]["distance"] == 0.0
    assert rows[(REF, "no__such__place")]["distance"] == radius.MISSING_DISTANCE


def test_haversine_symmetry(spark):
    df = spark.createDataFrame(
        [(36.16, -86.78, 41.88, -87.63)], "a double, b double, c double, d double"
    )
    got = df.select(
        haversine_miles(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("ab"),
        haversine_miles(F.col("c"), F.col("d"), F.col("a"), F.col("b")).alias("ba"),
    ).first()
    assert got["ab"] == pytest.approx(got["ba"], abs=1e-9)
    # Nashville→Chicago ≈ 400 mi
    assert 390 < got["ab"] < 420


def test_delta_scalars_roundtrip():
    # 1 degree of latitude ≈ 69.09 miles on the reference sphere
    assert latitude_delta_from_miles(69.09) == pytest.approx(1.0, abs=1e-3)
    # longitude degrees shrink with latitude
    assert longitude_delta_from_miles(60.0, 10.0) > longitude_delta_from_miles(0.0, 10.0)
    assert latitude_delta_from_miles(0.0) == 0.0


def test_damerau_golden():
    assert _damerau_levenshtein("ca", "abc") == 2  # unrestricted (not OSA's 3)
    assert _damerau_levenshtein("nashville", "nashvlile") == 1
    assert _damerau_levenshtein("", "abc") == 3
    assert _damerau_levenshtein("same", "same") == 0
    # min(DL of first-comma-tokens, DL of full strings): the comma split
    # makes "nashville" vs "nashville" 0? no — second has no comma, so token
    # compare is "nashville" vs "nashville usa" (4) and full is 4 → 4
    assert geo_damerau_distance_py("nashville, tn", "nashville usa") == 4
    assert geo_damerau_distance_py("nashville, tn", "nashville, tn x") == 0


def test_ngrams_golden():
    assert ngrams_list("nash") == ["nas", "ash"]
    assert ngrams_list("ab") == []
    assert fuzzy.clean_entity("Nashville, TN!") == "nashville tn"


def test_tversky_matches_reference_formula(spark):
    # tversky("nashville", "nashville tn"): q has 7 grams, all shared;
    # source has 10 distinct grams → 7/(7 + .85*0 + .15*3)
    df = spark.createDataFrame([("nashville tn",)], "s string")
    got = df.select(
        fuzzy.tversky_index_col(
            "nashville", fuzzy.ngrams_col(F.col("s")), F.col("s") != F.lit("")
        ).alias("t")
    ).first()["t"]
    assert got == pytest.approx(7 / (7 + 0.15 * 3), abs=1e-12)


def test_candidate_cap_is_respected(shapes):
    # num_results > CANDIDATE_FLOOR widens the cap
    out = fuzzy.fuzzy_search(shapes, "ville", num_results=600)
    assert out.count() <= 600


def test_knn_prefilter_exactness_and_fallback(shapes):
    """The bounded kNN (ellipse pre-filter) must return EXACTLY the
    unbounded top-k, across small radii (escalation path) and huge k
    (full-scan fallback when the disk can't hold k validated rows)."""
    from yat_geo_db_spark.geo.radius import knn_search

    def rows(df):
        return [tuple(r) for r in df.collect()]

    exact = rows(knn_search(shapes, 29.139, -121.949, k=10, prefilter_radius=None))
    for r0 in (1.0, 50.0, 250.0):   # 1.0 forces escalation/fallback
        got = rows(knn_search(shapes, 29.139, -121.949, k=10, prefilter_radius=r0))
        assert got == exact, f"prefilter_radius={r0}"
    # k larger than the corpus → fallback returns everything, still exact
    n = shapes.filter(~F.col("is_aggregate")).count()
    allr = rows(knn_search(shapes, 29.139, -121.949, k=n + 50))
    assert len(allr) == n


def test_knn_accepted_probe_is_not_reexecuted(shapes):
    """An ACCEPTED pre-filtered top-k comes back as the probe's own rows —
    the winning bounded scan ran once at probe time and is NOT re-run when
    the caller materializes (round-2 finding: the old return re-executed
    the same scan, ~2× per kNN call): its plan reads no cached `shapes`
    (no InMemoryRelation)."""
    from yat_geo_db_spark.geo.radius import knn_search

    # dense-neighborhood query: the k-th neighbor sits well inside 0.9·r,
    # so the first probe is accepted (ocean-adjacent points never accept —
    # their k-th neighbor is 400+ mi out, past the flat-earth cap)
    out = knn_search(shapes, 36.16, -86.78, k=2, prefilter_radius=250.0)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan, plan
    exact = knn_search(shapes, 36.16, -86.78, k=2, prefilter_radius=None)
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in exact.collect()]


def test_knn_flat_earth_cap_falls_back_to_exact_scan(shapes):
    """Escalated radii past the flat-approximation validity bound must NOT
    trust the ellipse probe: the result falls back to the unbounded exact
    scan (a plan over the cached `shapes`, not probe rows) and stays
    exact."""
    from yat_geo_db_spark.geo.radius import knn_search

    out = knn_search(shapes, 29.139, -121.949, k=10, prefilter_radius=600.0)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan, plan
    exact = knn_search(shapes, 29.139, -121.949, k=10, prefilter_radius=None)
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in exact.collect()]


def test_knn_prefix_consistency(spark):
    from yat_geo_db_spark.geo.radius import knn_search
    from yat_geo_db_spark.geo.fixture import shapes_df
    from yat_geo_db_spark.testdata import register_views

    register_views(spark, "/root/testdata/sf0.001", tables=("customer",))
    shapes = shapes_df(spark)
    k5 = [r["id"] for r in knn_search(shapes, 29.139, -121.949, k=5).collect()]
    k10 = [r["id"] for r in knn_search(shapes, 29.139, -121.949, k=10).collect()]
    assert k10[:5] == k5            # top-k is a prefix of top-(k+m)
    d10 = [r["distance"] for r in knn_search(shapes, 29.139, -121.949, k=10).collect()]
    assert d10 == sorted(d10)       # ascending by distance


def test_radius_join_agrees_with_single_origin_search(shapes):
    """Each origin's slice of the batch radius join = the single-origin
    literal search's id set at the same radius."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.geo.radius import radius_join, radius_search_lat_lng

    origins = (
        shapes.filter((F.col("id") < 10) & ~F.col("is_aggregate"))
        .select(F.col("id").alias("origin_id"), "latitude", "longitude")
    )
    batch = radius_join(shapes, origins, 100.0).collect()
    by_o = {}
    for r in batch:
        by_o.setdefault(r["origin_id"], set()).add(r["id"])
    for o in origins.collect():
        want = {
            r["id"]
            for r in radius_search_lat_lng(
                shapes, o["latitude"], o["longitude"], 100.0
            ).select("id").collect()
        }
        assert by_o.get(o["origin_id"], set()) == want, o["origin_id"]


def test_fuzzy_join_resolves_corrupted_names(spark):
    """Batch entity resolution: names with their first character dropped
    must overwhelmingly resolve back to their own record as the top
    match in one job; every probe gets at most num_results rows and
    dense ranks."""
    import pyspark.sql.functions as F

    from yat_geo_db_spark.geo import fuzzy
    from yat_geo_db_spark.geo.fixture import shapes_df
    from yat_geo_db_spark.testdata import register_views

    register_views(spark, "/root/testdata/sf0.001", tables=("customer",))
    shapes = shapes_df(spark).cache()
    probes = shapes.filter(F.col("id") % 3 == 0).select(
        F.col("id").alias("probe_id"),
        F.expr("substring(value, 2)").alias("probe_value"),
    )
    out = fuzzy.fuzzy_join(shapes, probes, num_results=1).cache()
    rows = out.collect()
    n_probes = probes.count()
    assert len(rows) == n_probes                      # every probe matched
    assert all(r["rank"] == 1 for r in rows)
    self_hits = sum(1 for r in rows if r["id"] == r["probe_id"])
    # near-dup city names can legitimately outscore the source record;
    # the overwhelming majority must still self-resolve
    assert self_hits / n_probes >= 0.8, f"{self_hits}/{n_probes}"

    # top-3 mode: ranks dense per probe, similarity non-increasing
    top3 = fuzzy.fuzzy_join(shapes, probes.limit(5), num_results=3)
    by_probe: dict = {}
    for r in top3.collect():
        by_probe.setdefault(r["probe_id"], []).append(
            (r["rank"], r["similarity"])
        )
    for pid, rs in by_probe.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1))
        sims = [x[1] for x in rs]
        assert sims == sorted(sims, reverse=True)


def test_nearest_facility_argmin_and_ties(spark):
    """Each point lands on its true nearest facility; equidistant
    facilities tie to the lower id; null-coordinate rows drop."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.geo.radius import nearest_facility

    points = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.0, 10.0), (3, 0.0, 5.0), (4, None, 1.0)],
        "id long, latitude double, longitude double",
    )
    facilities = spark.createDataFrame(
        [(100, 0.0, 1.0), (200, 0.0, 9.0)],
        "id long, latitude double, longitude double",
    )
    got = {
        r["point_id"]: r["facility_id"]
        for r in nearest_facility(points, facilities).collect()
    }
    # point 3 at lng 5 is equidistant (4° each way) → lower id wins
    assert got == {1: 100, 2: 200, 3: 100}
