"""GeoManager facade: the reference's call sites must work unchanged
(method names, parameters, driver-side return shapes — reference README.md
usage examples re-created on the synthetic fixture)."""

from __future__ import annotations

import pytest

from yat_geo_db_spark.geo.fixture import shapes_df
from yat_geo_db_spark.manager import GeoManager
from yat_geo_db_spark.testdata import register_views


@pytest.fixture(scope="module")
def gm(spark):
    register_views(spark, "/root/testdata/sf0.001")
    return GeoManager(spark, shapes=shapes_df(spark))


def test_point_lookup_family(gm):
    rec = gm.get_shape_by_ref_code("us__tn__nashville_0")
    assert rec is not None and rec["geo_type"] == "City"
    sid = rec["id"]
    assert gm.get_shape_by_id(sid)["reference_code"] == "us__tn__nashville_0"
    assert gm.get_shape_ref_code(sid) == "us__tn__nashville_0"
    assert gm.get_shape_id_by_ref_code("us__tn__nashville_0") == sid
    assert gm.get_shape_geo_type(sid) == "City"
    assert gm.get_shape_geo_type_by_ref_code("us__tn__nashville_0") == "City"
    assert gm.get_shape_by_ref_code("zz__nope") is None
    assert gm.get_shape_ref_code(10**9) is None


def test_quote_location_and_display(gm):
    q = gm.get_quote_location_by_reference_code("us__tn__nashville_0")
    assert q["city_name"] is not None and q["metro_area_name"] is None
    disp = gm.get_shape_display_by_ref_code("us__tn__nashville_0")
    assert isinstance(disp, str) and disp
    t = gm.get_shape_time_by_ref_code("us__tn__nashville_0")
    assert t is not None


def test_radius_family(gm):
    ids = gm.radius_search("us__tn__nashville_0", 50.0)
    assert isinstance(ids, list) and len(ids) > 0 and all(
        isinstance(i, int) for i in ids
    )
    full = gm.radius_search("us__tn__nashville_0", 50.0, full_results=True)
    assert isinstance(full[0], dict) and "distance" in full[0]
    assert gm.radius_search("zz__nope", 50.0) == []

    origin = gm.get_shape_by_ref_code("us__tn__nashville_0")
    pts = gm.radius_lat_lng_search(origin["latitude"], origin["longitude"], 50.0)
    assert all(not r["is_aggregate"] for r in pts)

    rv = gm.get_radius_shape_by_ref_code("us__tn__nashville_0")
    assert set(rv) == {
        "id", "reference_code", "latitude", "longitude", "area",
        "is_aggregate", "bbox",
    }
    assert gm.get_radius_shape_by_id(rv["id"]) == rv
    assert gm.get_radius_shape_by_id(10**9) is None


def test_pair_distance_and_sentinel(gm):
    d = gm.get_shape_pair_distance("us__tn__nashville_0", "us__tn__nashville_0")
    assert d["distance"] == 0.0
    assert d["aggregate"] is False          # reference geo_manager.py:387
    missing = gm.get_shape_pair_distance("zz__a", "zz__b")
    assert missing == {
        "distance": 999, "normalized_distance": 999, "aggregate": False,
    }
    dd, ref = gm.get_shape_pair_distance_id(
        "us__tn__nashville_0", gm.get_shape_id_by_ref_code("us__tn__nashville_0")
    )
    assert ref == "us__tn__nashville_0" and dd["distance"] == 0.0
    # either-endpoint-aggregate sets the flag (reference :396-426)
    agg_rec = next(
        r for r in gm.fuzzy_search("ashland metro", num_results=20)
        if r["extra"]["is_aggregate"]
    )
    da = gm.get_shape_pair_distance(
        "us__tn__nashville_0", agg_rec["extra"]["reference_code"]
    )
    assert da["aggregate"] is True


def test_fuzzy_family(gm):
    res = gm.fuzzy_search("Nashville, TN", num_results=5)
    assert 0 < len(res) <= 5
    assert res[0]["clean_value"] == "nashville tn"
    assert res[0]["distance"] == 0
    assert {
        "id", "value", "clean_value", "ngram_similarity", "score", "distance",
        "extra",
    } <= set(res[0])
    # `extra` is the full shape record (reference geo_manager.py:573/605)
    assert res[0]["extra"]["reference_code"].startswith("us__")
    assert res[0]["extra"]["id"] == res[0]["id"]
    assert set(gm.shapes.columns) <= set(res[0]["extra"])
    assert res == sorted(res, key=lambda r: -r["score"])

    best = gm.best_fuzzy_search("Nashville, TN")
    assert best is not None and best["clean_value"] == "nashville tn"
    assert best["extra"]["geo_type"] == "City"
    assert gm.best_fuzzy_search("qqqxyzzy") is None

    filtered = gm.fuzzy_search(
        "Nashville", num_results=5, filters={"ref_data.state_prov": "TN"}
    )
    assert len(filtered) > 0


def test_fuzzy_payload_is_distance_and_shape_record(gm):
    """Every facade result carries the Damerau distance of the cleaned
    query to its clean_value (geo_manager.py:28-32) and, as `extra`, the
    shape record a point lookup returns (geo_manager.py:573/605)."""
    from yat_geo_db_spark.geo.fuzzy import clean_entity, geo_damerau_distance_py

    seen = set()
    for q in ("Nashvlile, TN", "ashland metro", "17919"):  # a transposition first
        for r in gm.fuzzy_search(q, num_results=5):
            assert list(r) == [
                "id", "value", "clean_value", "ngram_similarity", "score",
                "distance", "extra",
            ]
            assert r["distance"] == geo_damerau_distance_py(
                clean_entity(q), r["clean_value"]
            )
            assert r["extra"] == gm.get_shape_by_id(r["id"])
            seen.add((q, r["distance"]))
    assert ("Nashvlile, TN", 1) in seen


def test_add_entity_becomes_searchable(gm):
    gm.add_entity("Zzyzx Springs, CA", 999001)
    res = gm.fuzzy_search("Zzyzx Springs", num_results=3)
    assert any(r["id"] == 999001 for r in res)
    # the stored record keeps the reference's cleaned value for BOTH value
    # and clean_value (geo_manager.py:455-459)
    rec = gm.get_shape_by_id(999001)
    assert rec["value"] == rec["clean_value"] == "zzyzx springs ca"
    assert gm.num_shapes > 0


def test_add_entity_extra_dict_merges_payload(gm):
    """extra_entity is a dict merged into the stored record (reference
    geo_manager.py:459-460); payload fields land in the shape row and
    ngrams come only from the entity name."""
    gm.add_entity(
        "Dictville, KS",
        999003,
        extra_entity={
            "population": 12345,
            "geo_type": "City",
            "not_a_column": "dropped",
        },
    )
    rec = gm.get_shape_by_id(999003)
    assert rec["population"] == 12345
    assert rec["geo_type"] == "City"
    assert "not_a_column" not in rec
    # payload keys contribute no trigrams: population digits don't match
    assert not any(
        r["id"] == 999003 for r in gm.fuzzy_search("12345", num_results=10)
    )
    assert any(
        r["id"] == 999003 for r in gm.fuzzy_search("Dictville", num_results=5)
    )


def test_partition_scoped_fuzzy_search(spark):
    """F14: partition= scopes the search when partition_col is configured;
    unknown partitions return [] (reference geo_manager.py:545-547);
    without partition_col the argument is ignored (reference's own
    unpartitioned default, `assert not self.partitioned` :634)."""
    register_views(spark, "/root/testdata/sf0.001")
    gmp = GeoManager(
        spark, shapes=shapes_df(spark), partition_col="ref_data.state_prov"
    )
    assert "TN" in gmp.partitions
    res = gmp.fuzzy_search("Nashville", num_results=10, partition="TN")
    assert len(res) > 0
    assert all(r["extra"]["ref_data"]["state_prov"] == "TN" for r in res)
    assert gmp.fuzzy_search("Nashville", partition="ZZ") == []
    assert gmp.best_fuzzy_search("Nashville, TN", partition="ZZ") is None
    best = gmp.best_fuzzy_search("Nashville, TN", partition="TN")
    assert best is not None and best["extra"]["ref_data"]["state_prov"] == "TN"


def test_load_data_roundtrip_and_compaction(spark, tmp_path):
    """S1-S4 through the facade: a manager serving from the written layout
    answers identically to one serving the in-memory fixture; after
    incremental add_entity upserts, compact_shapes rewrites the store and
    the upserted rows survive the reload."""
    from yat_geo_db_spark.geo.ingest import compact_shapes, write_shapes

    register_views(spark, "/root/testdata/sf0.001")
    root = str(tmp_path / "store")
    write_shapes(shapes_df(spark), root, version="7")

    gml = GeoManager(spark).load_data(root, version="7")
    assert gml.num_shapes == shapes_df(spark).count()
    direct = GeoManager(spark, shapes=shapes_df(spark))
    ref = "us__tn__nashville_0"
    assert gml.get_shape_by_ref_code(ref) == direct.get_shape_by_ref_code(ref)
    assert [r["id"] for r in gml.fuzzy_search("Nashville, TN", num_results=5)] == [
        r["id"] for r in direct.fuzzy_search("Nashville, TN", num_results=5)
    ]

    n0 = gml.num_shapes
    gml.add_entity("Compactown, KS", 999100)
    out = compact_shapes(gml, root, version="8")
    assert out.endswith("v=8/shapes")
    assert gml.num_shapes == n0 + 1
    assert gml.get_shape_by_id(999100)["clean_value"] == "compactown ks"
    assert any(
        r["id"] == 999100 for r in gml.fuzzy_search("Compactown", num_results=5)
    )


def test_unloaded_manager_raises_runtime_error(spark):
    gm3 = GeoManager(spark)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="load_data"):
        gm3.get_shape_by_ref_code("us__tn__nashville_0")


def test_preload_lookup_cache_serving_mode(spark):
    import time

    register_views(spark, "/root/testdata/sf0.001")
    gm2 = GeoManager(spark, shapes=shapes_df(spark))
    cold = gm2.get_shape_by_ref_code("us__tn__nashville_0")
    gm2.preload_lookup_cache()
    hot = gm2.get_shape_by_ref_code("us__tn__nashville_0")
    assert hot == cold                      # identical record either path
    assert gm2.get_shape_by_id(cold["id"]) == cold
    assert gm2.get_shape_by_ref_code("zz__nope") is None

    t0 = time.time()
    for _ in range(200):
        gm2.get_shape_by_ref_code("us__tn__nashville_0")
    assert time.time() - t0 < 0.5           # dict-get latency, no Spark jobs

    gm2.add_entity("Cacheville, KS", 999002)
    assert gm2._lookup_cache is None        # mutation invalidates the cache
    assert gm2.get_shape_by_id(999002) is not None


def test_add_entity_upsert_replaces_existing_id(spark):
    """Re-adding an id REPLACES the record (the reference's dict assignment,
    geo_manager.py:461): one shape row survives, lookups are unambiguous,
    fuzzy results don't fan out past num_results, and the OLD postings are
    gone (searching the old name no longer finds the id)."""
    register_views(spark, "/root/testdata/sf0.001")
    gmu = GeoManager(spark, shapes=shapes_df(spark))
    gmu.add_entity("Upserton Old, KS", 999200)
    assert any(
        r["id"] == 999200 for r in gmu.fuzzy_search("Upserton Old", num_results=5)
    )
    gmu.add_entity("Replaceville New, OR", 999200)
    # exactly one row for the id — and it is the NEW record
    assert gmu.shapes.filter("id = 999200").count() == 1
    assert gmu.get_shape_by_id(999200)["clean_value"] == "replaceville new or"
    # old postings removed: the old name no longer reaches the id
    assert not any(
        r["id"] == 999200 for r in gmu.fuzzy_search("Upserton Old", num_results=10)
    )
    res = gmu.fuzzy_search("Replaceville New", num_results=5)
    assert [r["id"] for r in res].count(999200) == 1


def _no_python_rows(df) -> bool:
    """True when the optimized plan reads no rows shipped from Python:
    `createDataFrame` over a list leaves a `LogicalRDD` (a `Scan
    ExistingRDD` once cached), whose rows Python workers serialize."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "LogicalRDD" not in plan and "ExistingRDD" not in plan


@pytest.fixture(scope="module")
def five_writes(spark, shapes):
    """A fresh manager after five upserts, each read back, with the count of
    persisted RDDs before the writes and after each, and the partition count
    of `shapes` after each."""
    gmw = GeoManager(spark, shapes=shapes)
    assert gmw.get_shape_by_ref_code("us__tn__nashville_0") is not None
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    persisted, parts = [], []
    for i in range(5):
        gmw.add_entity(f"Flatwrite {i}, KS", 999400 + i)
        assert gmw.get_shape_by_id(999400 + i)["clean_value"] == f"flatwrite {i} ks"
        persisted.append(jsc.getPersistentRDDs().size())
        parts.append(gmw.shapes._jdf.rdd().getNumPartitions())
    return gmw, before, persisted, parts


def test_add_entity_persists_one_delta(five_writes):
    """Upserts go to one small cached delta beside the cached base: at most
    one more relation stays persisted however many writes there are."""
    _, before, persisted, _ = five_writes
    assert max(persisted) <= before + 1, (before, persisted)


def test_add_entity_partition_count_flat(five_writes):
    """Every read after a write scans the base and one delta partition."""
    parts = five_writes[3]
    assert len(set(parts)) == 1, parts


def test_written_shapes_read_no_python_rows(shapes, five_writes):
    """After the writes, `shapes` holds every row and its plan reads none
    shipped from Python."""
    gmw = five_writes[0]
    assert gmw.num_shapes == shapes.count() + 5
    assert _no_python_rows(gmw.shapes)


def test_pair_frame_reads_no_python_rows(gm, monkeypatch):
    """The one-row `pairs` frame of `get_shape_pair_distance` is built in
    the JVM, so the call starts no Python worker."""
    from yat_geo_db_spark.geo import radius

    frames = []
    real = radius.pair_distances

    def spy(shapes, pairs, *args, **kwargs):
        frames.append(real(shapes, pairs, *args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(radius, "pair_distances", spy)
    d = gm.get_shape_pair_distance("us__tn__nashville_0", "us__tn__nashville_0")
    assert d["distance"] == 0.0
    assert len(frames) == 1 and _no_python_rows(frames[0])


def test_add_entity_wrong_type_raises_at_call(spark, shapes):
    """A wrongly typed `extra_entity` field fails at the call, before any
    state changes, with the TypeError `createDataFrame` raises."""
    gmt = GeoManager(spark, shapes=shapes)
    with pytest.raises(TypeError):
        gmt.add_entity("Typo Town", 999500, extra_entity={"population": "many"})
    assert gmt.get_shape_by_id(999500) is None
    assert gmt.num_shapes == shapes.count()


def test_add_entity_upsert_within_delta_keeps_newest(spark, shapes):
    """Re-adding an id that already sits in the delta leaves one row, the
    newest; upserting a base id hides the base row."""
    import pyspark.sql.functions as F

    gmd = GeoManager(spark, shapes=shapes)
    base_id = gmd.get_shape_id_by_ref_code("us__tn__nashville_0")
    gmd.add_entity("Deltaton First, KS", 999600)
    gmd.add_entity("Other Place, KS", 999601)
    gmd.add_entity("Deltaton Second, KS", 999600, extra_entity={"population": 7})
    gmd.add_entity("Nashville Replaced, TN", base_id)
    rows = gmd.shapes.filter(F.col("id").isin(999600, base_id)).collect()
    assert sorted((r["id"], r["clean_value"], r["population"]) for r in rows) == sorted(
        [(999600, "deltaton second ks", 7), (base_id, "nashville replaced tn", 0)]
    )
    assert gmd.num_shapes == shapes.count() + 2
    assert gmd.get_shape_by_ref_code("us__tn__nashville_0") is None


def test_add_entity_partition_routing(spark):
    """F10+F14 (reference geo_manager.py:463-472): `partition=` routes the
    record into that partition's sub-index — found when searching that
    partition, absent from other partitions; unpartitioned managers reject
    the argument instead of silently ignoring it."""
    register_views(spark, "/root/testdata/sf0.001")
    gmp = GeoManager(
        spark, shapes=shapes_df(spark), partition_col="ref_data.state_prov"
    )
    gmp.add_entity("Routetown Junction", 999300, partition="TN")
    assert gmp.get_shape_by_id(999300)["ref_data"]["state_prov"] == "TN"
    assert any(
        r["id"] == 999300
        for r in gmp.fuzzy_search("Routetown Junction", partition="TN")
    )
    other = next(p for p in sorted(gmp.partitions) if p != "TN")
    assert not any(
        r["id"] == 999300
        for r in gmp.fuzzy_search("Routetown Junction", partition=other)
    )
    # unpartitioned manager: explicit partition must raise, not no-op
    gm_flat = GeoManager(spark, shapes=shapes_df(spark))
    with pytest.raises(ValueError, match="partition_col"):
        gm_flat.add_entity("Nowhere", 999301, partition="TN")


def test_scalar_scoring_and_helper_parity(spark, gm):
    """F7/F8/F9 scalar facade methods match the reference formulas, and the
    scalar F8/F9 agree with the Column-expression twins used in search."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.geo.fuzzy import entity_fuzzy_score_col

    # F7: counts of repeated trigrams, cleaning strips non-alnum AND spaces
    cnt = gm.clean_ngram_cnt("ab-ab'aB")  # cleans to "ababab"
    assert cnt == {"aba": 2, "bab": 2}

    # F8 scalar == Column twin on a handful of strings
    pairs = [("nashville", "nashville metro"), ("nash", "nashville"),
             ("york", "new york"), ("", "x"), ("abc", "")]
    df = spark.createDataFrame([(s,) for _, s in pairs], "source string")
    for q, s in pairs:
        col_val = (
            spark.createDataFrame([(s,)], "source string")
            .select(entity_fuzzy_score_col(q, F.col("source")).alias("v"))
            .first()["v"]
        )
        assert abs(gm.entity_fuzzy_score(q, s) - col_val) < 1e-9, (q, s)

    # F9: zip mode splits on first token; weak scores skip the pop boost
    import math
    s_num = gm.geo_search_score("37203", "37203 nashville", 0)
    assert abs(s_num - gm.entity_fuzzy_score("37203", "37203") * 0.9) < 1e-9
    strong = gm.entity_fuzzy_score("nashville", "nashville")
    assert abs(
        gm.geo_search_score("nashville", "nashville", 1000)
        - (strong * 0.9 + math.log(1000) * 0.1)
    ) < 1e-9

    # R3 id-list facade: subset relation vs the full search, same ids
    ids = gm.get_radius_lat_lng_shape_ids(29.139, -121.949, 150.0)
    assert ids
    full = gm.radius_lat_lng_search(29.139, -121.949, 150.0)
    assert {r["id"] for r in full} <= set(ids)  # R4 excludes aggregates

    # S4 path convention
    assert gm.get_base_url().rstrip("/").endswith("v=current")
    assert "v=2024" in gm.get_base_url(version="2024", root="/tmp/store")
