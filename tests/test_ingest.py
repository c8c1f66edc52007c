"""Ingest path (S1-S5): JSON with wire-format string lat/lng/bbox →
normalized, sorted Parquet; postings materialization."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from yat_geo_db_spark.geo.fuzzy import ngrams_list
from yat_geo_db_spark.geo.ingest import (
    ingest_shapes_json,
    materialize_postings,
    read_shapes,
    versioned_path,
)

RECORD = {
    "value": "Nashville, TN",
    "clean_value": "nashville tn",
    "id": 1,
    "reference_code": "us__tn__nashville",
    "latitude": "36.174465",          # wire format: strings (reference
    "longitude": "-86.767960",        # geo_manager.py:654-659)
    "bbox": {
        "ll_latitude": "35.9",
        "ur_latitude": "36.4",
        "ll_longitude": "-87.1",
        "ur_longitude": "-86.5",
    },
    "area": 525.94,
    "geo_type": "City",
    "ref_data": {
        "city": "nashville", "country": "US", "zip_code": None,
        "state_prov": "TN", "metro": None, "metro_size": None,
    },
    "population": 715884,
    "is_aggregate": True,
    "is_zip_code": False,
    "is_three_digit_zip_code": False,
    "long_display": "Nashville, TN (City)",
    "short_display": "nashville",
    "primary_timezone": "America/Chicago",
    "related_shape_id": None,
    "primary_source": None,
    "primary_source_id": None,
}


def _write_json(tmp_path, records):
    p = tmp_path / "shapes.json"
    p.write_text("\n".join(json.dumps(r) for r in records))
    return str(p)


def test_ingest_casts_and_versioned_layout(spark, tmp_path):
    rec2 = dict(RECORD, id=2, reference_code="us__tn__memphis", value="Memphis, TN",
                clean_value=None, latitude="35.15", longitude="-90.05",
                is_aggregate=None, population=None, area=None)
    path = _write_json(tmp_path, [RECORD, rec2])
    root = str(tmp_path / "db")
    out = ingest_shapes_json(spark, path, root, version="7")
    assert out == versioned_path(root, "7", "shapes")

    got = read_shapes(spark, root, version="7")
    row = {r["reference_code"]: r for r in got.collect()}
    nash = row["us__tn__nashville"]
    assert isinstance(nash["latitude"], float) and nash["latitude"] == 36.174465
    assert nash["bbox"]["ur_longitude"] == -86.5
    mem = row["us__tn__memphis"]
    assert mem["clean_value"] == "memphis tn"  # derived via clean_entity_col
    assert mem["is_aggregate"] is False and mem["population"] == 0 and mem["area"] == 0.0


def test_fuzzy_over_materialized_postings(spark, shapes, tmp_path):
    """The persisted inverted index must give identical fuzzy results to the
    on-the-fly explode (same pipeline, different source for the probe)."""
    from yat_geo_db_spark.geo.fuzzy import fuzzy_search

    out = materialize_postings(spark, shapes, str(tmp_path / "db"), buckets=8)
    postings = spark.read.parquet(out)
    via_index = fuzzy_search(shapes, "Nashville, TN", 10, postings=postings)
    on_the_fly = fuzzy_search(shapes, "Nashville, TN", 10)
    assert sorted(map(tuple, via_index.collect())) == sorted(
        map(tuple, on_the_fly.collect())
    )


def test_postings_materialize(spark, tmp_path):
    path = _write_json(tmp_path, [RECORD])
    root = str(tmp_path / "db")
    ingest_shapes_json(spark, path, root, version="7")
    shapes = read_shapes(spark, root, version="7")

    out = materialize_postings(spark, shapes, root, version="7", buckets=4)
    postings = spark.read.parquet(out)
    grams = [r["ngram"] for r in postings.collect()]
    assert sorted(grams) == sorted(ngrams_list("nashville tn"))


def test_fuzzy_on_materialized_postings_matches_on_the_fly(spark, tmp_path):
    """Production path: fuzzy_search over the persisted bucketed postings
    table must return exactly the on-the-fly result, and the query's
    trigram probe must push down into the postings scan."""
    from yat_geo_db_spark.geo.fixture import shapes_df
    from yat_geo_db_spark.geo.fuzzy import fuzzy_search
    from yat_geo_db_spark.geo.ingest import materialize_postings
    from yat_geo_db_spark.testdata import register_views

    register_views(spark, "/root/testdata/sf0.001", tables=("customer",))
    shapes = shapes_df(spark)
    root = str(tmp_path / "db")
    out = materialize_postings(spark, shapes, root, version="1", buckets=8)
    persisted = spark.read.parquet(out)

    live = fuzzy_search(shapes, "Nashville, TN", num_results=5)
    indexed = fuzzy_search(shapes, "Nashville, TN", num_results=5,
                           postings=persisted)
    assert [tuple(r) for r in live.collect()] == [
        tuple(r) for r in indexed.collect()
    ]

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    # the isin(q_grams) probe reaches the postings parquet scan
    assert "PushedFilters: [In(ngram" in plan


def test_partition_scoped_fuzzy_prunes_partitions(spark, shapes, tmp_path):
    """F14 (reference geo_manager.py:544-580): a partition-scoped search on
    the partitionBy layout must (a) equal the same search over a pre-filtered
    DataFrame and (b) prune at the partition-directory level."""
    from yat_geo_db_spark.geo.fuzzy import fuzzy_search
    from yat_geo_db_spark.geo.ingest import write_shapes_partitioned

    out = write_shapes_partitioned(
        shapes, str(tmp_path / "db"), "ref_data.state_prov", version="1"
    )
    part = spark.read.parquet(out)

    scoped = fuzzy_search(part, "Nashville, TN", 10, partition=("partition", "TN"))
    expected = fuzzy_search(
        shapes.filter(F.col("ref_data.state_prov") == "TN"), "Nashville, TN", 10
    )
    # `extra` differs by the layout's `partition` column; the distance
    # payload follows from clean_value
    cols = ["id", "value", "clean_value", "ngram_similarity", "score"]
    assert [tuple(r) for r in scoped.select(cols).collect()] == [
        tuple(r) for r in expected.select(cols).collect()
    ]

    import re

    plan = scoped._jdf.queryExecution().executedPlan().toString()
    # the scan carries directory-level PartitionFilters pinned to TN
    assert re.search(
        r"PartitionFilters: \[[^\]]*partition#\d+ = TN\)", plan
    ), plan[:2000]


def test_gzip_json_ingest_roundtrip(spark, tmp_path):
    """Reference load_data reads gzip'd JSON (compressed=True path,
    geo_manager.py:724-749); Spark's text source decompresses .json.gz
    natively — the ingested table must be identical to the plain-JSON one."""
    import gzip

    rec2 = dict(
        RECORD, id=2, reference_code="us__tn__memphis", value="Memphis, TN",
        clean_value=None, latitude="35.15", longitude="-90.05",
    )
    payload = "\n".join(json.dumps(r) for r in [RECORD, rec2])
    plain = tmp_path / "shapes.json"
    plain.write_text(payload)
    gz = tmp_path / "shapes.json.gz"
    with gzip.open(gz, "wt") as f:
        f.write(payload)

    root_a, root_b = str(tmp_path / "db_plain"), str(tmp_path / "db_gz")
    ingest_shapes_json(spark, str(plain), root_a, version="1")
    ingest_shapes_json(spark, str(gz), root_b, version="1")
    a = sorted(map(tuple, read_shapes(spark, root_a, version="1").collect()))
    b = sorted(map(tuple, read_shapes(spark, root_b, version="1").collect()))
    assert a == b and len(a) == 2


def test_jsonl_ingest_quarantines_dirty_lines(spark, tmp_path):
    """PERMISSIVE JSONL ingest: well-formed docs parse clean; malformed
    JSON and rows missing required keys quarantine with their raw line
    preserved; the job never fails."""
    from yat_geo_db_spark.pipelines.curation import read_documents_jsonl

    src = tmp_path / "docs.jsonl"
    src.write_text(
        "\n".join(
            [
                '{"doc_id": 1, "text": "good one", "lang": "en", "source": "s0"}',
                '{"doc_id": 2, "text": "also fine", "lang": "de", "source": "s1"}',
                "{not json at all",
                '{"doc_id": 3, "lang": "en", "source": "s0"}',
                '{"doc_id": 4, "text": "trailing ok", "lang": "fr", "source": "s2"}',
            ]
        )
    )
    clean, quarantine = read_documents_jsonl(spark, str(src))
    got = sorted(r["doc_id"] for r in clean.collect())
    assert got == [1, 2, 4]
    assert "_corrupt_record" not in clean.columns
    qlines = [r["raw_line"] for r in quarantine.collect()]
    assert len(qlines) == 2
    assert any("not json" in (l or "") for l in qlines)      # malformed
    assert any('"doc_id":3' in (l or "").replace(" ", "") for l in qlines)  # missing text


def test_force_db_fetch_remote_flow_parity(spark, tmp_path):
    """S1 remote branch (reference load_data, geo_manager.py:697-763):
    fetch (gz'd) dumps from a store prefix via the pluggable opener
    (file:// here — the sandbox has no network), ingest, cache as the
    versioned Parquet layout, and serve identically on the cache-hit
    reload. cache_local=False must serve WITHOUT writing the cache."""
    import gzip
    import os

    from yat_geo_db_spark.geo.ingest import (
        SEARCH_FILE_NAME,
        SHAPE_FILE_NAME,
    )
    from yat_geo_db_spark.manager import GeoManager

    rec2 = dict(RECORD, id=2, reference_code="us__tn__memphis",
                value="Memphis, TN", clean_value="memphis tn",
                latitude="35.15", longitude="-90.05")
    store = tmp_path / "remote_store"
    store.mkdir()
    payload = "\n".join(json.dumps(r) for r in [RECORD, rec2])
    (store / (SHAPE_FILE_NAME + ".gz")).write_bytes(
        gzip.compress(payload.encode())
    )
    (store / (SEARCH_FILE_NAME + ".gz")).write_bytes(
        gzip.compress(b'{"nas": {"1": 1}}')
    )
    base_url = f"file://{store}/"
    root = str(tmp_path / "cache_root")

    m = GeoManager(spark).load_data(
        root, version="9", force_db_fetch=True, compressed=True,
        base_url=base_url,
    )
    assert m.num_shapes == 2
    assert m.get_shape_by_ref_code("us__tn__memphis")["latitude"] == 35.15
    # cache was written: a fresh manager serves the LOCAL branch
    assert os.path.exists(os.path.join(root, "v=9", "shapes"))
    m2 = GeoManager(spark).load_data(root, version="9")
    assert m2.num_shapes == 2

    # cache_local=False: served from the fetched JSON, no parquet written
    root2 = str(tmp_path / "nocache_root")
    m3 = GeoManager(spark).load_data(
        root2, version="9", force_db_fetch=True, compressed=True,
        cache_local=False, base_url=base_url,
    )
    assert m3.num_shapes == 2
    assert not os.path.exists(os.path.join(root2, "v=9", "shapes"))

    # no base_url with force_db_fetch: loud, actionable failure
    import pytest as _pytest
    with _pytest.raises(ValueError, match="base_url"):
        GeoManager(spark).load_data(root, version="9", force_db_fetch=True)


def test_nocache_staging_dirs_are_reaped(spark, tmp_path):
    """cache_local=False stages fetched dumps in a tempdir; repeated
    no-cache loads must not leak one tempdir per load — the NEWER load
    reaps the previous dir (its DataFrame was just replaced) and the
    last dir is registered for atexit cleanup."""
    import gzip
    import os

    from yat_geo_db_spark.geo.ingest import (
        SEARCH_FILE_NAME,
        SHAPE_FILE_NAME,
    )
    from yat_geo_db_spark.manager import GeoManager

    store = tmp_path / "remote_store"
    store.mkdir()
    (store / (SHAPE_FILE_NAME + ".gz")).write_bytes(
        gzip.compress(json.dumps(RECORD).encode())
    )
    (store / (SEARCH_FILE_NAME + ".gz")).write_bytes(
        gzip.compress(b"{}")
    )
    base_url = f"file://{store}/"
    root = str(tmp_path / "nocache_root")

    m = GeoManager(spark)
    kwargs = dict(
        version="9", force_db_fetch=True, compressed=True,
        cache_local=False, base_url=base_url,
    )
    m.load_data(root, **kwargs)
    first = m._nocache_staging
    assert first is not None and os.path.isdir(first)
    m.load_data(root, **kwargs)
    second = m._nocache_staging
    assert second is not None and os.path.isdir(second)
    assert first != second
    assert not os.path.exists(first)  # reaped by the newer load
    assert m.num_shapes == 1  # still served from the live staging dir
