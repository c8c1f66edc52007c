"""Sources & sinks for the geo dataset (reference load_data family,
geo_manager.py:671-763).

The reference fetches two flat JSON files (optionally gzip'd) from a
versioned object store and caches them on disk. Spark-first equivalent:

- ingest: `spark.read.json` with an EXPLICIT schema + cast normalization
  (the reference force-casts string lat/lng/bbox at load,
  geo_manager.py:654-659 & 180-182 — so casts belong to ingest, not query),
- storage: versioned Parquet layout `<root>/v=<version>/shapes/`,
  written sorted by `reference_code` so point lookups prune to one
  row-group, and the derived `postings` table bucketed by `ngram` so fuzzy
  probes touch only matching buckets,
- cache-hit path: plain `spark.read.parquet`.

gzip JSON is handled natively by Spark's text datasource. The reference's
remote-fetch branch (force_db_fetch → requests.get → optional gunzip →
cache) is `fetch_shape_files`: a pluggable `opener(url) -> bytes` (stdlib
urllib default — http(s):// and file://) stages the dumps locally before
the same ingest; at real scale prefer mounting the object store (S3A) and
reading directly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T

from yat_geo_db_spark.geo.fuzzy import build_postings, clean_entity_col

#: Raw JSON schema — everything the wire format may send as strings
#: (README.md:81-106); normalization casts happen in `normalize_shapes`.
RAW_SHAPE_SCHEMA = T.StructType(
    [
        T.StructField("value", T.StringType()),
        T.StructField("clean_value", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("reference_code", T.StringType()),
        T.StructField("latitude", T.StringType()),
        T.StructField("longitude", T.StringType()),
        T.StructField(
            "bbox",
            T.StructType(
                [
                    T.StructField("ll_latitude", T.StringType()),
                    T.StructField("ur_latitude", T.StringType()),
                    T.StructField("ll_longitude", T.StringType()),
                    T.StructField("ur_longitude", T.StringType()),
                ]
            ),
        ),
        T.StructField("area", T.DoubleType()),
        T.StructField("geo_type", T.StringType()),
        T.StructField(
            "ref_data",
            T.StructType(
                [
                    T.StructField("city", T.StringType()),
                    T.StructField("country", T.StringType()),
                    T.StructField("zip_code", T.StringType()),
                    T.StructField("state_prov", T.StringType()),
                    T.StructField("metro", T.StringType()),
                    T.StructField("metro_size", T.IntegerType()),
                ]
            ),
        ),
        T.StructField("population", T.LongType()),
        T.StructField("is_aggregate", T.BooleanType()),
        T.StructField("is_zip_code", T.BooleanType()),
        T.StructField("is_three_digit_zip_code", T.BooleanType()),
        T.StructField("long_display", T.StringType()),
        T.StructField("short_display", T.StringType()),
        T.StructField("primary_timezone", T.StringType()),
        T.StructField("related_shape_id", T.LongType()),
        T.StructField("primary_source", T.StringType()),
        T.StructField("primary_source_id", T.LongType()),
    ]
)


def normalize_shapes(raw: DataFrame) -> DataFrame:
    """Ingest-time normalization: float casts for lat/lng/bbox
    (geo_manager.py:654-659, 180-182), defaulted flags, derived clean_value
    when absent (add_entity cleans on insert, geo_manager.py:455)."""
    bbox = F.struct(
        *[
            F.coalesce(F.col(f"bbox.{f}").cast("double"), F.lit(None).cast("double")).alias(f)
            for f in ("ll_latitude", "ur_latitude", "ll_longitude", "ur_longitude")
        ]
    )
    return (
        raw.withColumn("latitude", F.col("latitude").cast("double"))
        .withColumn("longitude", F.col("longitude").cast("double"))
        .withColumn("bbox", bbox)
        .withColumn("is_aggregate", F.coalesce("is_aggregate", F.lit(False)))
        .withColumn("population", F.coalesce("population", F.lit(0)))
        .withColumn("area", F.coalesce("area", F.lit(0.0)))
        .withColumn(
            "clean_value",
            F.coalesce("clean_value", clean_entity_col(F.col("value"))),
        )
    )


#: canonical dump names (reference load_data, geo_manager.py:696-703)
SEARCH_FILE_NAME = "geo_manager_ngram_search.json"
SHAPE_FILE_NAME = "geo_manager_shape.json"


def fetch_shape_files(
    base_url: str,
    dest_dir: str,
    compressed: bool = False,
    opener=None,
) -> tuple[str | None, str]:
    """S1 remote-fetch branch (reference load_data with force_db_fetch,
    geo_manager.py:697-756): download the two JSON dumps from the
    versioned store prefix, transparently gunzip when `compressed`, and
    stage the DECOMPRESSED files in `dest_dir` under their canonical
    names, ready for `ingest_shapes_json`.

    `opener(url) -> bytes` is pluggable; the default is stdlib
    urllib.request.urlopen (http(s)://, and file:// — which is what the
    no-network test environment exercises; the reference uses `requests`).
    A failed SHAPES fetch raises ValueError naming the file (mirror of
    the reference's status-code guard). The SEARCH dump is best-effort —
    the engine re-derives its ngram index from the shapes (build_postings)
    and never deserializes search_dict, so a store that publishes only
    the shapes dump still loads (documented divergence; the reference
    hard-requires both). Returns (search_path_or_None, shape_path)."""
    import gzip as _gzip
    import urllib.request

    if opener is None:
        def opener(url: str) -> bytes:  # noqa: F811 — intentional default
            with urllib.request.urlopen(url) as resp:
                return resp.read()

    os.makedirs(dest_dir, exist_ok=True)

    def _fetch_one(name: str) -> str:
        url = f"{base_url}{name}{'.gz' if compressed else ''}"
        try:
            blob = opener(url)
        except Exception as exc:
            raise ValueError(f"Unable to load {name} reason={exc}") from exc
        if compressed:
            blob = _gzip.decompress(blob)
        path = os.path.join(dest_dir, name)
        with open(path, "wb") as f:
            f.write(blob)
        return path

    try:
        search_path = _fetch_one(SEARCH_FILE_NAME)
    except ValueError:
        search_path = None  # audit-parity only; postings derive from shapes
    return search_path, _fetch_one(SHAPE_FILE_NAME)


def versioned_path(root: str, version: str | None, table: str) -> str:
    """S4 (geo_manager.py:671-675): version-addressed layout; `current` when
    unversioned."""
    return os.path.join(root, f"v={version or 'current'}", table)


def write_shapes(shapes: DataFrame, root: str, version: str | None = None) -> str:
    """S3: persist an already-typed shapes DataFrame in the engine's layout —
    range-partitioned and sorted by reference_code, so point gets prune to
    one row-group via Parquet min/max stats and the PK filter reaches the
    scan as a PushedFilter."""
    out = versioned_path(root, version, "shapes")
    spark = shapes.sparkSession
    (
        shapes.repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 1), "reference_code"
        )
        .sortWithinPartitions("reference_code")
        .write.mode("overwrite")
        # bound file size independently of executor count: a skewed range
        # partition at 100 TB otherwise produces one multi-GB file whose
        # row groups blow the scan-side memory budget
        .option("maxRecordsPerFile", 5_000_000)
        .parquet(out)
    )
    return out


def ingest_shapes_json(
    spark: SparkSession, json_path: str, root: str, version: str | None = None
) -> str:
    """S1/S3 (geo_manager.py:677-763): JSON (possibly .gz) → normalized,
    sorted Parquet. Returns the shapes dataset path.

    Sort by reference_code gives Parquet min/max pruning for point gets;
    `maxRecordsPerFile` keeps row-groups bounded at large scale.
    """
    raw = spark.read.schema(RAW_SHAPE_SCHEMA).json(json_path)
    return write_shapes(normalize_shapes(raw), root, version)


def materialize_postings(
    spark: SparkSession, shapes: DataFrame, root: str, version: str | None = None,
    buckets: int = 64, table_name: str | None = None,
) -> str:
    """Persist the inverted trigram index. Bucketing by `ngram` co-locates
    each posting list so a fuzzy probe reads only the buckets its query
    grams hash to, and repeated probes join without a shuffle. Falls back to
    ngram-hash-partitioned parquet when no catalog is available."""
    out = versioned_path(root, version, "postings")
    postings = build_postings(shapes)
    if table_name:
        (
            postings.write.mode("overwrite")
            .bucketBy(buckets, "ngram")
            .sortBy("ngram")
            .option("path", out)
            .saveAsTable(table_name)
        )
    else:
        postings.repartition(buckets, "ngram").write.mode("overwrite").parquet(out)
    return out


def read_shapes(spark: SparkSession, root: str, version: str | None = None) -> DataFrame:
    """S2 cache-hit path (geo_manager.py:706-720)."""
    return spark.read.parquet(versioned_path(root, version, "shapes"))


def compact_shapes(
    manager, root: str, version: str | None = None
) -> str:
    """Compaction for the incremental upsert path: `GeoManager.add_entity`
    keeps its upserts in a delta beside the cached base relation (a driver
    dict plus one cached one-partition relation, rebuilt on each write), so
    a write costs in proportion to the delta size, and every read scans the
    base with the delta's ids filtered out plus the delta. Compacting
    writes the CURRENT relation back as the sorted Parquet layout (one
    range-partitioned, reference_code-sorted dataset — the same layout
    ingest produces) and reloads the manager from it, which makes it the
    new base and empties the delta: point gets regain row-group pruning and
    the plan resets to a single scan. The Delta/Iceberg OPTIMIZE analog for
    this engine's plain-Parquet store."""
    out = write_shapes(manager.shapes, root, version)
    manager.load_data(root, version)
    return out


def write_shapes_partitioned(
    shapes: DataFrame, root: str, partition_expr: str,
    version: str | None = None, partition_name: str = "partition",
) -> str:
    """F14 storage layout (reference's scaffolded-but-disabled partitions,
    geo_manager.py:629-644): shapes written `partitionBy` a derived
    top-level partition column, so a partition-scoped fuzzy/radius query is
    directory-level partition pruning — the scan never opens other
    partitions' files. Within each partition the sort by reference_code
    keeps point-lookup row-group pruning."""
    out = versioned_path(root, version, "shapes_partitioned")
    (
        shapes.withColumn(partition_name, F.expr(partition_expr))
        .repartition(partition_name)
        .sortWithinPartitions(partition_name, "reference_code")
        .write.mode("overwrite")
        .partitionBy(partition_name)
        .parquet(out)
    )
    return out
