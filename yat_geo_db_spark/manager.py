"""`GeoManager` — a drop-in-style facade mirroring the reference API.

The reference exposes everything through one `GeoManager` object
(geo_manager.py:623-763 for load/state, ShapeManager :60-165 and
GeoShapeSearchManager :237-619 for queries). A user switching engines keeps
their call sites: method names, parameters, and return shapes (dicts /
lists of dicts / scalars) match the reference — while every query body is
the distributed DataFrame pipeline from `geo/` underneath. Only final
results are collected to the driver (point lookups = one row, searches =
top-k), so the same facade works whether `shapes` is 60 k rows or 6 B.

Intentional divergences (all documented in SURVEY.md §2/§7):
- `load_data`'s local cache is the engine's Parquet layout (versioned
  directories, `geo.ingest`) instead of raw JSON files; the remote
  branch (`force_db_fetch` / `cache_local` / `compressed`) fetches the
  reference's two JSON dumps via a pluggable opener and ingests them
  (geo.ingest.fetch_shape_files) — the ngram search index is re-derived
  from shapes rather than deserialized from the search dump.
- `partition` arguments are accepted but only the default (unpartitioned)
  store is served, matching the reference's own hard-disabled partitioning
  (`assert not self.partitioned`, geo_manager.py:634).
- The fuzzy `distance` field uses the same Damerau-Levenshtein definition
  (geo_manager.py:28-32), computed in the driver on the collected top-k
  rows; the `extra` record rides through the search pipeline itself.
"""

from __future__ import annotations

import datetime as _dt
import weakref
from typing import Dict, List, Optional, Union

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql.types import _make_type_verifier

from yat_geo_db_spark.geo import fuzzy as _fuzzy
from yat_geo_db_spark.geo import ingest as _ingest
from yat_geo_db_spark.geo import lookup as _lookup
from yat_geo_db_spark.geo import radius as _radius
from yat_geo_db_spark.session import literal_frame

_MISSING_PAIR = {"distance": 999, "normalized_distance": 999, "aggregate": False}
_PAIR_SCHEMA = T.StructType(
    [T.StructField("orig_ref", T.StringType()), T.StructField("dest_ref", T.StringType())]
)
#: the typed radius-view projection of a shape record (geo_manager.py:220-235)
_RADIUS_VIEW = (
    "id", "reference_code", "latitude", "longitude", "area", "is_aggregate", "bbox",
)


def _nullable_schema(schema):
    """Recursively nullable copy of a StructType — an upserted row leaves
    unspecified fields NULL even where the base relation is non-nullable
    (union relaxes the merged schema to nullable)."""
    def _nullable_type(dt):
        if isinstance(dt, T.StructType):
            return T.StructType(
                [T.StructField(f.name, _nullable_type(f.dataType), True) for f in dt]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(_nullable_type(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(dt.keyType, _nullable_type(dt.valueType), True)
        return dt

    return _nullable_type(schema)


class GeoManager:
    """Reference-API facade over the Spark-native engine.

    Construct with a SparkSession and either call :meth:`load_data` (Parquet
    layout root) or pass a ready `shapes` DataFrame (e.g. the test fixture's
    `geo.fixture.shapes_df`)."""

    def __init__(
        self,
        spark: SparkSession,
        shapes: DataFrame | None = None,
        partition_col: str | None = None,
    ):
        self.spark = spark
        self._shapes: DataFrame | None = None
        self._postings: DataFrame | None = None
        #: the cached base relation, the upserts since it was installed
        #: (id -> record) and the finalizer that unpersists their cached
        #: one-partition relation, when the next one replaces it or when
        #: this manager is collected
        self._base: DataFrame | None = None
        self._delta: dict = {}
        self._release_delta: weakref.finalize | None = None
        # initialized here (not only in _set_shapes) so lookups on an unloaded
        # manager raise the intended RuntimeError from the `shapes` property
        # instead of AttributeError
        self._lookup_cache: dict | None = None
        #: F14: when set, `partition=` arguments scope fuzzy searches to
        #: `shapes[partition_col] == partition` BEFORE candidate generation
        #: (the reference's per-partition sub-index, geo_manager.py:544-580).
        #: None keeps the reference's own default: partitioning disabled
        #: (`assert not self.partitioned`, geo_manager.py:634).
        self.partition_col = partition_col
        self._partitions: set | None = None
        #: staging tempdir of the CURRENT no-cache load (cache_local=False);
        #: reaped when a newer load replaces it and at interpreter exit —
        #: without this, repeated no-cache loads leak one tempdir each for
        #: the process lifetime
        self._nocache_staging: str | None = None
        if shapes is not None:
            self._set_shapes(shapes)

    def _swap_nocache_staging(self, staging: str | None) -> None:
        """Adopt `staging` as the live no-cache staging dir, deleting the
        previous one (its DataFrame was just replaced; only the pinned
        Spark cache referenced those files — an external handle to the OLD
        frame would recompute against deleted JSON on cache eviction, which
        is the documented trade of cache_local=False). Each adopted dir is
        also registered atexit (rmtree is idempotent under ignore_errors)
        so the last one doesn't outlive the process."""
        import atexit
        import shutil

        prev, self._nocache_staging = self._nocache_staging, staging
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)
        if staging is not None:
            atexit.register(shutil.rmtree, staging, ignore_errors=True)

    # ---------------------------------------------------------------- state

    def _set_shapes(self, shapes: DataFrame) -> None:
        """Install `shapes` as the cached base relation and empty the delta
        of upserts (see `add_entity`). The replaced base stays persisted:
        it may be a frame the caller passed in."""
        self._base = shapes.cache()
        self._delta = {}
        self._serve(self._base, None)

    def _serve(self, shapes: DataFrame, delta_frame: DataFrame | None) -> None:
        """Serve `shapes`, whose upserts (if any) live in `delta_frame`:
        unpersists the previous delta relation, derives the postings and
        resets the lookup and partition caches. `delta_frame` is unpersisted
        in turn by the next call or when this manager is collected, but not
        at interpreter exit, when the JVM may already be gone."""
        if self._release_delta is not None:
            self._release_delta()
        self._release_delta = None
        if delta_frame is not None:
            self._release_delta = weakref.finalize(self, delta_frame.unpersist)
            self._release_delta.atexit = False
        self._shapes = shapes
        # postings carry the partition column when configured, so a
        # partition-scoped probe filters the SAME pre-materialized index
        # (directory/bucket pruning at scale) instead of rebuilding it
        extra = (self.partition_col,) if self.partition_col else ()
        self._postings = _fuzzy.build_postings(shapes, extra_cols=extra)
        self._lookup_cache = None
        self._partitions = None

    @property
    def partitions(self) -> set:
        """Distinct partition values (reference `self.partitions`,
        geo_manager.py:629-636) — empty when partitioning is off. One small
        distinct-scan, cached."""
        if self.partition_col is None:
            return set()
        if self._partitions is None:
            self._partitions = {
                r[0]
                for r in self.shapes.select(self.partition_col).distinct().collect()
            }
        return self._partitions

    def preload_lookup_cache(self) -> "GeoManager":
        """Opt-in serving mode: collect the shape records to driver dicts so
        repeated point lookups are O(1) dict gets — the reference's own
        serving model (geo_manager.py:643-653), appropriate exactly when the
        reference itself is: a reference-data table that fits in RAM
        (~hundreds of k rows). Search/radius queries stay distributed. For
        tables that don't fit, skip this and every lookup is a pruned scan.
        """
        rows = [r.asDict(recursive=True) for r in self.shapes.collect()]
        self._lookup_cache = {
            "by_ref": {r["reference_code"]: r for r in rows},
            "by_id": {r["id"]: r for r in rows},
        }
        return self

    @property
    def shapes(self) -> DataFrame:
        if self._shapes is None:
            raise RuntimeError("call load_data() first (geo_manager.py:684)")
        return self._shapes

    def load_data(
        self,
        root: str | None = None,
        version: str | None = None,
        force_db_fetch: bool = False,
        cache_local: bool = True,
        compressed: bool = False,
        base_url: str | None = None,
        opener=None,
    ) -> "GeoManager":
        """Load the shapes store (reference load_data, geo_manager.py:677-763).
        `root` is the engine's versioned Parquet layout; `version=None`
        serves `current` (geo_manager.py:671-675 path convention).

        Full reference-flow parity: the Parquet layout under `root` is the
        LOCAL CACHE. When it exists and `force_db_fetch` is False, it is
        served directly (the reference's load-local branch). Otherwise the
        two JSON dumps are fetched from `base_url` (the get_base_url store
        prefix; `opener(url) -> bytes` pluggable, stdlib urllib default —
        geo_manager.py:724-749, gz handled when `compressed`), the shapes
        dump is ingested (normalize casts → sorted Parquet when
        `cache_local`, in-memory DataFrame otherwise — mirroring the
        reference's cache_local switch), and the ngram search index is
        DERIVED from the shapes (`build_postings`) rather than
        deserialized: the engine's postings layout is the scale-correct
        form of the reference's search_dict; the fetched search dump is
        staged alongside for audit parity only."""
        local = _ingest.versioned_path(root, version, "shapes")
        if self._cache_exists(local) and not force_db_fetch:
            self._set_shapes(_ingest.read_shapes(self.spark, root, version))
            return self
        if base_url is None:
            if force_db_fetch:
                raise ValueError(
                    "force_db_fetch=True needs base_url= (the engine has no "
                    "baked-in BASE_STORE_URL; pass your store prefix)"
                )
            # missing cache, no remote configured: keep the original
            # behavior (read raises with the missing path)
            self._set_shapes(_ingest.read_shapes(self.spark, root, version))
            return self
        if cache_local:
            # staged dumps live NEXT TO the Parquet cache they produced —
            # the reference keeps its JSON cache files the same way
            staging = _ingest.versioned_path(root, version, "_fetched")
        else:
            # no-cache contract: root must stay pristine (it may be
            # read-only) — stage in a tempdir instead
            import tempfile

            staging = tempfile.mkdtemp(prefix="yat_geo_fetch_")
        _search_path, shape_path = _ingest.fetch_shape_files(
            base_url, staging, compressed=compressed, opener=opener
        )
        if cache_local:
            _ingest.ingest_shapes_json(self.spark, shape_path, root, version)
            self._set_shapes(_ingest.read_shapes(self.spark, root, version))
        else:
            raw = self.spark.read.schema(_ingest.RAW_SHAPE_SCHEMA).json(
                shape_path
            )
            # eagerly pin the relation before the tempdir can be reaped:
            # _set_shapes caches, and the count materializes that cache
            self._set_shapes(_ingest.normalize_shapes(raw))
            self._shapes.count()
            # adopt the tempdir (deletes the previous no-cache load's dir,
            # registers atexit cleanup) — repeated no-cache loads no longer
            # leak one staging dir each for the process lifetime
            self._swap_nocache_staging(staging)
        return self

    def _cache_exists(self, path: str) -> bool:
        """Cache-hit probe through the Hadoop filesystem of the path's
        scheme — `os.path.exists` would answer False for every
        object-store root (s3a://...), silently re-fetching on each load."""
        try:
            jvm = self.spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(
                self.spark._jsc.hadoopConfiguration()
            )
            return bool(fs.exists(hpath))
        except Exception:
            import os as _os

            return _os.path.exists(path)

    def get_base_url(self, version: str | None = None, root: str = "") -> str:
        """S4 (geo_manager.py:671-675): the version-addressed store prefix.
        The reference prefixes a fixed remote BASE_STORE_URL; the engine's
        store is whatever (object-store) root the caller mounts — the
        version path convention (`v=<ver>/`, `current` when unversioned)
        is the same one load_data/read_shapes resolve."""
        return _ingest.versioned_path(root, version, "")

    @property
    def num_shapes(self) -> int:
        """S6 (geo_manager.py:667-669)."""
        return _lookup.num_shapes(self.shapes)

    # ----------------------------------------------------- point lookups (P*)

    def _first(self, df: DataFrame) -> Optional[dict]:
        """The row of a key-filtered frame (at most one) as a dict, or
        None. `collect` runs one Spark job; `first()` is an incremental
        take that runs another job each time the partitions it scanned
        hold no row (2 per lookup on the served table)."""
        rows = df.collect()
        return rows[0].asDict(recursive=True) if rows else None

    def get_shape_by_ref_code(self, reference_code: str) -> Optional[Dict]:
        """P1 (geo_manager.py:84-88)."""
        if self._lookup_cache is not None:
            return self._lookup_cache["by_ref"].get(reference_code)
        return self._first(_lookup.shape_by_ref_code(self.shapes, reference_code))

    def get_shape_by_id(self, shape_id: int) -> Optional[Dict]:
        """P2 (geo_manager.py:90-95)."""
        if self._lookup_cache is not None:
            return self._lookup_cache["by_id"].get(shape_id)
        return self._first(_lookup.shape_by_id(self.shapes, shape_id))

    def get_shape_ref_code(self, shape_id: int) -> Optional[str]:
        """P3 (geo_manager.py:65-67)."""
        rec = self.get_shape_by_id(shape_id)
        return None if rec is None else rec["reference_code"]

    def get_shape_id_by_ref_code(self, reference_code: str) -> Optional[int]:
        """P4 (geo_manager.py:74-77)."""
        rec = self.get_shape_by_ref_code(reference_code)
        return None if rec is None else rec["id"]

    def get_shape_geo_type(self, shape_id: int) -> Optional[str]:
        """P5 (geo_manager.py:69-72)."""
        rec = self.get_shape_by_id(shape_id)
        return None if rec is None else rec["geo_type"]

    def get_shape_geo_type_by_ref_code(self, reference_code: str) -> Optional[str]:
        """P5 (geo_manager.py:79-82)."""
        rec = self.get_shape_by_ref_code(reference_code)
        return None if rec is None else rec["geo_type"]

    def get_quote_location_by_id(self, shape_id: int) -> Optional[Dict]:
        """P6 (geo_manager.py:97-116): CASE-WHEN reshape, metro vs city/zip."""
        return self._first(
            _lookup.quote_location(_lookup.shape_by_id(self.shapes, shape_id))
        )

    def get_quote_location_by_reference_code(
        self, reference_code: str
    ) -> Optional[Dict]:
        """P7 (geo_manager.py:118-126)."""
        return self._first(
            _lookup.quote_location(
                _lookup.shape_by_ref_code(self.shapes, reference_code)
            )
        )

    def get_shape_display_by_ref_code(
        self, reference_code: str, long_desc: bool = True, user_friendly: bool = False
    ) -> Optional[str]:
        """P8 (geo_manager.py:137-149)."""
        row = self._first(_lookup.shape_display(
            _lookup.shape_by_ref_code(self.shapes, reference_code),
            long_desc=long_desc,
            user_friendly=user_friendly,
        ))
        return None if row is None else row["display"]

    def get_shape_display_by_id(
        self, shape_id: int, long_desc: bool = True, user_friendly: bool = False
    ) -> Optional[str]:
        """P9 (geo_manager.py:128-135)."""
        row = self._first(_lookup.shape_display(
            _lookup.shape_by_id(self.shapes, shape_id),
            long_desc=long_desc,
            user_friendly=user_friendly,
        ))
        return None if row is None else row["display"]

    def get_shape_time_by_ref_code(
        self, reference_code: str
    ) -> Optional[_dt.datetime]:
        """P10 (geo_manager.py:151-158): wall-clock in the shape's tz."""
        row = self._first(_lookup.shape_local_time(
            _lookup.shape_by_ref_code(self.shapes, reference_code)
        ))
        return None if row is None else row["local_time"]

    def get_shape_time_by_id(self, shape_id: int) -> Optional[_dt.datetime]:
        """P11 (geo_manager.py:160-165)."""
        row = self._first(_lookup.shape_local_time(
            _lookup.shape_by_id(self.shapes, shape_id)
        ))
        return None if row is None else row["local_time"]

    # ------------------------------------------------------- radius (R*)

    def radius_search(
        self,
        reference_code: str,
        radius: float,
        country_exact: bool = False,
        full_results: bool = False,
        filters: Dict | None = None,
    ) -> List[Union[int, Dict]]:
        """R1 (geo_manager.py:237-281). Missing reference_code → []."""
        res = _radius.radius_search(
            self.shapes,
            reference_code,
            radius,
            country_exact=country_exact,
            full_results=full_results,
            filters=filters,
        )
        if full_results:
            return [r.asDict(recursive=True) for r in res.collect()]
        return [r["id"] for r in res.collect()]

    def radius_search_lat_lng(
        self,
        latitude: float,
        longitude: float,
        radius: float,
        country_filter: str | None = None,
        full_results: bool = False,
        filters: Dict | None = None,
    ) -> List[Union[int, Dict]]:
        """R2/R3 (geo_manager.py:283-348)."""
        res = _radius.radius_search_lat_lng(
            self.shapes,
            latitude,
            longitude,
            radius,
            country_filter=country_filter,
            full_results=full_results,
            filters=filters,
        )
        if full_results:
            return [r.asDict(recursive=True) for r in res.collect()]
        return [r["id"] for r in res.collect()]

    def radius_lat_lng_search(
        self,
        latitude: float,
        longitude: float,
        radius: float,
        filters: Dict | None = None,
    ) -> List[Dict]:
        """R4 (geo_manager.py:350-366): point shapes only, full records."""
        res = _radius.radius_search_lat_lng(
            self.shapes,
            latitude,
            longitude,
            radius,
            full_results=True,
            filters=filters,
            exclude_aggregates=True,
        )
        return [r.asDict(recursive=True) for r in res.collect()]

    def get_radius_shape_by_ref_code(self, reference_code: str) -> Optional[Dict]:
        """R10 (geo_manager.py:220-226): the typed radius-view projection."""
        rec = self.get_shape_by_ref_code(reference_code)
        return None if rec is None else {k: rec.get(k) for k in _RADIUS_VIEW}

    def get_radius_shape_by_id(self, shape_id: int) -> Optional[Dict]:
        """R10 (geo_manager.py:228-235)."""
        rec = self.get_shape_by_id(shape_id)
        return None if rec is None else {k: rec.get(k) for k in _RADIUS_VIEW}

    def get_shape_pair_distance(self, orig_shape_ref: str, dest_shape_ref: str) -> Dict:
        """R8 (geo_manager.py:368-426): haversine + log-area normalization
        ladder; missing endpoint → the reference's {999, 999, aggregate:
        False} sentinel. The `aggregate` key mirrors the reference's return
        dicts at geo_manager.py:387-426 (True when either endpoint is an
        aggregate shape)."""
        pairs = literal_frame(
            self.spark, [(orig_shape_ref, dest_shape_ref)], _PAIR_SCHEMA
        )
        row = self._first(_radius.pair_distances(self.shapes, pairs))
        # branch on the explicit found flag, not the 999.0 sentinel value —
        # a real pair at exactly 999.0 rounded miles must not be swallowed
        if row is None or not row["found"]:
            return dict(_MISSING_PAIR)
        return {
            "distance": row["distance"],
            "normalized_distance": row["normalized_distance"],
            "aggregate": row["distance_aggregate"],
        }

    def get_shape_pair_distance_id(self, shape_ref: str, shape_id: int):
        """R9 (geo_manager.py:428-437): mixed-key wrapper returning
        (distance_dict, dest reference_code)."""
        dest_ref = self.get_shape_ref_code(shape_id)
        if dest_ref is None:
            return dict(_MISSING_PAIR), None
        return self.get_shape_pair_distance(shape_ref, dest_ref), dest_ref

    def get_radius_lat_lng_shape_ids(
        self,
        latitude: float,
        longitude: float,
        radius: float,
        country_filter: str | None = None,
        filters: Dict | None = None,
    ) -> List[int]:
        """R3 (geo_manager.py:327-349): matching shape ids only — the
        reference's list comprehension over radius_match + filters as one
        pruned scan projecting the id column."""
        res = _radius.radius_search_lat_lng(
            self.shapes,
            latitude,
            longitude,
            radius,
            country_filter=country_filter,
            filters=filters,
        )
        return [r["id"] for r in res.select("id").collect()]

    # -------------------------------------------------------- fuzzy (F*)

    def clean_entity(self, val: str) -> str:
        """F6 (geo_manager.py:445-449)."""
        return _fuzzy.clean_entity(val)

    def clean_ngram_cnt(self, word: str, n: int = 3) -> Dict[str, int]:
        """F7 (geo_manager.py:441-443): trigram → count dict of the
        no-spaces cleaned word. Pure query-side helper (the index side
        derives posting multiplicity relationally)."""
        import collections
        import re as _re

        w = _re.sub("[^0-9a-zA-Z]+", "", word).lower()
        return dict(collections.Counter(_fuzzy.ngrams_list(w, n)))

    def entity_fuzzy_score(self, search_str: str, source_str: str) -> float:
        """F8 (geo_manager.py:484-489), scalar query-side twin of
        fuzzy.entity_fuzzy_score_col: Tversky(.85/.15) with the 15% prefix
        boost. (The reference's weight renormalization is identity at
        these call-site weights — documented divergence, SURVEY §2.5.)"""
        score = self._tversky(search_str, source_str, 0.85, 0.15)
        if source_str.startswith(search_str):
            score += score * 0.15
        return score

    def geo_search_score(
        self, search_str: str, source_str: str, population: int
    ) -> float:
        """F9 (geo_manager.py:491-501), scalar twin of
        fuzzy.geo_search_score_col: numeric queries score against the
        first space-token (zip mode); population-weighted unless the
        fuzzy score is weak."""
        import math

        if search_str.isnumeric():
            score = self.entity_fuzzy_score(
                search_str, source_str.split(" ")[0]
            )
        else:
            score = self.entity_fuzzy_score(search_str, source_str)
        if population <= 0 or score <= 0.65:
            return score * 0.9
        return (score * 0.9) + (math.log(population) * 0.1)

    @staticmethod
    def _tversky(text1: str, text2: str, a: float, b: float) -> float:
        """Scalar Tversky over trigram sets (reference fuzzy.py:9-31; the
        empty-string and 0/0 guards both return 0)."""
        if not text1 or not text2:
            return 0.0
        g1 = set(_fuzzy.ngrams_list(text1))
        g2 = set(_fuzzy.ngrams_list(text2))
        inter = len(g1 & g2)
        denom = inter + a * (len(g1) - inter) + b * (len(g2) - inter)
        return float(inter) / denom if denom else 0.0

    def _partition_arg(self, partition):
        """Map a facade `partition=` value to the engine's (col, value) pair.
        Returns (resolved, is_missing): missing partitions short-circuit to
        the reference's `return []` (geo_manager.py:545-547). With no
        partition_col configured the argument is ignored — the reference's
        own unpartitioned default."""
        if partition is None or self.partition_col is None:
            return None, False
        if partition not in self.partitions:
            return None, True
        return (self.partition_col, partition), False

    def fuzzy_search(
        self,
        search_entity: str,
        partition: str | None = None,
        num_results: int = 50,
        filters: Dict | None = None,
    ) -> List[Dict]:
        """F12 (geo_manager.py:525-619): the flagship pipeline. Each result
        dict carries the reference's full payload, including `extra` (the
        complete shape record, geo_manager.py:573/605), which the search
        carries, and `distance`, computed here on the collected rows. F14:
        `partition=` scopes the search to that partition's sub-index when the
        manager was constructed with `partition_col`; an unknown partition
        returns []."""
        part, missing = self._partition_arg(partition)
        if missing:
            return []
        res = _fuzzy.fuzzy_search(
            self.shapes,
            search_entity,
            num_results=num_results,
            filters=filters,
            postings=self._postings,
            partition=part,
        )
        out = []
        for r in res.collect():
            rec = r.asDict(recursive=True)
            rec["distance"] = _fuzzy.result_distance(search_entity, rec["clean_value"])
            rec["extra"] = rec.pop("extra")  # the reference's key order
            out.append(rec)
        return out

    def best_fuzzy_search(
        self,
        search_entity: str,
        partition: str | None = None,
        score_threshold: float = 0.90,
        filters: Dict | None = None,
    ) -> Optional[Dict]:
        """F13 (geo_manager.py:503-523): the top fuzzy_search result if it
        scores at least `score_threshold`, else None; partition-scoped like
        fuzzy_search."""
        top = self.fuzzy_search(
            search_entity, partition, num_results=1, filters=filters
        )
        return top[0] if top and top[0]["score"] >= score_threshold else None

    def add_entity(
        self,
        entity: str,
        entity_id: int,
        partition: str | None = None,
        extra_entity: Dict | None = None,
    ) -> None:
        """F10 (geo_manager.py:451-476): upsert one searchable entity.
        The reference mutates its in-memory dicts. Here the record is
        type-checked in the driver (a wrongly typed field raises TypeError
        at the call, as `createDataFrame` would) and stored in the DELTA, a
        driver dict id -> record of the upserts since the base relation was
        installed. The delta is rebuilt as one cached, one-partition
        relation from a JSON literal (no Python worker), the previous one is
        unpersisted, and `shapes` becomes the base without the delta's ids
        plus the delta; the postings are re-derived from it. A write
        therefore costs in proportion to the delta, not the table, and
        every read scans the base and one delta partition.
        `geo.ingest.compact_shapes` folds the delta into a rewritten base
        and empties it (the batch path for bulk loads is
        `geo.ingest.materialize_postings`).

        Reference semantics (geo_manager.py:455-460): the stored record is
        `{'value': cleaned, 'clean_value': cleaned}`; `extra_entity`, when a
        dict, is merged into that record (payload fields like population,
        geo_type, ref_data...) and is otherwise ignored; trigram postings come
        ONLY from the cleaned entity string. Dict keys that are not columns of
        the shapes schema are dropped (the relational store is schema'd where
        the reference's dict store is not — documented divergence).

        UPSERT (the reference's dict assignment REPLACES the record,
        geo_manager.py:461): the delta holds one record per id and hides the
        base row with that id, so re-adding an id never leaves duplicate
        shape rows (which would make `get_shape_by_id` ambiguous) or stale
        postings.

        `partition=` routes the record into that partition's sub-index
        (reference geo_manager.py:463-472): the value is stored in the
        manager's `partition_col`, so partition-scoped fuzzy searches see it
        exactly there. Passing a partition on an unpartitioned manager
        raises — silently ignoring it would "add" to an index that can never
        be searched the way the caller asked."""
        if partition is not None and self.partition_col is None:
            raise ValueError(
                "add_entity(partition=...) requires a manager constructed "
                "with partition_col (reference geo_manager.py:463-472)"
            )
        cleaned = _fuzzy.clean_entity(entity)
        # the reference stores the CLEANED string as both value and
        # clean_value (geo_manager.py:455-459 rebinds `entity` post-clean);
        # absent numeric/flag fields default like its .get() fallbacks
        record: dict = {
            "id": entity_id,
            "reference_code": cleaned,
            "value": cleaned,
            "clean_value": cleaned,
            "population": 0,
            "is_aggregate": False,
        }
        if isinstance(extra_entity, dict):
            record.update(
                {k: v for k, v in extra_entity.items() if k in self.shapes.columns}
            )
        if partition is not None:
            # route into the partition's sub-index: store the value at the
            # partition column's path (dotted paths land inside the struct,
            # merged over whatever extra_entity put there)
            if "." in self.partition_col:
                top, leaf = self.partition_col.split(".", 1)
                nested = record.get(top)
                nested = dict(nested) if isinstance(nested, dict) else {}
                nested[leaf] = partition
                record[top] = nested
            else:
                record[self.partition_col] = partition
        schema = _nullable_schema(self._base.schema)
        _make_type_verifier(schema)(record)
        # the new delta is built before it replaces the old one, so a record
        # that fails here leaves the manager as it was
        delta = {**self._delta, record["id"]: record}
        frame = literal_frame(self.spark, list(delta.values()), schema).cache()
        self._delta = delta
        kept = self._base.filter(~F.col("id").isin(list(delta)))
        # drops the lookup cache too: preload again if serving
        self._serve(kept.unionByName(frame), frame)
