"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
settings are how we'd configure a 1000-executor cluster job: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), broadcast joins for
dimension tables, Arrow for the pandas-UDF paths, UTC session time.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T

# At 100 TB these become per-job tuning knobs; defaults here are sized for
# the local[32] / 128 GiB test box.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Split skewed join partitions even when the join output feeds another
    # shuffle (the default rule skips the split if it would add an exchange).
    # Every dedup candidate join here IS followed by a shuffle (pair dedupe /
    # verification aggregation), and a straggler partition grinding a hot LSH
    # band costs far more than the extra small exchange — asserted in
    # tests/test_dedup_blocking.py.
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.session.timeZone": "UTC",
    # Spark 4's ICU-backed case mappings build a full-Unicode title-case
    # lookup table in a static initializer the first time upper()/lower()
    # is evaluated — ~65 s of driver CPU per JVM (observed via jstack in
    # CollationAwareUTF8String.<clinit>). JVM case mappings are identical
    # for ASCII data; flip back on for non-ASCII corpora on long-lived
    # cluster jobs where the one-time init amortizes.
    "spark.sql.icu.caseMappings.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Explicitly keep AQE's coalescing from dropping post-shuffle stages
    # below default parallelism (bytes are a bad proxy for compute cost).
    # This is Spark's default; stated here because we rely on it.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    # local mode runs everything in the driver JVM; the bench accumulates
    # cached indexes + localCheckpoint blocks across ~24 queries, and an
    # 8g heap's ~2.3g storage pool evicts them between a query's two bench
    # runs (observed: pipe_dedup_clusters min-of-2 at 8.7s mid-bench vs
    # 3.3s isolated). 16g keeps the working set resident on the 128 GiB box.
    "spark.driver.memory": "16g",
    "spark.ui.enabled": "false",
    # avoid slow hostname lookups on boxes with odd DNS
    "spark.driver.host": "127.0.0.1",
    "spark.driver.bindAddress": "127.0.0.1",
}


def _cpu_count() -> int:
    """Cores the local master runs on: `$SPARK_GRAFT_CPUS` when set (it
    picks `local[N]`), else every core."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else (os.cpu_count() or 8)


def _worker_pythonpath(caller: str | None) -> str:
    """PYTHONPATH for Spark's Python workers: the directory holding this
    package, so a worker can unpickle functions defined in it whatever the
    driver's cwd, followed by the caller's own value."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.pathsep.join(p for p in (root, caller) if p)


def get_spark(
    app_name: str = "yat_geo_db_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # Ask for at least one split per core on file scans. NOTE: this cannot
    # parallelize the local fixture tables (one file, ONE row group — every
    # extra split reads zero rows; testdata.load_table compensates with an
    # explicit repartition), but at scale it keeps many-small-file scans from
    # under-splitting below the core count.
    builder = builder.config("spark.sql.files.minPartitionNum", str(_cpu_count()))
    conf = {k: str(v) for k, v in (extra_conf or {}).items()}
    conf["spark.executorEnv.PYTHONPATH"] = _worker_pythonpath(
        conf.get("spark.executorEnv.PYTHONPATH")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our defaults to a session we did
    not create (the verify driver passes its own). Keeps query results
    deterministic (UTC timestamps) and plans adaptive."""
    for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
        "spark.sql.session.timeZone",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.icu.caseMappings.enabled",
    ):
        try:
            spark.conf.set(k, _DEFAULTS[k])
        except Exception:
            pass  # conf may be locked; results then depend on driver settings
    # a foreign session often carries the stock 200 shuffle partitions —
    # on the fixture tables that is 200 near-empty tasks per exchange, pure
    # scheduler overhead across a ~100-query correctness pass (results are
    # partition-count-independent; see the fixed-point-sum note). Only
    # override when the session still has Spark's 200 default (or the env
    # var is an explicit instruction): an embedding application that tuned
    # shuffle.partitions for its cluster keeps its setting.
    try:
        explicit_env = "SPARK_GRAFT_SHUFFLE_PARTITIONS" in os.environ
        current = spark.conf.get("spark.sql.shuffle.partitions", "200")
        if explicit_env or current == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
            )
    except Exception:
        pass
    return spark


def _json_value(value, dt: T.DataType):
    """`value` in the JSON form `from_json` reads back as `dt`: a struct
    from a dict by field name or from a tuple (or Row) by position, as
    `createDataFrame` accepts either."""
    if value is None or not isinstance(dt, T.StructType):
        return value
    if isinstance(value, dict):
        return {f.name: _json_value(value.get(f.name), f.dataType) for f in dt}
    return {f.name: _json_value(v, f.dataType) for f, v in zip(dt, value)}


def literal_frame(
    spark: SparkSession, rows: list, schema: T.StructType
) -> DataFrame:
    """A DataFrame of `rows` (dicts by field name, or tuples in `schema`
    order) that starts no Python worker: the rows travel as one JSON literal
    that a one-row, one-partition `range` parses in the JVM. The frame has
    one partition and every field nullable. Structs may be dicts or
    tuples; other values must be JSON-native (numbers, strings, booleans
    and lists of them), or `json.dumps` raises TypeError.
    `createDataFrame` over a Python list instead ships its rows through a
    `PythonRDD`, which starts Python workers each time the frame is read."""
    payload = json.dumps([_json_value(r, schema) for r in rows])
    return spark.range(0, 1, 1, 1).select(
        F.inline(
            F.from_json(F.lit(payload), T.ArrayType(schema), {"mode": "FAILFAST"})
        )
    )
