"""yat_geo_db_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference `yat_geo_db` geo database
(fuzzy search / radius search / point lookups), re-expressed as lazy Spark
DataFrame pipelines over Parquet, plus the large-scale training-data
pipeline operators (dedup, similarity search, text analysis, multimodal
columns) that a 100 TB corpus needs.

Design stance (SURVEY.md §7): a thin library of composable DataFrame
transformations — no custom execution engine, no Catalyst extensions.
Correctness paths are built-in `pyspark.sql.functions` expressions
(oracle-exact, whole-stage codegen); Python appears only where it earns
its place — Arrow-batched mapInPandas/mapInArrow for binary media codecs
(real PNG, JPEG and WAV) and tokenization, and applyInPandasWithState for
stateful streaming. The geo serving path (`GeoManager`) starts no Python
worker. Data lives in Parquet; queries are lazy DataFrames;
Catalyst/Tungsten/AQE pick the physical plan.
"""

from yat_geo_db_spark.session import get_spark


def __getattr__(name):
    # lazy: manager pulls in the full geo stack; keep bare imports light
    if name == "GeoManager":
        from yat_geo_db_spark.manager import GeoManager

        return GeoManager
    if name == "CorpusManager":
        from yat_geo_db_spark.corpus import CorpusManager

        return CorpusManager
    raise AttributeError(name)


__all__ = ["get_spark", "GeoManager", "CorpusManager"]
__version__ = "0.1.0"
