"""Session factory: what `get_spark` derives from the process it runs in."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from yat_geo_db_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_min_partition_num_follows_spark_graft_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._cpu_count() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr(session.os, "cpu_count", lambda: 5)
    assert session._cpu_count() == 5


def test_worker_pythonpath_puts_package_root_first():
    assert session._worker_pythonpath(None) == ROOT
    assert session._worker_pythonpath("/x") == os.pathsep.join([ROOT, "/x"])


def test_python_workers_import_the_package_from_any_cwd(tmp_path):
    """A Python worker unpickles `bpe_encode`'s closure, which refers to
    functions of this package by module path. Run from a directory outside
    the repository with PYTHONPATH unset, the worker can import the package
    only through the session's `spark.executorEnv.PYTHONPATH`."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})  # the driver only; workers do not see it
        from yat_geo_db_spark.pipelines.tokenize import bpe_apply_py, bpe_encode
        from yat_geo_db_spark.session import get_spark

        spark = get_spark(
            app_name="worker_import_probe", master="local[1]",
            shuffle_partitions=1,
            extra_conf={{"spark.driver.memory": "1g"}},
        )
        docs = spark.createDataFrame([(7, "ab ab")], "doc_id long, text string")
        got = [(r.doc_id, r.n_bpe_tokens) for r in bpe_encode(docs, []).collect()]
        print("OK" if got == [(7, 2 * len(bpe_apply_py("ab", [])))] else got)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.splitlines()[-1:] == ["OK"], proc.stdout


def test_literal_frame_round_trips_rows_in_the_jvm(spark):
    """`literal_frame` returns the rows it is given (dicts by field name,
    tuples by position, nested structs, arrays and NULLs) in one partition,
    and its plan reads no rows shipped from Python (`LogicalRDD`)."""
    import pyspark.sql.types as T

    box = T.StructType(
        [T.StructField("lo", T.DoubleType()), T.StructField("hi", T.DoubleType())]
    )
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("box", box),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ])
    rows = [
        {"id": 2**40, "name": 'q"uote', "x": 0.1, "box": {"lo": -1.5}, "tags": ["a"]},
        (7, None, 1e-300, (2.0, 3.0), []),
        {"id": None},
    ]
    df = session.literal_frame(spark, rows, schema)
    assert [tuple(r) for r in df.collect()] == [
        (2**40, 'q"uote', 0.1, (-1.5, None), ["a"]),
        (7, None, 1e-300, (2.0, 3.0), []),
        (None, None, None, None, None),
    ]
    assert df._jdf.rdd().getNumPartitions() == 1
    assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert session.literal_frame(spark, [], schema).count() == 0
