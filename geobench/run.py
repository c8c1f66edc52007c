#!/usr/bin/env python3
"""Request-path benchmark for `GeoManager`.

    python3 geobench/run.py --workload geo_autocomplete --seed 1 --seconds 12 --trace 0

Builds the Spark session, the 15,000-shape fixture table and a
`GeoManager`, warms up, then replays a fixed, seeded sequence of calls from
one client in a closed loop. Every output is checked against the pure-Python
model in `geomodel.py`, which runs in a separate process (`oracle.py`) so
that its copy of the table stays out of this process's memory. The last
line of stdout is one JSON object: `{"correct", "attempted", "failed",
"metrics"}`; with `--trace 0` the metrics are the end-to-end ones, with
`--trace 1` the per-layer ones (see README.md). Run from any directory; all scratch files go under
`.geobench_work/` at the repository root and are removed at exit, except the
traced run's span file.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".geobench_work")
sys.path.insert(0, BENCH_DIR)

import workloads as wl  # noqa: E402
from tracing import (  # noqa: E402
    Tracer, box_counters, descendants, group_counts, peak_rss_mb, read_event_log,
    tree_peak_rss_mb, uncovered_ms,
)

#: sf0.1 `customer` has c_custkey 0..14999; the fixture only reads that key
FIXTURE_ROWS = 15_000
ORACLE = os.path.join(BENCH_DIR, "oracle.py")
JVM_INITIAL_HEAP = "4g"
WORKLOADS = tuple(wl.NOMINAL_RATE)
#: metric name -> unit, printed with --trace 0 (END_TO_END) or 1 (PER_LAYER)
END_TO_END = {"setup_s": "s", "p50_ms": "ms", "ops_per_s": "1/s", "py_peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "fixture.shapes_s": "s", "manager.warmup_s": "s",
    "manager.fuzzy_ms": "ms", "manager.attach_extra_ms": "ms", "manager.write_ms": "ms",
    "manager.tasks_added_per_write": "count", "manager.persisted_relations": "count",
    "manager.jvm_heap_mb": "MB",
    "fuzzy.build_ms": "ms", "fuzzy.plan_ms": "ms", "fuzzy.exec_ms": "ms",
    "fuzzy.outside_jobs_ms": "ms", "fuzzy.jobs_per_op": "count",
    "fuzzy.stages_per_op": "count", "fuzzy.tasks_per_op": "count",
    "fuzzy.rows_scored_per_result": "ratio",
    "radius.search_ms": "ms", "radius.latlng_ms": "ms", "radius.pair_ms": "ms",
    "radius.outside_jobs_ms": "ms", "radius.jobs_per_op": "count",
    "radius.tasks_per_op": "count", "radius.rows_scanned_per_hit": "ratio",
    "lookup.by_ref_ms": "ms", "lookup.by_id_ms": "ms", "lookup.projection_ms": "ms",
    "lookup.outside_jobs_ms": "ms", "lookup.jobs_per_op": "count",
    "lookup.tasks_per_op": "count",
}
LOOKUP_KINDS = ("by_ref", "by_id", "read_written", "quote", "display", "local_time")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------- calls

def call(gm, kind: str, a: dict):
    """One facade call; returns what the caller would see."""
    if kind == "fuzzy":
        return gm.fuzzy_search(a["query"], num_results=a["num_results"], filters=a["filters"])
    if kind == "best":
        return gm.best_fuzzy_search(a["query"], filters=a["filters"])
    if kind == "by_ref":
        return gm.get_shape_by_ref_code(a["ref"])
    if kind in ("by_id", "read_written"):
        return gm.get_shape_by_id(a["id"])
    if kind == "quote":
        if "id" in a:
            return gm.get_quote_location_by_id(a["id"])
        return gm.get_quote_location_by_reference_code(a["ref"])
    if kind == "display":
        return gm.get_shape_display_by_ref_code(
            a["ref"], long_desc=a["long_desc"], user_friendly=a["user_friendly"])
    if kind == "local_time":
        return gm.get_shape_time_by_ref_code(a["ref"])
    if kind == "radius":
        return gm.radius_search(a["ref"], a["radius"], country_exact=a["country_exact"],
                                filters=a["filters"])
    if kind == "latlng":
        return gm.radius_search_lat_lng(a["lat"], a["lng"], a["radius"],
                                        country_filter=a["country"], filters=a["filters"])
    if kind == "pair":
        return gm.get_shape_pair_distance(a["orig"], a["dest"])
    if kind == "write":
        return gm.add_entity(a["entity"], a["entity_id"], extra_entity=a["extra"])
    raise ValueError(kind)


# ----------------------------------------------------------------- run

def median(xs, default=0.0) -> float:
    return float(statistics.median(xs)) if xs else default


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.traced = bool(args.trace)
        self.spark = None
        self.gateway = None
        self.timings: dict = {}
        self.records: list = []  # per timed or panel call
        self.tracer = Tracer()
        self.warm_ms: list = []  # (kind, ms) per warm-up call

    # ---------------------------------------------------------- set-up
    def setup(self) -> None:
        t0 = time.perf_counter()
        from pyspark import SparkContext
        from yat_geo_db_spark import get_spark
        from yat_geo_db_spark.geo.fixture import shapes_df
        from yat_geo_db_spark.manager import GeoManager

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a fixed 4 GiB starting heap: left to grow from its default
            # (1/64 of RAM), the heap settled differently from run to run, and
            # runs that kept it small spent ~0.75 s instead of ~0.2 s in GC
            # and read 20-40% slower; the library's own -Xmx stays
            "spark.driver.extraJavaOptions": f"-Xms{JVM_INITIAL_HEAP}",
        }
        if self.traced:
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name="geobench", extra_conf=conf)
        self.gateway = SparkContext._gateway
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.tracer = Tracer(sc, self.traced)
        t1 = time.perf_counter()

        self.spark.range(FIXTURE_ROWS).withColumnRenamed("id", "c_custkey") \
            .createOrReplaceTempView("customer")
        shapes = shapes_df(self.spark).cache()
        n = shapes.count()
        if n != FIXTURE_ROWS:
            raise RuntimeError(f"fixture has {n} rows, expected {FIXTURE_ROWS}")
        t2 = time.perf_counter()
        self.gm = GeoManager(self.spark, shapes)
        t3 = time.perf_counter()

        # the model's copy of the table, written once outside any timing and
        # read by the oracle process, never by this one
        self.table = os.path.join(self.work, "shapes.parquet")
        shapes.write.parquet(self.table)
        self.plan = self.oracle("plan", self.table, self.args.workload, self.args.seed,
                                self.args.seconds, self.args.trace)
        self.ops = self.plan["timed"]
        t4 = time.perf_counter()
        self.warmup()
        t5 = time.perf_counter()
        self.timings = {"session_s": t1 - t0, "fixture_s": t2 - t1, "manager_s": t3 - t2,
                        "model_s": t4 - t3, "warmup_s": t5 - t4,
                        "setup_s": (t3 - t0) + (t5 - t4)}

    def oracle(self, *args):
        """Run one `oracle.py` command; returns what it pickled."""
        out = os.path.join(self.work, f"oracle-{args[0]}.pkl")
        subprocess.run([sys.executable, ORACLE, *map(str, args), out], check=True, timeout=120)
        with open(out, "rb") as fh:
            return pickle.load(fh)

    def warmup(self) -> None:
        """Call every operation kind of the run once before timing starts
        (the first fuzzy call costs ~3x a warm one), then, in a run that
        makes point lookups, a block of them. Writes warm up on a throwaway
        manager so the measured manager starts from the pristine table."""
        from yat_geo_db_spark.manager import GeoManager

        for kind, a in self.plan["warmup"] + self.plan["lookups"]:
            t0 = time.perf_counter()
            if kind == "write":
                scratch = GeoManager(self.spark, self.gm.shapes)
                call(scratch, kind, a)
                call(scratch, "read_written", {"id": a["entity_id"]})
                scratch.shapes.unpersist()
            else:
                call(self.gm, kind, a)
                if self.traced and kind == "fuzzy":
                    self.direct_fuzzy(a, group=None)
            self.warm_ms.append((kind, round((time.perf_counter() - t0) * 1e3)))

    # --------------------------------------------------------- the run
    def direct_fuzzy(self, a: dict, group) -> dict:
        """The same query through `geo.fuzzy` directly, split into building
        the lazy DataFrame, forcing its physical plan and executing it."""
        from yat_geo_db_spark.geo import fuzzy

        with self.tracer.span("fuzzy.fuzzy_search", group=group):
            t0 = time.perf_counter()
            with self.tracer.span("fuzzy.build"):
                # the manager's own postings relation, so both paths probe
                # the same index (it grows with add_entity)
                df = fuzzy.fuzzy_search(self.gm.shapes, a["query"], num_results=a["num_results"],
                                        filters=a["filters"], postings=self.gm._postings)
            t1 = time.perf_counter()
            with self.tracer.span("fuzzy.plan"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with self.tracer.span("fuzzy.exec"):
                n = len(df.collect())
            t3 = time.perf_counter()
        return {"build_ms": (t1 - t0) * 1e3, "plan_ms": (t2 - t1) * 1e3,
                "exec_ms": (t3 - t2) * 1e3, "results": n}

    def replay(self, ops, phase: str) -> float:
        t_phase = time.perf_counter()
        for kind, a in ops:
            i = len(self.records)
            rec = {"i": i, "kind": kind, "phase": phase, "group": f"op{i}"}
            with self.tracer.span(f"op.{kind}", op=i):
                rec["wall_start"] = time.time()
                with self.tracer.span(f"manager.{kind}", op=i,
                                      group=rec["group"] if self.traced else None):
                    t0 = time.perf_counter()
                    out = call(self.gm, kind, a)
                    rec["ms"] = (time.perf_counter() - t0) * 1e3
                rec["wall_end"] = time.time()
                if self.traced:
                    sc = self.spark.sparkContext
                    rec.update(group_counts(sc, rec["group"]))
                    if kind == "write":
                        rec["persisted_after"] = sc._jsc.getPersistentRDDs().size()
                    if kind == "fuzzy":
                        rec["direct"] = self.direct_fuzzy(a, group=rec["group"] + ".direct")
            rec["args"], rec["out"] = a, out
            self.records.append(rec)
        return time.perf_counter() - t_phase

    def run(self) -> dict:
        self.setup()
        jvm = self.spark.sparkContext._jvm
        self.heap_init_mb = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
            .getHeapMemoryUsage().getInit() / 2**20
        before = box_counters(jvm)
        timed_s = self.replay(self.ops, "timed")
        after = box_counters(jvm)
        timed = list(self.records)
        # Python side only (this process and Spark's Python workers), taken
        # before any checking: the JVM's resident size follows its heap
        # sizing, which moved 1.9-3.9 GB between runs of one workload; its
        # retained heap is a traced figure
        rss = tree_peak_rss_mb(os.getpid(), skip=getattr(self.gateway.proc, "pid", None))
        rss_driver = peak_rss_mb(os.getpid())
        self.replay(self.plan["panel"], "panel")
        calls = os.path.join(self.work, "calls.pkl")
        with open(calls, "wb") as fh:
            pickle.dump([(r["kind"], r["args"], r["out"], r["wall_start"])
                         for r in self.records], fh)
        found = self.oracle("check", self.table, calls)
        problems = [f"op {rec['i']} {rec['kind']} {rec['args']}: {f}"
                    for rec, f in zip(self.records, found) if f]
        failed = len(problems)
        for p in problems[:20]:
            print("MISMATCH", p, file=sys.stderr)
        half = len(timed) // 2
        self.context = {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "unset"),
            "nproc": os.cpu_count(), "ops": len(timed), "timed_s": round(timed_s, 3),
            "jvm_heap_init_mb": self.heap_init_mb,
            "py_peak_rss_mb": {"driver": round(rss_driver, 1),
                               "workers": round(rss - rss_driver, 1)},
            # a p50 still drifting with warm-up shows as halves that differ
            "p50_halves_ms": [round(median([r["ms"] for r in part]), 1)
                              for part in (timed[:half], timed[half:])],
            **{k: round(v, 3) for k, v in self.timings.items()},
            "warmup_ms": self.warm_ms,
            **{f"timed_{k}": round(after[k] - before[k], 3) for k in after},
        }
        if self.traced:
            metrics, units = self.layer_metrics(), PER_LAYER
        else:
            metrics, units = {
                "setup_s": self.timings["setup_s"],
                "p50_ms": median([r["ms"] for r in timed]),
                "ops_per_s": len(timed) / timed_s,
                "py_peak_rss_mb": rss,
            }, END_TO_END
        if set(metrics) != set(units):
            raise RuntimeError(f"metric names drifted: {sorted(set(metrics) ^ set(units))}")
        return {"correct": failed == 0, "attempted": len(self.records), "failed": failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}}

    # ------------------------------------------------------ per-layer
    def layer_metrics(self) -> dict:
        sc = self.spark.sparkContext
        persisted = sc._jsc.getPersistentRDDs().size()
        sc._jvm.System.gc()
        heap = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
            .getHeapMemoryUsage().getUsed() / 2**20
        self.stop_spark()
        logs = os.listdir(os.path.join(self.work, "eventlog"))
        ev = read_event_log(os.path.join(self.work, "eventlog", logs[0]))
        recs = self.records

        def of(*kinds):
            return [r for r in recs if r["kind"] in kinds]

        def outside(rs):
            return median([uncovered_ms(r["wall_start"], r["wall_end"],
                                        ev["intervals"].get(r["group"], ())) for r in rs])

        fz = of("fuzzy")
        # the read right after each write scans up to the newest rows; its
        # growth from the first to the last write repeats exactly, while a
        # read in between can stop at a different partition from run to run
        reads = of("read_written")
        lookups = of(*LOOKUP_KINDS)
        radius = of("radius", "latlng", "pair")
        scans = of("radius", "latlng")
        scanned = sum(ev["rows"].get(r["group"], {}).get("InMemoryTableScan", 0) for r in scans)
        hits = sum(len(r["out"]) for r in scans)
        scored = sum(ev["rows"].get(r["group"] + ".direct", {}).get("BroadcastHashJoin", 0)
                     for r in fz)
        results = sum(r["direct"]["results"] for r in fz)
        t = self.timings
        m = {
            "session.start_s": t["session_s"],
            "fixture.shapes_s": t["fixture_s"],
            "manager.warmup_s": t["warmup_s"],
            "manager.fuzzy_ms": median([r["ms"] for r in fz]),
            "manager.attach_extra_ms": median([
                r["ms"] - r["direct"]["build_ms"] - r["direct"]["plan_ms"] - r["direct"]["exec_ms"]
                for r in fz]),
            "manager.write_ms": median([r["ms"] for r in of("write")]),
            "manager.tasks_added_per_write": (
                (reads[-1]["tasks"] - reads[0]["tasks"]) / max(len(reads) - 1, 1)),
            "manager.persisted_relations": persisted,
            "manager.jvm_heap_mb": heap,
            "fuzzy.build_ms": median([r["direct"]["build_ms"] for r in fz]),
            "fuzzy.plan_ms": median([r["direct"]["plan_ms"] for r in fz]),
            "fuzzy.exec_ms": median([r["direct"]["exec_ms"] for r in fz]),
            "fuzzy.outside_jobs_ms": outside(fz),
            "fuzzy.jobs_per_op": median([r["jobs"] for r in fz]),
            "fuzzy.stages_per_op": median([r["stages"] for r in fz]),
            "fuzzy.tasks_per_op": median([r["tasks"] for r in fz]),
            "fuzzy.rows_scored_per_result": scored / max(results, 1),
            "radius.search_ms": median([r["ms"] for r in of("radius")]),
            "radius.latlng_ms": median([r["ms"] for r in of("latlng")]),
            "radius.pair_ms": median([r["ms"] for r in of("pair")]),
            "radius.outside_jobs_ms": outside(radius),
            "radius.jobs_per_op": median([r["jobs"] for r in radius]),
            "radius.tasks_per_op": median([r["tasks"] for r in radius]),
            "radius.rows_scanned_per_hit": scanned / max(hits, 1),
            "lookup.by_ref_ms": median([r["ms"] for r in of("by_ref")]),
            "lookup.by_id_ms": median([r["ms"] for r in of("by_id")]),
            "lookup.projection_ms": median([r["ms"] for r in of("quote", "display",
                                                                  "local_time")]),
            "lookup.outside_jobs_ms": outside(lookups),
            "lookup.jobs_per_op": median([r["jobs"] for r in lookups]),
            "lookup.tasks_per_op": median([r["tasks"] for r in lookups]),
        }
        trace_dir = os.path.join(WORK_ROOT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        self.tracer.write(
            os.path.join(trace_dir, f"{self.args.workload}-seed{self.args.seed}.json"),
            context=self.context, metrics=m,
            ops=[{k: v for k, v in r.items() if k != "out"} for r in recs])
        return m

    # -------------------------------------------------------- teardown
    def stop_spark(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for each."""
        if self.spark is None:
            return
        children = [p for p in descendants(os.getpid()) if p != os.getpid()]
        self.spark.stop()
        self.spark = None
        proc = getattr(self.gateway, "proc", None)
        if self.gateway is not None:
            self.gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
            time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "yat_geo_db_spark", "__init__.py")):
        print(f"geobench: no yat_geo_db_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's Python workers import the library (the Damerau pandas UDF), so
    # they need the repository root on their path, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM Spark starts (launcher and driver): temp files in the work
    # dir, and no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData") if p)
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        bench.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print("# " + json.dumps(bench.context))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
