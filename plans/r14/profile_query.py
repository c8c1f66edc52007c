"""Profile one bench query: fresh session w/ event log, run once warm
(after a warmup run), parse the event log into per-job wall + task time.

Usage: python plans/r14/profile_query.py <query> [runs]
"""
import sys, os, json, glob, time

sys.path.insert(0, "/root/repo")
name = sys.argv[1]
runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
EVDIR = "/tmp/evlog"
os.makedirs(EVDIR, exist_ok=True)
for f in glob.glob(EVDIR + "/*"):
    import shutil; shutil.rmtree(f) if os.path.isdir(f) else os.remove(f)

from yat_geo_db_spark.session import get_spark
from yat_geo_db_spark.queries import all_queries
import bench

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name=f"profile_{name}", extra_conf={
    "spark.eventLog.enabled": "true",
    "spark.eventLog.dir": EVDIR,
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
})
spark.sparkContext.setLogLevel("ERROR")
registry = all_queries()
fn = bench.BENCH_ONLY[name] if name in bench.BENCH_ONLY else registry[name][0]

walls = []
marks = []
for r in range(runs):
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    bench.force(fn(spark, SF_DIR))
    walls.append(time.perf_counter() - t0)
    marks.append(time.time() * 1000)
print(f"walls: {[round(w,3) for w in walls]}")
spark.stop()

# parse event log
ev = [f for f in glob.glob(EVDIR + "/*") if os.path.isfile(f)][0]
jobs = {}
stages = {}
for line in open(ev):
    try:
        e = json.loads(line)
    except ValueError:
        continue
    t = e.get("Event")
    if t == "SparkListenerJobStart":
        jobs[e["Job ID"]] = {"start": e["Submission Time"], "stages": len(e["Stage Infos"]),
                             "desc": (e.get("Properties") or {}).get("spark.job.description", "")[:60]}
    elif t == "SparkListenerJobEnd":
        jobs[e["Job ID"]]["end"] = e["Completion Time"]
    elif t == "SparkListenerStageCompleted":
        si = e["Stage Info"]
        stages[si["Stage ID"]] = {
            "name": si["Stage Name"].split("\n")[0][:70],
            "tasks": si["Number of Tasks"],
            "wall": (si.get("Completion Time", 0) - si.get("Submission Time", 0)),
        }

# attribute jobs to runs by mark boundaries
boundaries = marks
run_of = lambda ts: sum(1 for m in boundaries if ts > m)
per_run = {}
for jid, j in sorted(jobs.items()):
    if "end" not in j: continue
    r = run_of(j["start"])
    per_run.setdefault(r, []).append((jid, j["end"] - j["start"], j["stages"], j["desc"]))
for r in sorted(per_run):
    tot = sum(d for _, d, _, _ in per_run[r])
    print(f"-- run {r}: {len(per_run[r])} jobs, job-wall sum {tot} ms")
    for jid, d, ns, desc in per_run[r]:
        print(f"   job {jid}: {d} ms, {ns} stages  {desc}")
n_stages = len(stages)
stage_wall = sum(s["wall"] for s in stages.values())
print(f"stages total: {n_stages}, sum stage wall {stage_wall} ms")
top = sorted(stages.items(), key=lambda kv: -kv[1]["wall"])[:15]
for sid, s in top:
    print(f"   stage {sid}: {s['wall']} ms, {s['tasks']} tasks  {s['name']}")
