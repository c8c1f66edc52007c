#!/usr/bin/env python3
"""The model side of a benchmark run, in a process of its own.

    python3 geobench/oracle.py plan  TABLE WORKLOAD SEED SECONDS TRACE OUT
    python3 geobench/oracle.py check TABLE CALLS OUT

`run.py` writes the cached shapes table to Parquet (TABLE) and calls this
twice: `plan` draws the run's seeded sequences from the table's own values
(`workloads.py`) and pickles them to OUT; `check` reads the pickled calls
and outputs (CALLS), replays them in order against the pure-Python model
(`geomodel.py`), writing to the model's own store as the run wrote, and
pickles each call's problems to OUT (an empty list when the output is
correct). Keeping the 15,000 rows, the model's postings and the drawn
values out of the runner keeps them out of its peak memory.
"""

from __future__ import annotations

import datetime as dt
import os
import pickle
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import geomodel  # noqa: E402
import workloads as wl  # noqa: E402


def load_table(path: str) -> list[dict]:
    """The shapes as `Row.asDict(recursive=True)` gives them."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def plan(table: list[dict], workload: str, seed: int, seconds: float, traced: bool) -> dict:
    """The timed sequence, the warm-up calls before it and, traced, the
    panel of kinds the workload does not call."""
    values = wl.TableValues(table)
    timed = wl.plan_ops(workload, values, seed, seconds)
    kinds = {k for k, _ in timed}
    missing = [k for k in wl.ALL_KINDS if k not in kinds]
    return {
        "timed": timed,
        "warmup": wl.warmup_ops(values, wl.ALL_KINDS if traced else kinds),
        "lookups": wl.lookup_warmup_ops(values) if "by_ref" in kinds else [],
        "panel": wl.panel_ops(values, missing, seed) if traced else [],
    }


def _close(x, y, tol=1e-9) -> bool:
    return x is not None and y is not None and abs(x - y) <= tol * max(1.0, abs(y))


def check(model: geomodel.GeoModel, kind: str, a: dict, out, when: float) -> list:
    """Compare one output with the model and with properties every correct
    answer has; returns the problems found (empty when correct). Writes are
    applied to the model here, so calls must be checked in order."""
    if kind == "write":
        model.add_entity(a["entity"], a["entity_id"], a["extra"])
        return [] if out is None else [f"add_entity returned {out!r}"]
    if kind in ("fuzzy", "best"):
        rows = out if kind == "fuzzy" else ([] if out is None else [out])
        if kind == "fuzzy":
            want = model.fuzzy_search(a["query"], a["num_results"], a["filters"])
        else:
            best = model.best_fuzzy_search(a["query"], filters=a["filters"])
            want = [] if best is None else [best]
        problems = []
        keys = [(-geomodel.round_half_up(r["score"], 6), r["id"]) for r in rows]
        if keys != sorted(keys):
            problems.append("results not sorted by (rounded score desc, id)")
        if len({r["clean_value"] for r in rows}) != len(rows):
            problems.append("clean_value repeated")
        if any((r.get("extra") or {}).get("id") != r["id"] for r in rows):
            problems.append("extra.id != id")
        if [r["id"] for r in rows] != [w["id"] for w in want]:
            problems.append(f"ids {[r['id'] for r in rows]} != model {[w['id'] for w in want]}")
            return problems
        for r, w in zip(rows, want):
            if not (_close(r["score"], w["score"]) and
                    _close(r["ngram_similarity"], w["ngram_similarity"]) and
                    r["distance"] == w["distance"] and r["value"] == w["value"] and
                    r["extra"] == model.get(r["id"])):
                problems.append(f"row {r['id']} differs from model")
        return problems
    if kind == "by_ref":
        return [] if out == model.by_ref(a["ref"]) else ["record differs from model"]
    if kind in ("by_id", "read_written"):
        want = model.get(a["id"])
        if kind == "read_written" and out is None:
            return ["written entity not read back"]
        return [] if out == want else ["record differs from model"]
    rec = model.get(a["id"]) if "id" in a else model.by_ref(a.get("ref"))
    if kind == "quote":
        want = None if rec is None else geomodel.quote_location(rec)
        return [] if out == want else ["quote location differs from model"]
    if kind == "display":
        want = None if rec is None else geomodel.display(rec, a["long_desc"], a["user_friendly"])
        return [] if out == want else ["display differs from model"]
    if kind == "local_time":
        if rec is None:
            return [] if out is None else ["local time for a missing shape"]
        from zoneinfo import ZoneInfo
        tz = ZoneInfo(rec["primary_timezone"] or "UTC")
        expect = dt.datetime.fromtimestamp(when, tz).replace(tzinfo=None)
        ok = out is not None and abs((out - expect).total_seconds()) < 120
        return [] if ok else [f"local time {out} far from {expect}"]
    if kind in ("radius", "latlng"):
        if kind == "radius":
            want = model.radius_search(a["ref"], a["radius"], a["country_exact"], a["filters"])
            origin = model.by_ref(a["ref"])
            o_lat, o_lng = (origin["latitude"], origin["longitude"]) if origin else (0, 0)
        else:
            want = model.radius_search_lat_lng(a["lat"], a["lng"], a["radius"],
                                               a["country"], a["filters"])
            o_lat, o_lng = a["lat"], a["lng"]
        problems = []
        if len(set(out)) != len(out):
            problems.append("duplicate hits")
        bad = [i for i in out if model.get(i) is None or not (
            geomodel.in_radius(model.get(i), o_lat, o_lng, a["radius"])
            and geomodel.matches_filters(model.get(i), a["filters"]))]
        if bad:
            problems.append(f"hits outside the predicate: {bad[:5]}")
        if set(out) != want:
            problems.append(f"{len(out)} hits != model {len(want)}")
        return problems
    if kind == "pair":
        want = model.pair_distance(a["orig"], a["dest"])
        if want["distance"] == 999:
            return [] if out == want else [f"{out} != sentinel"]
        ok = (abs(out["distance"] - want["distance"]) <= 1.01e-4
              and _close(out["normalized_distance"], want["normalized_distance"], 1e-6)
              and out["aggregate"] == want["aggregate"])
        return [] if ok else [f"{out} != model {want}"]
    raise ValueError(kind)


def main(argv) -> int:
    cmd, table = argv[0], load_table(argv[1])
    if cmd == "plan":
        workload, seed, seconds, trace, out = argv[2:]
        result = plan(table, workload, int(seed), float(seconds), trace == "1")
    elif cmd == "check":
        calls, out = argv[2:]
        with open(calls, "rb") as fh:
            records = pickle.load(fh)
        model = geomodel.GeoModel(table)
        result = [check(model, kind, a, got, when) for kind, a, got, when in records]
    else:
        raise SystemExit(f"unknown command {cmd!r}")
    with open(out, "wb") as fh:
        pickle.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
