"""Seeded operation sequences for the benchmark's workloads.

Inputs are drawn from the shapes table's own values (its distinct
`clean_value`s, reference codes, ids and coordinates) with
`random.Random(seed)`, so the same seed and table give the same sequence.
Each operation is a `(kind, args)` pair; `run.py` maps kinds to `GeoManager`
calls and `geomodel.GeoModel` computes the expected output.

A run replays a fixed number of operations, derived from `--seconds` and a
nominal rate, never from the clock: writes change the cost of later reads,
so a run bounded by time would change its own mix.
"""

from __future__ import annotations

import random

#: geo_serve_mixed round: one write, the read of what was written, then ten
#: reads in a seeded order: eight point lookups, one projection (quote,
#: display, local time in turn) and one heavier call (HEAVY in turn).
#: The mix is synthetic and unverified: no traffic log of the reference
#: exists to take it from. It was chosen for a steady median: point lookups
#: and the write, all ~0.1 s, are 3/4 of the calls, so `p50_ms` is in
#: effect the median of that cluster, and radius, projection and pair cost
#: show in `ops_per_s` and the traced figures instead. No fuzzy search: its
#: first call costs 8-11 s of warm-up, more than the run budget can carry
#: for one call in fifty.
SERVE_LOOKUPS = ("by_ref",) * 5 + ("by_id",) * 3
PROJECTIONS = ("quote", "display", "local_time")
HEAVY = ("radius", "latlng", "pair", "radius")
SERVE_ROUND = 2 + len(SERVE_LOOKUPS) + 2
WRITE_ID_BASE = 1_000_000
#: untimed point lookups before a run that makes them: in a fresh process
#: lookups kept getting faster over ~120 calls (127 -> 91 ms median)
LOOKUP_WARMUP_ROUNDS = 10

#: a run replays max(1, round(seconds x rate / 12)) whole rounds, fixed
#: before it starts: a pair of typing sessions (9-15 calls, ~30 s on a
#: 4-core box) or a 12-call serving round (~3 s)
NOMINAL_RATE = {"geo_autocomplete": 1.0, "geo_serve_mixed": 4.0}
ALL_KINDS = ("fuzzy", "best", "by_ref", "by_id", "quote", "display", "local_time",
             "radius", "latlng", "pair", "write")

NAME_TYPES = ("City", "MetroArea", "County")
RADII = (5.0, 10.0, 25.0, 50.0, 100.0)
SUFFIXES = ("north", "south", "heights", "park", "junction", "springs")


class TableValues:
    """The values a workload draws from, indexed once per run."""

    def __init__(self, records: list[dict]):
        records = sorted(records, key=lambda r: r["id"])
        self.records = records
        self.by_clean: dict = {}
        for r in records:
            self.by_clean.setdefault(r["clean_value"], r)
        self.clean_values = sorted(self.by_clean)
        #: distinct clean_values per geo_type: zips are ~97% of the 3,846
        #: distinct values, so a uniform draw would type almost only zips
        self.clean_by_type: dict = {}
        for cv in self.clean_values:
            self.clean_by_type.setdefault(self.by_clean[cv]["geo_type"], []).append(cv)


class Strata:
    """Seeded draws of table records spread evenly over the id range: each
    cycle of `n` draws takes one record from each of `n` equal id ranges, in
    a shuffled order. Lookup cost depends on where a key sits (a `first()`
    stops at the first partition holding it), so even spread keeps that
    share the same on every seed."""

    def __init__(self, records: list[dict], rng: random.Random, n: int = 4):
        self.records, self.rng, self.n = records, rng, n
        self.order: list = []

    def pick(self) -> dict:
        if not self.order:
            self.order = list(range(self.n))
            self.rng.shuffle(self.order)
        k = self.order.pop()
        size = len(self.records) // self.n
        return self.records[k * size + self.rng.randrange(size)]


def corrupt(text: str, rng: random.Random) -> str:
    """Drop, swap or insert one character at a seeded position."""
    if len(text) < 4:
        return text
    i = rng.randrange(1, len(text) - 2)
    how = rng.choice(("drop", "swap", "insert"))
    if how == "drop":
        return text[:i] + text[i + 1:]
    if how == "swap":
        return text[:i] + text[i + 1] + text[i] + text[i + 2:]
    return text[:i] + rng.choice("aeiourstln") + text[i:]


def _session_filter(rec: dict, rng: random.Random):
    # synthetic shares, like the name/zip split in `autocomplete_ops`
    roll = rng.random()
    if roll < 0.15:
        return {"ref_data.country": rec["ref_data"]["country"]}
    if roll < 0.30:
        return {"geo_type": rec["geo_type"]}
    return None


def typing_session(rec: dict, rng: random.Random) -> list:
    """One user typing towards `rec`: a `fuzzy_search` per keystroke from
    three characters to the end of the name (all digits of a zip), one on the
    whole string, then `best_fuzzy_search` on it."""
    flt = _session_filter(rec, rng)
    if rec["geo_type"] == "ZipCode":
        typed = rec["ref_data"]["zip_code"]  # digits only: zip-mode scoring
        prefixes = [typed[:k] for k in range(3, len(typed) + 1)]
    else:
        typed = rec["value"]
        name_end = len(typed.split(" ")[0].rstrip(","))
        prefixes = [typed[:k] for k in range(3, name_end + 1)] + [typed]
    ops = [("fuzzy", {"query": p, "num_results": 10, "filters": flt}) for p in prefixes]
    ops.append(("best", {"query": typed, "filters": flt}))
    return ops


def autocomplete_ops(values: TableValues, seed: int, n_pairs: int) -> list:
    """`n_pairs` pairs of sessions, each one name session (a city, metro or
    county, seeded) and one zip session, in seeded order. The even split of
    name and zip sessions is a synthetic choice, not taken from traffic."""
    rng = random.Random(seed)
    ops: list = []
    for _ in range(n_pairs):
        kinds = [rng.choice(NAME_TYPES), "ZipCode"]
        rng.shuffle(kinds)
        for geo_type in kinds:
            rec = values.by_clean[rng.choice(values.clean_by_type[geo_type])]
            ops.extend(typing_session(rec, rng))
    return ops


def _write(values: TableValues, rng: random.Random, entity_id: int) -> tuple:
    near = rng.choice(values.records)
    name = near["ref_data"]["city"].title()
    entity = f"{name} {rng.choice(SUFFIXES).title()} {entity_id}, {near['ref_data']['state_prov']}"
    extra = {
        "geo_type": "City",
        "population": rng.randrange(1_000, 500_000),
        "latitude": near["latitude"] + rng.uniform(-0.05, 0.05),
        "longitude": near["longitude"] + rng.uniform(-0.05, 0.05),
    }
    return ("write", {"entity": entity, "entity_id": entity_id, "extra": extra})


def _read(kind: str, values: TableValues, rng: random.Random, written: list,
          rec: dict) -> tuple:
    ref = rec["reference_code"]
    if kind == "by_ref":
        # one in eight asks for a code that does not exist (→ None)
        return (kind, {"ref": ref if rng.random() >= 0.125 else ref + "_missing"})
    if kind == "by_id":
        pick = rng.choice(written) if written and rng.random() < 0.25 else rec["id"]
        return (kind, {"id": pick})
    if kind == "quote":
        return (kind, {"id": rec["id"]} if rng.random() < 0.5 else {"ref": ref})
    if kind == "display":
        return (kind, {"ref": ref, "long_desc": rng.random() < 0.5,
                       "user_friendly": rng.random() < 0.5})
    if kind == "local_time":
        return (kind, {"ref": ref})
    if kind == "radius":
        roll = rng.random()
        flt = ({"geo_type": rec["geo_type"]} if roll < 0.2 else
               {"ref_data.state_prov": rec["ref_data"]["state_prov"]} if roll < 0.4 else None)
        return ("radius", {"ref": ref, "radius": rng.choice(RADII),
                           "country_exact": rng.random() < 0.5, "filters": flt})
    if kind == "latlng":
        return (kind, {"lat": rec["latitude"] + rng.uniform(-0.2, 0.2),
                       "lng": rec["longitude"] + rng.uniform(-0.2, 0.2),
                       "radius": rng.choice(RADII),
                       "country": "US" if rng.random() < 0.3 else None,
                       "filters": {"geo_type": "City"} if rng.random() < 0.2 else None})
    if kind == "pair":
        dest = rng.choice(values.records)["reference_code"]
        return (kind, {"orig": ref, "dest": dest if rng.random() >= 0.1 else dest + "_missing"})
    if kind == "fuzzy":
        target = rng.choice(values.clean_values)
        return (kind, {"query": corrupt(target, rng), "num_results": 10, "filters": None})
    raise ValueError(kind)


def serve_mixed_ops(values: TableValues, seed: int, n_rounds: int) -> list:
    rng = random.Random(seed)
    strata: dict = {}
    ops: list = []
    written: list = []
    for r in range(n_rounds):
        entity_id = WRITE_ID_BASE + r
        ops.append(_write(values, rng, entity_id))
        ops.append(("read_written", {"id": entity_id}))
        written.append(entity_id)
        reads = [*SERVE_LOOKUPS, PROJECTIONS[r % len(PROJECTIONS)], HEAVY[r % len(HEAVY)]]
        rng.shuffle(reads)
        for kind in reads:
            picker = strata.setdefault(kind, Strata(values.records, rng))
            ops.append(_read(kind, values, rng, written, picker.pick()))
    return ops


def panel_ops(values: TableValues, kinds, seed: int, calls: int = 3) -> list:
    """A few calls of each listed kind, for the traced run's per-layer
    figures of layers the workload itself does not call."""
    rng = random.Random(seed + 7919)
    ops: list = []
    written: list = []
    for k in range(calls):
        for kind in kinds:
            if kind == "write":
                entity_id = WRITE_ID_BASE + 900_000 + k
                ops.append(_write(values, rng, entity_id))
                ops.append(("read_written", {"id": entity_id}))
                written.append(entity_id)
            elif kind == "best":
                rec = values.by_clean[rng.choice(values.clean_values)]
                ops.append(("best", {"query": rec["value"], "filters": None}))
            elif kind != "read_written":
                ops.append(_read(kind, values, rng, written, rng.choice(values.records)))
    return ops


def plan_ops(workload: str, values: TableValues, seed: int, seconds: float) -> list:
    """Whole rounds: session pairs (~12 calls) or serve rounds (12 calls)."""
    rounds = max(1, round(seconds * NOMINAL_RATE[workload] / 12))
    if workload == "geo_autocomplete":
        return autocomplete_ops(values, seed, rounds)
    return serve_mixed_ops(values, seed, rounds)


def warmup_ops(values: TableValues, kinds) -> list:
    """One call of each kind in `kinds`, from sequences of the fixed seed -1,
    so warm-up does not vary with the run's seed."""
    left = set(kinds) - {"read_written"}
    fixed = autocomplete_ops(values, seed=-1, n_pairs=1)
    fixed += serve_mixed_ops(values, seed=-1, n_rounds=3)
    ops: list = []
    for kind, a in fixed:
        if kind in left:
            left.discard(kind)
            ops.append((kind, a))
    if left:
        raise RuntimeError(f"warm-up misses {sorted(left)}")
    return ops


def lookup_warmup_ops(values: TableValues, n_rounds: int = LOOKUP_WARMUP_ROUNDS) -> list:
    """`n_rounds` shuffled copies of a serving round's point lookups, with
    the fixed seed -1 and keys spread over the id range as in the run."""
    rng = random.Random(-1)
    strata: dict = {}
    ops: list = []
    for _ in range(n_rounds):
        kinds = list(SERVE_LOOKUPS)
        rng.shuffle(kinds)
        for kind in kinds:
            picker = strata.setdefault(kind, Strata(values.records, rng))
            ops.append(_read(kind, values, rng, [], picker.pick()))
    return ops
