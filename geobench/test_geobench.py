"""Fast self-tests of the benchmark (no Spark):

    python3 -m pytest geobench/test_geobench.py -q -p no:cacheprovider

They check the model on hand-worked cases, that the seeded workloads are
deterministic and have the documented make-up, that the metric names the
runner prints match BENCHMARK.json, and that the runner refuses to start
without the library beside it.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import geomodel as gmod  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402


def rec(i, clean_value, population=0, **kw):
    base = {"id": i, "reference_code": f"r{i}", "value": clean_value,
            "clean_value": clean_value, "latitude": 0.0, "longitude": 0.0,
            "area": 0.0, "geo_type": "City", "population": population,
            "is_aggregate": False, "ref_data": {"country": "US", "state_prov": "TN"},
            "bbox": None}
    base.update(kw)
    return base


# ------------------------------------------------------------ fuzzy model

def test_clean_and_trigrams():
    assert gmod.clean("Nashville, TN!") == "nashville tn"
    assert gmod.trigrams("abab") == ["aba", "bab"]
    assert gmod.trigrams("ab") == []


def test_tversky_prefix_boost_and_population():
    q = "nash"
    qs = set(gmod.trigrams(q))  # {nas, ash}
    # "nashua": {nas, ash, shu, hua} -> 2 / (2 + .85*0 + .15*2)
    assert gmod.tversky(qs, "nashua") == pytest.approx(2 / 2.3)
    assert gmod.entity_score(q, qs, "nashua") == pytest.approx(2 / 2.3 * 1.15)
    assert gmod.entity_score(q, qs, "annash") < gmod.tversky(qs, "annash") * 1.15
    strong = gmod.entity_score(q, qs, "nashua")
    assert gmod.geo_score(q, qs, "nashua", 1000) == pytest.approx(strong * 0.9 + math.log(1000) * 0.1)
    assert gmod.geo_score(q, qs, "nashua", 0) == pytest.approx(strong * 0.9)
    weak = gmod.entity_score(q, qs, "xxnasyy")
    assert weak <= 0.65 and gmod.geo_score(q, qs, "xxnasyy", 10**6) == pytest.approx(weak * 0.9)
    assert gmod.tversky(qs, "") == 0.0 and gmod.tversky(qs, "zzz") == 0.0


def test_zip_mode_scores_first_token_only():
    qs = set(gmod.trigrams("123"))
    # target "12345": {123, 234, 345} -> 1 / (1 + .15*2), prefix-boosted
    assert gmod.geo_score("123", qs, "12345 us", 0) == pytest.approx(1 / 1.3 * 1.15 * 0.9)


def test_damerau_is_unrestricted():
    assert gmod.damerau("ca", "abc") == 2  # restricted (OSA) distance would be 3
    assert gmod.damerau("nashville", "nahsville") == 1
    assert gmod.damerau("", "abc") == 3 and gmod.damerau("abc", "abc") == 0
    assert gmod.damerau("kitten", "sitting") == 3


def test_round_half_up_uses_decimal_form():
    assert gmod.round_half_up(0.1234565, 6) == 0.123457
    assert gmod.round_half_up(5e-7, 6) == 1e-6  # half-up, not half-even
    assert gmod.round_half_up(2.5e-7, 6) == 0.0


def test_candidate_cap_ties_go_to_lowest_id():
    # 600 entities with one hit each; id 999 would score best (population
    # boost) but the 500-candidate cap keeps ids 0..499 only
    recs = [rec(i, f"abc {i:04d}") for i in range(599)] + [rec(999, "abc 0999", 10**6)]
    model = gmod.GeoModel(recs)
    out = model.fuzzy_search("abc", num_results=50)
    assert len(out) == 50 and 999 not in {r["id"] for r in out}
    assert [r["id"] for r in out] == list(range(50))  # equal scores: by id
    # with the cap lifted past 600 the boosted entity ranks first
    assert model.fuzzy_search("abc", num_results=600)[0]["id"] == 999


def test_dedupe_by_clean_value_and_order():
    recs = [rec(1, "salem tn", 50), rec(2, "salem tn", 5000), rec(3, "salem tx", 0),
            rec(4, "salem tn", 5000)]
    out = gmod.GeoModel(recs).fuzzy_search("salem", num_results=10)
    assert [r["id"] for r in out] == [2, 3]  # 2 beats 1 on score, 4 on id
    assert out[0]["score"] > out[1]["score"]


def test_filters_apply_after_the_cap_with_dotted_paths():
    recs = [rec(1, "dayton oh", ref_data={"country": "US"}),
            rec(2, "dayton ky", ref_data={"country": "CA"})]
    model = gmod.GeoModel(recs)
    assert [r["id"] for r in model.fuzzy_search("dayton", filters={"ref_data.country": "CA"})] == [2]
    # "dayt" {day, ayt} in "dayton oh" (7 trigrams): 2 / (2 + .15 * 5), the
    # prefix boost, no population: 0.7527 < 0.90, so no best match
    top = model.fuzzy_search("dayt", num_results=1)
    assert [r["id"] for r in top] == [1]  # tie with "dayton ky": lowest id
    assert top[0]["score"] == pytest.approx(2 / 2.75 * 1.15 * 0.9)
    assert model.best_fuzzy_search("dayt") is None


# ----------------------------------------------------------- radius model

def test_radius_ellipse_bbox_and_country_guard():
    box = {"ll_latitude": -1.0, "ur_latitude": 1.0, "ll_longitude": 9.0, "ur_longitude": 11.0}
    recs = [rec(1, "origin", latitude=10.0, longitude=10.0),
            rec(2, "near", latitude=10.1, longitude=10.0),
            rec(3, "far", latitude=12.0, longitude=10.0),
            rec(4, "agg", latitude=50.0, longitude=50.0, is_aggregate=True,
                bbox={**box, "ll_latitude": 9.0, "ur_latitude": 11.0}),
            rec(5, "near ca", latitude=10.0, longitude=10.1, ref_data={"country": "CA"})]
    model = gmod.GeoModel(recs)
    # 0.1 deg of latitude is ~6.9 miles
    assert model.radius_search("r1", 10.0) == {1, 2, 4, 5}
    assert model.radius_search("r1", 5.0) == {1, 4}
    assert model.radius_search("r1", 10.0, country_exact=True) == {1, 2, 4}
    assert model.radius_search("r1", 10.0, filters={"is_aggregate": True}) == {4}
    assert model.radius_search("missing", 10.0) == set()
    assert model.radius_search_lat_lng(10.0, 10.0, 10.0, country_filter="CA") == {5}


def test_pair_distance_and_sentinel():
    recs = [rec(1, "a", latitude=0.0, longitude=0.0),
            rec(2, "b", latitude=0.0, longitude=1.0),
            rec(3, "m", latitude=0.0, longitude=1.0, is_aggregate=True, area=100.0)]
    model = gmod.GeoModel(recs)
    one_degree = 2 * math.pi * gmod.EARTH_RADIUS_MILES / 360
    got = model.pair_distance("r1", "r2")
    assert got["distance"] == pytest.approx(one_degree, abs=1e-4) and not got["aggregate"]
    agg = model.pair_distance("r1", "r3")
    assert agg["normalized_distance"] == pytest.approx(agg["distance"] / math.log(100.0))
    assert agg["aggregate"]
    assert model.pair_distance("r1", "nope") == gmod.MISSING_PAIR


# ------------------------------------------------------- lookups, writes

def test_add_entity_upserts_record_and_postings():
    model = gmod.GeoModel([rec(1, "old name"), rec(2, "other")])
    written = model.add_entity("New Place, TN", 1, {"population": 7, "not_a_column": 1})
    assert model.get(1) == written
    assert written["clean_value"] == "new place tn" and written["reference_code"] == "new place tn"
    assert written["population"] == 7 and "not_a_column" not in written
    assert written["latitude"] is None
    assert model.fuzzy_search("old name") == []
    assert [r["id"] for r in model.fuzzy_search("new place")] == [1]
    assert model.by_ref("r1") is None and model.by_ref("new place tn")["id"] == 1


def test_projections():
    metro = rec(1, "x", geo_type="MetroArea", long_display="L", short_display="S",
                ref_data={"city": "c", "metro": "m", "metro_size": 3, "state_prov": "TN",
                          "country": "US", "zip_code": None})
    q = gmod.quote_location(metro)
    assert q["metro_area_name"] == "m" and q["city_name"] is None
    assert gmod.display(metro, long_desc=True, user_friendly=True) == "S"
    assert gmod.display(metro, long_desc=True) == "L"
    assert gmod.display({**metro, "geo_type": "County"}, long_desc=False, user_friendly=True) == "L"


# ---------------------------------------------------------- workloads

def table():
    recs = []
    for i in range(64):
        gt = ("City", "ZipCode", "MetroArea", "County")[i % 4]
        name = ("nashville", "salem", "dayton", "bristol")[(i // 4) % 4]
        value = {"City": f"{name}, TN", "ZipCode": f"{10000 + i}, US",
                 "MetroArea": f"{name} metro, TN", "County": f"{name} county, TN"}[gt]
        recs.append(rec(i, gmod.clean(value), 1000 + i, value=value, geo_type=gt,
                        latitude=30.0 + i * 0.01, longitude=-90.0,
                        ref_data={"country": "US", "state_prov": "TN", "city": name,
                                  "zip_code": str(10000 + i) if gt == "ZipCode" else None}))
    return wl.TableValues(recs)


def test_workloads_are_seeded_whole_rounds():
    values = table()
    for name in run.WORKLOADS:
        a = wl.plan_ops(name, values, 5, 12)
        assert a == wl.plan_ops(name, values, 5, 12)
        assert a != wl.plan_ops(name, values, 6, 12)
    assert len(wl.plan_ops("geo_serve_mixed", values, 6, 12)) == 4 * wl.SERVE_ROUND
    # autocomplete: one name and one zip session per pair, each ending in best
    ops = wl.autocomplete_ops(values, seed=6, n_pairs=3)
    assert [k for k, _ in ops].count("best") == 6
    bests = [a["query"] for k, a in ops if k == "best"]
    assert sum(q.isnumeric() for q in bests) == 3


def test_strata_spread_draws_over_the_id_range():
    values = table()
    picker = wl.Strata(values.records, random.Random(1), n=4)
    quarters = [picker.pick()["id"] * 4 // len(values.records) for _ in range(8)]
    assert sorted(quarters) == [0, 0, 1, 1, 2, 2, 3, 3]


def test_lookup_warmup_is_fixed_and_spread():
    values = table()
    ops = wl.lookup_warmup_ops(values)
    assert ops == wl.lookup_warmup_ops(values)
    assert len(ops) == wl.LOOKUP_WARMUP_ROUNDS * len(wl.SERVE_LOOKUPS)
    assert {k for k, _ in ops} == {"by_ref", "by_id"}


def test_oracle_checks_outputs_against_the_model():
    model = gmod.GeoModel(table().records)
    rec8 = model.get(8)
    assert oracle.check(model, "by_ref", {"ref": "r8"}, rec8, 0.0) == []
    assert oracle.check(model, "by_ref", {"ref": "r8"}, model.get(9), 0.0) != []
    hits = model.radius_search("r8", 5.0)
    args = {"ref": "r8", "radius": 5.0, "country_exact": False, "filters": None}
    assert oracle.check(model, "radius", args, sorted(hits), 0.0) == []
    assert oracle.check(model, "radius", args, sorted(hits) + [63], 0.0) != []
    # a write is applied to the model, so its read-back is checked against it
    write = {"entity": "Salem Park 1000000, TN", "entity_id": 1_000_000, "extra": {}}
    assert oracle.check(model, "write", write, None, 0.0) == []
    assert oracle.check(model, "read_written", {"id": 1_000_000}, None, 0.0) != []
    assert oracle.check(model, "read_written", {"id": 1_000_000},
                        model.get(1_000_000), 0.0) == []


def test_serve_mixed_round_make_up():
    ops = wl.serve_mixed_ops(table(), seed=3, n_rounds=5)
    assert len(ops) == 5 * wl.SERVE_ROUND
    kinds = [k for k, _ in ops]
    assert kinds.count("write") == 5 and kinds.count("radius") == 3
    assert kinds.count("by_ref") + kinds.count("by_id") + kinds.count("write") >= 0.7 * len(ops)
    assert {"quote", "display", "local_time", "radius", "latlng", "pair"} <= set(kinds)
    for r in range(5):
        chunk = ops[r * wl.SERVE_ROUND:(r + 1) * wl.SERVE_ROUND]
        assert chunk[0][0] == "write" and chunk[1] == ("read_written", {"id": chunk[0][1]["entity_id"]})


def test_typing_session_shape():
    values = table()
    city = values.by_clean["nashville tn"]
    session = wl.typing_session(city, random.Random(0))
    queries = [a["query"] for _, a in session]
    assert queries[0] == "nas" and queries[-3:] == ["nashville", "nashville, TN", "nashville, TN"]
    assert [k for k, _ in session][-1] == "best"
    zip_rec = next(r for r in values.records if r["geo_type"] == "ZipCode")
    zq = [a["query"] for _, a in wl.typing_session(zip_rec, random.Random(0))]
    assert all(q.isnumeric() for q in zq) and len(zq) == 4


# -------------------------------------------------------------- contract

def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "geobench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run([sys.executable, "geobench/run.py", "--workload", "geo_serve_mixed",
                           "--seed", "1", "--seconds", "20", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0 and proc.stdout.strip() == ""
