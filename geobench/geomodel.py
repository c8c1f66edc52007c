"""Pure-Python model of the reference's three query families.

Written from the method description (SURVEY.md §2-3) and its stated tie
rules, not from the engine's code: the benchmark feeds it the shapes table
once (collected before timing starts) and compares every operation's output
with it. Nothing here imports pyspark or `yat_geo_db_spark`.

Families:
- fuzzy: trigram postings, a candidate cap of 500 (ties to the lowest id),
  Tversky(.85/.15) with the 15% prefix boost and population weighting,
  zip mode for numeric queries, dedupe by `clean_value`, ordering by the
  score rounded to 6 places (half-up) then id;
- radius: the ellipse test for points, bbox containment for aggregates,
  the country guard, equality filters on dotted paths, haversine pair
  distance with the log-area normalisation and the 999 sentinel;
- point lookups and conditional projections, plus `add_entity` upserts
  applied to the model's own store.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

EARTH_RADIUS_MILES = 3958.756
CANDIDATE_CAP = 500
MISSING_PAIR = {"distance": 999, "normalized_distance": 999, "aggregate": False}


def clean(text: str) -> str:
    """Strip everything but ASCII letters, digits and spaces; lower-case."""
    return re.sub("[^0-9a-zA-Z ]+", "", text).lower()


def trigrams(text: str) -> list[str]:
    """Unpadded character 3-grams, duplicates kept."""
    return [text[i:i + 3] for i in range(len(text) - 2)]


def round_half_up(x: float, places: int) -> float:
    """Decimal half-up rounding of the value's shortest decimal form (how a
    SQL engine rounds a double)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def tversky(query_set: set, source: str, a: float = 0.85, b: float = 0.15) -> float:
    """|Q∩S| / (|Q∩S| + a|Q−S| + b|S−Q|) over distinct trigrams; an empty
    source or an empty intersection scores 0."""
    if not source:
        return 0.0
    src = set(trigrams(source))
    inter = float(len(query_set & src))
    if inter == 0:
        return 0.0
    return inter / (inter + a * (len(query_set) - inter) + b * (len(src) - inter))


def entity_score(query: str, query_set: set, source: str) -> float:
    base = tversky(query_set, source)
    return base * 1.15 if source.startswith(query) else base


def geo_score(query: str, query_set: set, clean_value: str, population) -> float:
    target = clean_value.split(" ")[0] if query.isnumeric() else clean_value
    fuzzy = entity_score(query, query_set, target)
    pop = population or 0
    if pop <= 0 or fuzzy <= 0.65:
        return fuzzy * 0.9
    return fuzzy * 0.9 + math.log(pop) * 0.1


def damerau(s1: str, s2: str) -> int:
    """Unrestricted Damerau-Levenshtein distance (transpositions of
    non-adjacent-after-edit characters allowed), as jellyfish defines it."""
    big = len(s1) + len(s2)
    last_row = {}
    rows = [[big] * (len(s2) + 2)]
    rows.append([big] + list(range(len(s2) + 1)))
    for i, c1 in enumerate(s1, start=1):
        row = [big, i] + [0] * len(s2)
        last_match_col = 0
        for j, c2 in enumerate(s2, start=1):
            k = last_row.get(c2, 0)
            l_col = last_match_col
            same = c1 == c2
            if same:
                last_match_col = j
            row[j + 1] = min(
                rows[i][j] + (0 if same else 1),
                row[j] + 1,
                rows[i][j + 1] + 1,
                rows[k][l_col] + (i - k - 1) + 1 + (j - l_col - 1),
            )
        rows.append(row)
        last_row[c1] = i
    return rows[len(s1) + 1][len(s2) + 1]


def geo_distance(query: str, source: str) -> int:
    return min(damerau(query.split(",")[0], source.split(",")[0]), damerau(query, source))


def get_path(record: dict, path: str):
    value = record
    for part in path.split("."):
        if not isinstance(value, dict):
            return None
        value = value.get(part)
    return value


def matches_filters(record: dict, filters: dict | None) -> bool:
    """Null-safe equality on every dotted path."""
    return all(get_path(record, k) == v for k, v in (filters or {}).items())


def lat_delta(miles: float) -> float:
    return miles / EARTH_RADIUS_MILES * 180.0 / math.pi


def lng_delta(lat: float, miles: float) -> float:
    return miles / (EARTH_RADIUS_MILES * math.cos(lat * math.pi / 180.0)) * 180.0 / math.pi


def haversine(lat1: float, lng1: float, lat2: float, lng2: float) -> float:
    p1, l1, p2, l2 = map(math.radians, (lat1, lng1, lat2, lng2))
    a = math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin((l2 - l1) / 2) ** 2
    return 2 * EARTH_RADIUS_MILES * math.atan2(math.sqrt(a), math.sqrt(1 - a))


def in_radius(record: dict, o_lat: float, o_lng: float, miles: float) -> bool:
    """Aggregates match when the origin lies in their bbox; points when they
    lie inside the lat/lng ellipse. Missing coordinates never match."""
    if record.get("is_aggregate"):
        box = record.get("bbox") or {}
        edges = (box.get("ll_latitude"), box.get("ur_latitude"),
                 box.get("ll_longitude"), box.get("ur_longitude"))
        if None in edges:
            return False
        ll_lat, ur_lat, ll_lng, ur_lng = edges
        return ur_lat >= o_lat >= ll_lat and ur_lng >= o_lng >= ll_lng
    lat, lng = record.get("latitude"), record.get("longitude")
    if lat is None or lng is None:
        return False
    dy = (o_lat - lat) / lat_delta(miles)
    dx = (o_lng - lng) / lng_delta(o_lat, miles)
    return dy * dy + dx * dx < 1


def quote_location(rec: dict) -> dict:
    rd = rec.get("ref_data") or {}
    metro = rec.get("geo_type") == "MetroArea"
    return {
        "id": rec["id"],
        "reference_code": rec["reference_code"],
        "zip_code": None if metro else rd.get("zip_code"),
        "city_name": None if metro else rd.get("city"),
        "state_code": None if metro else rd.get("state_prov"),
        "country_code": None if metro else rd.get("country"),
        "namesake_city": rd.get("city") if metro else None,
        "metro_area_name": rd.get("metro") if metro else None,
        "metro_area_size_rank": rd.get("metro_size") if metro else None,
        "metro_area_primary_state_code": rd.get("state_prov") if metro else None,
        "metro_area_primary_country_code": rd.get("country") if metro else None,
    }


def display(rec: dict, long_desc: bool = True, user_friendly: bool = False):
    default = rec["long_display"] if long_desc else rec["short_display"]
    if user_friendly:
        if rec.get("geo_type") in ("County", "ZipCode"):
            return rec["long_display"]
        if rec.get("geo_type") == "MetroArea":
            return rec["short_display"]
    return default


class GeoModel:
    """The reference's in-memory store: records by id and by reference code,
    plus a trigram → [id, ...] postings map (one entry per occurrence)."""

    def __init__(self, records: list[dict]):
        self.columns = list(records[0].keys())
        self.by_id: dict = {}
        self.ref_to_id: dict = {}
        self.postings: dict = defaultdict(list)
        for rec in records:
            self._insert(rec)

    def _insert(self, rec: dict) -> None:
        self.by_id[rec["id"]] = rec
        self.ref_to_id[rec["reference_code"]] = rec["id"]
        for gram in trigrams(rec["clean_value"] or ""):
            self.postings[gram].append(rec["id"])

    def _remove(self, entity_id) -> None:
        old = self.by_id.pop(entity_id, None)
        if old is None:
            return
        self.ref_to_id.pop(old["reference_code"], None)
        for gram in set(trigrams(old["clean_value"] or "")):
            self.postings[gram] = [i for i in self.postings[gram] if i != entity_id]

    # ------------------------------------------------------------ lookups
    def by_ref(self, reference_code: str):
        entity_id = self.ref_to_id.get(reference_code)
        return None if entity_id is None else self.by_id[entity_id]

    def get(self, entity_id):
        return self.by_id.get(entity_id)

    # ------------------------------------------------------------- writes
    def add_entity(self, entity: str, entity_id: int, extra: dict | None = None) -> dict:
        """Upsert: the stored record holds the cleaned string as value,
        clean_value and reference code; `extra` fields that are columns
        override; every other column is null."""
        cleaned = clean(entity)
        rec = {c: None for c in self.columns}
        rec.update({"id": entity_id, "reference_code": cleaned, "value": cleaned,
                    "clean_value": cleaned, "population": 0, "is_aggregate": False})
        rec.update({k: v for k, v in (extra or {}).items() if k in rec})
        self._remove(entity_id)
        self._insert(rec)
        return rec

    # -------------------------------------------------------------- fuzzy
    def fuzzy_search(self, search: str, num_results: int = 50, filters=None) -> list[dict]:
        query = clean(search)
        qset = set(trigrams(query))
        if not qset:
            return []
        hits: dict = defaultdict(int)
        for gram in qset:
            for entity_id in self.postings.get(gram, ()):
                hits[entity_id] += 1
        cap = max(num_results, CANDIDATE_CAP)
        cands = sorted(hits.items(), key=lambda kv: (-kv[1], kv[0]))[:cap]
        best: dict = {}
        for entity_id, _ in cands:
            rec = self.by_id[entity_id]
            if not matches_filters(rec, filters):
                continue
            cv = rec["clean_value"]
            score = geo_score(query, qset, cv, rec["population"])
            key = (-round_half_up(score, 6), entity_id)
            if cv not in best or key < best[cv][0]:
                best[cv] = (key, {
                    "id": entity_id,
                    "value": rec["value"],
                    "clean_value": cv,
                    "ngram_similarity": entity_score(query, qset, cv),
                    "score": score,
                    "distance": geo_distance(query, cv),
                })
        ranked = sorted(best.values(), key=lambda kr: kr[0])
        return [row for _, row in ranked[:num_results]]

    def best_fuzzy_search(self, search: str, score_threshold: float = 0.90, filters=None):
        top = self.fuzzy_search(search, num_results=1, filters=filters)
        return top[0] if top and top[0]["score"] >= score_threshold else None

    # ------------------------------------------------------------- radius
    def radius_search(self, reference_code: str, miles: float,
                      country_exact: bool = False, filters=None) -> set:
        origin = self.by_ref(reference_code)
        if origin is None:
            return set()
        o_lat, o_lng = origin["latitude"], origin["longitude"]
        o_country = (origin.get("ref_data") or {}).get("country")
        out = set()
        for rec in self.by_id.values():
            if country_exact and o_country is not None and \
                    (rec.get("ref_data") or {}).get("country") != o_country:
                continue
            if in_radius(rec, o_lat, o_lng, miles) and matches_filters(rec, filters):
                out.add(rec["id"])
        return out

    def radius_search_lat_lng(self, lat: float, lng: float, miles: float,
                              country_filter=None, filters=None) -> set:
        out = set()
        for rec in self.by_id.values():
            if country_filter is not None and \
                    (rec.get("ref_data") or {}).get("country") != country_filter:
                continue
            if in_radius(rec, lat, lng, miles) and matches_filters(rec, filters):
                out.add(rec["id"])
        return out

    def pair_distance(self, orig_ref: str, dest_ref: str) -> dict:
        o, d = self.by_ref(orig_ref), self.by_ref(dest_ref)
        if o is None or d is None or \
                None in (o["latitude"], o["longitude"], d["latitude"], d["longitude"]):
            return dict(MISSING_PAIR)
        dist = round_half_up(haversine(o["latitude"], o["longitude"],
                                       d["latitude"], d["longitude"]), 4)
        norm = dist
        if o["is_aggregate"]:
            if o["area"] >= 10:
                norm = dist / math.log(max(o["area"], 1.0))
        elif d["is_aggregate"] and d["area"] >= 10:
            norm = dist / math.log(max(d["area"], 1.0))
        return {"distance": dist, "normalized_distance": norm,
                "aggregate": bool(o["is_aggregate"] or d["is_aggregate"])}
