"""Grid-cell density hotspots and geohash bucketing (geo.grid)."""

from __future__ import annotations


def test_density_hotspots_neighborhood_mass(spark):
    """A planted dense cluster must rank first; its neighborhood mass
    must include adjacent-cell points; aggregates and null coordinates
    are excluded."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.geo.grid import density_hotspots

    rows = []
    # 10 points in cell (10, 20); 3 in the adjacent cell (11, 20)
    for i in range(10):
        rows.append((i, 20.5, 10.5, False))
    for i in range(10, 13):
        rows.append((i, 20.5, 11.5, False))
    # far singleton + an aggregate + a null-coord row (both excluded)
    rows.append((50, -40.5, -100.5, False))
    rows.append((51, 20.5, 10.5, True))
    rows.append((52, None, 10.5, False))
    df = spark.createDataFrame(
        rows, "id long, latitude double, longitude double, is_aggregate boolean"
    )
    out = density_hotspots(df, cell_deg=1.0, top_k=5).collect()
    top = out[0]
    assert (top["cx"], top["cy"]) == (10, 20)
    assert top["n_cell"] == 10 and top["n_neighborhood"] == 13
    cells = {(r["cx"], r["cy"]): r for r in out}
    assert cells[(11, 20)]["n_neighborhood"] == 13
    assert cells[(-101, -41)]["n_neighborhood"] == 1


def test_geohash_matches_textbook_bisection(spark):
    """The codegen'd bit-interleave geohash must equal the classic
    bisection algorithm character-for-character on random points and
    the canonical landmark cases, at several precisions."""
    import random

    import pyspark.sql.functions as F
    from yat_geo_db_spark.geo.grid import GEOHASH_ALPHABET, geohash_col

    def ref(lat, lon, precision):
        lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
        bits, ch, out, even = 0, 0, "", True
        while len(out) < precision:
            rng = lon_r if even else lat_r
            v = lon if even else lat
            mid = sum(rng) / 2
            if v >= mid:
                ch = ch * 2 + 1
                rng[0] = mid
            else:
                ch = ch * 2
                rng[1] = mid
            even = not even
            bits += 1
            if bits == 5:
                out += GEOHASH_ALPHABET[ch]
                bits, ch = 0, 0
        return out

    rng = random.Random(42)
    pts = [(57.64911, 10.40744), (40.689247, -74.044502),
           (-33.8568, 151.2153), (0.0, 0.0), (-89.9, -179.9)]
    pts += [
        (rng.uniform(-90, 90), rng.uniform(-180, 180)) for _ in range(40)
    ]
    # adversarial near-boundary coordinates (review regression: the bare
    # multiply-quantization rounds these across a cell edge)
    pts += [(29.707031249999993, 0.0), (3.5156249999999996, 0.0),
            (-4.108886718750001, 0.0)]
    # randomized boundary-adjacent points: a hair below exact cell edges
    import math
    for _ in range(30):
        q = rng.randrange(1, 1 << 10)
        lat_edge = -90.0 + q * (180.0 / (1 << 10))
        pts.append((math.nextafter(lat_edge, -math.inf),
                    rng.uniform(-180, 180)))
    df = spark.createDataFrame(pts, "lat double, lng double")
    for p in (1, 4, 6):
        got = [
            r["gh"]
            for r in df.select(
                geohash_col(F.col("lat"), F.col("lng"), p).alias("gh")
            ).collect()
        ]
        want = [ref(lat, lon, p) for lat, lon in pts]
        assert got == want, p
