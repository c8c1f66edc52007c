"""Grid-cell density and geohash bucketing over point shapes.

- `density_hotspots` ranks occupied lat/lng cells by their 3×3-neighborhood
  point mass (one groupBy, a 9-row offset explode over the occupied cells,
  one equi-join).
- `geohash_col` is the standard base32 geohash of a point as a pure Column
  expression; `geohash_sql` is its DuckDB mirror for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def density_hotspots(
    shapes: DataFrame,
    cell_deg: float = 1.0,
    top_k: int = 20,
) -> DataFrame:
    """Grid-density hotspot detection over point shapes: bucket
    non-aggregate points into cell_deg×cell_deg lat/lng cells, score
    every OCCUPIED cell by its 3×3-neighborhood point mass (smoothing
    absorbs the arbitrary cell-boundary split of a real cluster), and
    return the top_k. The density read behind 'where do we place
    service regions' — no pairwise distances anywhere.

    Scale shape: one groupBy((cx,cy)) count over the scan, a 9-row
    offset explode over the OCCUPIED-CELL table (not the points), one
    equi-join + re-aggregate on the shifted key, and a
    TakeOrderedAndProject. Ties break on (cy, cx) so the ranking is
    total."""
    pts = shapes.where(
        F.col("latitude").isNotNull()
        & F.col("longitude").isNotNull()
        & ~F.col("is_aggregate")
    )
    counts = (
        pts.select(
            F.floor(F.col("longitude") / F.lit(cell_deg)).cast("long").alias("cx"),
            F.floor(F.col("latitude") / F.lit(cell_deg)).cast("long").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_cell"))
    )
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dx -> "
        "transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    spread = counts.select(
        "cx", "cy", "n_cell", offsets.alias("_o")
    ).select(
        (F.col("cx") + F.col("_o.dx")).alias("tx"),
        (F.col("cy") + F.col("_o.dy")).alias("ty"),
        F.col("n_cell").alias("_contrib"),
    )
    hood = spread.groupBy("tx", "ty").agg(
        F.sum("_contrib").alias("n_neighborhood")
    )
    scored = counts.join(
        hood,
        (F.col("cx") == F.col("tx")) & (F.col("cy") == F.col("ty")),
    ).select("cx", "cy", "n_cell", "n_neighborhood")
    return scored.orderBy(
        F.desc("n_neighborhood"), "cy", "cx"
    ).limit(top_k)


#: standard geohash base32 (no a/i/l/o)
GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_col(
    lat: Column, lng: Column, precision: int = 6
) -> Column:
    """Standard base32 geohash of a point — the interoperable cell key
    (Elasticsearch/Redis/PostGIS all speak it), built as a pure Column
    expression: quantize lon/lat to ⌈5p/2⌉/⌊5p/2⌋ bits, interleave
    (lon takes the even bit positions, per the spec), slice 5-bit
    groups into base32 characters. No UDF — the whole thing stays in
    codegen, so geohash bucketing costs a projection.

    Precision 6 ≈ 1.2 km × 0.6 km cells — the join-key granularity for
    city-scale co-location. Precision is capped at 12 (5·12 = 60 bits —
    beyond that the interleave accumulator would silently wrap a
    64-bit long).

    Quantization is BOUNDARY-EXACT, not just floor((v−lo)/span·2^bits):
    the single-multiply form rounds across a cell edge for coordinates
    a few ULP below a boundary and would disagree with the spec's
    bisection (and with every external system) on exactly those points.
    Every true cell boundary lo + q·span/2^bits is exactly
    representable (span and 2^bits are powers-of-two-scaled integers),
    so the multiply's candidate is corrected by comparing v against the
    EXACT boundaries of q and q+1 — bit-for-bit the bisection result
    (test-pinned on adversarial near-boundary inputs)."""
    if not 1 <= precision <= 12:
        raise ValueError(
            f"precision must be in [1, 12] (got {precision}): 5·p bits "
            "must fit the 64-bit interleave accumulator"
        )
    total_bits = 5 * precision
    lon_bits = (total_bits + 1) // 2
    lat_bits = total_bits // 2

    def quant(v: Column, lo: float, hi: float, bits: int) -> Column:
        step = (hi - lo) / float(1 << bits)  # exact: power-of-two scale
        q0 = F.floor(
            (v - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(1 << bits))
        ).cast("long")
        # exact-boundary correction: b(q) = lo + q*step is computed
        # EXACTLY (see docstring), so these comparisons reproduce the
        # spec bisection even when the multiply rounded across an edge
        b_q = F.lit(lo) + q0.cast("double") * F.lit(step)
        b_q1 = F.lit(lo) + (q0 + 1).cast("double") * F.lit(step)
        q = (
            F.when(v >= b_q1, q0 + 1)
            .when(v >= b_q, q0)
            .otherwise(q0 - 1)
        )
        return F.least(
            F.greatest(q, F.lit(0).cast("long")),
            F.lit((1 << bits) - 1).cast("long"),
        )

    qlon = quant(lng, -180.0, 180.0, lon_bits)
    qlat = quant(lat, -90.0, 90.0, lat_bits)
    combined = F.lit(0).cast("long")
    lon_i = lat_i = 0
    for pos in range(total_bits):
        if pos % 2 == 0:  # even stream positions carry longitude
            bit = F.shiftright(qlon, lon_bits - 1 - lon_i).bitwiseAND(
                F.lit(1).cast("long")
            )
            lon_i += 1
        else:
            bit = F.shiftright(qlat, lat_bits - 1 - lat_i).bitwiseAND(
                F.lit(1).cast("long")
            )
            lat_i += 1
        combined = combined * F.lit(2).cast("long") + bit
    chars = []
    for c in range(precision):
        group = F.shiftright(
            combined, 5 * (precision - 1 - c)
        ).bitwiseAND(F.lit(31).cast("long"))
        chars.append(
            F.substring(
                F.lit(GEOHASH_ALPHABET), (group + 1).cast("int"), 1
            )
        )
    return F.concat(*chars)


def geohash_sql(lat: str, lng: str, precision: int = 6) -> str:
    """DuckDB mirror of geohash_col — same quantization, interleave,
    and base32 slicing, generated from the same constants."""
    if not 1 <= precision <= 12:
        raise ValueError(
            f"precision must be in [1, 12] (got {precision})"
        )
    total_bits = 5 * precision
    lon_bits = (total_bits + 1) // 2
    lat_bits = total_bits // 2

    def quant(v: str, lo: float, hi: float, bits: int) -> str:
        step = (hi - lo) / float(1 << bits)
        q0 = (
            f"CAST(floor((({v}) - ({lo})) / {hi - lo} "
            f"* {float(1 << bits)}) AS BIGINT)"
        )
        b = lambda q: f"(({lo}) + CAST({q} AS DOUBLE) * {step!r})"  # noqa: E731
        q = (
            f"(CASE WHEN ({v}) >= {b(f'({q0} + 1)')} THEN {q0} + 1 "
            f"WHEN ({v}) >= {b(q0)} THEN {q0} "
            f"ELSE {q0} - 1 END)"
        )
        return f"least(greatest({q}, 0), {(1 << bits) - 1})"

    qlon = quant(lng, -180.0, 180.0, lon_bits)
    qlat = quant(lat, -90.0, 90.0, lat_bits)
    terms = []
    lon_i = lat_i = 0
    for pos in range(total_bits):
        shift = total_bits - 1 - pos
        if pos % 2 == 0:
            bit = f"((({qlon}) >> {lon_bits - 1 - lon_i}) & 1)"
            lon_i += 1
        else:
            bit = f"((({qlat}) >> {lat_bits - 1 - lat_i}) & 1)"
            lat_i += 1
        terms.append(f"({bit} * {1 << shift})")
    combined = "(" + " + ".join(terms) + ")"
    chars = [
        f"substr('{GEOHASH_ALPHABET}', "
        f"CAST((({combined} >> {5 * (precision - 1 - c)}) & 31) + 1 AS INT), 1)"
        for c in range(precision)
    ]
    return "(" + " || ".join(chars) + ")"
