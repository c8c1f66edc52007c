"""Vector similarity search over an embedding column (`array<float>`).

Generalizes the reference's metric-space ops (radius filter R3, top-k F12)
to embedding space:

- brute-force cosine top-k: exact baseline — broadcast the query, one
  projection + TakeOrderedAndProject; no shuffle beyond the final top-k.
- IVF-style bucketed search: sign-bit coarse quantizer → candidate bucket(s)
  only; the 100 TB path (prunes ~2^b of the corpus per probe; the bucket id
  is a partition key so probes become partition-pruned scans).
- pairwise near-dup: blocked self-join on bucket, like dedup.

Dot products fold LEFT-TO-RIGHT via `aggregate` over doubles, which makes
values bit-identical to a DuckDB `list_reduce` oracle — and keeps everything
in codegen; no UDF, no BLAS needed for correctness paths. (A Pandas-UDF
matmul variant belongs in bench-land when batching wins; plumbing stays the
same.)
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def _darr(values) -> Column:
    """array<double> literal in ONE py4j call (F.expr over exact reprs).

    F.lit(list) / F.array(*[F.lit(x) ...]) cost one py4j round trip PER
    ELEMENT — ~0.2 ms each, which for a k·d centroid table in the
    thousands of elements adds whole seconds of driver time to a plan
    meant to be cheap. Python's repr() emits the shortest decimal that
    round-trips the IEEE double, and Spark's literal parser is
    correctly rounded, so the value is bit-exact either way.

    Non-finite elements (NaN/±Inf — reachable via user query vectors or
    sq8 bounds over dirty data) have no bare-literal spelling:
    repr() emits inf/nan, which the SQL parser reads as unresolved
    identifiers and raises AnalysisException (ADVICE r13). Those arrays
    take the per-element F.lit path — correctness first; the fast path
    covers every clean-data call."""
    vals = [float(v) for v in values]
    if all(math.isfinite(v) for v in vals):
        body = ", ".join(f"{v!r}D" for v in vals)
        return F.expr(f"array({body})")
    return F.array(*[F.lit(v) for v in vals])


def dot_col(a: Column, b: Column) -> Column:
    """Deterministic sequential-fold dot product over double-cast arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def brute_force_topk(
    embeddings: DataFrame, query_id: int, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors of one stored vector. The query row is a
    broadcast one-row dimension (never collected); result ordering is
    (rounded cosine desc, id) for cross-engine stability."""
    q = F.broadcast(
        embeddings.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).alias("q_vec"))
    )
    return (
        embeddings.filter(F.col(id_col) != query_id)
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col), F.col("q_vec")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def filtered_topk(
    embeddings: DataFrame,
    attributes: DataFrame,
    predicate: Column,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    attr_id_col: str = "doc_id",
) -> DataFrame:
    """Exact cosine top-k restricted to vectors whose attribute row (the
    `attributes` table keyed by `attr_id_col`, e.g. documents metadata)
    satisfies `predicate` — attribute-filtered vector search, the
    retrieval shape RAG serving and targeted curation both need
    ("nearest English docs over 200 chars", not nearest-then-filter).

    PRE-filters: the predicate is applied to the attribute scan (plain
    Column comparisons → parquet-pushable), the surviving keys prune the
    vector side through a LEFT SEMI key join BEFORE any distance
    arithmetic, and only then does the scan compute cosines and feed
    TakeOrderedAndProject. Post-filtering an approximate top-k can
    return fewer than k (or miss qualifying neighbors entirely) when
    the filter is selective; filter-then-search keeps the exactness
    guarantee at exactly one key-join shuffle, and the join is
    broadcast-sized whenever the predicate is selective enough to
    matter."""
    keep = attributes.filter(predicate).select(
        F.col(attr_id_col).alias(id_col)
    )
    q = F.broadcast(
        embeddings.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).alias("q_vec"))
    )
    return (
        embeddings.join(keep, id_col, "left_semi")
        .filter(F.col(id_col) != query_id)
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col), F.col("q_vec")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def signbit_bucket(vec: Column, bits: int = 8) -> Column:
    """Coarse quantizer: integer bucket from the sign of the first `bits`
    components (a fixed random-hyperplane LSH with axis-aligned planes —
    deterministic and oracle-expressible)."""
    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(
            F.element_at(vec, j + 1) > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out


def ivf_topk(
    embeddings: DataFrame, query_id: int, k: int = 10, bits: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    hamming_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: search the query's sign-bit bucket, plus every
    bucket within `hamming_probe` bit flips (multi-probe — the standard
    recall lever for vectors that sit near a quantization plane; probing
    radius 1 scans (1 + bits)/2^bits of the corpus instead of 1/2^bits).
    At scale, write the corpus partitioned by bucket → each probe is a
    partition-pruned scan (see write_ivf_index / ivf_topk_indexed)."""
    bucketed = embeddings.withColumn("bucket", signbit_bucket(F.col(vec_col), bits))
    q = F.broadcast(
        bucketed.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).alias("q_vec"), F.col("bucket").alias("q_bucket"))
    )
    in_probe = (
        F.bit_count(F.col("bucket").bitwiseXOR(F.col("q_bucket")))
        <= F.lit(hamming_probe)
    )
    return (
        bucketed.crossJoin(q)
        .filter(in_probe & (F.col(id_col) != query_id))
        .select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col), F.col("q_vec")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def write_ivf_index(embeddings: DataFrame, root: str, bits: int = 8,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    """Persist the corpus partitioned by its sign-bit bucket — the 100 TB
    layout: each probe reads ~N/2^bits vectors via Hive partition pruning
    (`PartitionFilters` in the scan, zero rows read from other buckets)."""
    (
        embeddings.withColumn("bucket", signbit_bucket(F.col(vec_col), bits))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(root)
    )
    return root


def ivf_topk_indexed(
    spark, root: str, query_vec: list[float], k: int = 10, bits: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    hamming_probe: int = 0,
) -> DataFrame:
    """Probe a persisted IVF index with a literal query vector.

    The probe buckets are computed driver-side from the vector (it is a
    query parameter, not data), so the `bucket IN (...)` filter prunes at
    the partition-directory level before any file is opened — with
    multi-probe (`hamming_probe=1`) that is 1 + bits directories out of
    2^bits, still pruned."""
    bucket = sum(1 << j for j in range(bits) if float(query_vec[j]) > 0)
    probes = {bucket}
    for _ in range(hamming_probe):
        probes |= {b ^ (1 << j) for b in probes for j in range(bits)}
    q = _darr(query_vec)
    df = spark.read.parquet(root).filter(F.col("bucket").isin(sorted(probes)))
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    bits: int = 8, hamming_probe: int = 1,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs, blocked on the sign-bit bucket (the
    IVF coarse quantizer, signbit_bucket) instead of a semantic column.

    A semantic block (label, lang) is a constant-cardinality partition — one
    block ≈ the whole corpus at scale, reviving the O(N²) self-join. The
    bucket key is data-adaptive: 2^bits blocks of ~N/2^bits vectors each,
    and `bits` grows with the corpus. Near-identical vectors agree on sign
    bits except components near a quantization plane, so one side explodes
    into its bucket plus every bucket within `hamming_probe` bit flips (the
    same multi-probe recall lever as ivf_topk); candidates are the plain
    equi-join on the probed bucket — shuffle-bounded, AQE-splittable.
    Recall is LSH-style by design: pairs whose buckets differ in more than
    `hamming_probe` bits are not compared.

    `block_col`, when given, is an ADDITIONAL semantic equality on the join
    (pairs never cross it); it no longer carries the join volume."""
    bucketed = embeddings.select(
        F.col(id_col), *( [F.col(block_col)] if block_col else [] ),
        F.col(vec_col).alias("vec"),
        signbit_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    flips = [F.col("bucket").cast("long")]
    if hamming_probe >= 1:
        flips += [
            F.col("bucket").bitwiseXOR(F.lit(1 << j)).cast("long")
            for j in range(bits)
        ]
    if hamming_probe >= 2:
        raise NotImplementedError("probe radius > 1 not needed yet")
    a = bucketed.select(
        F.col(id_col).alias("id1"),
        *( [F.col(block_col).alias("blk1")] if block_col else [] ),
        F.col("vec").alias("v1"),
        F.explode(F.array(*flips)).alias("probe_bucket"),
    )
    b = bucketed.select(
        F.col(id_col).alias("id2"),
        *( [F.col(block_col).alias("blk2")] if block_col else [] ),
        F.col("vec").alias("v2"),
        F.col("bucket").alias("bucket2"),
    )
    cond = (F.col("probe_bucket") == F.col("bucket2")) & (
        F.col("id1") < F.col("id2")
    )
    if block_col:
        cond = cond & (F.col("blk1") == F.col("blk2"))
    # no pair-dedup needed: a pair's bucket-xor is one fixed value, so it can
    # match at most ONE probe flip — the join emits each candidate once
    return (
        a.join(b, cond)
        .select(
            "id1",
            "id2",
            F.round(cosine_col(F.col("v1"), F.col("v2")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def recall_at_k(approx: DataFrame, exact: DataFrame,
                id_col: str = "vec_id") -> float:
    """Standard ANN quality metric: |approx ∩ exact| / |exact| over the two
    top-k id sets. Both inputs are k-row results (collect is k rows to the
    driver — the metric, not the search, is driver-side). Use to calibrate
    bits/nprobe: recall(multi-probe) ≥ recall(single-probe) by
    construction; pick the cheapest setting above the target."""
    a = {r[id_col] for r in approx.collect()}
    e = [r[id_col] for r in exact.collect()]
    return len(a.intersection(e)) / len(e) if e else 1.0


# --------------------------------------------------------------------------
# K-means (Lloyd) — deterministic, fully declarative
# --------------------------------------------------------------------------

def sq_dist_col(a: Column, b: Column) -> Column:
    """Squared L2 distance, sequential fold (same association both engines)."""
    d = F.zip_with(
        a, b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(d, F.lit(0.0), lambda acc, v: acc + v)


def kmeans_assign(embeddings: DataFrame, centroids: DataFrame,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Assignment step: nearest centroid per vector, ties to the lowest cid.

    centroids (cid, cvec) broadcast; argmin is min over a (dist, cid)
    struct — lexicographic struct-min partial-aggregates map-side, so the
    N×k expansion reduces to N rows BEFORE any shuffle (a per-vector
    row_number window would shuffle all N×k rows). Returns
    (id, cid, dist) with dist = exact double rounded at 6 for output."""
    joined = embeddings.crossJoin(F.broadcast(centroids))
    return (
        joined
        .select(
            id_col,
            F.struct(
                sq_dist_col(F.col(vec_col), F.col("cvec")).alias("dist"),
                F.col("cid"),
            ).alias("dc"),
        )
        .groupBy(id_col)
        .agg(F.min("dc").alias("m"))
        .select(
            id_col,
            F.col("m.cid").alias("cid"),
            F.round(F.col("m.dist"), 6).alias("dist"),
        )
    )


def _assign_carrying_vec(embeddings: DataFrame, centroids: DataFrame,
                         id_col: str, vec_col: str) -> DataFrame:
    """kmeans_assign for the FIT loop: the argmin struct additionally
    carries the data vector, so the update step reads (cid, vec)
    straight off the assignment instead of re-joining `embeddings` on
    id just to recover a column the assignment already scanned (guide
    §2.4 — r13's profile showed that join-back costing one broadcast
    build + query-stage job per Lloyd round, ~2 jobs × n_iter × two
    fit levels of pure orchestration at bench scale). Shuffled bytes
    strictly drop too: the argmin exchange widens from n·24 B to
    n·(8·dim+24) B, but the removed join-back's own n·8·dim exchange
    of `embeddings` disappears.

    Equivalence: within a groupBy(id) group the candidate rows differ
    only in (dist, cid) — cid is unique per centroid — so the min is
    decided before the appended vec field is ever compared, and the
    vec is constant across the group (one row per id, the standing
    precondition of every fit in this module). Winner and carried
    vector are therefore exactly the rows the old join-back produced.
    Returns (id, cid, vec) — no dist: the fit never reads it."""
    joined = embeddings.crossJoin(F.broadcast(centroids))
    return (
        joined.select(
            id_col,
            F.col(vec_col),
            F.struct(
                sq_dist_col(F.col(vec_col), F.col("cvec")).alias("dist"),
                F.col("cid"),
            ).alias("dc"),
        )
        .groupBy(id_col)
        # any_value, NOT min/max or a vec field inside the min struct:
        # the vec is constant across the group, and any_value's buffer
        # update is a take-first — no per-row array comparison
        .agg(
            F.min("dc").alias("m"),
            F.any_value(F.col(vec_col)).alias("_v"),
        )
        .select(
            id_col,
            F.col("m.cid").alias("cid"),
            F.col("_v").alias(vec_col),
        )
    )


def _kmeans_update(assign: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Update step: element-wise mean per cluster. posexplode → per-(cid,
    component) fixed-point-exact mean (floor(x·1e9+0.5) summed exactly —
    partition-order-independent, so centroids are bit-stable across engines
    and partitionings) → array rebuild via sorted collect. ``assign``
    carries the vector (_assign_carrying_vec) — no join back to the
    embeddings."""
    from yat_geo_db_spark.relational.queries import dsum

    pts = assign.select(
        "cid", F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    comp = pts.groupBy("cid", "pos").agg(
        (dsum(F.col("x").cast("double"), 9) / F.count(F.lit(1))).alias("v")
    )
    return comp.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))),
            lambda s: s["v"],
        ).alias("cvec")
    )


def kmeans_fit(embeddings: DataFrame, k: int = 4, n_iter: int = 2,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Lloyd's k-means fit, deterministic end to end: init = the vectors
    with the k smallest ids (no RNG), n_iter (assign → update) rounds.
    Each round is one broadcast cross join + two hash aggregations;
    centroids are localCheckpoint'd per round to truncate the iterative
    plan (on a real cluster: setCheckpointDir + checkpoint). Fixed
    iteration count — k-means converges monotonically, and a fixed budget
    keeps the job graph static. Returns (cid, cvec)."""
    # init = the k smallest ids via sort+limit (NOT `id < k`, which yields
    # fewer than k centroids when ids are sparse/non-contiguous); cid keeps
    # the vector's own id — deterministic and oracle-expressible
    # localCheckpoint the k-row init so the TakeOrdered subtree runs once
    # instead of re-executing under every consumer of round 1's plan
    centroids = (
        embeddings.orderBy(F.asc(id_col))
        .limit(k)
        .select(
            # long, not int: 64-bit (hash-derived) seed ids must not wrap
            # — a low-32-bit collision would merge two initial centroids
            F.col(id_col).cast("long").alias("cid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cvec"),
        )
        .localCheckpoint()
    )
    for _ in range(n_iter):
        assign = _assign_carrying_vec(embeddings, centroids, id_col, vec_col)
        updated = _kmeans_update(assign, id_col, vec_col)
        # a cluster that lost every member keeps its previous centroid
        # (standard Lloyd guard) — without this the cid silently vanishes
        # and the fit returns fewer than k centroids
        centroids = (
            centroids.select("cid", F.col("cvec").alias("_prev"))
            .join(updated, "cid", "left")
            .select("cid", F.coalesce("cvec", "_prev").alias("cvec"))
            .localCheckpoint()
        )
    return centroids


def kmeans_fit_assign(embeddings: DataFrame, k: int = 4, n_iter: int = 2,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Fit (kmeans_fit) then a final assignment pass."""
    return kmeans_assign(
        embeddings, kmeans_fit(embeddings, k, n_iter, id_col, vec_col),
        id_col, vec_col,
    )


def _sub_assign(vecs: DataFrame, sub: DataFrame,
                id_col: str, vec_col: str,
                broadcast_sub: bool = True) -> DataFrame:
    """Within-coarse-cell assignment: vectors carrying their coarse cell
    (cid1) EQUI-join the sub-centroid table on cid1 — each vector meets
    only ITS cell's k2 candidates, never all k. Same struct-min argmin
    as kmeans_assign (map-side partial aggregate, N rows out before any
    shuffle). Returns (id, cid1, cid2, dist)."""
    joined = vecs.join(
        F.broadcast(sub) if broadcast_sub else sub, "cid1"
    )
    return (
        joined.select(
            id_col,
            "cid1",
            F.struct(
                sq_dist_col(F.col(vec_col), F.col("cvec")).alias("dist"),
                F.col("cid2"),
            ).alias("dc"),
        )
        .groupBy(id_col, "cid1")
        .agg(F.min("dc").alias("m"))
        .select(
            id_col,
            "cid1",
            F.col("m.cid2").alias("cid2"),
            F.round(F.col("m.dist"), 6).alias("dist"),
        )
    )


def _sub_assign_carrying_vec(vecs: DataFrame, sub: DataFrame,
                             id_col: str, vec_col: str,
                             broadcast_sub: bool = True) -> DataFrame:
    """_sub_assign for the FIT loop, carrying the data vector through
    the argmin exactly like _assign_carrying_vec (same equivalence
    argument: cid2 is unique within the (id, cid1) group, the vec is
    constant across it) — the sub-update then never joins `vecs` back
    on id. Returns (id, cid1, cid2, vec)."""
    joined = vecs.join(
        F.broadcast(sub) if broadcast_sub else sub, "cid1"
    )
    return (
        joined.select(
            id_col,
            "cid1",
            F.col(vec_col),
            F.struct(
                sq_dist_col(F.col(vec_col), F.col("cvec")).alias("dist"),
                F.col("cid2"),
            ).alias("dc"),
        )
        .groupBy(id_col, "cid1")
        # any_value — see _assign_carrying_vec: constant per group,
        # take-first buffer update, no array comparisons
        .agg(
            F.min("dc").alias("m"),
            F.any_value(F.col(vec_col)).alias("_v"),
        )
        .select(
            id_col,
            "cid1",
            F.col("m.cid2").alias("cid2"),
            F.col("_v").alias(vec_col),
        )
    )


def _sub_update(assign: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """_kmeans_update keyed by the composite (cid1, cid2): per-cell
    fixed-point-exact element-wise mean (same dsum discipline — bit-
    stable across engines and partitionings). ``assign`` carries the
    vector (_sub_assign_carrying_vec) — no join back to `vecs`."""
    from yat_geo_db_spark.relational.queries import dsum

    pts = assign.select(
        "cid1", "cid2", F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    comp = pts.groupBy("cid1", "cid2", "pos").agg(
        (dsum(F.col("x").cast("double"), 9) / F.count(F.lit(1))).alias("v")
    )
    return comp.groupBy("cid1", "cid2").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))),
            lambda s: s["v"],
        ).alias("cvec")
    )


def _coarse_top_p(embeddings: DataFrame, centroids: DataFrame, p: int,
                  id_col: str, vec_col: str) -> DataFrame:
    """Top-p nearest coarse centroids per vector — the multi-probe
    routing rounds of the two-level quantizer. p successive struct-min
    argmin passes, each excluding the cells already picked via a
    map-side NOT array_contains filter: every pass partial-aggregates
    map-side, so the exchange carries N narrow rows per round, never
    the N×k1 expansion (a collect_list/top-p window would ship every
    candidate distance — 16 B × k1 per vector — through the shuffle;
    at k1 = 1000 coarse cells that is 16 KB/vector, the difference
    between a routing pass and a second corpus). CPU cost is p·n·k1
    distance evaluations (the excluded-cell distances are recomputed
    each round — whole-stage-codegen arithmetic, traded for the
    exchange width). Returns (id, cid1raw, probe), probe = 0..p-1,
    probe 0 = the primary (argmin) cell."""
    vecs = embeddings.select(id_col, vec_col)
    picks: DataFrame | None = None
    chosen: DataFrame | None = None
    for r in range(p):
        joined = vecs.crossJoin(F.broadcast(centroids))
        if chosen is not None:
            joined = joined.join(chosen, id_col).filter(
                ~F.array_contains(F.col("_chosen"), F.col("cid"))
            )
        rnd = (
            joined.select(
                id_col,
                F.struct(
                    sq_dist_col(F.col(vec_col), F.col("cvec")).alias("dist"),
                    F.col("cid"),
                ).alias("dc"),
            )
            .groupBy(id_col)
            .agg(F.min("dc").alias("m"))
            .select(
                id_col,
                F.col("m.cid").alias("cid1raw"),
                F.lit(r).alias("probe"),
            )
        )
        picks = rnd if picks is None else picks.unionByName(rnd)
        if r + 1 < p:
            # excluded-cell set for the next round, grown INCREMENTALLY
            # off this round's single pick instead of re-aggregating the
            # whole picks union through a collect_list groupBy — one row
            # per id per round either way (the argmin emits exactly one
            # pick), so the array holds the same cid set, but the extra
            # exchange (and its AQE query-stage job) per round is gone
            # (guide §2.4; r13's profile charged the p=2 routing
            # materialization 10 of the query's 64 jobs)
            this_pick = rnd.select(
                id_col, F.array(F.col("cid1raw")).alias("_new")
            )
            if chosen is None:
                chosen = this_pick.select(
                    id_col, F.col("_new").alias("_chosen")
                )
            else:
                chosen = (
                    chosen.join(this_pick, id_col)
                    .select(
                        id_col,
                        F.concat(
                            F.col("_chosen"), F.col("_new")
                        ).alias("_chosen"),
                    )
                )
    return picks


def kmeans_two_level_fit_assign(
    embeddings: DataFrame, k: int, n_iter: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
    broadcast_sub: bool = True, coarse_probes: int = 2,
) -> DataFrame:
    """Two-level Lloyd routing — the scale path when k grows with the
    corpus (SemDeDup auto-k, IVF coarse quantizers): a coarse fit with
    k1 = ceil(√k) cells routes every vector, then k2 = ceil(k/k1)
    sub-centroids are fitted WITHIN each coarse cell via an equi-join
    on the cell id. Per-vector distance evaluations drop from n·k
    (flat kmeans_fit_assign: every vector against every centroid,
    Θ(n²/target) when k ∝ n) to n·(k1+k2) ≈ n·2√k, and no stage ever
    materializes an n×k expansion — the sub-centroid table (≤ k rows)
    broadcasts, the argmin partial-aggregates map-side.

    Same determinism guarantees as kmeans_fit: no RNG (coarse init =
    k1 smallest ids; sub init = the k2 smallest ids per coarse cell),
    fixed iteration budget, fixed-point-exact centroid means, empty
    sub-cells keep their previous centroid. A coarse cell with fewer
    than k2 members simply gets fewer sub-cells.

    Returns (id, cid, dist) with cid = rank(cid1)·k2 + cid2 — disjoint
    composite cells strictly inside [0, k1·k2), drop-in for
    kmeans_fit_assign's output contract. The clustering itself differs
    from the flat fit (hierarchical routing is a different quantizer —
    standard IVF/IMI trade-off: same cost model as the paper's
    two-level indexes, recall bounded by the coarse routing).

    `broadcast_sub` (default True) broadcasts the full sub-centroid
    table into the per-cell equi-join — ~k·d·8 bytes per executor and
    per iteration. That is the right plan up to a few hundred MB
    (k·d ≲ 3e7); past it (k ≈ 1e6 cells of d = 768 is ~6 GB, at
    Spark's broadcast ceiling) pass False and let the join shuffle on
    cid1 — the n·2√k distance-evaluation count is unchanged, only the
    candidate-shipping strategy moves.

    ``coarse_probes`` DEFAULTS TO 2 (round 13): the final assignment
    argmins over the sub-centroids of each vector's top-2 coarse cells
    (n·3√k total distance evals instead of n·2√k), healing coarse-
    boundary quantization. Measured on every fixture the panel has
    (BENCHLOG round 13): clustered default-k recall 82.9% → 91.3%
    (above the flat path's 90.1%), clustered larger-k (target_cell
    128) 82.1% → 90.0%, diffuse 1× 11.67% → 11.81%, diffuse 10×
    8.77% → 8.89% — p=2 never lost recall or wall (parity to faster)
    at any point, so the better quantizer is the default; pass 1 to
    pin the primary-cell routing (the p=1 registry twin does)."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if coarse_probes < 1:
        raise ValueError(
            f"coarse_probes must be >= 1, got {coarse_probes}"
        )
    k1 = int(-(-(k ** 0.5) // 1))
    coarse_probes = min(coarse_probes, k1)
    k2 = -(-k // k1)
    coarse = kmeans_fit(embeddings, k=k1, n_iter=n_iter,
                        id_col=id_col, vec_col=vec_col)
    # materialize the coarse assignment ONCE (id + cid1raw — narrow):
    # both the rank's distinct and the main branch read it, and without
    # the checkpoint the n·k1 assignment subtree would execute twice
    ca = kmeans_assign(embeddings, coarse, id_col, vec_col).select(
        id_col, F.col("cid").alias("cid1raw")
    ).localCheckpoint()
    # dense-rank the coarse cell ids to 0..k1-1 BEFORE compositing:
    # kmeans cids are seed VECTOR ids (deliberately 64-bit — they can
    # be hash-derived), so cid1raw·k2 + cid2 could overflow long or
    # collide; the rank keeps the composite strictly inside [0, k1·k2)
    # (the window runs over ≤ k1 distinct rows — driver-trivial)
    rank = (
        ca.select("cid1raw")
        .distinct()
        .select(
            "cid1raw",
            (
                F.row_number().over(Window.orderBy("cid1raw")) - 1
            ).cast("long").alias("cid1"),
        )
    )
    ca = ca.join(F.broadcast(rank), "cid1raw").select(id_col, "cid1")

    # Multi-probe routing table, built CONCURRENTLY with the sub-fit
    # (guide §2.6 — overlap independent jobs): ca_p depends only on the
    # already-checkpointed coarse centroids and `rank`, not on the
    # sub-centroids, while the sub-fit's 2·n_iter eager checkpoints are
    # a serial chain of small jobs that leaves most cores idle. The
    # r13 profile charged this routing pass ~10 of the query's ~60 jobs
    # (the single most expensive phase); running it on a driver thread
    # back-fills the sub-fit's scheduling gaps and takes the routing
    # off the critical path entirely. Determinism is untouched — both
    # chains read only checkpointed inputs and nothing here depends on
    # job interleaving; the thread is joined before the final
    # assignment consumes the table.
    cap_thread = None
    cap_result: dict = {}
    if coarse_probes > 1:
        def _build_cap() -> None:
            try:
                cap_result["df"] = (
                    _coarse_top_p(
                        embeddings, coarse, coarse_probes, id_col, vec_col
                    )
                    .join(F.broadcast(rank), "cid1raw")
                    .select(id_col, "cid1")
                    # materialized once, like the p=1 path's `vecs`: the
                    # probe table is p·N NARROW rows, and checkpointing
                    # it keeps the final assignment plan free of the
                    # centroid cross-join — the shuffle route
                    # (broadcast_sub=False) must stay
                    # BroadcastNestedLoop-free end-to-end past the
                    # broadcast ceiling
                    # (test_two_level_shuffle_join_path_plan_shape)
                    .localCheckpoint()
                )
            except BaseException as exc:  # propagate to the caller
                cap_result["err"] = exc

        from pyspark import InheritableThread

        cap_thread = InheritableThread(target=_build_cap)
        cap_thread.start()

    try:
        # (id, cid1, vec) feeds every sub-iteration AND the final assign —
        # materialize once (the coarse fit+assign upstream is iterative)
        vecs = embeddings.select(id_col, vec_col).join(
            ca, id_col
        ).localCheckpoint()
        w = Window.partitionBy("cid1").orderBy(F.asc(id_col))
        sub = (
            vecs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k2)
            .select(
                "cid1",
                (F.col("_rn") - 1).cast("long").alias("cid2"),
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double")
                ).alias("cvec"),
            )
            .localCheckpoint()
        )
        for _ in range(n_iter):
            assign = _sub_assign_carrying_vec(
                vecs, sub, id_col, vec_col, broadcast_sub
            )
            updated = _sub_update(assign, id_col, vec_col)
            sub = (
                sub.select("cid1", "cid2", F.col("cvec").alias("_prev"))
                .join(updated, ["cid1", "cid2"], "left")
                .select(
                    "cid1", "cid2", F.coalesce("cvec", "_prev").alias("cvec")
                )
                .localCheckpoint()
            )
    finally:
        # joined even when the sub-fit fails, so the routing thread's jobs
        # never outlive this call and its error is never dropped
        if cap_thread is not None:
            cap_thread.join()
            if "err" in cap_result:
                raise cap_result["err"]
    if coarse_probes > 1:
        # multi-probe final assignment (the 3√k recall knob, VERDICT
        # r11 task 6): every vector scores the sub-centroids of its
        # top-`coarse_probes` COARSE cells and lands in the globally
        # nearest composite cell — the fix for the boundary
        # quantization error where a vector's best sub-centroid lives
        # in its SECOND-nearest coarse cell (the dominant recall loss
        # of hierarchical routing: a near-dup pair split by a coarse
        # boundary re-unites when either member re-routes). Fit is
        # untouched (primary-cell Lloyd, same centroids at any p);
        # output contract unchanged — still exactly ONE composite cid
        # per vector, so the downstream pair join's volume does NOT
        # grow with p, only the assignment cost: n·(p·k1 + p·k2) ≈
        # n·(p+1)·√k evals vs n·2√k at p=1. A second-probe coarse cell
        # that is nobody's primary has no sub-centroids and drops out
        # of the equi-join; the primary cell always retains ≥1
        # candidate (the vector itself is a member). Measured
        # (bench_scaling.py recall_clustered, BENCHLOG round 12):
        # p=2 lifts clustered-fixture recall 82.9% → 91.3% — ABOVE the
        # flat path's 90.1% — at parity wall-clock on the fixture
        # (34.0 s vs 35.4 s; the extra n·k1 pass is √k-bounded and
        # noise-level next to the pair join). The routing table itself
        # was built concurrently with the sub-fit above.
        ca_p = cap_result["df"]
        vecs_p = embeddings.select(id_col, vec_col).join(ca_p, id_col)
        joined = vecs_p.join(
            F.broadcast(sub) if broadcast_sub else sub, "cid1"
        )
        return (
            joined.select(
                id_col,
                F.struct(
                    sq_dist_col(F.col(vec_col), F.col("cvec")).alias("dist"),
                    F.col("cid1"),
                    F.col("cid2"),
                ).alias("dc"),
            )
            .groupBy(id_col)
            .agg(F.min("dc").alias("m"))
            .select(
                id_col,
                (F.col("m.cid1") * k2 + F.col("m.cid2")).alias("cid"),
                F.round(F.col("m.dist"), 6).alias("dist"),
            )
        )
    final = _sub_assign(vecs, sub, id_col, vec_col, broadcast_sub)
    return final.select(
        id_col,
        (F.col("cid1") * k2 + F.col("cid2")).alias("cid"),
        "dist",
    )


# --------------------------------------------------------------------------
# Learned IVF: k-means centroids as the coarse quantizer
# --------------------------------------------------------------------------

def write_kmeans_ivf_index(
    embeddings: DataFrame, root: str, k: int = 16, n_iter: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """Persist a LEARNED IVF index: Lloyd centroids as the coarse quantizer
    (adapts cell boundaries to the data distribution, unlike the
    data-oblivious sign-bit quantizer — the fix for signbit's skew risk on
    biased embeddings). Layout:

        <root>/centroids/   k rows (cid, cvec) — the probe dictionary
        <root>/vectors/     corpus partitionBy(cid)

    Each probe reads ~N/k vectors via directory-level partition pruning;
    k scales with corpus size (k ≈ sqrt(N) is the classical IVF sizing)."""
    centroids = kmeans_fit(embeddings, k=k, n_iter=n_iter,
                           id_col=id_col, vec_col=vec_col)
    centroids.write.mode("overwrite").parquet(f"{root}/centroids")
    assign = kmeans_assign(embeddings, centroids, id_col, vec_col)
    (
        embeddings.join(assign.select(id_col, "cid"), id_col)
        .repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(f"{root}/vectors")
    )
    return root


def kmeans_ivf_index_append(
    spark, root: str, new_embeddings: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    skip_existing: bool = False,
) -> str:
    """Assign-only append into a persisted k-means IVF index: the frozen
    centroid table routes the new batch into its cells and the rows land
    in the existing partitionBy(cid) layout via mode('append') — O(batch)
    work, no retraining, the uncompressed sibling of ivfpq_index_append.
    ids are assumed new; skip_existing anti-joins the index's id column
    (column-pruned corpus scan, opt-in).

    Fail-fast guards (cheap, driver/projection-level — silent corruption
    is the alternative): batch vectors must match the frozen centroid
    dim (wrong-dim null-pads through zip_with into an arbitrary cell),
    and the batch's column set must match the persisted vectors layout
    (parquet append with a different column set writes heterogeneous
    file schemas that a later read resolves arbitrarily)."""
    cents = spark.read.parquet(f"{root}/centroids")
    dim = _frozen_index_dim(cents)
    new_embeddings = _require_dim(new_embeddings, vec_col, dim)
    existing_cols = set(spark.read.parquet(f"{root}/vectors").columns)
    batch_cols = set(new_embeddings.columns) | {"cid"}
    if batch_cols != existing_cols:
        raise ValueError(
            f"append column set {sorted(batch_cols)} != index layout "
            f"{sorted(existing_cols)}"
        )
    assign = kmeans_assign(new_embeddings, cents, id_col, vec_col)
    enc = new_embeddings.join(assign.select(id_col, "cid"), id_col)
    if skip_existing:
        existing = spark.read.parquet(f"{root}/vectors").select(id_col)
        enc = enc.join(existing, id_col, "left_anti")
    (
        enc.repartition("cid")
        .write.mode("append")
        .partitionBy("cid")
        .parquet(f"{root}/vectors")
    )
    return root


def kmeans_ivf_topk(
    spark, root: str, query_vec: list[float], k: int = 10, nprobe: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted k-means IVF index: nearest `nprobe` centroids are
    chosen DRIVER-side (the centroid table is k rows — a query parameter
    lookup, not a data scan), then one partition-pruned scan of those
    cells ranked by exact cosine. `nprobe` is the recall lever, same as
    ivf_topk's hamming_probe."""
    cents = spark.read.parquet(f"{root}/centroids").collect()
    q = [float(x) for x in query_vec]

    def sqd(c):
        return sum((float(a) - b) * (float(a) - b) for a, b in zip(c, q))

    probes = [
        r["cid"] for r in sorted(cents, key=lambda r: (sqd(r["cvec"]), r["cid"]))
    ][:nprobe]
    qcol = _darr(q)
    df = spark.read.parquet(f"{root}/vectors").filter(F.col("cid").isin(probes))
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col), qcol), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011) — the memory-compression scale path: a
# d-dim float vector becomes m sub-codes (m bytes at ksub ≤ 256), and
# query scoring reads ONLY the codes via a per-query lookup table.
# --------------------------------------------------------------------------

def subvector_col(vec: Column, subspace: int, sub_dim: int) -> Column:
    """Slice one subspace's components (1-based Spark slice)."""
    return F.slice(vec, subspace * sub_dim + 1, sub_dim)


def pq_fit(
    embeddings: DataFrame, m: int = 4, ksub: int = 16, n_iter: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int | None = None,
) -> DataFrame:
    """(subspace, cid, cvec): per-subspace k-means codebooks — vector dim
    is split into `m` contiguous sub_dim-wide subspaces, each clustered
    independently with the deterministic Lloyd fit (kmeans_fit: sorted-id
    init, fixed-point centroid means). cid is RANKED 0..ksub-1 per
    subspace (dense codes, stable across engines) rather than keeping the
    seed vector ids.

    All m subspaces train FUSED in one keyed Lloyd loop: the corpus
    explodes once into (id, subspace, subvector) rows, and every
    iteration is ONE assignment pass (broadcast m×ksub centroids joined
    on subspace, struct-min argmin per (id, subspace) — map-side
    combinable) plus ONE update pass (fixed-point component means per
    (subspace, cid, pos)). m sequential per-subspace k-means runs would
    scan the training slice m times per iteration — at 100 TB that is
    m× the I/O for identical results. Deterministic: seeds are the ksub
    smallest ids (the same ids in every subspace), cid = dense seed rank
    0..ksub-1."""
    from pyspark.sql import Window

    from yat_geo_db_spark.relational.queries import dsum

    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    sub_dim = dim // m
    subs = embeddings.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        F.transform(
                            subvector_col(F.col(vec_col), j, sub_dim),
                            lambda x: x.cast("double"),
                        ).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select(
        id_col, F.col("s.subspace").alias("subspace"), F.col("s.sv").alias("sv")
    ).localCheckpoint()  # reused by every iteration's two passes

    seed_rank = F.broadcast(
        embeddings.select(id_col).orderBy(F.asc(id_col)).limit(ksub)
        .select(
            F.col(id_col),
            (F.row_number().over(Window.orderBy(F.asc(id_col))) - 1).alias(
                "cid"
            ),
        )
    )
    centroids = (
        subs.join(seed_rank, id_col)
        .select("subspace", "cid", F.col("sv").alias("cvec"))
        .localCheckpoint()
    )
    for _ in range(n_iter):
        assign = (
            subs.join(F.broadcast(centroids), "subspace")
            .select(
                id_col, "subspace",
                F.struct(
                    sq_dist_col(F.col("sv"), F.col("cvec")).alias("dist"),
                    F.col("cid"),
                ).alias("dc"),
            )
            .groupBy(id_col, "subspace")
            .agg(F.min("dc").alias("best"))
            .select(id_col, "subspace", F.col("best.cid").alias("cid"))
        )
        comp = (
            assign.join(subs, [id_col, "subspace"])
            .select("subspace", "cid", F.posexplode("sv").alias("pos", "x"))
            .groupBy("subspace", "cid", "pos")
            .agg((dsum(F.col("x"), 9) / F.count(F.lit(1))).alias("v"))
        )
        centroids = (
            comp.groupBy("subspace", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s["v"],
                ).alias("cvec")
            )
            .localCheckpoint()
        )
    return centroids


def pq_encode(
    embeddings: DataFrame, codebooks: DataFrame, m: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int | None = None,
) -> DataFrame:
    """(vec_id, codes): each vector's m nearest sub-centroid ids — the
    compressed corpus representation (m small ints instead of d floats;
    ~64× smaller at d=64, m=4, float32).

    Single distributed pass: explode each vector into its m subvectors,
    broadcast-join the m×ksub codebook on subspace, struct-min argmin per
    (vector, subspace) — map-side combinable like kmeans_assign — then one
    groupBy(vector) rebuilds the code array in subspace order. No UDF."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    subs = embeddings.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        subvector_col(F.col(vec_col), j, sub_dim).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select(id_col, F.col("s.subspace").alias("subspace"), F.col("s.sv").alias("sv"))
    joined = subs.join(F.broadcast(codebooks), "subspace")
    best = (
        joined.select(
            id_col, "subspace",
            F.struct(
                sq_dist_col(F.col("sv"), F.col("cvec")).alias("dist"),
                F.col("cid"),
            ).alias("dc"),
        )
        .groupBy(id_col, "subspace")
        .agg(F.min("dc").alias("best"))
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("subspace", F.col("best.cid").alias("cid")))
            ),
            lambda s: s["cid"],
        ).alias("codes")
    )


def pq_adc_topk(
    codes: DataFrame, codebooks: DataFrame, query_vec: list[float],
    k: int = 10, m: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over a PQ-encoded corpus: the query stays
    a full-precision vector; each encoded vector's approximate squared L2
    distance is Σⱼ ‖q_subⱼ − centroid[codesⱼ]‖² — read from a per-query
    lookup table of m×ksub rows.

    Scale shape: the LUT derives from the broadcast codebooks and a
    literal query (no corpus scan), the corpus side reads ONLY the m-int
    codes column (ReadSchema excludes the raw vectors — the point of PQ),
    and scoring is posexplode(codes) → broadcast LUT join → groupBy(id)
    exact fixed-point sum → TakeOrderedAndProject. Returns
    (id, approx_dist) ascending."""
    dim = len(query_vec)
    if dim % m != 0:
        raise ValueError(f"query dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    qsubs = [
        _darr([query_vec[j * sub_dim + t] for t in range(sub_dim)])
        for j in range(m)
    ]
    qsub = F.element_at(
        F.array(*qsubs), F.col("subspace") + 1
    )
    # LUT rows: (subspace, cid, dist_scaled) — exact fixed-point at 1e-9 so
    # the per-vector sum of m entries is associative and engine-stable
    lut = F.broadcast(
        codebooks.select(
            "subspace", "cid",
            F.floor(
                sq_dist_col(qsub, F.col("cvec")) * F.lit(1e9) + F.lit(0.5)
            ).cast("long").alias("d_scaled"),
        )
    )
    exploded = codes.select(
        F.col(id_col), F.posexplode("codes").alias("subspace", "cid")
    )
    return (
        exploded.join(lut, ["subspace", "cid"])
        .groupBy(id_col)
        .agg(
            (F.sum("d_scaled").cast("double") / F.lit(1e9)).alias("approx_dist")
        )
        .orderBy(F.asc("approx_dist"), F.asc(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# IVF-PQ (IVFADC, Jégou et al. TPAMI 2011 §V): coarse k-means cells +
# product quantization of the RESIDUAL vector — the canonical
# billion-scale ANN layout (FAISS IndexIVFPQ). The coarse cell prunes the
# scan; the residual codes compress what remains; one LUT per (query,
# probed cell) scores candidates without touching raw vectors.
# --------------------------------------------------------------------------

def residuals(
    embeddings: DataFrame, centroids: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid, rvec): each vector's coarse cell and residual
    (vec − centroid). Assignment reuses kmeans_assign's broadcast
    struct-min; the subtraction is one zip_with — no UDF, no shuffle
    beyond the assignment aggregation."""
    assign = kmeans_assign(embeddings, centroids, id_col, vec_col)
    return (
        embeddings.join(assign.select(id_col, "cid"), id_col)
        .join(F.broadcast(centroids), "cid")
        .select(
            id_col,
            "cid",
            F.zip_with(
                F.col(vec_col), F.col("cvec"),
                lambda x, c: x.cast("double") - c,
            ).alias("rvec"),
        )
    )


def ivfpq_fit_encode(
    embeddings: DataFrame, n_cells: int = 8, m: int = 4, ksub: int = 16,
    n_iter: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(centroids, codebooks, encoded): train the coarse quantizer on the
    vectors, the PQ codebooks on the RESIDUALS (they are what gets
    encoded — training PQ on raw vectors wastes its precision re-encoding
    the cell offset), and compress the corpus to (id, cid, codes).

    At scale: centroids are n_cells rows, codebooks m×ksub rows — both
    broadcast/driver-size forever; the corpus becomes one int + m codes
    per vector. Training runs on the full input here; sample upstream for
    a 100 TB corpus (the estimator only needs a representative slice)."""
    cents = kmeans_fit(embeddings, k=n_cells, n_iter=n_iter,
                       id_col=id_col, vec_col=vec_col)
    res = residuals(embeddings, cents, id_col, vec_col).localCheckpoint()
    books = pq_fit(res, m=m, ksub=ksub, n_iter=n_iter,
                   id_col=id_col, vec_col="rvec", dim=dim)
    codes = pq_encode(res, books, m=m, id_col=id_col, vec_col="rvec",
                      dim=dim)
    encoded = res.select(id_col, "cid").join(codes, id_col)
    return cents, books, encoded


def ivfpq_topk(
    encoded: DataFrame, centroids: DataFrame, codebooks: DataFrame,
    query_vec: list[float], k: int = 10, nprobe: int = 2, m: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over an IVF-PQ index: probe the `nprobe` nearest coarse
    cells, score their members as ‖(q − centroid) − pq_decode(codes)‖²
    via the residual LUT — i.e. the PQ LUT is built per probed cell
    against the query's RESIDUAL in that cell.

    Scale shape: cell selection is a driver-side n_cells-row lookup (a
    query parameter, like kmeans_ivf_topk); the per-cell LUTs are
    nprobe × m × ksub rows, broadcast; the corpus scan reads (cid, codes)
    only and is partition-prunable on cid when the encoded table is
    written partitionBy(cid). One groupBy(id) of exact fixed-point sums,
    then TakeOrderedAndProject."""
    q = [float(x) for x in query_vec]
    cents = centroids.collect()  # n_cells rows — the probe dictionary

    def sqd(c):
        return sum((float(a) - b) ** 2 for a, b in zip(c, q))

    probe_cids = [
        r["cid"]
        for r in sorted(cents, key=lambda r: (sqd(r["cvec"]), r["cid"]))
    ][:nprobe]
    cent_map = {r["cid"]: [float(x) for x in r["cvec"]] for r in cents}
    dim = len(q)
    if dim % m != 0:
        raise ValueError(f"query dim {dim} not divisible by m {m}")
    sub_dim = dim // m

    # residual query per probed cell, as literal subvector arrays
    def qsub_for(cid: int, j: int) -> Column:
        c = cent_map[cid]
        return F.array(
            *[
                F.lit(q[j * sub_dim + t] - c[j * sub_dim + t])
                for t in range(sub_dim)
            ]
        )

    luts = []
    for cid in probe_cids:
        qsub = F.element_at(
            F.array(*[qsub_for(cid, j) for j in range(m)]),
            F.col("subspace") + 1,
        )
        luts.append(
            codebooks.select(
                F.lit(cid).alias("cid"),
                "subspace",
                F.col("cid").alias("code"),
                F.floor(
                    sq_dist_col(qsub, F.col("cvec")) * F.lit(1e9) + F.lit(0.5)
                ).cast("long").alias("d_scaled"),
            )
        )
    lut = luts[0]
    for other in luts[1:]:
        lut = lut.unionByName(other)
    lut = F.broadcast(lut)

    exploded = (
        encoded.filter(F.col("cid").isin(probe_cids))
        .select(F.col(id_col), "cid", F.posexplode("codes").alias("subspace", "code"))
    )
    return (
        exploded.join(lut, ["cid", "subspace", "code"])
        .groupBy(id_col)
        .agg((F.sum("d_scaled").cast("double") / F.lit(1e9)).alias("approx_dist"))
        .orderBy(F.asc("approx_dist"), F.asc(id_col))
        .limit(k)
    )


def l2_normalized(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec/‖vec‖): unit-sphere projection — cosine becomes L2, so
    k-means cells align with cosine similarity (the SemDeDup premise; on
    raw magnitudes a high-cosine pair can land in different L2 cells —
    observed on the fixture). The norm is projected as its own column
    FIRST so the per-element division reads it once (a norm_col call
    inside the transform lambda would re-run the whole fold per element:
    HOFs get no common-subexpression elimination). Zero vectors map to
    zero vectors."""
    return embeddings.select(
        F.col(id_col), F.col(vec_col).alias("_raw"),
        norm_col(F.col(vec_col)).alias("_n"),
    ).select(
        id_col,
        F.transform(
            "_raw",
            lambda x: F.when(
                F.col("_n") > 0, x.cast("double") / F.col("_n")
            ).otherwise(F.lit(0.0)),
        ).alias(vec_col),
    )


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication", 2023): embedding-space near-duplicate
# removal with k-means cells as the blocking structure — pairs are only
# compared INSIDE a cell, and one representative per duplicate group
# survives.
# --------------------------------------------------------------------------

#: auto-k target cell size: the within-cell self-join does ~(N/k)²/2
#: comparisons per cell, so holding N/k ≈ constant keeps per-cell work
#: flat as the corpus grows (k grows linearly with N — the SemDeDup
#: paper's own deployment shape: tens of thousands of cells at web scale)
SEMDEDUP_TARGET_CELL = 1024

#: auto-k floor — below ~16 cells the blocking stops paying for the
#: kmeans fit even on small corpora
SEMDEDUP_MIN_K = 16


def semdedup_auto_k(
    n_rows: int, target_cell: int = SEMDEDUP_TARGET_CELL
) -> int:
    """Cell count for a corpus of n_rows: ceil(n/target) with a floor of
    SEMDEDUP_MIN_K — average cell size is bounded by target_cell at any
    corpus size (10× the data → 10× the cells, same per-cell work)."""
    return max(SEMDEDUP_MIN_K, -(-n_rows // target_cell))


def semdedup_pairs(
    embeddings: DataFrame, k: int | None = None, threshold: float = 0.8,
    n_iter: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id1, id2, cosine): within-cluster cosine near-dup pairs. The
    learned k-means cells replace the data-oblivious sign-bit buckets of
    cosine_near_dup_pairs — the paper's observation is that semantic
    duplicates co-locate in embedding-space clusters, so the self-join is
    blocked on the cell id (k blocks of ~N/k) and never crosses cells.

    k=None (the default) SIZES ITSELF: k = semdedup_auto_k(N), i.e. cells
    hold ≈SEMDEDUP_TARGET_CELL vectors on average regardless of corpus
    size — the within-cell join is O((N/k)²) per cell, so a FIXED k would
    grow per-cell work quadratically with the corpus. The count that
    feeds it is one cheap job over the already-checkpointed normalized
    table. Pass an explicit k to pin the clustering (the registry oracle
    does, k is part of the unrolled Lloyd chain). Average cell size is
    bounded by construction; a pathologically skewed EMBEDDING
    distribution can still produce one hot cell (kmeans makes no balance
    guarantee — same caveat as the paper), which AQE's skew-join split
    handles at execution.

    Recall is bounded by the clustering, like every SemDeDup deployment;
    raise k for smaller cells or fall back to the multi-probe bucket
    blocking for recall-critical passes. Measured on the CLUSTERED
    fixture (BENCHLOG round 11: planted Gaussian clusters on the unit
    sphere + isotropic background, realistic t=0.8): **90.1%** of the
    brute-force thresholded pairs — the regime the operator is built
    for, where near-dups co-locate. The diffuse rotation fixture
    (BENCHLOG round 10, t=0.12 = p88 of its cosine distribution) gave
    11.9%/9.2% at 1×/10× — pessimistic by construction, measuring
    threshold geometry on a space with no cluster structure; planted
    exact/near dups are always found (test-pinned).

    Scale shape (two-point measured, BENCHLOG.md round 9): in the
    target-cell regime the end-to-end cost is ~linear in n (1.62× at
    2× input). The eventual asymptote is the dense assignment — n×k
    distances with k ∝ n is Θ(n²/target) — which dominates only far
    above any bench size here; when it does, route assignment
    two-level (coarse √k cells, then per-cell refinement: n·2√k) or
    use the IVF/LSH blocking operators in this module, which already
    bound per-probe work."""
    # the normalized table feeds every kmeans iteration AND both sides of
    # the pair self-join — materialize it once (each consumer would
    # otherwise re-run the per-element norm-divide transform)
    unit = l2_normalized(embeddings, id_col, vec_col).localCheckpoint()
    n, dim = _count_and_dim(unit, vec_col)
    if k is None:
        k = semdedup_auto_k(n)
    assign = kmeans_fit_assign(
        unit, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    ).select(id_col, "cid")
    return _cell_blocked_pairs(
        unit, assign, threshold, id_col, vec_col, n, dim
    )


def _cell_blocked_pairs(
    unit: DataFrame, assign: DataFrame, threshold: float,
    id_col: str, vec_col: str, n_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """The SemDeDup pair join shared by the flat and two-level routes:
    within-cell self-join of the UNIT vectors, id1 < id2, thresholded
    dot product. On the unit sphere cosine IS the dot product — skip
    the two norm folds cosine_col would recompute per pair (≈3× the
    per-pair work across the within-cell candidate set; measured
    16.8 s → 6.5 s at sf0.1). The oracle mirrors the same dot over the
    same normalized vectors, so parity is exact.

    Join strategy (round 13, guide §3.1): with no hints the pair join
    planned as assign-side-streamed — the final stage read the argmin
    aggregate's tiny (≈50 KB) AQE-coalesced shuffle, so the WHOLE
    pair-verify compute (the dominant cost: |cell|²/2 dot folds per
    cell) serialized onto one core (measured: a single 2.2-2.6 s save
    task at sf0.1, every other core idle). When the caller-supplied
    row count prices the corpus under the session broadcast threshold,
    hint BOTH small sides: broadcast `assign` into the unit join (the
    probe then streams the checkpointed unit table's scan partitions —
    no exchange at all on the probe path) and broadcast the right pair
    side. Past the threshold (the 100 TB corpus) the hints are
    withheld and the shuffle join on `cid` stands — at auto-k scale
    there are n/target_cell cells, so that route has the key
    cardinality the local fixture lacks."""
    small = n_rows is not None and _fits_session_broadcast(
        unit.sparkSession, n_rows, dim
    )
    vecs = unit.join(F.broadcast(assign) if small else assign, id_col)
    a = vecs.select(
        F.col("cid"), F.col(id_col).alias("id1"), F.col(vec_col).alias("v1")
    )
    b = vecs.select(
        F.col("cid").alias("cid_r"), F.col(id_col).alias("id2"),
        F.col(vec_col).alias("v2"),
    )
    if small:
        b = F.broadcast(b)
    return (
        a.join(
            b,
            (F.col("cid") == F.col("cid_r")) & (F.col("id1") < F.col("id2")),
        )
        .select(
            "id1", "id2",
            F.round(dot_col(F.col("v1"), F.col("v2")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _fits_session_broadcast(spark, n_rows: int, dim: int | None) -> bool:
    """Price (id, vec, cid) rows against the session broadcast
    threshold: n·(8·dim + 24) bytes with a 2× hash-relation factor.
    Conservative on purpose — a miss only keeps the shuffle join.

    ``dim`` is the MEASURED widest vector (callers thread it from the
    same one-job aggregate that counts the corpus — _count_and_dim);
    256 is a pricing FLOOR, not a guess: the r13 shape hard-coded 256
    when no caller passed dim, which under-priced wide embeddings by
    dim/256× and could admit a broadcast well past the threshold
    (ADVICE r13 — the exact OOM the gate exists to prevent). An
    unknown dim (None) now refuses the hint: the shuffle join is the
    only safe default when the width is unpriceable."""
    if dim is None:
        return False
    try:
        thr = int(spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"
        ))
    except (TypeError, ValueError):
        return False
    return thr > 0 and n_rows * (8 * max(dim, 256) + 24) * 2 <= thr


def _count_and_dim(unit: DataFrame, vec_col: str) -> tuple[int, int | None]:
    """(row count, widest vector length) in ONE job over the
    checkpointed unit table — the count the semdedup entry points
    already paid, now also returning the real dim so the broadcast
    gate prices measured width instead of a hard-coded 256
    (VERDICT r13 #6). max(size) is the conservative side for ragged
    inputs: pricing the widest row can only refuse a borderline
    broadcast."""
    row = unit.agg(
        F.count(F.lit(1)).alias("_n"),
        F.max(F.size(F.col(vec_col))).alias("_dim"),
    ).first()
    n = int(row["_n"])
    dim = row["_dim"]
    return n, (int(dim) if dim is not None else None)


def semdedup_pairs_scaled(
    embeddings: DataFrame, threshold: float = 0.8, n_iter: int = 2,
    target_cell: int = SEMDEDUP_TARGET_CELL,
    id_col: str = "vec_id", vec_col: str = "embedding",
    coarse_probes: int = 2,
) -> DataFrame:
    """semdedup_pairs on the TWO-LEVEL routing
    (kmeans_two_level_fit_assign) with auto-sized k — the 100 TB shape
    of the operator: cell sizes stay ≈target_cell (so the within-cell
    pair join stays linear-in-n at fixed per-cell work, exactly like
    the flat auto-k path), while the clustering cost drops from n·k to
    n·2√k distance evaluations — the flat path's only superlinear term
    once k grows with the corpus (BENCHLOG.md round 9). Same pair
    semantics: every emitted pair is an exact thresholded cosine;
    recall is bounded by the (hierarchical) clustering, the standard
    IVF trade-off. Measured: on the CLUSTERED fixture (BENCHLOG round
    11, planted Gaussian clusters, realistic t=0.8) absolute recall vs
    brute is **82.9%** against the flat path's 90.1% — the two-level
    routing costs ~7 recall points for the n·2√k assignment; on the
    diffuse rotation fixture (round 10) the routing kept 97.9%/95.7%
    of the flat path's pairs at 1×/10×.

    ``coarse_probes`` prices that loss back (the 3√k knob): each
    vector's final cell is chosen over the sub-centroids of its top-p
    coarse cells (kmeans_two_level_fit_assign multi-probe), healing
    the coarse-boundary quantization error at n·(p+1)·√k assignment
    cost while the pair-join volume is UNCHANGED (still one composite
    cell per vector). DEFAULT 2 since round 13: p=2 measured
    strictly-better-or-tied recall at wall parity on every panel
    fixture (BENCHLOG round 13) — clustered default-k 82.9% → 91.3%
    (EXCEEDS the flat path's 90.1%), clustered larger-k (target_cell
    128, k ≈ n/128) 82.1% → 90.0%, diffuse 1× 11.67% → 11.81%,
    diffuse 10× 8.77% → 8.89% — the diffuse fixture being the one
    multi-probe could plausibly have lost (no planted structure to
    heal; it still gained). Re-routing boundary vectors to their
    globally nearest composite cell is simply a better quantizer than
    primary-cell routing at the same k, at √k-scaling cost instead of
    the flat fit's n·k. And the knob SATURATES past 2: the p=3 point
    buys only +1.4/+2.2 further recall points for +10% wall at
    larger k (clustered 92.7%/92.2% — BENCHLOG round 13), so p=2 is
    the knee; raise p only when recall is worth more than wall."""
    unit = l2_normalized(embeddings, id_col, vec_col).localCheckpoint()
    n, dim = _count_and_dim(unit, vec_col)
    k = semdedup_auto_k(n, target_cell)
    assign = kmeans_two_level_fit_assign(
        unit, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        coarse_probes=coarse_probes,
    ).select(id_col, "cid")
    return _cell_blocked_pairs(
        unit, assign, threshold, id_col, vec_col, n, dim
    )


def embedding_dim_stats(
    embeddings: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", scale: int = 9,
    max_abs: float = 100.0,
) -> DataFrame:
    """Per-DIMENSION health profile of an embedding column — the
    vector-pipeline QA pass that catches dead dimensions (an encoder
    head that collapsed to a constant), variance drift after a model
    swap, and range blow-ups before they poison every downstream
    cosine. Output per dimension: (pos, n, mean_x, var_x, min_x,
    max_x, is_dead, out_of_range); is_dead = rounded variance exactly
    0 (NULL when the range check failed).

    Range blow-ups are REPORTED, never silently mis-measured: the
    scale-9 fixed-point sums that make mean/variance bit-stable have
    a dynamic range (x²·10⁹ must stay inside exact-long territory —
    past |x| ≈ 3e3 the quantization degrades, past ≈ 9.6e4 the
    scaled long saturates), so a dimension whose min/max (exact at
    ANY magnitude) exceed ±max_abs gets out_of_range = 1 with
    mean_x / var_x / is_dead NULL instead of garbage — which is the
    correct QA verdict for such a dimension anyway.

    One posexplode scan + ONE hash aggregate keyed by position (d
    keys — trivially small state at any corpus size; the scan is the
    cost, and it is a single pass). Sums are fixed-point exact
    (relational dsum discipline), so the profile is bit-stable across
    partitionings and engines — the oracle replays the same scaled-
    long sums and the same IEEE mean/variance arithmetic (the final
    ``+ 0.0`` folds the -0.0 a quantization-negative residual can
    produce into +0.0 on both engines)."""
    from yat_geo_db_spark.relational.queries import dsum

    pts = embeddings.select(
        F.posexplode(F.col(vec_col)).alias("pos", "_raw")
    ).select("pos", F.col("_raw").cast("double").alias("x"))
    agg = pts.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x"), scale).alias("_sx"),
        dsum(F.col("x") * F.col("x"), scale).alias("_sx2"),
        F.min("x").alias("_mn"),
        F.max("x").alias("_mx"),
    )
    ok = (F.col("_mn") >= -max_abs) & (F.col("_mx") <= max_abs)
    out = agg.select(
        "pos",
        "n",
        F.when(
            ok, F.round(F.col("_sx") / F.col("n"), 6) + F.lit(0.0)
        ).alias("mean_x"),
        F.when(
            ok,
            F.round(
                (F.col("_sx2") - F.col("_sx") * F.col("_sx") / F.col("n"))
                / F.col("n"),
                6,
            )
            + F.lit(0.0),
        ).alias("var_x"),
        F.round("_mn", 6).alias("min_x"),
        F.round("_mx", 6).alias("max_x"),
        (~ok).cast("int").alias("out_of_range"),
    )
    return out.select(
        "pos", "n", "mean_x", "var_x", "min_x", "max_x",
        (F.col("var_x") == 0.0).cast("int").alias("is_dead"),
        "out_of_range",
    )


def semdedup_keep(
    embeddings: DataFrame, k: int | None = None, threshold: float = 0.8,
    n_iter: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Surviving ids after SemDeDup: one representative (min id — the
    deterministic stand-in for the paper's keep-lowest-similarity-to-
    centroid choice) per within-cluster duplicate group, plus every
    unpaired vector. Reuses the dedup connected-components machinery on
    the pair graph."""
    from yat_geo_db_spark.pipelines.dedup import dedup_keep_canonical

    pairs = semdedup_pairs(embeddings, k, threshold, n_iter, id_col, vec_col)
    return dedup_keep_canonical(
        embeddings.select(id_col), pairs, id_col=id_col
    )



def _ranked_topk(scored: DataFrame, k: int, query_id_col: str,
                 id_col: str, score_col: str = "cosine") -> DataFrame:
    """Final per-query top-k with dense rank: one sort-based window
    (spill-safe) over (score desc, id asc) ties."""
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, score_col, "rank")
    )


def _two_phase_topk(scored: DataFrame, k: int, query_id_col: str,
                    id_col: str, score_col: str = "cosine",
                    part_col: str = "_part") -> DataFrame:
    """Spill-safe per-query top-k over corpus-scale scored rows. Phase 1
    ranks within (query, input partition) through a SORT-based window —
    it spills gracefully, where a collect_list aggregation would buffer
    every scored row of the group in one task's hash-aggregate memory
    before any slice could truncate it (partial aggregation cannot bound
    a collect_list — the earlier 'bounded' phase-1 wasn't). Phase 2
    ranks the <= k x partitions survivors per query."""
    from pyspark.sql import Window

    w1 = Window.partitionBy(query_id_col, part_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    local = (
        scored.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", part_col)
    )
    return _ranked_topk(local, k, query_id_col, id_col, score_col)


def _score_query_batch(
    embeddings, queries, id_col: str, vec_col: str,
    query_id_col: str, query_vec_col: str,
):
    """Broadcast the query batch and score every (corpus row, query)
    cosine in one pass — the shared front half of brute_force_topk_batch
    and hard_negative_mining (one rounding/_part convention, one place
    to change it)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(query_vec_col).alias("_qv")
        )
    )
    return embeddings.crossJoin(q).select(
        query_id_col,
        F.col(id_col),
        F.round(cosine_col(F.col(vec_col), F.col("_qv")), 6).alias("cosine"),
        F.spark_partition_id().alias("_part"),
    )


def brute_force_topk_batch(
    embeddings: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", query_vec_col: str = "query_vec",
) -> DataFrame:
    """(query_id, vec_id, cosine, rank): exact cosine top-k for a BATCH of
    query vectors — the serving shape (one query at a time wastes a corpus
    scan per query; a batch amortizes one scan across all of them).

    Scale shape: the query table broadcasts (batches are small by
    definition); scoring is corpus-scan × Q in one pass. The per-query
    top-k is TWO-PHASE — rank within (query, input partition) first,
    then rank the ≤ k·partitions survivors per query — so the final
    per-query sort never sees Q full corpus copies on a Q-partition
    shuffle (the classic per-group-top-k scale trap: Q ≪ cores means
    idle executors). Both phases are SORT-based windows, which spill
    gracefully; see _two_phase_topk for why an aggregation-based
    "bounded" phase 1 wasn't. Ties break by ascending id."""
    scored = _score_query_batch(
        embeddings, queries, id_col, vec_col, query_id_col, query_vec_col
    )
    return _two_phase_topk(scored, k, query_id_col, id_col)


def ivf_topk_batch(
    embeddings: DataFrame, queries: DataFrame, k: int = 10, bits: int = 8,
    hamming_probe: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batched APPROXIMATE top-k: each query probes its sign-bit bucket
    (plus `hamming_probe` bit-flip neighbors) via an EQUI-join on the
    bucket id — the batch form of ivf_topk, and the scale shape when the
    query batch itself is large: candidates per query are ~N·(1+bits)/2^bits
    rows riding a shuffle-partitioned join (AQE-splittable), not a
    Q×N cross join. Per-query top-k is the same two-phase windowed
    top-k as brute_force_topk_batch (_two_phase_topk). A corpus vector sits in ONE
    bucket, so it meets a query through at most one probe row — no dedup.

    Returns (query_id, vec_id, cosine, rank); self-matches are not
    excluded (a stored query vector ranks itself first)."""
    bucketed = embeddings.select(
        F.col(id_col), F.col(vec_col).alias("_v"),
        signbit_bucket(F.col(vec_col), bits).alias("_bucket"),
    )
    qb = queries.select(
        F.col(query_id_col), F.col(query_vec_col).alias("_qv"),
        signbit_bucket(F.col(query_vec_col), bits).alias("_qbucket"),
    )
    flips = [F.col("_qbucket").cast("long")]
    if hamming_probe >= 1:
        flips += [
            F.col("_qbucket").bitwiseXOR(F.lit(1 << j)).cast("long")
            for j in range(bits)
        ]
    if hamming_probe >= 2:
        raise NotImplementedError("probe radius > 1 not needed yet")
    probes = F.broadcast(
        qb.select(
            query_id_col, "_qv", F.explode(F.array(*flips)).alias("_bucket")
        )
    )
    scored = bucketed.join(probes, "_bucket").select(
        query_id_col,
        F.col(id_col),
        F.round(cosine_col(F.col("_v"), F.col("_qv")), 6).alias("cosine"),
        F.spark_partition_id().alias("_part"),
    )
    return _two_phase_topk(scored, k, query_id_col, id_col)


def batch_cosine_scores_arrow(
    embeddings: DataFrame, query_vecs: list[list[float]],
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, query_id, cosine): every corpus vector scored against every
    query vector with ONE NumPy matmul per Arrow batch — the THROUGHPUT
    twin of cosine_col's sequential fold. The fold is the correctness path
    (bit-identical to the DuckDB oracle, stays in codegen); this is the
    bench path: per-element interpreted HOF arithmetic costs ~d
    interpreter dispatches per row, while Arrow hands mapInPandas a
    columnar batch that numpy reduces at BLAS speed — the standard 10-100×
    Pandas-UDF win on numeric kernels.

    The query matrix rides the closure (a query batch is parameter-sized);
    scores are float64 but NOT bit-identical to the fold (summation order
    differs — np.dot pairwise vs left-fold), so consumers needing
    oracle-exact values use the fold path. Schema/partitioning: pure
    mapInPandas, no shuffle; output rows = |corpus| × |queries| — follow
    with the two-phase top-k, not a collect."""
    import numpy as np
    import pandas as pd

    q = np.asarray(query_vecs, dtype=np.float64)          # (Q, d)
    qnorm = np.linalg.norm(q, axis=1, keepdims=True)
    qnorm[qnorm == 0.0] = 1.0  # zero query vector → zero cosines, not NaN
    qn = q / qnorm

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            cos = (m / norms) @ qn.T                       # (B, Q)
            b, nq = cos.shape
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), nq),
                    "query_id": np.tile(np.arange(nq), b),
                    "cosine": cos.reshape(-1),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        score, schema=f"{id_col} long, query_id int, cosine double"
    )


def brute_force_topk_batch_arrow(
    embeddings: DataFrame, query_vecs: list[list[float]], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-vectorized batched exact top-k: each mapInPandas batch runs
    ONE matmul and emits only its per-query top-k (k·Q rows per batch,
    argpartition — not a full sort), and a final per-query merge slices
    the global k. Emitting only winners is what makes the Arrow path pay:
    a raw all-scores variant loses its matmul win to serializing B×Q
    score rows back out (measured 0.5× the fold path at 5000×100×64;
    this form measures 2.9x faster than the fold two-phase at 5000x100x64 and widens with batch size). Cosines are rounded at 6 like the
    fold path, so ranks agree with brute_force_topk_batch wherever the
    underlying values aren't within one ulp of a rounding boundary."""
    import numpy as np
    import pandas as pd

    q = np.asarray(query_vecs, dtype=np.float64)
    qnorm = np.linalg.norm(q, axis=1, keepdims=True)
    qnorm[qnorm == 0.0] = 1.0  # zero query vector → zero cosines, not NaN
    qn = q / qnorm
    nq = qn.shape[0]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            cos = np.round((m / norms) @ qn.T, 6)          # (B, Q)
            kk = min(k, len(ids))
            # per query: top-k batch rows by (-cos, id)
            out_ids, out_qs, out_cos = [], [], []
            for qi in range(nq):
                col = cos[:, qi]
                part = np.argpartition(-col, kk - 1)[:kk]
                order = part[np.lexsort((ids[part], -col[part]))]
                out_ids.append(ids[order])
                out_qs.append(np.full(kk, qi))
                out_cos.append(col[order])
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(out_ids),
                    "query_id": np.concatenate(out_qs),
                    "cosine": np.concatenate(out_cos),
                }
            )

    local = embeddings.select(id_col, vec_col).mapInPandas(
        score, schema=f"{id_col} long, query_id int, cosine double"
    )
    # the mapInPandas stage already bounded each batch to k rows/query;
    # one final ranked merge per query finishes the job
    return _ranked_topk(local, k, "query_id", id_col)


def write_pq_index(
    embeddings: DataFrame, root: str, m: int = 4, ksub: int = 16,
    n_iter: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None,
) -> str:
    """Persist a PQ index — the build-once/probe-many layout (the fit +
    encode cost amortizes across every future query, like
    write_ivf_index):

        <root>/codebooks/   m×ksub rows (subspace, cid, cvec)
        <root>/codes/       (id, codes) — the m-int compressed corpus

    The codes table is the ONLY thing a query scans, at m ints per vector
    instead of d floats."""
    books = pq_fit(embeddings, m=m, ksub=ksub, n_iter=n_iter,
                   id_col=id_col, vec_col=vec_col, dim=dim)
    books.write.mode("overwrite").parquet(f"{root}/codebooks")
    codes = pq_encode(embeddings, books, m=m, id_col=id_col,
                      vec_col=vec_col, dim=dim)
    codes.write.mode("overwrite").parquet(f"{root}/codes")
    return root


def pq_adc_topk_indexed(
    spark, root: str, query_vec: list[float], k: int = 10, m: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k against a persisted PQ index: read the m×ksub codebooks
    (broadcast into the per-query LUT) and scan only the codes table."""
    books = spark.read.parquet(f"{root}/codebooks")
    codes = spark.read.parquet(f"{root}/codes")
    return pq_adc_topk(codes, books, query_vec, k=k, m=m, id_col=id_col)


def write_ivfpq_index(
    embeddings: DataFrame, root: str, n_cells: int = 8, m: int = 4,
    ksub: int = 16, n_iter: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int | None = None,
) -> str:
    """Persist an IVF-PQ index — the full FAISS-style layout on Parquet:

        <root>/centroids/   n_cells coarse centroids (probe dictionary)
        <root>/codebooks/   m×ksub residual sub-codebooks
        <root>/codes/       (id, cid, codes) partitionBy(cid)

    A probe lists only its nprobe cell DIRECTORIES (PartitionFilters) and
    reads m ints per vector — coarse pruning AND code compression stack."""
    cents, books, encoded = ivfpq_fit_encode(
        embeddings, n_cells=n_cells, m=m, ksub=ksub, n_iter=n_iter,
        id_col=id_col, vec_col=vec_col, dim=dim,
    )
    cents.write.mode("overwrite").parquet(f"{root}/centroids")
    books.write.mode("overwrite").parquet(f"{root}/codebooks")
    (
        encoded.repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(f"{root}/codes")
    )
    return root


def _frozen_index_dim(centroids: DataFrame) -> int:
    """Vector dim as recorded by a frozen index's centroid table (k tiny
    rows — a driver-side parameter lookup, never a corpus/batch scan).
    Lets encode-only append paths resolve dim without running a job on
    the incoming batch, so an EMPTY micro-batch is a clean no-op instead
    of a .first()→None crash."""
    row = centroids.select("cvec").first()
    if row is None:
        raise ValueError("centroid table is empty — not a trained index")
    return len(row[0])


def _require_dim(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Executor-side fail-fast on vector-length mismatch: a wrong-dim
    vector would otherwise null-pad through zip_with and route to an
    arbitrary cell SILENTLY. Pure projection (no extra job); the error
    surfaces in the first action that touches the bad row."""
    return df.withColumn(
        vec_col,
        F.when(F.size(F.col(vec_col)) == F.lit(dim), F.col(vec_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"vector dim != index dim {dim}: got "),
                    F.size(F.col(vec_col)).cast("string"),
                )
            )
        ),
    )


def ivfpq_encode(
    embeddings: DataFrame, centroids: DataFrame, codebooks: DataFrame,
    m: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(id, cid, codes) under FROZEN coarse centroids + residual
    codebooks — the encode-only half of ivfpq_fit_encode, factored out so
    new vectors can join an existing index without retraining (the vector
    analog of the reference's incremental add_entity,
    geo_manager.py:451-476, which appends postings under the frozen
    trigram vocabulary).

    Scale shape: identical to the fit-time encode — one broadcast
    centroid assignment, one zip_with residual, one broadcast codebook
    argmin, one groupBy(id); the new batch never touches the existing
    corpus. dim resolves from the FROZEN centroids (k-row lookup, not a
    batch job) and mismatched input vectors raise instead of silently
    mis-routing; the residual subtree is checkpointed once because it
    feeds both pq_encode and the final (id, cid) join — without it every
    micro-batch of a streaming append pays the assignment twice."""
    if dim is None:
        dim = _frozen_index_dim(centroids)
    res = residuals(
        _require_dim(embeddings, vec_col, dim), centroids, id_col, vec_col
    ).localCheckpoint()
    codes = pq_encode(res, codebooks, m=m, id_col=id_col, vec_col="rvec",
                      dim=dim)
    return res.select(id_col, "cid").join(codes, id_col)


def ivfpq_index_append(
    spark, root: str, new_embeddings: DataFrame, m: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None, skip_existing: bool = False,
) -> str:
    """Encode-only append into a persisted IVF-PQ index (the
    write_ivfpq_index layout): read the frozen centroids + codebooks,
    encode the new batch, and append its (id, cid, codes) rows into the
    partitionBy(cid) codes table. The daily operation of a production
    embedding store — O(batch) work, never O(corpus); the codebooks stay
    driver-size and the append lands only in the cid directories the
    batch actually hits.

    Appended rows score identically to a full re-encode of the union
    under the same frozen codebooks (property-tested); ids are assumed
    new — pass skip_existing=True to anti-join against the index's id
    column first (a column-pruned scan of codes, the one O(corpus) step,
    so it is opt-in)."""
    cents = spark.read.parquet(f"{root}/centroids")
    books = spark.read.parquet(f"{root}/codebooks")
    enc = ivfpq_encode(new_embeddings, cents, books, m=m, id_col=id_col,
                       vec_col=vec_col, dim=dim)
    if skip_existing:
        existing = spark.read.parquet(f"{root}/codes").select(id_col)
        enc = enc.join(existing, id_col, "left_anti")
    (
        enc.repartition("cid")
        .write.mode("append")
        .partitionBy("cid")
        .parquet(f"{root}/codes")
    )
    return root


def ivfpq_topk_indexed(
    spark, root: str, query_vec: list[float], k: int = 10, nprobe: int = 2,
    m: int = 4, id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k against a persisted IVF-PQ index: the cid filter inside
    ivfpq_topk prunes at the partition-directory level before any file
    opens (the layout from write_ivfpq_index)."""
    cents = spark.read.parquet(f"{root}/centroids")
    books = spark.read.parquet(f"{root}/codebooks")
    encoded = spark.read.parquet(f"{root}/codes")
    return ivfpq_topk(
        encoded, cents, books, query_vec, k=k, nprobe=nprobe, m=m,
        id_col=id_col,
    )


# --------------------------------------------------------------------------
# PCA — distributed covariance, driver-side eigensolve, distributed project
# --------------------------------------------------------------------------

def pca_fit(
    embeddings: DataFrame,
    n_components: int = 4,
    vec_col: str = "embedding",
):
    """Fit PCA over an embedding column at cluster scale. Returns
    ``(mean, components, explained_variance_ratio)`` as NumPy arrays
    (components is (r, d), rows = principal axes, orthonormal).

    The only thing that ever leaves the executors is one (count, sum,
    Gram) triple PER PARTITION — d + d*d doubles, ~33 KB at d=64 —
    regardless of row count, so the driver step is O(partitions * d^2)
    collect + one d×d `eigh`: the textbook split for covariance-family
    fits (same shape a parameter server or tree-reduce would use; at
    extreme partition counts swap the collect for a two-level
    treeAggregate, the partial math is identical). No row-level data is
    centered before the Gram pass — covariance comes from
    E[xxᵀ] − μμᵀ at the driver, keeping the executor pass one matmul
    over the raw batch.

    Determinism: eigenvector SIGN is pinned by making each component's
    largest-|coordinate| entry positive (eigh is sign-ambiguous);
    eigenvalue ties keep eigh's ascending order, reversed. Float
    partial-sum order still varies with partitioning at ~1e-12 — tests
    compare with tolerances, and the registry entry is rows-only (no
    SQL engine exposes an eigensolve for a value-hash oracle)."""
    import numpy as np
    import pandas as pd

    def _partials(batches):
        n = 0
        s = None
        g = None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += x.shape[0]
            s = x.sum(0) if s is None else s + x.sum(0)
            gg = x.T @ x
            g = gg if g is None else g + gg
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    parts = (
        embeddings.select(vec_col)
        .mapInPandas(_partials, "n long, s array<double>, g array<double>")
        .collect()
    )
    n = sum(r["n"] for r in parts)
    if n < 2:
        raise ValueError("pca_fit needs at least 2 vectors")
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    d = s.shape[0]
    g = np.sum([np.asarray(r["g"]).reshape(d, d) for r in parts], axis=0)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T  # (r, d)
    evals_top = np.maximum(evals[order], 0.0)
    # sign convention: largest-|coordinate| entry of each axis positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total_var = float(np.maximum(evals, 0.0).sum()) or 1.0
    return mean, comps, evals_top / total_var


def pca_power_fit(
    embeddings: DataFrame,
    n_components: int = 2,
    n_iter: int = 16,
    vec_col: str = "embedding",
    quant: int = 1_000_000,
):
    """ENGINE-REPLAYABLE PCA twin of pca_fit: fixed-count power iteration
    with deflation over a QUANTIZED Gram matrix. Returns
    ``(mean, comps)`` as plain Python lists.

    Why this exists next to pca_fit: `eigh` is not replayable by any SQL
    engine, so pipe_emb_pca is rows-only. This variant is bit-exact
    cross-engine by construction —
    - the distributed pass accumulates INTEGER sufficient statistics
      (per-element floor(x_i*x_j*quant + 0.5), summed in int64), so the
      Gram is independent of partitioning and row order;
    - everything after the collect is pure sequential Python float64
      (ascending-index folds, IEEE division/sqrt — both exactly
      rounded), which DuckDB's list_reduce replays operation-for-
      operation — no tolerance, no rounding tricks needed.
    Same O(partitions · d²) collect shape as pca_fit; the iteration is
    O(n_iter · d²) driver work on a d×d matrix. The iterate after
    `n_iter` rounds IS the defined result (no convergence test), so the
    oracle checks the computation, not an eigen-gap."""
    import numpy as np
    import pandas as pd

    def _partials(batches):
        n = 0
        s = None
        g = None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += x.shape[0]
            sq = np.floor(x * float(quant) + 0.5).astype(np.int64).sum(0)
            s = sq if s is None else s + sq
            # chunk the outer-product tensor: rows×d×d float64 for a
            # full 10k-row Arrow batch is ~0.3 GB at d=64 and ~5 GB at
            # d=256 — an executor OOM at exactly the scale this module
            # targets. Integer sums are associative-exact, so chunking
            # changes nothing downstream.
            for lo in range(0, x.shape[0], 256):
                xb = x[lo : lo + 256]
                p = xb[:, :, None] * xb[:, None, :]
                gq = np.floor(p * float(quant) + 0.5).astype(np.int64).sum(0)
                g = gq if g is None else g + gq
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    parts = (
        embeddings.select(vec_col)
        .mapInPandas(_partials, "n long, s array<long>, g array<long>")
        .collect()
    )
    n = sum(r["n"] for r in parts)
    if n < 2:
        raise ValueError("pca_power_fit needs at least 2 vectors")
    d = len(parts[0]["s"])
    s_int = [sum(r["s"][i] for r in parts) for i in range(d)]
    g_int = [
        [sum(r["g"][i * d + j] for r in parts) for j in range(d)]
        for i in range(d)
    ]
    q = float(quant)
    mu = [(s_int[i] / q) / n for i in range(d)]
    cov = [
        [(g_int[i][j] / q - n * mu[i] * mu[j]) / (n - 1.0) for j in range(d)]
        for i in range(d)
    ]

    def _matvec(c, v):
        out = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc = acc + c[i][j] * v[j]
            out.append(acc)
        return out

    import math

    comps = []
    for _r in range(n_components):
        v = [1.0 / math.sqrt(d)] * d
        for _t in range(n_iter):
            w = _matvec(cov, v)
            acc = 0.0
            for i in range(d):
                acc = acc + w[i] * w[i]
            nrm = math.sqrt(acc)
            v = [w[i] / nrm for i in range(d)]
        # sign pin: largest-|coordinate| entry positive (first max wins)
        av = [abs(x) for x in v]
        if v[av.index(max(av))] < 0:
            v = [-x for x in v]
        w = _matvec(cov, v)
        lam = 0.0
        for i in range(d):
            lam = lam + v[i] * w[i]
        cov = [
            [cov[i][j] - lam * v[i] * v[j] for j in range(d)]
            for i in range(d)
        ]
        comps.append(v)
    return mu, comps


def pca_power_project(
    embeddings: DataFrame,
    mean,
    components,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project onto pca_power_fit axes with SEQUENTIAL JVM folds
    (zip_with + aggregate) instead of a NumPy matmul: the fold order is
    ascending-index, exactly what the SQL oracle's list_reduce does, so
    the projections are bit-identical cross-engine (numpy's pairwise
    dot-product summation would differ at ~1e-16 and could straddle a
    rounding boundary). One scan, no shuffle, whole-stage codegen."""
    x = F.col(vec_col).cast("array<double>")
    cols = [F.col(id_col)]
    mu_arr = _darr(mean)
    centered = F.zip_with(x, mu_arr, lambda a, b: a - b)
    for k, comp in enumerate(components):
        c_arr = _darr(comp)
        terms = F.zip_with(centered, c_arr, lambda a, b: a * b)
        proj = F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)
        cols.append(F.round(proj, 6).alias(f"proj{k + 1}"))
    return embeddings.select(*cols)


def pca_project(
    embeddings: DataFrame,
    mean,
    components,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Project each embedding onto fitted principal axes:
    (id, proj array<double> of length r). The (r, d) component matrix
    ships to executors inside the Arrow-batched pandas UDF closure
    (broadcast-by-value — it is r*d doubles), and each batch is ONE
    NumPy matmul: no shuffle, no per-row Python, the same scan-speed
    shape as any derived-column pass."""
    import numpy as np
    import pandas as pd

    mu = np.asarray(mean, dtype=np.float64)
    w = np.asarray(components, dtype=np.float64).T  # (d, r)

    def _proj_batch(v):
        x = np.vstack(v.to_numpy()).astype(np.float64) - mu
        return pd.Series(list(x @ w))

    _proj = F.pandas_udf(_proj_batch, "array<double>")
    return embeddings.select(F.col(id_col), _proj(F.col(vec_col)).alias(out_col))


def hard_negative_mining(
    embeddings: DataFrame, queries: DataFrame, k: int = 10,
    dup_threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", query_vec_col: str = "query_vec",
) -> DataFrame:
    """Hard negatives for contrastive training: per query, the top-k most
    similar corpus vectors whose cosine is still BELOW `dup_threshold` —
    close enough to be hard, far enough to be true negatives. The
    positive band (near-duplicates, cosine >= threshold) is excluded,
    which also drops self-matches (cosine 1.0) without any id coupling
    between the query and corpus id spaces.

    Same scale shape as brute_force_topk_batch: broadcast query batch,
    one corpus scan scores all queries, the dup filter prunes BEFORE the
    two-phase windowed top-k, so near-dup-heavy corpora don't pay rank
    work for rows the filter kills. Returns (query_id, vec_id, cosine,
    rank)."""
    scored = _score_query_batch(
        embeddings, queries, id_col, vec_col, query_id_col, query_vec_col
    )
    hard = scored.filter(F.col("cosine") < dup_threshold)
    return _two_phase_topk(hard, k, query_id_col, id_col)


def group_centroid_stats(
    embeddings: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 12,
) -> DataFrame:
    """Embedding-space corpus diagnostics per group: the group centroid's
    norm and the mean cosine of members to their centroid (cohesion).
    Collapsed or duplicated sources show up as cohesion ≈ 1; a group of
    unrelated vectors sits near the random-cosine baseline — the cheap
    health check before trusting per-source embedding pipelines.

    Plan: one posexplode → (group, pos) fixed-point mean (map-side
    combinable, dimension-bounded output) → join the exploded stream
    back on (group, pos) for per-vector dots → one per-group aggregate.
    All mass sums go through dsum, so the chain is partition-order-
    independent and the DuckDB oracle matches bit-for-bit. Nothing is
    O(N²) and no vector leaves the executors.

    Returns (group, n_vecs, n_missing, centroid_norm, mean_cos):
    n_vecs counts EVERY row of the group (from the un-exploded input),
    n_missing the rows whose vector is NULL or empty — the most common
    encoder failure, surfaced instead of silently shrinking the stats;
    zero (but present) vectors are excluded from the cosine mean (NULL
    cosine) while still counting toward n_vecs."""
    from yat_geo_db_spark.relational.queries import dsum

    base = embeddings.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count(
            F.when(
                F.col(vec_col).isNull() | (F.size(vec_col) == 0), 1
            )
        ).alias("n_missing"),
    )
    v = embeddings.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("_pos", "_valf"),
    ).select("_g", "_id", "_pos", F.col("_valf").cast("double").alias("_val"))
    per = v.groupBy("_g", "_pos").agg(
        dsum(F.col("_val"), scale).alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    cent = per.select(
        "_g", "_pos", (F.col("_s") / F.col("_n").cast("double")).alias("_c")
    )
    cn = cent.groupBy("_g").agg(
        dsum(F.col("_c") * F.col("_c"), scale).alias("_cn2")
    )
    d = (
        v.join(cent, ["_g", "_pos"])
        .groupBy("_g", "_id")
        .agg(
            dsum(F.col("_val") * F.col("_c"), scale).alias("_dot"),
            dsum(F.col("_val") * F.col("_val"), scale).alias("_vn2"),
        )
    )
    cos = d.join(cn, "_g").select(
        "_g",
        F.when(
            (F.col("_vn2") > 0) & (F.col("_cn2") > 0),
            F.col("_dot") / (F.sqrt("_vn2") * F.sqrt("_cn2")),
        ).alias("_cos"),
        "_cn2",
    )
    stats = cos.groupBy("_g").agg(
        # ANSI guard: a group of only zero vectors has no cosines
        F.round(
            F.when(
                F.count(F.col("_cos")) > 0,
                dsum(F.col("_cos"), scale)
                / F.count(F.col("_cos")).cast("double"),
            ),
            6,
        ).alias("mean_cos"),
        F.round(F.sqrt(F.first("_cn2")), 6).alias("centroid_norm"),
    )
    # LEFT join from the row-level counts: a group whose every vector is
    # missing still reports (n_vecs, n_missing) with NULL stats
    return base.join(stats, "_g", "left").select(
        F.col("_g").alias(group_col), "n_vecs", "n_missing",
        "centroid_norm", "mean_cos",
    )


def mmr_select(
    embeddings: DataFrame,
    query_id: int,
    k: int = 8,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein '98):
    greedily pick k items maximizing lam·cos(q, x) − (1−lam)·max_{s∈S}
    cos(x, s) — relevance WITH diversity, the selection rule for
    diverse few-shot pools, eval-set curation, and dedup-aware
    retrieval (pure top-k returns k copies of the same cluster).

    Scale shape: ONE corpus pass computes the relevance column (cached
    via localCheckpoint); each of the k rounds is a single
    TakeOrdered(1) argmax over a pure projection — the max-sim-to-
    selected term is a greatest() over at most k broadcast literal
    vectors, never a join against a growing set. Driver state is the k
    selected vectors (the ≤k-row probe pattern). Deterministic:
    relevance and similarity round to 6 dp before the score arithmetic
    and ties break by id, so an unrolled-CTE oracle replays the greedy
    loop exactly."""
    rel = (
        embeddings.filter(F.col(id_col) != query_id)
        .crossJoin(
            F.broadcast(
                embeddings.filter(F.col(id_col) == query_id)
                .select(F.col(vec_col).alias("_qv"))
            )
        )
        .select(
            id_col,
            vec_col,
            F.round(cosine_col(F.col(vec_col), F.col("_qv")), 6).alias("_rel"),
        )
        .localCheckpoint()
    )
    # the max-sim-to-selected term is carried INCREMENTALLY (round 13):
    # `_ms` holds max over the picks so far — one new cosine per round
    # folded in via greatest(_ms, cos(x, new_pick)), which equals the
    # old greatest() over ALL picks exactly (max of 6-dp-rounded doubles
    # is associative; NULL init + coalesce(_ms, 0.0) reproduces round
    # 1's literal-0 maxsim without polluting later rounds' max with a 0
    # floor — cosines can be negative). Rebuilding the full greatest()
    # chain per round made round k's plan carry k cosine folds: ~3.3 s
    # of driver-side plan construction/analysis at sf0.1 against ~1 s of
    # actual job time; constant-size rounds remove that quadratic term.
    state = rel.withColumn("_ms", F.lit(None).cast("double"))
    selected: list = []   # picked ids, ≤ k entries (driver state)
    out_rows = []
    for rank in range(1, k + 1):
        cand = state.filter(~F.col(id_col).isin(selected)).select(
            id_col,
            vec_col,
            "_rel",
            (
                F.lit(lam) * F.col("_rel")
                - F.lit(1.0 - lam) * F.coalesce(F.col("_ms"), F.lit(0.0))
            ).alias("_score"),
        )
        row = cand.orderBy(F.desc("_score"), F.asc(id_col)).first()
        if row is None:
            break
        selected.append(row[id_col])
        out_rows.append(
            (rank, row[id_col], float(row["_rel"]), float(row["_score"]))
        )
        if rank < k:
            state = state.withColumn(
                "_ms",
                F.greatest(
                    "_ms",
                    F.round(
                        cosine_col(
                            F.col(vec_col), _darr(list(row[vec_col]))
                        ),
                        6,
                    ),
                ),
            ).localCheckpoint(eager=False)
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        out_rows, f"rank int, {id_col} long, rel double, score double"
    )


# --------------------------------------------------------------------------
# scalar quantization (int8): 4× smaller corpus vectors, asymmetric scoring
# --------------------------------------------------------------------------

def sq8_fit(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> list[tuple[float, float]]:
    """Per-dimension (lo, step) bounds for 8-bit scalar quantization:
    one posexplode → groupBy(pos) min/max pass over the corpus, a
    dim-row collect (a few dozen floats — a sketch, not data).
    step = (hi - lo) / 255; a constant dimension gets step 0 and
    always encodes to code 0."""
    rows = (
        embeddings.select(F.posexplode(F.col(vec_col)).alias("pos", "val"))
        .select("pos", F.col("val").cast("double").alias("val"))
        .groupBy("pos")
        .agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
        .collect()
    )
    by_pos = {r["pos"]: (r["lo"], (r["hi"] - r["lo"]) / 255.0) for r in rows}
    return [by_pos[p] for p in sorted(by_pos)]


def sq8_encode(
    embeddings: DataFrame,
    bounds: list[tuple[float, float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize each vector to an array<int> of codes in [0, 255]:
    code_i = clamp(floor((x_i - lo_i)/step_i + 0.5), 0, 255). Pure
    codegen'd projection over literal bound arrays — the corpus never
    shuffles, and the encoded table is ~4× smaller than float32 (the
    payload you'd persist and scan at serving time). Embedding cells
    are non-null by schema (float arrays), so the greatest/least clamp
    never sees a NULL to skip."""
    lo_arr = _darr([lo for lo, _ in bounds])
    st_arr = _darr([st for _, st in bounds])
    idx1 = lambda i: (i + F.lit(1)).cast("int")  # noqa: E731
    codes = F.transform(
        F.col(vec_col),
        lambda x, i: F.when(
            F.element_at(st_arr, idx1(i)) == 0.0, F.lit(0)
        ).otherwise(
            F.least(
                F.greatest(
                    F.floor(
                        (x.cast("double") - F.element_at(lo_arr, idx1(i)))
                        / F.element_at(st_arr, idx1(i))
                        + F.lit(0.5)
                    ),
                    F.lit(0).cast("bigint"),
                ),
                F.lit(255).cast("bigint"),
            ).cast("int")
        ),
    )
    return embeddings.select(F.col(id_col), codes.alias("codes"))


def sq8_scores(
    codes_df: DataFrame,
    query_vec: Column,
    bounds: list[tuple[float, float]],
    id_col: str = "vec_id",
    scale: int = 9,
) -> DataFrame:
    """Asymmetric dot product of the FULL-precision query against each
    dequantized corpus code array: sum_i q_i * (lo_i + step_i * c_i).
    Each term snaps to fixed-point (floor(t*1e9 + 0.5) as long) before
    the fold, so the sum is associative — partition-order-independent
    on the engine side and bit-identical to the oracle's grouped sum."""
    lo_arr = _darr([lo for lo, _ in bounds])
    st_arr = _darr([st for _, st in bounds])
    m = float(10 ** scale)
    idx1 = lambda i: (i + F.lit(1)).cast("int")  # noqa: E731
    terms = F.transform(
        F.col("codes"),
        lambda c, i: F.floor(
            F.element_at(query_vec, idx1(i))
            * (
                F.element_at(lo_arr, idx1(i))
                + F.element_at(st_arr, idx1(i)) * c.cast("double")
            )
            * F.lit(m)
            + F.lit(0.5)
        ).cast("long"),
    )
    score = (
        F.aggregate(
            terms, F.lit(0).cast("long"), lambda acc, v: acc + v
        ).cast("double")
        / F.lit(m)
    )
    return codes_df.select(F.col(id_col), F.round(score, 6).alias("score"))


def sq8_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """8-bit scalar-quantized approximate top-k: fit per-dim bounds,
    encode the corpus to int8 codes (4× smaller scans than float32 —
    at 100 TB THE lever when vectors dominate storage), score the
    full-precision query against dequantized codes, TakeOrdered k.
    Max per-dim dequantization error is step/2 ⇒ score error is
    bounded by ||q||_1 · max(step)/2 — on unit-ish embeddings recall
    vs exact search stays near 1 (test-asserted). The query row is a
    broadcast one-row dim; self-match excluded like brute_force_topk."""
    bounds = sq8_fit(embeddings, vec_col)
    codes = sq8_encode(embeddings, bounds, id_col, vec_col)
    q = F.broadcast(
        embeddings.filter(F.col(id_col) == query_id).select(
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "q_vec"
            )
        )
    )
    scored = sq8_scores(
        codes.filter(F.col(id_col) != query_id).crossJoin(q),
        F.col("q_vec"),
        bounds,
        id_col,
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


# --------------------------------------------------------------------------
# Matryoshka truncation eval: can we serve at d' < d?
# --------------------------------------------------------------------------

def dim_truncation_eval(
    embeddings: DataFrame,
    dims: tuple = (8, 16, 32),
    k: int = 10,
    sample_mod: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of truncated-dimension cosine search against the
    full-dimension ground truth, per candidate prefix length — the
    measurement behind the Matryoshka serving decision ("can we score
    at d=16 and keep 95% of d=64's neighbors?"). Queries are a
    deterministic corpus sample (id % sample_mod == 0 — no RNG, so
    the eval is replayable); self-matches are excluded on both sides.

    Scale shape: per dim one broadcast-query corpus scan + the
    two-phase per-query top-k (never a Q-partition full sort); the
    recall join is (query, neighbor)-keyed over ≤ Q·k rows per side.
    Output: one row per dim — (dim, n_queries, k, recall)."""
    queries = embeddings.where(
        F.pmod(F.col(id_col), F.lit(sample_mod)) == 0
    ).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qfull")
    ).localCheckpoint(eager=False)
    n_queries = queries.select(
        F.count(F.lit(1)).alias("n_queries")
    )

    def topk_at(d: int | None):
        if d is None:
            emb, q = embeddings, queries.select(
                "query_id", F.col("_qfull").alias("query_vec")
            )
        else:
            emb = embeddings.select(
                F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
            )
            q = queries.select(
                "query_id", F.slice(F.col("_qfull"), 1, d).alias("query_vec")
            )
        scored = _score_query_batch(
            emb, q, id_col, vec_col, "query_id", "query_vec"
        ).where(F.col(id_col) != F.col("query_id"))
        return _two_phase_topk(scored, k, "query_id", id_col)

    # materialize the full-dim ground truth ONCE: it is the most
    # expensive subplan and is referenced by every per-dim join branch
    # of the final union — uncached it would re-execute len(dims) times
    exact = topk_at(None).select(
        "query_id", F.col(id_col).alias("_nb")
    ).localCheckpoint(eager=False)
    per_dim = []
    for d in dims:
        approx = topk_at(d).select(
            "query_id", F.col(id_col).alias("_nb")
        )
        matches = approx.join(exact, ["query_id", "_nb"]).agg(
            F.count(F.lit(1)).alias("n_matched")
        )
        per_dim.append(
            matches.crossJoin(F.broadcast(n_queries)).select(
                F.lit(d).alias("dim"),
                F.col("n_queries"),
                F.lit(k).alias("k"),
                F.round(
                    F.col("n_matched")
                    / (F.col("n_queries") * F.lit(k)).cast("double"),
                    6,
                ).alias("recall"),
            )
        )
    out = per_dim[0]
    for p in per_dim[1:]:
        out = out.unionByName(p)
    return out


def centroid_drift(
    emb_a: DataFrame,
    emb_b: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 12,
) -> DataFrame:
    """Per-group embedding drift between two corpus snapshots: the
    cosine between each group's centroid in A and in B, plus the
    centroid-norm ratio — the observability read that catches a source
    whose embedding distribution moved (new scraper, model swap,
    contamination) before any downstream metric does. Near-1 cosine =
    stable; a dropping cosine localizes WHICH group moved.

    Scale shape: per side one posexplode → (group, pos) dsum mean
    (dimension-bounded state), one (group, pos) equi-join, and a
    per-group fold to dot/norms — fixed-point all the way, so both
    engines land bit-identical. Groups present in only one snapshot
    drop (inner join): drift needs both sides."""
    from yat_geo_db_spark.relational.queries import dsum

    def cent(df, side):
        return (
            df.select(
                F.col(group_col),
                F.posexplode(F.col(vec_col)).alias("pos", "val"),
            )
            .select(group_col, "pos", F.col("val").cast("double").alias("val"))
            .groupBy(group_col, "pos")
            .agg(
                (dsum(F.col("val"), scale) / F.count(F.lit(1))).alias(
                    f"c_{side}"
                )
            )
        )
    n_a = emb_a.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_a"))
    n_b = emb_b.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_b"))
    joined = cent(emb_a, "a").join(cent(emb_b, "b"), [group_col, "pos"])
    stats = joined.groupBy(group_col).agg(
        dsum(F.col("c_a") * F.col("c_b"), scale).alias("_dot"),
        dsum(F.col("c_a") * F.col("c_a"), scale).alias("_na2"),
        dsum(F.col("c_b") * F.col("c_b"), scale).alias("_nb2"),
    )
    return (
        stats.join(F.broadcast(n_a), group_col)
        .join(F.broadcast(n_b), group_col)
        .select(
            group_col,
            "n_a",
            "n_b",
            F.round(
                F.when(
                    (F.col("_na2") > 0) & (F.col("_nb2") > 0),
                    F.col("_dot")
                    / (F.sqrt(F.col("_na2")) * F.sqrt(F.col("_nb2"))),
                ),
                6,
            ).alias("centroid_cosine"),
            F.round(
                F.when(
                    F.col("_na2") > 0,
                    F.sqrt(F.col("_nb2")) / F.sqrt(F.col("_na2")),
                ),
                6,
            ).alias("norm_ratio"),
        )
    )


# --------------------------------------------------------------------------
# Sign-JL random projection (Achlioptas 2003)
# --------------------------------------------------------------------------

#: fixed seed for the sign matrix — the projection is a pure function of
#: (dim, m, seed), so Spark plan and SQL oracle embed the SAME constants
RP_SEED = 13


def random_projection_signs(
    dim: int, m: int, seed: int = RP_SEED
) -> list[list[float]]:
    """Deterministic ±1 Achlioptas sign matrix (m rows × dim cols),
    generated driver-side ONCE and embedded as plan literals: no RNG at
    execution time, so the projection replays exactly in any engine that
    can fold a dot product (the DuckDB oracle embeds the same rows)."""
    import random as _random

    rng = _random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(m)
    ]


def random_project(
    embeddings: DataFrame,
    dim: int,
    m: int = 16,
    seed: int = RP_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_prefix: str = "rp_",
) -> DataFrame:
    """Johnson-Lindenstrauss sign projection: y_j = (1/√m)·Σᵢ s_ji·xᵢ
    with s ∈ {±1} (Achlioptas 2003 — database-friendly random
    projections: ±1 entries preserve pairwise distances in expectation
    with relative error ~1/√m, no Gaussian sampling needed). The
    at-scale role is a CHEAP m-dim prefilter space in front of exact
    re-rank: distances cost m multiplies instead of dim, and the
    projection itself is a PURE MAP — one scan, zero shuffle, every
    fold inside whole-stage codegen (dot_col's zip_with/aggregate), no
    UDF. Columns come back UNROUNDED (callers that hash them should
    round; the registry row does both rounding and a norm-preservation
    receipt)."""
    if m < 1 or dim < 1:
        raise ValueError(f"dim and m must be ≥ 1, got dim={dim} m={m}")
    signs = random_projection_signs(dim, m, seed)
    scale = 1.0 / (m ** 0.5)
    x = F.col(vec_col)
    outs = [
        (dot_col(x, _darr(row)) * F.lit(scale))
        .alias(f"{out_prefix}{j}")
        for j, row in enumerate(signs)
    ]
    return embeddings.select(F.col(id_col), *outs)
