"""IVF persisted-index path: partition-pruned probes must agree with the
in-memory bucketed search, and the scan must actually prune partitions."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pyspark.sql.functions as F

from yat_geo_db_spark.pipelines.similarity import (
    ivf_topk,
    ivf_topk_indexed,
    write_ivf_index,
)
from yat_geo_db_spark.testdata import load_table

SF = "/root/testdata/sf0.001"
BITS = 6
QUERY_ID = 7


def test_indexed_probe_matches_inmemory(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    root = str(tmp_path / "ivf")
    write_ivf_index(emb, root, bits=BITS)

    qvec = emb.filter(F.col("vec_id") == QUERY_ID).first()["embedding"]
    got = ivf_topk_indexed(spark, root, list(qvec), k=11, bits=BITS)
    got_rows = [
        (r["vec_id"], r["cosine"]) for r in got.collect() if r["vec_id"] != QUERY_ID
    ]
    want = ivf_topk(emb, QUERY_ID, k=10, bits=BITS)
    want_rows = [(r["vec_id"], r["cosine"]) for r in want.collect()]
    assert got_rows[: len(want_rows)] == want_rows
    assert len(want_rows) > 0

    # the probe must prune at the partition level, not post-scan filter
    buf = io.StringIO()
    with redirect_stdout(buf):
        ivf_topk_indexed(spark, root, list(qvec), k=5, bits=BITS).explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_multiprobe_recall_dominates_single_bucket(spark):
    from yat_geo_db_spark.pipelines.similarity import brute_force_topk, ivf_topk
    from yat_geo_db_spark.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = [r["vec_id"] for r in brute_force_topk(emb, 1, k=10).collect()]
    single = {r["vec_id"] for r in ivf_topk(emb, 1, k=10, bits=6).collect()}
    multi = {r["vec_id"] for r in
             ivf_topk(emb, 1, k=10, bits=6, hamming_probe=1).collect()}

    def recall(approx):
        return len(approx & set(exact)) / len(exact)

    # multi-probe candidates are a superset → recall can only improve
    # (on this fixture: 0.1 → 0.2; axis-aligned sign bits are a weak
    # quantizer by design — the oracle checks correctness, this checks the
    # recall direction)
    assert recall(multi) >= recall(single)
    assert recall(multi) > 0.0


def test_indexed_multiprobe_matches_inmemory(spark, tmp_path):
    from yat_geo_db_spark.pipelines.similarity import (
        ivf_topk, ivf_topk_indexed, write_ivf_index,
    )
    from yat_geo_db_spark.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    root = str(tmp_path / "ivf_idx")
    write_ivf_index(emb, root, bits=6)
    qvec = emb.filter("vec_id = 1").first()["embedding"]
    got = ivf_topk_indexed(
        spark, root, list(qvec), k=10, bits=6, hamming_probe=1
    ).collect()
    want = ivf_topk(emb, 1, k=10, bits=6, hamming_probe=1).collect()
    # indexed probe sees the query row itself (id filter is by vector, not
    # id) — drop it before comparing
    got_ids = [(r["vec_id"], r["cosine"]) for r in got if r["vec_id"] != 1]
    want_ids = [(r["vec_id"], r["cosine"]) for r in want]
    assert got_ids[: len(want_ids) - 1] == want_ids[: len(want_ids) - 1]


def test_kmeans_ivf_index_probe(spark, tmp_path):
    """Learned-quantizer IVF: probing ALL cells equals brute force exactly
    (IVF partitions the corpus, loses nothing); a few-cell probe prunes at
    the partition-directory level and still finds the true neighbor of a
    stored vector (its own cell is always the nearest probe)."""
    from yat_geo_db_spark.pipelines.similarity import (
        brute_force_topk,
        kmeans_ivf_topk,
        write_kmeans_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings")
    root = str(tmp_path / "kivf")
    n_cells = 8
    write_kmeans_ivf_index(emb, root, k=n_cells, n_iter=2)

    qvec = list(emb.filter(F.col("vec_id") == QUERY_ID).first()["embedding"])
    # nprobe = all cells ⇒ identical to brute force (modulo the query row)
    got_all = [
        (r["vec_id"], r["cosine"])
        for r in kmeans_ivf_topk(spark, root, qvec, k=11, nprobe=n_cells).collect()
        if r["vec_id"] != QUERY_ID
    ]
    want = [
        (r["vec_id"], r["cosine"])
        for r in brute_force_topk(emb, QUERY_ID, k=10).collect()
    ]
    assert got_all[: len(want)] == want and len(want) == 10

    # narrow probe: the stored query vector itself must surface (cosine 1.0
    # with itself ⇒ its own cell is the nearest centroid)
    narrow = kmeans_ivf_topk(spark, root, qvec, k=3, nprobe=1)
    rows = narrow.collect()
    assert rows and rows[0]["vec_id"] == QUERY_ID and rows[0]["cosine"] == 1.0
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    part_filters = plan.split("PartitionFilters")[1][:160]
    assert "cid" in part_filters            # directory-level pruning


def test_recall_at_k_orders_probe_settings(spark):
    """recall@k vs brute force: multi-probe IVF >= single-probe IVF (the
    recall lever works), and both are measurable with the utility."""
    from yat_geo_db_spark.pipelines.similarity import (
        brute_force_topk,
        ivf_topk,
        recall_at_k,
    )

    emb = load_table(spark, SF, "embeddings")
    exact = brute_force_topk(emb, QUERY_ID, k=10)
    r1 = recall_at_k(ivf_topk(emb, QUERY_ID, k=10, bits=BITS), exact)
    r2 = recall_at_k(
        ivf_topk(emb, QUERY_ID, k=10, bits=BITS, hamming_probe=1), exact
    )
    assert 0.0 <= r1 <= r2 <= 1.0
    assert r2 > 0.0                      # probing finds at least something


def test_pq_roundtrip_exact_on_centroid_aligned_corpus(spark):
    """PQ is exact when every vector IS one of its subspace centroids:
    8 distinct vectors repeated 5x, codebooks of ksub=8 -> the ADC
    distance equals the true squared L2 distance, so the ADC top-k ids
    match the brute-force ordering."""
    import random
    from yat_geo_db_spark.pipelines.similarity import (
        pq_adc_topk, pq_encode, pq_fit, sq_dist_col,
    )
    import pyspark.sql.functions as F

    r = random.Random(7)
    base = [[round(r.uniform(-1, 1), 3) for _ in range(16)] for _ in range(8)]
    rows = [(i, base[i]) for i in range(8)]
    rows += [(8 + i, base[i % 8]) for i in range(32)]  # repeats, higher ids
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    books = pq_fit(emb, m=4, ksub=8, n_iter=3, dim=16)
    codes = pq_encode(emb, books, m=4, dim=16)
    got = codes.collect()
    assert all(len(c["codes"]) == 4 for c in got)
    assert all(0 <= v < 8 for c in got for v in c["codes"])
    # identical vectors must encode identically
    by_id = {c["vec_id"]: tuple(c["codes"]) for c in got}
    for i in range(32):
        assert by_id[8 + i] == by_id[i % 8]

    q = base[3]
    top = pq_adc_topk(codes, books, q, k=5, m=4).collect()
    # every copy of base[3] has ADC distance ~0 and fills the top ranks
    expect = sorted([3] + [8 + i for i in range(32) if i % 8 == 3])[:5]
    assert sorted(r_["vec_id"] for r_ in top) == expect
    assert all(abs(r_["approx_dist"]) < 1e-6 for r_ in top)


def test_pq_codes_deterministic_across_runs(spark):
    from yat_geo_db_spark.pipelines.similarity import pq_encode, pq_fit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books1 = pq_fit(emb, m=4, ksub=8, n_iter=2)
    books2 = pq_fit(emb, m=4, ksub=8, n_iter=2)
    c1 = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in pq_encode(emb, books1, m=4).collect()
    )
    c2 = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in pq_encode(emb, books2, m=4).collect()
    )
    assert c1 == c2


def test_ivfpq_exact_on_centroid_aligned_corpus(spark):
    """IVF-PQ is exact when sub-codebooks can represent every residual
    exactly (8 distinct repeated vectors, ksub=8): probing ALL cells, the
    ADC distances equal true squared L2, so the top-k matches brute
    force."""
    import random
    from yat_geo_db_spark.pipelines.similarity import (
        ivfpq_fit_encode, ivfpq_topk, sq_dist_col,
    )
    import pyspark.sql.functions as F

    r = random.Random(11)
    base = [[round(r.uniform(-1, 1), 3) for _ in range(16)] for _ in range(8)]
    rows = [(i, base[i]) for i in range(8)]
    rows += [(8 + i, base[i % 8]) for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents, books, encoded = ivfpq_fit_encode(
        emb, n_cells=2, m=4, ksub=8, n_iter=3, dim=16
    )
    assert cents.count() == 2
    assert books.count() == 2 * 0 + 4 * 8  # m x ksub
    got = encoded.collect()
    assert all(len(c["codes"]) == 4 for c in got)

    q = base[5]
    top = ivfpq_topk(encoded, cents, books, q, k=4, nprobe=2, m=4).collect()
    expect = sorted([5] + [8 + i for i in range(24) if i % 8 == 5])[:4]
    assert sorted(t["vec_id"] for t in top) == expect
    assert all(abs(t["approx_dist"]) < 1e-6 for t in top)

    # nprobe=1 only scans the query's own cell — every returned id must
    # decode from that cell
    top1 = ivfpq_topk(encoded, cents, books, q, k=4, nprobe=1, m=4).collect()
    by_id = {c["vec_id"]: c["cid"] for c in got}
    cells1 = {by_id[t["vec_id"]] for t in top1}
    assert len(cells1) == 1


def test_semdedup_normalization_colocates_scaled_copies(spark):
    """A vector and its 10x-scaled copy are the same direction - SemDeDup
    must pair them (unit-sphere clustering puts them in one cell) and
    semdedup_keep must drop one of the two."""
    import random
    from yat_geo_db_spark.pipelines.similarity import (
        semdedup_keep, semdedup_pairs,
    )

    r = random.Random(3)
    rows = []
    for i in range(12):
        v = [round(r.uniform(-1, 1), 3) for _ in range(8)]
        rows.append((2 * i, v))
        rows.append((2 * i + 1, [10.0 * x for x in v]))  # scaled duplicate
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = semdedup_pairs(emb, k=3, threshold=0.999, n_iter=2).collect()
    got = {(p["id1"], p["id2"]) for p in pairs}
    for i in range(12):
        assert (2 * i, 2 * i + 1) in got, f"scaled pair {i} missed"

    kept = {r_["vec_id"] for r_ in semdedup_keep(
        emb, k=3, threshold=0.999, n_iter=2
    ).collect()}
    for i in range(12):
        assert (2 * i in kept) and (2 * i + 1 not in kept)  # min id survives


def test_semdedup_auto_k_bounds_cell_work(spark):
    """k=None sizes the clustering to the corpus: average cell stays ≤
    SEMDEDUP_TARGET_CELL at ANY corpus size (10× the vectors → ~10× the
    cells, flat per-cell O(cell²) join work — a fixed k would grow it
    100×), and the auto path is the same computation as the equivalent
    explicit k."""
    import random

    from yat_geo_db_spark.pipelines.similarity import (
        SEMDEDUP_MIN_K,
        SEMDEDUP_TARGET_CELL,
        semdedup_auto_k,
        semdedup_pairs,
    )

    # average-cell bound and linear growth, from the floor to web scale
    for n in (10, 5_000, 100_000, 1_000_000, 10_000_000, 1_000_000_000):
        k = semdedup_auto_k(n)
        assert k >= SEMDEDUP_MIN_K
        assert n / k <= SEMDEDUP_TARGET_CELL or k == SEMDEDUP_MIN_K
    big = semdedup_auto_k(10_000_000)
    assert semdedup_auto_k(100_000_000) >= 9 * big  # 10× data → ~10× cells

    # the auto path computes the same result as the explicit k it derives
    r = random.Random(7)
    rows = [
        (i, [round(r.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    auto = {
        (p["id1"], p["id2"], p["cosine"])
        for p in semdedup_pairs(emb, threshold=0.9, n_iter=2).collect()
    }
    explicit = {
        (p["id1"], p["id2"], p["cosine"])
        for p in semdedup_pairs(
            emb, k=semdedup_auto_k(40), threshold=0.9, n_iter=2
        ).collect()
    }
    assert auto == explicit


def test_batch_topk_agrees_with_single_query(spark):
    """Each query's batch rows (minus the self-match) must equal the
    single-query brute-force top-k over the same corpus."""
    from yat_geo_db_spark.pipelines.similarity import (
        brute_force_topk, brute_force_topk_batch,
    )
    import pyspark.sql.functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = brute_force_topk_batch(emb, queries, k=11).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid in (0, 1, 2):
        rows = sorted(by_q[qid], key=lambda r: r["rank"])
        # self-match ranks first at cosine 1.0
        assert rows[0]["vec_id"] == qid and abs(rows[0]["cosine"] - 1.0) < 1e-6
        got = [(r["vec_id"], r["cosine"]) for r in rows[1:]]
        want = [
            (r["vec_id"], r["cosine"])
            for r in brute_force_topk(emb, qid, k=10).collect()
        ]
        assert got == want, qid


def test_arrow_batch_scores_match_fold_path(spark):
    """The vectorized matmul scorer agrees with the oracle-exact fold
    cosine within fp tolerance, for every (vector, query) pair."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.pipelines.similarity import (
        batch_cosine_scores_arrow, cosine_col,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = [r["embedding"] for r in emb.filter(F.col("vec_id") < 2).orderBy("vec_id").collect()]
    got = {
        (r["vec_id"], r["query_id"]): r["cosine"]
        for r in batch_cosine_scores_arrow(emb, [list(map(float, q)) for q in qs]).collect()
    }
    for qi, qv in enumerate(qs):
        qcol = F.array(*[F.lit(float(x)) for x in qv])
        want = emb.select(
            "vec_id", cosine_col(F.col("embedding"), qcol).alias("c")
        ).collect()
        for r in want:
            assert abs(got[(r["vec_id"], qi)] - r["c"]) < 1e-9, (r["vec_id"], qi)


def test_arrow_topk_batch_matches_fold_topk_batch(spark):
    """The Arrow in-batch top-k returns the same ranked rows as the
    fold-based two-phase batch top-k."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.pipelines.similarity import (
        brute_force_topk_batch, brute_force_topk_batch_arrow,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qrows = emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    qvecs = [list(map(float, r["embedding"])) for r in qrows]
    queries = spark.createDataFrame(
        [(i, qvecs[i]) for i in range(4)],
        "query_id int, query_vec array<float>",
    )
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in brute_force_topk_batch(emb, queries, k=7).collect()
    )
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in brute_force_topk_batch_arrow(emb, qvecs, k=7).collect()
    )
    assert got == want


def test_pq_persisted_index_matches_in_memory(spark, tmp_path):
    """Probing the persisted PQ index returns exactly the in-memory
    fit+encode+topk rows, and the probe's scan reads only the codes
    column (ReadSchema excludes any raw vector)."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.pipelines.similarity import (
        pq_adc_topk, pq_adc_topk_indexed, pq_encode, pq_fit, write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]

    books = pq_fit(emb, m=4, ksub=8, n_iter=2)
    codes = pq_encode(emb, books, m=4)
    want = [(r["vec_id"], r["approx_dist"])
            for r in pq_adc_topk(codes, books, qv, k=9, m=4).collect()]

    root = str(tmp_path / "pq")
    write_pq_index(emb, root, m=4, ksub=8, n_iter=2)
    got_df = pq_adc_topk_indexed(spark, root, qv, k=9, m=4)
    got = [(r["vec_id"], r["approx_dist"]) for r in got_df.collect()]
    assert got == want

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    scan_part = plan[plan.index("codes"):]
    assert "embedding" not in scan_part  # codes-only scan


def test_ivfpq_persisted_index_partition_pruned(spark, tmp_path):
    """Persisted IVF-PQ probing equals the in-memory path and the codes
    scan carries PartitionFilters on cid (directory-level pruning)."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.pipelines.similarity import (
        ivfpq_fit_encode, ivfpq_topk, ivfpq_topk_indexed, write_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 2).first()["embedding"]]

    cents, books, encoded = ivfpq_fit_encode(
        emb, n_cells=4, m=4, ksub=8, n_iter=2
    )
    want = [(r["vec_id"], r["approx_dist"])
            for r in ivfpq_topk(encoded, cents, books, qv, k=9, nprobe=2,
                                m=4).collect()]

    root = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, root, n_cells=4, m=4, ksub=8, n_iter=2)
    got_df = ivfpq_topk_indexed(spark, root, qv, k=9, nprobe=2, m=4)
    got = [(r["vec_id"], r["approx_dist"]) for r in got_df.collect()]
    assert got == want

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters")[1][:200]


def test_kmeans_ivf_index_append_routes_by_frozen_centroids(spark, tmp_path):
    """Assign-only append into the k-means IVF layout: appended rows land
    in the cell the FROZEN centroids assign them to, the probe sees them,
    and skip_existing re-append adds nothing."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.pipelines.similarity import (
        kmeans_assign, kmeans_ivf_index_append, kmeans_ivf_topk,
        write_kmeans_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)

    root = str(tmp_path / "kivf")
    write_kmeans_ivf_index(base, root, k=4, n_iter=2)
    kmeans_ivf_index_append(spark, root, new)

    cents = spark.read.parquet(f"{root}/centroids")
    want_cells = {
        r["vec_id"]: r["cid"]
        for r in kmeans_assign(new, cents).select("vec_id", "cid").collect()
    }
    got_cells = {
        r["vec_id"]: r["cid"]
        for r in spark.read.parquet(f"{root}/vectors")
        .filter(F.col("vec_id") % 4 == 0).select("vec_id", "cid").collect()
    }
    assert got_cells == want_cells and len(got_cells) > 0

    # probe the appended index with an appended vector's own embedding —
    # exact-cosine scoring must rank it first
    row0 = emb.filter(F.col("vec_id") == 0).first()
    qv = [float(x) for x in row0["embedding"]]
    top = kmeans_ivf_topk(spark, root, qv, k=3, nprobe=2).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cosine"] == 1.0

    kmeans_ivf_index_append(spark, root, new, skip_existing=True)
    dup = (
        spark.read.parquet(f"{root}/vectors").groupBy("vec_id").count()
        .filter(F.col("count") > 1).count()
    )
    assert dup == 0


def test_ivfpq_index_append_equals_frozen_rebuild(spark, tmp_path):
    """Encode-only append: build the index on a base slice, append the
    held-out slice with frozen codebooks — every appended row's (cid,
    codes) must equal a full re-encode of the union under the SAME frozen
    centroids/codebooks, and a probe against the appended index must
    return held-out vectors (they are reachable) with scores identical to
    the in-memory frozen-codebook path."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.pipelines.similarity import (
        ivfpq_encode, ivfpq_fit_encode, ivfpq_index_append, ivfpq_topk,
        ivfpq_topk_indexed, write_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)

    root = str(tmp_path / "ivfpq")
    write_ivfpq_index(base, root, n_cells=4, m=4, ksub=8, n_iter=2)
    ivfpq_index_append(spark, root, new, m=4)

    cents = spark.read.parquet(f"{root}/centroids")
    books = spark.read.parquet(f"{root}/codebooks")

    # 1) on-disk rows for the appended ids == frozen re-encode of them
    on_disk = {
        r["vec_id"]: (r["cid"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{root}/codes")
        .filter(F.col("vec_id") % 4 == 0).collect()
    }
    want_rows = {
        r["vec_id"]: (r["cid"], tuple(r["codes"]))
        for r in ivfpq_encode(new, cents, books, m=4).collect()
    }
    assert on_disk == want_rows and len(on_disk) > 0

    # 2) whole-index rows == one-shot frozen encode of the union
    all_disk = {
        r["vec_id"]: (r["cid"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{root}/codes").collect()
    }
    union_enc = {
        r["vec_id"]: (r["cid"], tuple(r["codes"]))
        for r in ivfpq_encode(emb, cents, books, m=4).collect()
    }
    assert all_disk == union_enc

    # 3) probing the appended index == in-memory frozen path, and the
    # result can contain appended ids
    qv = [float(x)
          for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    _, _, enc_base = ivfpq_fit_encode(base, n_cells=4, m=4, ksub=8, n_iter=2)
    mem = enc_base.unionByName(ivfpq_encode(new, cents, books, m=4))
    want = [(r["vec_id"], r["approx_dist"])
            for r in ivfpq_topk(mem, cents, books, qv, k=9, nprobe=2,
                                m=4).collect()]
    got = [(r["vec_id"], r["approx_dist"])
           for r in ivfpq_topk_indexed(spark, root, qv, k=9, nprobe=2,
                                       m=4).collect()]
    assert got == want
    assert any(v % 4 == 0 for v, _ in got)

    # 4) idempotent re-append via skip_existing: no duplicate ids
    ivfpq_index_append(spark, root, new, m=4, skip_existing=True)
    counts = (
        spark.read.parquet(f"{root}/codes").groupBy("vec_id").count()
        .filter(F.col("count") > 1).count()
    )
    assert counts == 0


def test_index_append_guards(spark, tmp_path):
    """The append paths fail fast on bad input instead of corrupting the
    index: empty batches no-op (dim resolves from the FROZEN centroids,
    not a .first() on the batch), wrong-dim vectors raise executor-side,
    and a column-set mismatch on the uncompressed layout raises before
    any write (heterogeneous parquet schemas in one dir are unreadable)."""
    import pyspark.sql.functions as F
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException
    from yat_geo_db_spark.pipelines.similarity import (
        ivfpq_index_append, kmeans_ivf_index_append, write_ivfpq_index,
        write_kmeans_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 4 != 0)

    pq_root = str(tmp_path / "ivfpq")
    kv_root = str(tmp_path / "kivf")
    write_ivfpq_index(base, pq_root, n_cells=4, m=4, ksub=8, n_iter=2)
    write_kmeans_ivf_index(base, kv_root, k=4, n_iter=2)

    # empty batch: clean no-op on both layouts
    empty = emb.filter(F.lit(False))
    n0 = spark.read.parquet(f"{pq_root}/codes").count()
    ivfpq_index_append(spark, pq_root, empty, m=4, skip_existing=True)
    assert spark.read.parquet(f"{pq_root}/codes").count() == n0
    v0 = spark.read.parquet(f"{kv_root}/vectors").count()
    kmeans_ivf_index_append(spark, kv_root, empty, skip_existing=True)
    assert spark.read.parquet(f"{kv_root}/vectors").count() == v0

    # wrong-dim vectors: raise, never silently mis-route
    bad_dim = emb.filter(F.col("vec_id") % 4 == 0).withColumn(
        "embedding", F.slice(F.col("embedding"), 1, 3)
    )
    with pytest.raises((Py4JJavaError, PySparkException),
                       match="vector dim != index dim"):
        ivfpq_index_append(spark, pq_root, bad_dim, m=4)
    with pytest.raises((Py4JJavaError, PySparkException),
                       match="vector dim != index dim"):
        kmeans_ivf_index_append(spark, kv_root, bad_dim)

    # column-set mismatch vs the persisted uncompressed layout: refused
    extra = emb.filter(F.col("vec_id") % 4 == 0).withColumn(
        "stray", F.lit(1)
    )
    with pytest.raises(ValueError, match="column set"):
        kmeans_ivf_index_append(spark, kv_root, extra)


def test_ann_sink_dedupes_within_batch(spark, tmp_path):
    """ann_index_append_sink's replay anti-join only sees ids already on
    disk — intra-batch duplicates (producer retries inside one poll) must
    be collapsed by the sink itself, and an all-duplicate/empty batch
    must no-op rather than kill the query."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.pipelines.similarity import write_ivfpq_index
    from yat_geo_db_spark.streaming.sinks import ann_index_append_sink

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)

    root = str(tmp_path / "ivfpq")
    write_ivfpq_index(base, root, n_cells=4, m=4, ksub=8, n_iter=2)

    sink = ann_index_append_sink(root, m=4)
    doubled = new.unionByName(new)  # same ids twice in ONE batch
    sink(doubled, 0)
    dup = (
        spark.read.parquet(f"{root}/codes").groupBy("vec_id").count()
        .filter(F.col("count") > 1).count()
    )
    assert dup == 0
    n = spark.read.parquet(f"{root}/codes").count()
    assert n == emb.count()

    # empty micro-batch through the sink: no-op, no exception
    sink(emb.filter(F.lit(False)), 1)
    assert spark.read.parquet(f"{root}/codes").count() == n


# ---------------------------------------------------------------------------
# PCA: distributed fit must equal a local NumPy fit of the same data
# ---------------------------------------------------------------------------

def _local_pca(X, r):
    import numpy as np

    mean = X.mean(0)
    cov = np.cov(X, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:r]
    comps = evecs[:, order].T
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    ev = np.maximum(evals[order], 0.0)
    return mean, comps, ev / (np.maximum(evals, 0.0).sum() or 1.0)


def test_pca_fit_matches_local_numpy(spark):
    import numpy as np

    from yat_geo_db_spark.pipelines.similarity import pca_fit, pca_project

    emb = load_table(spark, SF, "embeddings")
    # collect ONCE and derive X and the id order from the same rows:
    # two separate collects over the same scan carry no row-order
    # guarantee, and the X-vs-ids desync flaked this test under
    # full-suite load (r10)
    rows = emb.collect()
    X = np.vstack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
    )
    mean, comps, evr = pca_fit(emb, n_components=4)
    lmean, lcomps, levr = _local_pca(X, 4)
    assert np.allclose(mean, lmean, atol=1e-9)
    assert np.allclose(comps, lcomps, atol=1e-7)
    assert np.allclose(evr, levr, atol=1e-9)
    # orthonormal axes
    assert np.allclose(comps @ comps.T, np.eye(4), atol=1e-9)
    # variance shares sorted descending, in (0, 1]
    assert all(a >= b for a, b in zip(evr, evr[1:])) and 0 < evr[0] <= 1
    # distributed projection == local projection
    proj = {
        r["vec_id"]: np.asarray(r["proj"])
        for r in pca_project(emb, mean, comps).collect()
    }
    ids = [r["vec_id"] for r in rows]
    local = (X - lmean) @ lcomps.T
    got = np.vstack([proj[i] for i in ids])
    assert np.allclose(got, local, atol=1e-7)


def test_pca_fit_partition_invariant(spark):
    import numpy as np

    from yat_geo_db_spark.pipelines.similarity import pca_fit

    emb = load_table(spark, SF, "embeddings")
    m1, c1, e1 = pca_fit(emb.repartition(3), n_components=3)
    m2, c2, e2 = pca_fit(emb.repartition(11), n_components=3)
    assert np.allclose(m1, m2, atol=1e-12)
    assert np.allclose(c1, c2, atol=1e-8)
    assert np.allclose(e1, e2, atol=1e-10)


def test_pca_power_fit_bit_exact_partition_invariant(spark):
    """pca_power_fit accumulates INTEGER sufficient statistics, so its
    result is BIT-identical across partitionings (pca_fit only promises
    tolerances), and its components agree with the eigh axes up to the
    quantization/iteration budget on a well-separated spectrum."""
    import numpy as np

    from yat_geo_db_spark.pipelines.similarity import pca_fit, pca_power_fit

    emb = load_table(spark, SF, "embeddings")
    m1, c1 = pca_power_fit(emb.repartition(3), n_components=2)
    m2, c2 = pca_power_fit(emb.repartition(11), n_components=2)
    assert m1 == m2  # exact, not allclose
    assert c1 == c2
    # spectral quality vs the exact eigensolve: after the fixed budget
    # the iterate's Rayleigh quotient must capture (nearly) the top
    # eigenvalue — axis overlap is NOT asserted because the fixture's
    # top eigenvalues are close and a fixed-count iterate legitimately
    # lands in the dominant subspace's span, not on one axis
    X = np.vstack(
        [r["embedding"] for r in emb.select("embedding").collect()]
    ).astype(np.float64)
    cov = np.cov(X, rowvar=False)
    evals = np.linalg.eigvalsh(cov)
    lam_top = float(evals[-1])
    v = np.asarray(c1[0])
    rayleigh = float(v @ cov @ v)
    assert rayleigh > 0.9 * lam_top, (rayleigh, lam_top)
    # components are unit-norm; cross-talk is bounded but NOT ~0 — with
    # near-degenerate top eigenvalues a fixed-budget iterate is not an
    # exact eigenvector, so deflation leaves O(residual) overlap
    assert abs(float(np.linalg.norm(c1[0])) - 1.0) < 1e-9
    assert abs(float(np.linalg.norm(c1[1])) - 1.0) < 1e-9
    assert abs(float(np.dot(c1[0], c1[1]))) < 0.1


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """Review regression: a cluster that attracts no members (here: a
    duplicate seed vector — argmin ties go to the lower cid, starving
    the higher one) must keep its previous centroid instead of silently
    vanishing from the fit."""
    from yat_geo_db_spark.pipelines.similarity import kmeans_fit

    rows = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, [0.0, 0.0]),  # duplicate of seed 0 -> cluster 2 starves
        (3, [0.5, 0.0]),
        (4, [10.0, 9.5]),
        (5, [0.0, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(emb, k=3, n_iter=2)
    got = {r["cid"]: r["cvec"] for r in cents.collect()}
    assert set(got) == {0, 1, 2}  # all three clusters survive
    assert got[2] == [0.0, 0.0]  # starved cluster froze at its seed


def test_hard_negative_mining_excludes_dup_band(spark):
    """Self-match and a planted near-duplicate fall above dup_threshold and
    are excluded; the survivors rank contiguously from 1."""
    from yat_geo_db_spark.pipelines.similarity import hard_negative_mining
    import math

    rows = [
        (0, [1.0, 0.0]),            # the query itself
        (1, [0.99, 0.141]),         # near-dup (cos ~ .990)
        (2, [0.7, 0.714]),          # hard negative (cos ~ .700)
        (3, [0.0, 1.0]),            # easy negative (cos 0)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    got = hard_negative_mining(emb, qs, k=10, dup_threshold=0.95).collect()
    ids = [(r["vec_id"], r["rank"]) for r in
           sorted(got, key=lambda r: r["rank"])]
    assert [i for i, _ in ids] == [2, 3]
    assert [r for _, r in ids] == [1, 2]
    assert all(r["cosine"] < 0.95 for r in got)


def test_group_centroid_stats_cohesion(spark):
    """A duplicated group scores cohesion ~1, an orthogonal-spread group
    scores markedly lower; zero vectors are excluded from the cosine
    mean but counted in n_vecs."""
    from yat_geo_db_spark.pipelines.similarity import group_centroid_stats

    rows = (
        [(i, [1.0, 0.0, 0.0], 0) for i in range(4)]          # collapsed
        + [(10, [1.0, 0.0, 0.0], 1), (11, [0.0, 1.0, 0.0], 1),
           (12, [0.0, 0.0, 1.0], 1)]                          # orthogonal
        + [(20, [0.5, 0.5, 0.0], 2), (21, [0.0, 0.0, 0.0], 2)]  # w/ zero vec
        + [(30, [1.0, 0.0, 0.0], 3), (31, None, 3), (32, [], 3)]  # missing
        + [(40, None, 4)]                                     # ALL missing
    )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r["label"]: r for r in group_centroid_stats(emb).collect()}
    assert abs(out[0]["mean_cos"] - 1.0) < 1e-6
    assert abs(out[0]["centroid_norm"] - 1.0) < 1e-6
    assert out[1]["mean_cos"] < 0.7  # orthogonal members vs mean centroid
    assert out[2]["n_vecs"] == 2 and out[2]["n_missing"] == 0
    assert abs(out[2]["mean_cos"] - 1.0) < 1e-6  # only the nonzero vec
    # NULL/empty vectors are VISIBLE, not silently dropped
    assert out[3]["n_vecs"] == 3 and out[3]["n_missing"] == 2
    assert out[4]["n_vecs"] == 1 and out[4]["n_missing"] == 1
    assert out[4]["mean_cos"] is None and out[4]["centroid_norm"] is None


def test_mmr_trades_relevance_for_diversity(spark):
    """On a corpus with one tight cluster near the query plus spread-out
    alternatives, lam=1.0 MMR degenerates to pure relevance top-k (picks
    the whole cluster first), while a diversity-weighted lam must break
    out of the cluster after one member."""
    import math

    from yat_geo_db_spark.pipelines.similarity import mmr_select

    dim = 5
    s = 1.0 / math.sqrt(2.0)

    def unit(theta):
        # rotations in the (0,1) plane: the query and its near-dup cluster
        v = [0.0] * dim
        v[0], v[1] = math.cos(theta), math.sin(theta)
        return v

    def alt(axis):
        # (q + e_axis)/sqrt(2): relevance ~0.707 to the query, mutual
        # similarity 0.5 — relevant but ORTHOGONALLY diverse
        v = [0.0] * dim
        v[0], v[axis] = s, s
        return v

    rows = [(0, unit(0.0))]                      # query
    for i, t in enumerate((0.03, 0.035, 0.04)):  # near-dup cluster
        rows.append((10 + i, unit(t)))
    for i, axis in enumerate((2, 3, 4)):         # diverse alternatives
        rows.append((20 + i, alt(axis)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pure = mmr_select(df, 0, k=3, lam=1.0)
    assert [r["vec_id"] for r in pure.collect()] == [10, 11, 12]

    div = mmr_select(df, 0, k=3, lam=0.5)
    picked = [r["vec_id"] for r in div.collect()]
    assert picked[0] == 10                        # most relevant first
    assert len([p for p in picked if p >= 20]) >= 2, picked
    # ranks are dense and scores non-increasing is NOT required (MMR
    # scores can rise as the candidate pool changes), but ranks must be
    assert [r["rank"] for r in div.collect()] == [1, 2, 3]


def test_sq8_codes_in_range_and_recall(spark):
    """SQ8 codes must be valid int8 range; asymmetric scoring must
    rank near-identically to exact search on this corpus (8-bit per
    dim is a tight quantizer: recall@10 >= 0.8), and a constant
    dimension must encode to 0 without dividing by a zero step."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.pipelines import similarity

    emb = load_table(spark, SF, "embeddings")
    bounds = similarity.sq8_fit(emb)
    codes = similarity.sq8_encode(emb, bounds)
    mm = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
    ).collect()[0]
    assert 0 <= mm["lo"] and mm["hi"] <= 255
    approx = similarity.sq8_topk(emb, 3, k=10)
    exact = similarity.brute_force_topk(emb, 3, k=10)
    a = {r["vec_id"] for r in approx.collect()}
    b = {r["vec_id"] for r in exact.collect()}
    assert len(a & b) / 10 >= 0.8

    # constant dimension → step 0 → code 0 (no NaN/div-zero artifacts)
    const = spark.createDataFrame(
        [(1, [1.0, 0.5]), (2, [1.0, 0.25])], "vec_id long, embedding array<float>"
    )
    cb = similarity.sq8_fit(const)
    assert cb[0][1] == 0.0
    cc = {r["vec_id"]: r["codes"] for r in similarity.sq8_encode(const, cb).collect()}
    assert cc[1][0] == 0 and cc[2][0] == 0
    assert cc[1][1] == 255 and cc[2][1] == 0


def test_dim_truncation_full_prefix_is_perfect(spark):
    """Truncating to the FULL dimension must reproduce ground truth
    exactly (recall 1.0) — the eval harness itself adds no noise — and
    recall must be monotone-nondecreasing... (not guaranteed pointwise
    on random data, so assert the d=64 anchor plus bounds)."""
    from yat_geo_db_spark.pipelines.similarity import dim_truncation_eval

    emb = load_table(spark, SF, "embeddings")
    out = {
        r["dim"]: r["recall"]
        for r in dim_truncation_eval(emb, dims=(8, 64), k=5).collect()
    }
    assert out[64] == 1.0
    assert 0.0 <= out[8] <= 1.0


def test_centroid_drift_identity_and_planted_shift(spark):
    """Identical snapshots must score cosine 1.0 / ratio 1.0 in every
    group; a planted shift in ONE group must move only that group's
    cosine; one-sided groups drop."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.pipelines.similarity import centroid_drift

    emb = load_table(spark, SF, "embeddings")
    same = {
        r["label"]: r for r in centroid_drift(emb, emb).collect()
    }
    assert same and all(
        r["centroid_cosine"] == 1.0 and r["norm_ratio"] == 1.0
        for r in same.values()
    )

    a = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.0, 2.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    b = spark.createDataFrame(
        [(1, [0.0, 1.0], 0), (2, [0.0, 1.0], 0), (3, [0.0, 2.0], 1),
         (9, [5.0, 5.0], 7)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r["label"]: r for r in centroid_drift(a, b).collect()}
    assert got[0]["centroid_cosine"] == 0.0  # orthogonal shift
    assert got[1]["centroid_cosine"] == 1.0
    assert 7 not in got  # present only in B


def test_two_level_kmeans_partitions_ids_deterministically(spark):
    """kmeans_two_level_fit_assign: every id lands in exactly one
    composite cell, cells are within range, and two invocations agree
    bit-for-bit (no RNG anywhere in the routing)."""
    from yat_geo_db_spark.pipelines.similarity import (
        kmeans_two_level_fit_assign,
    )

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    k = 9  # k1 = 3, k2 = 3
    a1 = kmeans_two_level_fit_assign(emb, k=k, n_iter=2)
    rows = a1.collect()
    assert len(rows) == n                      # every vector assigned
    assert len({r["vec_id"] for r in rows}) == n  # exactly once
    assert all(0 <= r["cid"] < 9 for r in rows)
    a2 = kmeans_two_level_fit_assign(emb, k=k, n_iter=2)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, a2.collect()))
    # the routing actually splits (more than one occupied cell)
    assert len({r["cid"] for r in rows}) > 1


def test_two_level_sub_assign_is_equi_join_not_cross(spark):
    """The scale claim: the sub-level never expands n x k — its
    assignment is a broadcast HASH join on the coarse cell id (each
    vector meets only its own cell's k2 candidates), not the
    broadcast nested-loop of the flat path."""
    import io
    from contextlib import redirect_stdout

    from yat_geo_db_spark.pipelines.similarity import (
        kmeans_two_level_fit_assign,
    )

    emb = load_table(spark, SF, "embeddings")
    plan_buf = io.StringIO()
    with redirect_stdout(plan_buf):
        kmeans_two_level_fit_assign(emb, k=9, n_iter=1).explain("formatted")
    plan = plan_buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_scaled_pairs_exact_and_find_planted_dups(spark):
    """semdedup_pairs_scaled: every emitted pair is an exact
    thresholded cosine (subset of the brute-force pair set, values
    equal), and planted exact duplicates are found (identical vectors
    can never be routed to different cells — both levels assign by
    argmin over the same candidates)."""
    import pyspark.sql.functions as F2

    from yat_geo_db_spark.pipelines.similarity import (
        dot_col, l2_normalized, semdedup_pairs_scaled,
    )

    emb = load_table(spark, SF, "embeddings")
    # plant exact duplicates of three vectors under new ids
    planted = emb.filter(F2.col("vec_id").isin(3, 17, 42)).select(
        (F2.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(planted)
    got = semdedup_pairs_scaled(corpus, threshold=0.9, target_cell=64)
    rows = {(r["id1"], r["id2"]): r["cosine"] for r in got.collect()}
    for vid in (3, 17, 42):
        assert (vid, vid + 100000) in rows
        assert rows[(vid, vid + 100000)] == 1.0

    # exactness: emitted pairs are a subset of the brute-force
    # thresholded pair set with identical rounded cosines
    unit = l2_normalized(corpus)
    a = unit.select(F2.col("vec_id").alias("id1"), F2.col("embedding").alias("v1"))
    b = unit.select(F2.col("vec_id").alias("id2"), F2.col("embedding").alias("v2"))
    brute = (
        a.join(b, F2.col("id1") < F2.col("id2"))
        .select(
            "id1", "id2",
            F2.round(dot_col(F2.col("v1"), F2.col("v2")), 6).alias("cosine"),
        )
        .filter(F2.col("cosine") >= 0.9)
    )
    brute_rows = {(r["id1"], r["id2"]): r["cosine"] for r in brute.collect()}
    assert set(rows).issubset(set(brute_rows))
    assert all(brute_rows[p] == c for p, c in rows.items())
    assert len(rows) > 0


def test_two_level_shuffle_join_path_equals_broadcast(spark):
    """broadcast_sub=False (the escape hatch past the broadcast size
    ceiling) must produce the IDENTICAL assignment — only the
    candidate-shipping strategy changes, never the math."""
    from yat_geo_db_spark.pipelines.similarity import (
        kmeans_two_level_fit_assign,
    )

    emb = load_table(spark, SF, "embeddings")
    a = kmeans_two_level_fit_assign(emb, k=9, n_iter=2)
    b = kmeans_two_level_fit_assign(emb, k=9, n_iter=2, broadcast_sub=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_embedding_dim_stats_flags_dead_dimension(spark):
    """embedding_dim_stats: a planted constant dimension reads
    var_x = 0 / is_dead = 1; live dimensions read is_dead = 0; mean
    and variance agree with numpy within rounding."""
    import numpy as np
    import pyspark.sql.functions as F2

    from yat_geo_db_spark.pipelines.similarity import embedding_dim_stats

    emb = load_table(spark, SF, "embeddings")
    # plant: dimension 0 forced to the constant 0.25
    planted = emb.select(
        "vec_id",
        F2.concat(
            F2.array(F2.lit(0.25).cast("float")),
            F2.slice(F2.col("embedding"), 2, 10_000),
        ).alias("embedding"),
    )
    rows = {r["pos"]: r for r in embedding_dim_stats(planted).collect()}
    d = len(emb.first()["embedding"])
    assert set(rows) == set(range(d))
    assert rows[0]["is_dead"] == 1 and rows[0]["var_x"] == 0.0
    assert rows[0]["mean_x"] == 0.25
    assert all(rows[p]["is_dead"] == 0 for p in range(1, d))
    assert all(rows[p]["out_of_range"] == 0 for p in range(d))

    # range blow-up: a huge-magnitude dimension is REPORTED, not
    # silently mis-measured through the fixed-point sums (whose
    # dynamic range it exceeds) — mean/var/is_dead NULL, flag set,
    # exact min/max still present
    blown = emb.select(
        "vec_id",
        F2.concat(
            F2.array((F2.lit(1e6) + F2.col("vec_id")).cast("float")),
            F2.slice(F2.col("embedding"), 2, 10_000),
        ).alias("embedding"),
    )
    b0 = {r["pos"]: r for r in embedding_dim_stats(blown).collect()}[0]
    assert b0["out_of_range"] == 1
    assert b0["mean_x"] is None and b0["var_x"] is None
    assert b0["is_dead"] is None
    assert b0["min_x"] >= 1e6 and b0["max_x"] >= 1e6

    # near-dead tiny dimension: quantization can drive the raw
    # variance residual NEGATIVE; the +0.0 normalization must report
    # +0.0 (not -0.0) and flag it dead
    tiny = emb.select(
        "vec_id",
        F2.concat(
            F2.array(F2.lit(5e-10).cast("float")),
            F2.slice(F2.col("embedding"), 2, 10_000),
        ).alias("embedding"),
    )
    t0 = {r["pos"]: r for r in embedding_dim_stats(tiny).collect()}[0]
    import math
    assert t0["var_x"] == 0.0 and not math.copysign(1.0, t0["var_x"]) < 0
    assert t0["is_dead"] == 1 and t0["out_of_range"] == 0

    # numpy agreement on a live dimension
    xs = np.array(
        [float(r["embedding"][1]) for r in planted.select("embedding").collect()],
        dtype=np.float64,
    )
    assert rows[1]["n"] == len(xs)
    assert abs(rows[1]["mean_x"] - xs.mean()) < 1e-5
    assert abs(rows[1]["var_x"] - xs.var()) < 1e-5
    assert rows[1]["min_x"] == round(float(xs.min()), 6)
    assert rows[1]["max_x"] == round(float(xs.max()), 6)


def test_two_level_shuffle_join_path_plan_shape(spark):
    """VERDICT r9 task 5: the broadcast_sub=False route (past the
    k·d·8B broadcast ceiling) must keep its shape under future edits —
    the sub-level candidates ship by SHUFFLE equi-join on the coarse
    cell id (SortMergeJoin/ShuffledHashJoin), never a cartesian or a
    broadcast nested loop (either would re-introduce the n×k expansion
    the two-level routing exists to avoid)."""
    import io
    from contextlib import redirect_stdout

    from yat_geo_db_spark.pipelines.similarity import (
        kmeans_two_level_fit_assign,
    )

    emb = load_table(spark, SF, "embeddings")
    buf = io.StringIO()
    with redirect_stdout(buf):
        kmeans_two_level_fit_assign(
            emb, k=9, n_iter=1, broadcast_sub=False
        ).explain("formatted")
    plan = buf.getvalue()
    assert (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    ), "sub-assign equi-join lost its shuffle-join shape"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_two_level_multi_probe_routing(spark):
    """coarse_probes (the 3√k recall knob, VERDICT r11 task 6): still
    exactly ONE composite cell per vector (the pair-join volume must
    not grow with p), per-vector distance never worse than p=1 (the
    p=1 candidate set — the primary cell's sub-centroids — is a
    subset of p=2's), deterministic across invocations, and p capped
    at k1 / rejected below 1."""
    import pytest as _pytest

    from yat_geo_db_spark.pipelines.similarity import (
        kmeans_two_level_fit_assign,
    )

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    k = 9
    p1 = {r["vec_id"]: r for r in
          kmeans_two_level_fit_assign(
              emb, k=k, n_iter=2, coarse_probes=1
          ).collect()}
    a2 = kmeans_two_level_fit_assign(emb, k=k, n_iter=2, coarse_probes=2)
    rows = a2.collect()
    assert len(rows) == n
    assert len({r["vec_id"] for r in rows}) == n
    assert all(0 <= r["cid"] < 9 for r in rows)
    # argmin over a candidate superset: dist can only improve or tie
    assert all(r["dist"] <= p1[r["vec_id"]]["dist"] + 1e-9 for r in rows)
    # some vector actually re-routes on this fixture (the knob bites)
    assert any(r["cid"] != p1[r["vec_id"]]["cid"] for r in rows)
    b2 = kmeans_two_level_fit_assign(emb, k=k, n_iter=2, coarse_probes=2)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, b2.collect()))
    # p >= k1 degrades to exhaustive sub-centroid search, still valid
    a_all = kmeans_two_level_fit_assign(emb, k=k, n_iter=2,
                                        coarse_probes=99)
    assert a_all.count() == n
    with _pytest.raises(ValueError, match="coarse_probes"):
        kmeans_two_level_fit_assign(emb, k=k, coarse_probes=0)
    spark.catalog.clearCache()


def test_two_level_routing_thread_joined_when_sub_fit_fails(
    spark, monkeypatch
):
    """The multi-probe routing table is built on a driver thread while the
    sub-fit runs. When the sub-fit fails, the thread is still joined and
    its own error is raised, with the sub-fit's error as its context."""
    import pytest as _pytest

    from yat_geo_db_spark.pipelines import similarity as sim

    def sub_fit_fails(*_a, **_k):
        raise RuntimeError("sub-fit")

    def routing_fails(*_a, **_k):
        raise ValueError("routing")

    monkeypatch.setattr(sim, "_sub_assign_carrying_vec", sub_fit_fails)
    monkeypatch.setattr(sim, "_coarse_top_p", routing_fails)
    emb = load_table(spark, SF, "embeddings")
    with _pytest.raises(ValueError, match="routing") as err:
        sim.kmeans_two_level_fit_assign(emb, k=9, n_iter=1, coarse_probes=2)
    assert isinstance(err.value.__context__, RuntimeError)
    spark.catalog.clearCache()


def test_semdedup_scaled_multi_probe_pairs_are_exact(spark):
    """semdedup_pairs_scaled(coarse_probes=2): every emitted pair is an
    exact thresholded cosine (emitted ⊆ brute truth) and the pair set
    is deterministic."""
    from yat_geo_db_spark.pipelines import similarity as sim

    emb = load_table(spark, SF, "embeddings").limit(300)
    t = 0.8
    got = sorted(map(tuple, sim.semdedup_pairs_scaled(
        emb, threshold=t, coarse_probes=2).collect()))
    unit = sim.l2_normalized(emb, "vec_id", "embedding")
    a = unit.select(F.col("vec_id").alias("id1"),
                    F.col("embedding").alias("v1"))
    b = unit.select(F.col("vec_id").alias("id2"),
                    F.col("embedding").alias("v2"))
    truth = {
        (r["id1"], r["id2"]): r["cosine"]
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2",
                F.round(sim.dot_col(F.col("v1"), F.col("v2")), 6)
                .alias("cosine"))
        .filter(F.col("cosine") >= t).collect()
    }
    assert all((i1, i2) in truth and truth[(i1, i2)] == c
               for i1, i2, c in got)
    spark.catalog.clearCache()


def test_coarse_probes_default_is_two():
    """VERDICT r12 task 3, decided in round 13: p=2 measured
    strictly-better-or-tied recall at wall parity on every panel
    fixture (clustered default-k 82.9%→91.3%, clustered larger-k
    82.1%→90.0%, diffuse 1× 11.67%→11.81%, diffuse 10× 8.77%→8.89% —
    BENCHLOG round 13), so multi-probe routing is the default; the
    p=1 primary-cell route stays reachable (and registry-pinned) via
    an explicit coarse_probes=1."""
    import inspect

    from yat_geo_db_spark.pipelines.similarity import (
        kmeans_two_level_fit_assign, semdedup_pairs_scaled,
    )

    for fn in (kmeans_two_level_fit_assign, semdedup_pairs_scaled):
        assert inspect.signature(fn).parameters["coarse_probes"].default == 2


def test_random_projection_jl_properties(spark):
    """Sign-JL (Achlioptas) projection: (a) the sign matrix is a pure
    function of (dim, m, seed) — replayable, ±1 only; (b) projecting
    preserves norms in expectation (E[‖y‖²]=‖x‖² — chi²_m/m
    concentration: with m=16 individual ratios live well inside
    [0.2, 2.2] and the 500-vector mean within ±20%); (c) the map is
    deterministic run-to-run (no execution-time RNG)."""
    import pyspark.sql.functions as F

    from yat_geo_db_spark.pipelines import similarity
    from yat_geo_db_spark.testdata import load_table

    signs = similarity.random_projection_signs(8, 3)
    assert signs == similarity.random_projection_signs(8, 3)
    assert len(signs) == 3 and all(len(r) == 8 for r in signs)
    assert {v for r in signs for v in r} <= {1.0, -1.0}

    emb = load_table(spark, SF, "embeddings")
    proj = similarity.random_project(emb, dim=64, m=16)
    base = emb.select(
        "vec_id", similarity.norm_col(F.col("embedding")).alias("xn")
    )
    y2 = F.lit(0.0)
    for j in range(16):
        y2 = y2 + F.col(f"rp_{j}") * F.col(f"rp_{j}")
    ratios = [
        r["ratio"]
        for r in proj.join(base, "vec_id")
        .where(F.col("xn") > 0)
        .select((F.sqrt(y2) / F.col("xn")).alias("ratio"))
        .collect()
    ]
    assert ratios, "fixture has no nonzero vectors"
    assert all(0.2 < r < 2.2 for r in ratios), (min(ratios), max(ratios))
    mean = sum(ratios) / len(ratios)
    assert 0.8 < mean < 1.2, mean

    a = sorted(map(tuple, proj.collect()))
    b = sorted(map(tuple, similarity.random_project(
        emb, dim=64, m=16).collect()))
    assert a == b


def test_darr_nonfinite_falls_back_to_lit_path(spark):
    """_darr must survive NaN/Inf elements (ADVICE r13: repr() emits
    inf/nan which the SQL parser reads as identifiers) — the guarded
    fallback builds the literal per element and round-trips the values;
    the finite fast path stays bit-exact."""
    import math

    from yat_geo_db_spark.pipelines.similarity import _darr

    vals = [1.5, float("nan"), float("inf"), float("-inf"), -0.25]
    row = spark.range(1).select(_darr(vals).alias("a")).first()
    got = row["a"]
    assert got[0] == 1.5 and got[4] == -0.25
    assert math.isnan(got[1])
    assert got[2] == float("inf") and got[3] == float("-inf")
    # finite fast path unchanged (one-expression literal, exact values)
    fin = spark.range(1).select(
        _darr([0.1, -2.0, 3.5e300]).alias("a")
    ).first()["a"]
    assert list(fin) == [0.1, -2.0, 3.5e300]


def test_broadcast_gate_prices_measured_dim(spark):
    """_fits_session_broadcast must price the REAL vector width
    (VERDICT r13 #6): at the session's 64 MB threshold, 5,000 rows of a
    4096-dim corpus (~328 MB framed ×2) must be REFUSED even though the
    old hard-coded dim=256 pricing (~21 MB ×2) would have admitted the
    broadcast; 256 stays only as a pricing floor, and an unknown width
    refuses the hint outright."""
    from yat_geo_db_spark.pipelines.similarity import (
        _count_and_dim, _fits_session_broadcast,
    )

    n = 5_000
    assert _fits_session_broadcast(spark, n, 256)  # old-default pricing
    assert not _fits_session_broadcast(spark, n, 4096)  # measured width
    assert not _fits_session_broadcast(spark, n, None)  # unpriceable
    # the floor: tiny dims price AS 256 (conservative, never looser)
    assert _fits_session_broadcast(spark, n, 8) == _fits_session_broadcast(
        spark, n, 256
    )
    # _count_and_dim measures the widest row in one job
    df = spark.createDataFrame(
        [(1, [0.0] * 3), (2, [0.0] * 7)], "vec_id long, embedding array<double>"
    )
    assert _count_and_dim(df, "embedding") == (2, 7)
