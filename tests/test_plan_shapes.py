"""Physical-plan assertions for the TPC-H-shape queries: the scale
guarantees PLANS.md claims (pushdown, broadcast, no-global-sort top-k) are
asserted here, not just documented. Plans are inspected on direct parquet
reads (no fixture repartition compensator) so scan-level pushdown is
visible.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from yat_geo_db_spark.relational import queries as rq

SF_DIR = "/root/testdata/sf0.001"


def _raw(spark, name):
    # bypass load_table's repartition compensator: plan-shape tests want
    # the native scan (events isn't used here, so nanos are not an issue)
    return spark.read.parquet(f"{SF_DIR}/{name}.parquet")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q6_filters_reach_scan(spark):
    df = rq.q6_forecast_revenue(_raw(spark, "lineitem"))
    plan = _plan(df)
    # range predicates push into the parquet scan
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    # column pruning: the scan reads only the consumed columns
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema


def test_q10_topk_no_global_sort(spark):
    df = rq.q10_returned_items(
        _raw(spark, "customer"), _raw(spark, "orders"),
        _raw(spark, "lineitem"), _raw(spark, "nation"),
    )
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    # l_returnflag = R is pushed to the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan.replace(" ", "")


def test_q7_nation_dims_broadcast(spark):
    df = rq.q7_volume_shipping(
        _raw(spark, "lineitem"), _raw(spark, "orders"), _raw(spark, "customer"),
        _raw(spark, "supplier"), _raw(spark, "nation"),
    )
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3  # supplier + both nation roles


def test_q19_stays_hash_join(spark):
    df = rq.q19_disjunctive_revenue(_raw(spark, "lineitem"), _raw(spark, "part"))
    plan = _plan(df)
    # the OR-of-ANDs must not force a nested loop: l_partkey = p_partkey is
    # extracted as the equi-key
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_anti_join(spark):
    df = rq.q22_idle_customers(_raw(spark, "customer"), _raw(spark, "orders"))
    assert "LeftAnti" in _plan(df)


def test_window_battery_single_exchange(spark):
    df = rq.order_window_battery(_raw(spark, "orders"))
    plan = _plan(df)
    # both window specs partition by o_custkey → ONE hash exchange total
    # (two sorts is fine; a second exchange would mean a wasted shuffle)
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, plan


def test_nested_struct_pruning_on_ingested_layout(spark, tmp_path):
    """Dotted-path filters over the ingested parquet layout must prune the
    nested ref_data struct to the consumed subfield and push the equality
    down to the scan — the layout property the radius/fuzzy dynamic
    filters (P12) rely on at scale."""
    import json

    from yat_geo_db_spark.geo.ingest import ingest_shapes_json, read_shapes
    from tests.test_ingest import RECORD

    recs = [
        dict(RECORD, id=i, reference_code=f"us__tn__city_{i}")
        for i in range(6)
    ]
    src = tmp_path / "shapes.json"
    src.write_text("\n".join(json.dumps(r) for r in recs))
    root = str(tmp_path / "store")
    ingest_shapes_json(spark, str(src), root)

    shapes = read_shapes(spark, root)
    df = shapes.filter(F.col("ref_data.state_prov") == "TN").select(
        "id", "ref_data.city"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema")[1][:300]
    # only the two consumed ref_data subfields are read...
    assert "state_prov" in read_schema and "city" in read_schema
    assert "zip_code" not in read_schema
    # ...and no unrelated top-level column is
    assert "population" not in read_schema
    # the nested equality reaches the scan as a pushed filter
    pushed = plan.split("PushedFilters")[1][:200]
    assert "state_prov" in pushed
    assert df.count() == 6


@pytest.fixture(scope="module")
def ingested_shapes(spark, tmp_path_factory):
    """The geo fixture persisted in the engine's real sorted-Parquet layout
    (geo.ingest.write_shapes) — what a production store looks like."""
    from yat_geo_db_spark.geo.fixture import shapes_df
    from yat_geo_db_spark.geo.ingest import read_shapes, write_shapes
    from yat_geo_db_spark.testdata import register_views

    register_views(spark, SF_DIR, tables=("customer",))
    root = str(tmp_path_factory.mktemp("geo_store"))
    write_shapes(shapes_df(spark), root)
    return read_shapes(spark, root)


def test_pk_lookup_pushdown_on_ingested_layout(spark, ingested_shapes):
    """P1 point get on the real layout: the reference_code equality reaches
    the parquet scan (PushedFilters) — with the reference_code-sorted write,
    min/max stats prune every other row group."""
    from yat_geo_db_spark.geo import lookup

    df = lookup.shape_by_ref_code(ingested_shapes, "us__tn__nashua_1")
    plan = _plan(df)
    pushed = plan.split("PushedFilters")[1][:200]
    assert "EqualTo(reference_code,us__tn__nashua_1)" in pushed.replace(" ", "")
    assert df.count() == 1


def test_radius_latlng_envelope_pushdown_on_ingested_layout(spark, ingested_shapes):
    """R3 literal-origin radius on the real layout: the implied lat/lng
    envelope (plain range comparisons) reaches the scan as PushedFilters —
    row-group pruning on a lat-sorted layout — while the exact
    ellipse/bbox predicate still decides membership."""
    from yat_geo_db_spark.geo import radius

    df = radius.radius_search_lat_lng(ingested_shapes, 29.139, -121.949, 75.0)
    plan = _plan(df)
    pushed = plan.split("PushedFilters")[1][:400].replace(" ", "")
    assert "latitude" in pushed and "longitude" in pushed
    assert "GreaterThanOrEqual" in pushed or "Or(EqualTo(is_aggregate" in pushed
    # and the result matches the un-enveloped scan (fixture path)
    assert df.count() > 0


def test_dynamic_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """A join between the partitionBy shapes layout and a filtered dimension
    prunes partitions at RUNTIME via Spark's dynamic partition pruning —
    the scan's partition filter is a dynamicpruning subquery on the dim,
    so at 100 TB only the dim-selected state directories are read even
    though the selected set isn't known at plan time."""
    from yat_geo_db_spark.geo.fixture import shapes_df
    from yat_geo_db_spark.geo.ingest import write_shapes_partitioned
    from yat_geo_db_spark.testdata import register_views

    register_views(spark, SF_DIR, tables=("customer",))
    out = write_shapes_partitioned(
        shapes_df(spark), str(tmp_path / "db"), "ref_data.state_prov"
    )
    part = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("TN", 1), ("CA", 2)], "partition string, w int"
    ).filter(F.col("w") >= 0)
    j = part.join(dim, "partition").groupBy("partition").count()
    rows = {r["partition"]: r["count"] for r in j.collect()}
    assert set(rows) == {"TN", "CA"} and all(v > 0 for v in rows.values())
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_viewport_pushdown_on_ingested_layout(spark, ingested_shapes):
    from yat_geo_db_spark.geo import radius

    df = radius.viewport_search(ingested_shapes, 28.0, -123.5, 31.5, -120.0)
    pushed = _plan(df).split("PushedFilters")[1][:400].replace(" ", "")
    # (the plan string elides long filter lists — assert the leading ones)
    assert "GreaterThanOrEqual(latitude,28.0)" in pushed
    assert "IsNotNull(longitude)" in pushed
    assert df.count() > 0


def test_c4_filters_is_shuffle_free_scan(spark):
    """C4 line cleaning must be a pure scan-speed map: no Exchange of any
    kind in the plan — the property that makes it free at 100 TB."""
    from yat_geo_db_spark.pipelines.text import c4_line_filters

    plan = _plan(c4_line_filters(_raw(spark, "documents")))
    assert "Exchange" not in plan, plan


def test_length_buckets_single_partial_shuffle(spark):
    """Length-bucketed batching: exactly one Exchange (the per-bucket
    window's hashpartitioning on bucket) — no global sort, no extra
    shuffles."""
    from yat_geo_db_spark.pipelines.curation import length_bucket_batches

    plan = _plan(length_bucket_batches(_raw(spark, "documents")))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_surprisal_lm_join_no_corpus_broadcast(spark):
    """Unigram surprisal: the token relation must NEVER be the broadcast
    side (it is corpus-sized); only the vocabulary-bounded LM or the 1-row
    total may broadcast."""
    from yat_geo_db_spark.pipelines.text import unigram_surprisal

    df = unigram_surprisal(_raw(spark, "documents"))
    df.count()  # final AQE plan
    plan = _plan(df)
    # the corpus side reaches the join via explode(split(text)); a broadcast
    # exchange whose subtree contains the explode would ship the corpus
    import re

    for m in re.finditer(r"BroadcastExchange", plan):
        seg = plan[m.start():m.start() + 2000]
        assert "explode" not in seg.split("BroadcastExchange")[0], plan[:3000]
    assert df.schema.simpleString().count("surprisal") == 1


def test_q15_single_lineitem_scan(spark):
    """Q15's max-revenue comparison must NOT re-execute the lineitem
    scan+aggregate (the scalar-subquery form does — Catalyst doesn't
    reuse the exchange across the subquery boundary): exactly one
    lineitem scan in the final plan."""
    import re

    li, su = _raw(spark, "lineitem"), _raw(spark, "supplier")
    df = rq.q15_top_supplier(li, su)
    df.collect()  # final AQE plan belongs to the collected dataset
    # the AQE dump appends the pre-adaptive "Initial Plan" — count scans
    # only in the executed final section
    plan = _plan(df).split("== Initial Plan ==")[0]
    scans = len(re.findall(r"FileScan parquet \[[^\]]*l_extendedprice", plan))
    assert scans == 1, plan[:4000]


def test_q21_single_lineitem_scan_and_narrow_shuffles(spark):
    """The EXISTS/NOT-EXISTS pair is decorrelated to one aggregate plus a
    per-order window over the SAME rows: exactly one lineitem scan in the
    plan (a per-order groupBy joined back would scan it twice), and the
    supplier/nation dims broadcast."""
    df = rq.q21_waiting_suppliers(
        _raw(spark, "lineitem"), _raw(spark, "orders"),
        _raw(spark, "supplier"), _raw(spark, "nation"),
    )
    plan = _plan(df)
    assert plan.count("Scan parquet") == 4  # lineitem, orders, supplier, nation
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q11_single_scan_global_window(spark):
    """The HAVING-vs-total decorrelates to a window over the grouped
    result — one lineitem scan (a scalar subquery would re-scan) and the
    window total summed as DECIMAL (exact), not double."""
    df = rq.q11_important_parts(
        _raw(spark, "lineitem"), _raw(spark, "supplier"), _raw(spark, "nation")
    )
    plan = _plan(df)
    assert plan.count("Scan parquet") == 3  # lineitem, supplier, nation
    assert "Window" in plan


def test_q12_shipdate_window_pushed(spark):
    df = rq.q12_shipmode_priority(_raw(spark, "lineitem"), _raw(spark, "orders"))
    plan = _plan(df)
    pushed = plan.split("PushedFilters")[1][:400]
    assert "l_shipdate" in pushed


def test_q9_part_filter_broadcast(spark):
    df = rq.q9_product_profit(
        _raw(spark, "lineitem"), _raw(spark, "orders"),
        _raw(spark, "supplier"), _raw(spark, "nation"), _raw(spark, "part"),
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # name-fragment filter prunes the part scan before the broadcast
    assert "p_name" in plan.split("PushedFilters")[1][:800] or "Contains" in plan


def test_filtered_topk_predicate_pushed_and_semi_join(spark):
    """Attribute-filtered ANN pre-filters: the metadata predicate reaches
    the documents parquet scan (PushedFilters), the vector side is pruned
    through a semi join, and the top-k is TakeOrderedAndProject (no global
    sort)."""
    from yat_geo_db_spark.pipelines.similarity import filtered_topk

    df = filtered_topk(
        _raw(spark, "embeddings"),
        _raw(spark, "documents"),
        (F.col("lang") == "en") & (F.col("n_chars") >= 200),
        query_id=1,
        k=15,
    )
    plan = _plan(df)
    pushed = plan.split("PushedFilters")[1][:400]
    assert "lang" in pushed and "n_chars" in pushed
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_bm25_single_corpus_scan(spark):
    """BM25 reads the corpus ONCE: per-term tfs are conditional sums in
    the same per-doc aggregation as doc length, corpus stats (N, avgdl,
    dfs) derive from that narrow table and broadcast back (one-row BNLJ),
    and the top-k is TakeOrderedAndProject."""
    from yat_geo_db_spark.pipelines.text import bm25_topk

    df = bm25_topk(_raw(spark, "documents"), ["data", "table", "join"], k=15)
    df.collect()  # the stats branch dedupes onto the per-doc exchange
    # only at execution (AQE ReusedExchange) — assert the FINAL plan
    plan = _plan(df).split("== Initial")[0]
    assert plan.count("Scan parquet") == 1
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q2_dims_broadcast_and_single_window_shuffle(spark):
    """Q2's min-cost decorrelation: every dim (supplier/nation/region/
    filtered part) broadcasts — the only SortMergeJoin-free shuffles are
    partsupp's window partition — and the top-100 is
    TakeOrderedAndProject, not a global sort."""
    part, supp = _raw(spark, "part"), _raw(spark, "supplier")
    nat, reg = _raw(spark, "nation"), _raw(spark, "region")
    ps = rq.synth_partsupp(part, supp)
    plan = _plan(rq.q2_min_cost_supplier(part, supp, nat, reg, ps))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q20_shipdate_pushdown_and_semi_joins(spark):
    """Q20: the year filter reaches the lineitem parquet scan; the red-
    part and nation restrictions stay semi-joins (no payload columns
    dragged through); supplier output needs no global sort exchange
    beyond the final ordering."""
    part, supp = _raw(spark, "part"), _raw(spark, "supplier")
    nat, reg = _raw(spark, "nation"), _raw(spark, "region")
    li = _raw(spark, "lineitem")
    ps = rq.synth_partsupp(part, supp)
    df = rq.q20_excess_stock(part, supp, nat, reg, ps, li)
    plan = _plan(df)
    # the lineitem scan (not the first scan in the plan) carries the
    # pushed year-range predicate
    assert any(
        "l_shipdate" in seg[:400] for seg in plan.split("PushedFilters")[1:]
    )
    assert "LeftSemi" in plan


def test_q16_anti_join_and_one_group_shuffle(spark):
    """Q16: the complaints exclusion is a broadcast ANTI join (never a
    shuffle of partsupp against a 6-row dim), and the distinct-count
    groups through hash aggregation."""
    part, supp = _raw(spark, "part"), _raw(spark, "supplier")
    ps = rq.synth_partsupp(part, supp)
    plan = _plan(rq.q16_supplier_part_counts(part, supp, ps))
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_scrub_scan_bound(spark):
    """The PII scrub's 100 TB claim, asserted: zero exchanges (pure
    projection pipelined onto the scan) and a ReadSchema pruned to
    exactly (doc_id, text)."""
    from yat_geo_db_spark.pipelines.text import pii_scrub

    df = pii_scrub(_raw(spark, "documents"))
    plan = _plan(df)
    assert "Exchange" not in plan
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "source" not in read_schema and "lang" not in read_schema


def test_cdc_apply_single_shuffle(spark):
    """cdc_apply: union + ONE hash shuffle on the key (the version-rank
    window) — no second exchange, no global range sort, and the op-domain
    guard stays a projection."""
    from yat_geo_db_spark.relational.merge import cdc_apply

    snap = spark.createDataFrame([(1, "a", 0)], "k long, v string, version int")
    ch = spark.createDataFrame(
        [(1, "b", 1, "U")], "k long, v string, version int, op string"
    )
    plan = _plan(cdc_apply(snap, ch, ["k"], "version"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_join_blocked_on_cell(spark):
    """SemDeDup's pair join is keyed on the k-means cell id — never a
    cross-cell cartesian/nested-loop over the vectors. The only
    BroadcastNestedLoopJoins in the plan are the kmeans broadcast-centroid
    assignment crosses (tiny build side, by design: one per Lloyd round
    plus the final assign)."""
    import re

    from yat_geo_db_spark.pipelines.similarity import semdedup_pairs

    n_iter = 2
    df = semdedup_pairs(_raw(spark, "embeddings"), k=8, n_iter=n_iter)
    plan = _plan(df)
    # the pair self-join is an equi-join on (cid, cid_r)
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\w* \[cid#\d+L?\], \[cid_r#\d+L?\]",
        plan,
    ), plan
    assert "CartesianProduct" not in plan
    # centroid-assignment crosses only: one per Lloyd round + final assign
    assert plan.count("BroadcastNestedLoopJoin") <= n_iter + 1, plan


def test_pagerank_per_iteration_cost_is_flat(spark):
    """PageRank's production shape, asserted two ways. (1) Structure: one
    iteration's lineage (checkpoint=False so the plan is visible) contains
    only hash shuffles — no range sort, no cartesian. (2) Runtime
    linearity: with the per-round checkpoint, each extra iteration adds a
    CONSTANT number of jobs (equi-join + groupBy(dst) + dangling broadcast
    + checkpoint materialization) — iteration k never re-executes
    iterations 1..k-1."""
    from yat_geo_db_spark.pipelines.graph import pagerank

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i, (i * 7) % 20) for i in range(60)], "src long, dst long"
    ).cache()
    edges.count()

    plan = _plan(pagerank(edges, n_iter=1, checkpoint=False))
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan

    def n_jobs(n_iter: int) -> int:
        group = f"pr_probe_{n_iter}"
        sc.setJobGroup(group, "plan-shape probe")
        try:
            pagerank(edges, n_iter=n_iter).write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    j1, j2, j3 = n_jobs(1), n_jobs(2), n_jobs(3)
    assert j2 - j1 == j3 - j2, (j1, j2, j3)
    edges.unpersist()


def test_token_budget_single_group_window(spark):
    """sample_to_token_budget: ONE shuffle (the per-source window's hash
    partitioning) plus the broadcast budgets join — no global sort."""
    from yat_geo_db_spark.pipelines.text import sample_to_token_budget

    df = sample_to_token_budget(
        _raw(spark, "documents"), {f"src{i}": 1000 for i in range(20)}
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # exactly one hash-partitioned shuffle feeds the window; allow AQE
    # wrappers but no second data shuffle and no global range sort
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_triangle_counts_no_cartesian(spark):
    """The wedge join must stay an equi-join on the apex (and the
    closing check an equi-join on the pair) — a CartesianProduct or
    BroadcastNestedLoopJoin here means the degree orientation fell out
    of the plan and the operator dies on any hub at scale."""
    from yat_geo_db_spark.pipelines.graph import triangle_counts

    edges = spark.range(200).selectExpr(
        "id AS src", "(id * 7 + 3) % 200 AS dst"
    )
    # persist=False: InMemoryTableScan would hide the join shapes
    plan = _plan(triangle_counts(edges, persist=False))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pca_power_project_is_one_codegen_projection(spark):
    """The oracle-exact projection must stay a single JVM projection
    over the scan: no Exchange (no shuffle), no ArrowEval/BatchEval
    (no Python in the hot path — the whole point of the zip_with +
    aggregate fold), components inlined as literals."""
    from yat_geo_db_spark.pipelines.similarity import pca_power_project
    from yat_geo_db_spark.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = pca_power_project(emb, [0.0] * 64, [[0.1] * 64, [0.2] * 64])
    plan = _plan(out)
    # the only exchange allowed is load_table's round-robin scan-
    # parallelism compensator — the projection itself must add none
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "RoundRobinPartitioning" in line, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        plan
    )
    assert "zip_with" in plan and "aggregate(" in plan, plan


def test_zorder_key_is_one_agg_plus_projection(spark):
    """zorder_key = one min/max aggregate broadcast back + a pure
    shift/mask projection: the per-row key math must add NO exchange
    beyond the 1-row stats aggregate, and no UDF (stays codegen'd)."""
    from yat_geo_db_spark.relational.layout import zorder_key
    from yat_geo_db_spark.testdata import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    plan = _plan(zorder_key(events, ["user_id", "value"], bits=8))
    # the only hash exchange allowed is the single-partition stats agg
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan, plan


def test_skew_report_topk_no_global_sort(spark):
    """The heavy-key selection must be TakeOrderedAndProject (partial
    per-partition top-k), never a full Sort+Exchange(range) of the key
    distribution."""
    from yat_geo_db_spark.relational.skew import skew_report
    from yat_geo_db_spark.testdata import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    plan = _plan(skew_report(orders, ["o_custkey"], top_k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_fuzzy_search_one_join_no_python_worker(spark, shapes):
    """The search pipeline joins the shapes once — the broadcast
    candidate top-k carries the `extra` record through dedupe, order and
    limit — and starts no Python worker: the distance payload is computed
    in the driver on the collected rows."""
    from yat_geo_db_spark.geo import fuzzy

    plan = _plan(fuzzy.fuzzy_search(shapes, "Nashville, TN", 10))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    joins = [l for l in plan.splitlines() if "Join" in l]
    assert len(joins) == 1, plan


def test_fuzzy_join_no_cartesian_probe_local_windows(spark):
    """fuzzy_join's candidate generation must stay an equi-join on the
    gram key with probe-LOCAL windows (partitionBy probe_id) — a
    cartesian/nested-loop or a global window here dies at the first
    real probe table."""
    from yat_geo_db_spark.geo import fuzzy
    from yat_geo_db_spark.geo.fixture import shapes_df
    from yat_geo_db_spark.testdata import register_views

    register_views(spark, "/root/testdata/sf0.001", tables=("customer",))
    shapes = shapes_df(spark)
    probes = shapes.limit(20).select(
        F.col("id").alias("probe_id"),
        F.col("value").alias("probe_value"),
    )
    plan = _plan(fuzzy.fuzzy_join(shapes, probes))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # every window partitions by the probe key — no global ordering
    import re
    for frag in re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "probe_id" in frag, plan


def test_bloom_pruned_join_filters_before_exchange(spark):
    """The bloom membership test must run as a plain Filter on the large
    side's scan stage — BEFORE its Exchange — so non-matching fact rows
    never shuffle. The filter is recognizable by the bitmap
    element_at/shiftleft expressions."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.relational.skew import bloom_pruned_join
    from yat_geo_db_spark.testdata import load_table

    lineitem = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    keys = (
        load_table(spark, "/root/testdata/sf0.001", "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    plan = _plan(bloom_pruned_join(lineitem, keys, "l_orderkey"))
    assert "shiftleft" in plan, plan
    # the filter must appear upstream of (textually before, in Spark's
    # child-last tree print: deeper = later lines) — assert it's attached
    # to the lineitem scan side by checking a Filter with shiftleft exists
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_sorted_neighborhood_equi_join_no_single_partition(spark):
    """SNM candidates must come from an equi-join on the rank key (no
    cartesian/BNLJ), and the global rank must be built from a RANGE
    repartition + partition-local window — a SinglePartition exchange
    may only ever carry global_rank's per-partition COUNT table
    (≤ n_parts rows — the r14 offsets window, which replaced the
    driver collect()), never document data: every SinglePartition
    exchange's direct child must be the _pid-keyed count aggregate."""
    from yat_geo_db_spark.pipelines.dedup import sorted_neighborhood_pairs
    from yat_geo_db_spark.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = _plan(sorted_neighborhood_pairs(docs, n_parts=8, checkpoint=False))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "rangepartitioning" in plan, plan
    lines = plan.splitlines()
    singles = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert singles, "offsets window missing from the plan"
    for i in singles:
        child = lines[i + 1] if i + 1 < len(lines) else ""
        assert "HashAggregate(keys=[_pid" in child and "count(1)" in child, (
            "SinglePartition exchange over something other than the "
            "bounded offsets count table:\n" + "\n".join(lines[i - 2: i + 3])
        )


def test_pmi_candidates_equi_join_on_doc(spark):
    """PMI pair generation must be an equi self-join on doc_id with the
    DF-filtered vocabulary broadcast — no cartesian anywhere."""
    from yat_geo_db_spark.pipelines.text import pmi_cooccurrence
    from yat_geo_db_spark.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = _plan(pmi_cooccurrence(docs, max_df_frac=0.95))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_lookup_single_exchange_no_range_join(spark):
    """The point-in-time lookup must ride the as-of union+window plan:
    ONE hash exchange on the key, no BroadcastNestedLoop/cartesian
    range join against the interval table."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.relational.temporal import (
        scd2_intervals,
        scd2_lookup_join,
    )
    from yat_geo_db_spark.testdata import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    dim = scd2_intervals(events)
    facts = events.select(
        "event_id", "user_id",
        (F.col("ts") + F.expr("INTERVAL 7 MINUTES")).alias("ts"),
    )
    out = scd2_lookup_join(facts, dim, ["user_id"], payload=("event_type",))
    plan = _plan(out).split("== Initial Plan ==")[0]
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_dau_mau_no_range_self_join(spark):
    """The trailing-window distinct must come from the bounded pair
    spread (explode + hash agg), never a range self-join of the event
    log."""
    from yat_geo_db_spark.relational.queries import dau_mau_stickiness
    from yat_geo_db_spark.testdata import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    plan = _plan(dau_mau_stickiness(events))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "Generate explode" in plan, plan
    # the explode's DIRECT child must be the distinct (day, user)
    # aggregate — spreading raw events would be O(events × window)
    # instead of O(daily-distinct pairs × window); a refactor that
    # detaches the .distinct() must fail here, not in a 100 TB run
    lines = plan.splitlines()
    gen_idx = next(
        i for i, ln in enumerate(lines) if "Generate explode" in ln
    )
    child = lines[gen_idx + 1]
    assert "HashAggregate" in child, plan
    assert "functions=[]" in child, plan  # a DISTINCT, not some other agg
    assert "day" in child and "u#" in child, plan
