"""Structured Streaming: the same window transformations run on a file
stream with Trigger.AvailableNow and must agree with their batch twins
(unified model). State/watermark wiring is exercised for tumbling and
session windows."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from yat_geo_db_spark.streaming.windows import (
    batch_sessionize,
    events_stream,
    session_windows,
    tumbling_counts,
)
from yat_geo_db_spark.testdata import load_table

SF = "/root/testdata/sf0.001"


def _gen_dirs(root: str) -> list[str]:
    """Basenames of the compacted-generation dirs under a sink root.
    Generation dirs carry a unique per-run suffix
    (``_compacted_g<gen>-<token>``), so tests assert on the
    ``_compacted_g<gen>-`` prefix instead of exact names."""
    import glob
    import os

    return sorted(
        os.path.basename(d) for d in glob.glob(f"{root}/_compacted_g*")
    )


def _assert_single_gen(root: str, gen: int) -> str:
    dirs = _gen_dirs(root)
    assert len(dirs) == 1 and dirs[0].startswith(f"_compacted_g{gen}-"), dirs
    return dirs[0]


def _events_source(spark, tmp_path):
    events = load_table(spark, SF, "events")
    src = str(tmp_path / "events_src")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    return events, events_stream(spark, src, schema)


def _run_stream(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return name


def test_tumbling_stream_matches_batch(spark, tmp_path):
    events, stream = _events_source(spark, tmp_path)
    name = _run_stream(tumbling_counts(stream), "tumbling_test")
    got = spark.sql(f"SELECT window_start, event_type, n FROM {name}")
    want = tumbling_counts(events).select("window_start", "event_type", "n")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_stateful_running_totals(spark, tmp_path):
    import pyspark.sql.functions as F

    from yat_geo_db_spark.streaming.stateful import running_user_totals

    events, stream = _events_source(spark, tmp_path)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # one micro-batch ⇒ the latest update row per user == the batch totals
    got = {
        r["user_id"]: r
        for r in spark.sql("SELECT * FROM stateful_test").collect()
    }
    want = {
        r["user_id"]: r
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert got.keys() == want.keys()
    for uid, w in want.items():
        assert got[uid]["n_events"] == w["n"]
        assert got[uid]["total_value"] == pytest.approx(w["v"], rel=1e-9)
        assert got[uid]["closed"] is False


def test_session_stream_total_events_conserved(spark, tmp_path):
    events, stream = _events_source(spark, tmp_path)
    name = _run_stream(session_windows(stream, gap="15 minutes"), "session_test")
    got = spark.sql(f"SELECT * FROM {name}")
    assert got.agg(F.sum("n_events")).first()[0] == events.count()
    # batch sessionizer (window-function twin) conserves events too
    batch = batch_sessionize(events, gap_minutes=15)
    assert batch.agg(F.sum("n_events")).first()[0] == events.count()


def test_interval_join_stream_matches_batch(spark, tmp_path):
    from yat_geo_db_spark.streaming.joins import click_view_interval_join

    events, stream = _events_source(spark, tmp_path)

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "view"),
        )

    joined = click_view_interval_join(*split(stream))
    # stream-stream joins emit append-only results (no result rewrite)
    q = (
        joined.writeStream.format("memory")
        .queryName("interval_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, click_id, view_id FROM interval_join_test"
    )
    want = click_view_interval_join(*split(events)).select(
        "user_id", "click_id", "view_id"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_streaming_exact_dedup_bounded_state(spark, tmp_path):
    from yat_geo_db_spark.pipelines.dedup import streaming_exact_dedup

    events = load_table(spark, SF, "events")
    # duplicate the whole feed: every event_id arrives twice
    doubled = events.unionByName(events)
    src = str(tmp_path / "dup_events_src")
    doubled.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = events_stream(spark, src, schema)

    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_stream_test")
    assert got.count() == events.count()          # one row per key
    assert got.distinct().count() == got.count()  # and no key twice


def test_foreachbatch_sink_idempotent(spark, tmp_path):
    from yat_geo_db_spark.streaming.sinks import (
        batch_partitioned_parquet_sink,
        read_sink,
    )

    events, stream = _events_source(spark, tmp_path)
    target = str(tmp_path / "sink_target")
    ckpt = str(tmp_path / "sink_ckpt")

    def run():
        q = (
            stream.writeStream.foreachBatch(batch_partitioned_parquet_sink(target))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = read_sink(spark, target).count()
    assert first == events.count()
    # same checkpoint, no new input → replay writes nothing new and the
    # batch_id=N overwrite layout cannot duplicate what exists
    run()
    assert read_sink(spark, target).count() == first


def test_quality_signals_stream_matches_batch(spark, tmp_path):
    """The per-doc curation signals are stateless Column pipelines, so the
    SAME operator runs on a document stream (append mode, no state) — the
    streaming half of the corpus-curation story: score docs as they land,
    filter on the scores, leave only dedup to the batch compactor."""
    from yat_geo_db_spark.pipelines.text import quality_features

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "docs_src")
    docs.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        quality_features(stream)
        .writeStream.format("memory")
        .queryName("quality_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM quality_stream")
    want = quality_features(docs)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 500


def test_stream_decontamination_matches_batch(spark, tmp_path):
    """Cross-corpus near-dup filtering on a document stream: the static
    corpus band index joins against each micro-batch inside foreachBatch
    (the anti-join needs batch semantics per batch; banding is stateless).
    Survivors must equal the batch operator's output."""
    from yat_geo_db_spark.pipelines.dedup import band_table, near_dup_filter

    docs = load_table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") < 250)
    incoming = docs.filter(F.col("doc_id") >= 250)
    corpus_bands = band_table(corpus).persist()

    src = str(tmp_path / "incoming_src")
    out = str(tmp_path / "kept_out")
    # two files → at least two micro-batches worth of input available
    incoming.repartition(2).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    def apply_filter(batch_df, batch_id):
        near_dup_filter(batch_df, corpus_bands).select("doc_id").write.mode(
            "append"
        ).parquet(out)

    q = (
        stream.writeStream.foreachBatch(apply_filter)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    want = sorted(
        r["doc_id"]
        for r in near_dup_filter(incoming, corpus_bands).select("doc_id").collect()
    )
    assert got == want
    assert len(got) > 0
    corpus_bands.unpersist()


def test_streaming_decontamination_matches_batch(spark, tmp_path):
    """foreachBatch decontamination: documents streamed from files, filtered
    per micro-batch against a static corpus band index, written to the
    idempotent batch-partitioned sink — surviving doc set must equal the
    batch near_dup_filter run on the same inputs (unified model)."""
    from yat_geo_db_spark.pipelines.dedup import band_table, near_dup_filter
    from yat_geo_db_spark.streaming.sinks import decontaminating_sink, read_sink

    docs = load_table(spark, SF, "documents")
    # reference corpus = half the docs; incoming stream = all docs (so some
    # incoming docs near-duplicate the corpus and must be dropped)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    bands = band_table(corpus).persist()
    bands.count()

    src = str(tmp_path / "docs_src")
    docs.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    target = str(tmp_path / "decontaminated")
    q = (
        stream.writeStream.foreachBatch(decontaminating_sink(bands, target))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(r["doc_id"] for r in read_sink(spark, target).collect())
    want = sorted(
        r["doc_id"] for r in near_dup_filter(docs, bands).collect()
    )
    assert got == want
    assert 0 < len(got) < docs.count()  # some dropped, some survive


def test_streaming_exact_decontamination_matches_batch(spark, tmp_path):
    """foreachBatch exact 13-gram decontamination: the streamed surviving
    doc set equals the batch exact_ngram_decontaminate on the same inputs
    (unified model), with real drops."""
    from yat_geo_db_spark.pipelines.dedup import exact_ngram_decontaminate
    from yat_geo_db_spark.streaming.sinks import (
        exact_decontaminating_sink, read_sink,
    )

    docs = load_table(spark, SF, "documents")
    bench = docs.filter(F.col("doc_id") < 250).persist()
    bench.count()

    src = str(tmp_path / "docs_src")
    docs.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    target = str(tmp_path / "exact_decon")
    q = (
        stream.writeStream.foreachBatch(
            exact_decontaminating_sink(bench, target)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(r["doc_id"] for r in read_sink(spark, target).collect())
    want = sorted(
        r["doc_id"]
        for r in exact_ngram_decontaminate(docs, bench).collect()
    )
    assert got == want
    assert 0 < len(got) < docs.count()
    bench.unpersist()


def test_stream_incremental_merge_grows_corpus(spark, tmp_path):
    """The CONTINUOUS-corpus story end-to-end: a stream of crawl batches
    folds into a growing deduped corpus via incremental_corpus_merge
    inside foreachBatch, each micro-batch merging against the corpus
    version the previous batch produced. The final corpus must equal a
    batch-mode sequential merge of the same batches (order of the two
    micro-batches is decided by the file source, so either order is
    accepted; both are computed)."""
    from yat_geo_db_spark.pipelines.dedup import incremental_corpus_merge

    docs = load_table(spark, SF, "documents")
    corpus0 = docs.filter(F.col("doc_id") < 200)
    b1 = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 350))
    b2 = docs.filter(F.col("doc_id") >= 350)

    def merge_ids(corpus_df, batch_df):
        kept = incremental_corpus_merge(corpus_df, batch_df).select("doc_id")
        return docs.join(kept, "doc_id", "left_semi")

    def ids(df):
        return {r["doc_id"] for r in df.select("doc_id").collect()}

    exp_12 = ids(merge_ids(merge_ids(corpus0, b1), b2))
    exp_21 = ids(merge_ids(merge_ids(corpus0, b2), b1))

    root = str(tmp_path / "corpus")
    v0 = f"{root}/v0"
    corpus0.write.parquet(v0)
    state = {"path": v0}

    src = str(tmp_path / "batches_src")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def apply(batch_df, batch_id):
        cur = spark.read.parquet(state["path"])
        nxt = f"{root}/v{batch_id + 1}"
        incremental_corpus_merge(cur, batch_df).drop("is_new").write.parquet(
            nxt
        )
        state["path"] = nxt

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = ids(spark.read.parquet(state["path"]))
    assert got in (exp_12, exp_21)
    # the stream really deduped: some batch docs were dropped, corpus grew
    assert ids(corpus0) < got
    assert len(got) < docs.count()


def test_pii_scrub_stream_matches_batch(spark, tmp_path):
    """The PII scrub is a stateless projection, so the SAME operator runs
    unchanged on a document stream (append mode, no state) — scrub docs
    as they land, before anything downstream persists raw text."""
    from yat_geo_db_spark.pipelines.text import pii_scrub

    docs = load_table(spark, SF, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" mail user"), F.col("doc_id").cast("string"),
            F.lit("@ex.org"),
        ).alias("text"),
    )
    src = str(tmp_path / "pii_src")
    docs.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        pii_scrub(stream)
        .writeStream.format("memory")
        .queryName("pii_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM pii_stream")
    want = pii_scrub(docs)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 500


def test_streaming_ann_index_append_matches_batch(spark, tmp_path):
    """foreachBatch ANN maintenance: build an IVF-PQ index on a base
    slice, stream the held-out vectors through ann_index_append_sink,
    and the index must equal a frozen-codebook encode of the union; a
    second pass over the same files (fresh checkpoint = full replay)
    must append nothing thanks to skip_existing."""
    from yat_geo_db_spark.pipelines.similarity import (
        ivfpq_encode, write_ivfpq_index,
    )
    from yat_geo_db_spark.streaming.sinks import ann_index_append_sink

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)

    root = str(tmp_path / "ivfpq")
    write_ivfpq_index(base, root, n_cells=4, m=4, ksub=8, n_iter=2)

    src = str(tmp_path / "vec_src")
    new.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(ann_index_append_sink(root, m=4))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_stream("ckpt1")

    cents = spark.read.parquet(f"{root}/centroids")
    books = spark.read.parquet(f"{root}/codebooks")
    got = {
        r["vec_id"]: (r["cid"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{root}/codes").collect()
    }
    want = {
        r["vec_id"]: (r["cid"], tuple(r["codes"]))
        for r in ivfpq_encode(emb, cents, books, m=4).collect()
    }
    assert got == want

    # full replay (fresh checkpoint): skip_existing makes it a no-op
    run_stream("ckpt2")
    n_after = spark.read.parquet(f"{root}/codes").count()
    assert n_after == len(want)


def test_streaming_rollup_maintenance_equals_batch(spark, tmp_path):
    """rollup_maintenance_sink: stream the orders table file-by-file,
    fold the per-batch states with read_rollup — the result must equal
    a one-shot batch aggregation BIT-FOR-BIT (associative fixed-point
    state). A full replay (fresh checkpoint) must change nothing
    (overwrite-by-batch_id), and compact_rollup must preserve the
    merged value while folding the state dirs down to one."""
    import glob

    from yat_geo_db_spark.relational.merge import partial_aggregate
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    orders = load_table(spark, SF, "orders")
    src = str(tmp_path / "orders_src")
    # several input files -> several micro-batches with maxFilesPerTrigger
    orders.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    src_df = spark.read.parquet(src)

    kw = dict(
        key_cols=["o_orderpriority"],
        sum_cols=["o_totalprice"],
        min_cols=["o_orderdate"],
        max_cols=["o_orderdate"],
        scale=2,
    )
    root = str(tmp_path / "rollup")

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(rollup_maintenance_sink(root, **kw))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_stream("ckpt1")
    n_state_dirs = len(glob.glob(f"{root}/batch_id=*"))
    assert n_state_dirs >= 2, "expected multiple micro-batch states"

    def snap(frame):
        return sorted(map(tuple, frame.collect()))

    want = snap(partial_aggregate(src_df, **kw))
    assert snap(read_rollup(spark, root, **kw)) == want

    # replay everything on a fresh checkpoint: batch_id dirs are
    # overwritten in place, the merged value is unchanged
    run_stream("ckpt2")
    assert snap(read_rollup(spark, root, **kw)) == want

    # compaction folds the state into the generation-1 dir, deletes
    # every batch dir, and preserves the value
    compact_rollup(spark, root, **kw)
    assert glob.glob(f"{root}/batch_id=*") == []
    _assert_single_gen(root, 1)
    assert snap(read_rollup(spark, root, **kw)) == want

    # replay AFTER compaction: the _compacted_through marker makes
    # already-folded batches no-op instead of double-counting (their
    # rows live in the compacted generation and recreating their dirs
    # would add them twice)
    run_stream("ckpt3")
    assert glob.glob(f"{root}/batch_id=*") == []
    assert snap(read_rollup(spark, root, **kw)) == want

    # a second compaction of an already-compacted root is a no-op
    # (no batch dirs to fold — the generation stays put)
    compact_rollup(spark, root, **kw)
    _assert_single_gen(root, 1)
    assert snap(read_rollup(spark, root, **kw)) == want


def test_compact_rollup_crash_windows_no_double_count(
    spark, tmp_path, monkeypatch
):
    """The compaction marker is the single commit point. Simulated
    crashes on either side of it must never double-count: (a) a crash
    BEFORE the marker commit leaves readers on the old view (the
    orphan generation dir is invisible) and a rerun folds cleanly;
    (b) a crash AFTER the commit but BEFORE the folded dirs are
    deleted leaves readers excluding the pending dirs (their content
    lives in the committed generation) and a rerun resumes the
    deletes; (c) a replayed already-folded batch is a no-op."""
    import glob

    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    b0 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    b1 = spark.createDataFrame([("a", 10.0)], "k string, v double")
    b2 = spark.createDataFrame([("b", 5.0)], "k string, v double")
    sink(b0, 0)
    sink(b1, 1)

    def snap():
        return sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    want = snap()

    # (a) crash at the commit: the exclusive marker create blows up
    # AFTER the new generation dir has been written
    real_commit = sinks._commit_marker_exclusive

    def crash_on_commit(*a, **kwargs):
        raise RuntimeError("injected crash before marker commit")

    monkeypatch.setattr(sinks, "_commit_marker_exclusive", crash_on_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_rollup(spark, root, **kw)
    monkeypatch.setattr(sinks, "_commit_marker_exclusive", real_commit)
    # orphan generation exists but is uncommitted: readers still fold
    # the live batch dirs — same value, no double count
    _assert_single_gen(root, 1)
    assert glob.glob(f"{root}/batch_id=*") != []
    assert snap() == want

    # rerun to completion: a fresh generation dir is committed; the
    # crashed run's orphan is SPARED by the sweep's grace period (it
    # could belong to a live concurrent compactor) and reclaimed once
    # aged — modeled by a zero-grace sweep
    compact_rollup(spark, root, **kw)
    assert glob.glob(f"{root}/batch_id=*") == []
    assert snap() == want
    assert len(_gen_dirs(root)) == 2  # committed + young orphan
    sinks._sweep_orphan_generations(spark, root, grace_ms=0)
    _assert_single_gen(root, 1)
    assert snap() == want

    # (b) crash after the commit, before cleanup: deletes blow up
    sink(b2, 2)
    want2 = snap()

    def crash_on_delete(spark_, path, recursive=True):
        raise RuntimeError("injected crash before cleanup")

    monkeypatch.setattr(sinks.fsio, "delete", crash_on_delete)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_rollup(spark, root, **kw)
    monkeypatch.undo()
    # gen 2 is committed; the folded dirs are still on disk but the
    # marker's pending list excludes them from reads — no double count
    assert glob.glob(f"{root}/batch_id=*") != []
    assert any(d.startswith("_compacted_g1-") for d in _gen_dirs(root))
    assert snap() == want2

    # the crash also left the dead holder's LEASE behind: a rerun
    # inside the lease window refuses loudly (it cannot tell a dead
    # holder from a stalled one) ...
    with pytest.raises(RuntimeError, match="holds the lease"):
        compact_rollup(spark, root, **kw)
    assert snap() == want2
    # ... until the operator breaks it (or it ages past lease_ms);
    # the rerun then resumes the crashed cleanup, with nothing to fold
    compact_rollup(spark, root, lease_ms=0, **kw)
    assert glob.glob(f"{root}/batch_id=*") == []
    _assert_single_gen(root, 2)
    assert snap() == want2

    # (c) replay of an already-folded batch id: no-op (no dir reborn)
    sink(b1, 1)
    assert glob.glob(f"{root}/batch_id=*") == []
    assert snap() == want2
    # a genuinely new batch still lands
    sink(b1, 3)
    assert glob.glob(f"{root}/batch_id=*") == [f"{root}/batch_id=3"]


def test_rollup_marker_legacy_and_corrupt(spark, tmp_path):
    """Marker compatibility: a legacy single-int marker still gates
    replay (and a legacy batch_id=-1 compacted dir still folds); a
    corrupt marker RAISES instead of being read as 'never compacted'
    (silent -1 would let a replayed folded batch double-count)."""
    from yat_geo_db_spark.streaming.sinks import (
        _read_marker, compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "legacy")
    b0 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    b1 = spark.createDataFrame([("a", 4.0)], "k string, v double")
    sink = rollup_maintenance_sink(root, **kw)
    sink(b0, 0)

    def snap():
        return sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    want = snap()
    # fake the OLD layout: state folded into batch_id=-1 through id 0,
    # marker is the legacy bare int
    import shutil

    shutil.move(f"{root}/batch_id=0", f"{root}/batch_id=-1")
    with open(f"{root}/_compacted_through", "w") as fh:
        fh.write("0")
    assert _read_marker(spark, root) == (0, 0, [], "_compacted_g0")
    assert snap() == want
    sink(b0, 0)  # replay of folded batch: gated by the legacy marker
    assert snap() == want
    sink(b1, 1)  # new batch lands
    want2 = snap()
    # compaction migrates the legacy dir into generation 1
    compact_rollup(spark, root, **kw)
    import glob

    assert glob.glob(f"{root}/batch_id=*") == []
    _assert_single_gen(root, 1)
    assert snap() == want2

    # corrupt marker CONTENT: loud failure, not silent -1 (written via
    # fsio so the checksum is valid and the parse is what's exercised).
    # The live pointer is now the VERSIONED gen-1 marker — corrupt
    # that; and a resurrected STALE legacy file must stay invisible
    # while any versioned marker exists (versioned discovery wins).
    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming.sinks import _marker_name

    committed = _read_marker(spark, root)
    fsio.write_text_atomic(
        spark, f"{root}/_compacted_through", "0"
    )
    assert _read_marker(spark, root) == committed  # legacy ignored
    fsio.write_text_atomic(
        spark, f"{root}/{_marker_name(1)}", "through=oops\ngen=1\npending="
    )
    with pytest.raises(ValueError, match="corrupt compaction marker"):
        _read_marker(spark, root)


def test_watermarked_dedup_drops_in_horizon_duplicates(spark, tmp_path):
    """watermarked_dedup: a stream carrying every event twice (same id,
    same event time — the producer-retry shape) must emit each id once;
    the surviving rows equal the batch dropDuplicates twin."""
    from yat_geo_db_spark.streaming.windows import watermarked_dedup

    events = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    doubled = events.unionByName(events)
    src = str(tmp_path / "dup_src")
    doubled.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    q = (
        watermarked_dedup(
            spark.readStream.schema(schema).parquet(src),
            ["event_id"], ts_col="ts", delay="30 days",
        )
        .writeStream.format("memory")
        .queryName("wm_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id, ts, user_id, value FROM wm_dedup")
    want = events.dropDuplicates(["event_id"])
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.count() == events.count()


def test_streaming_multimodal_features_equal_batch(spark, tmp_path):
    """The Arrow-batched multimodal feature extractor is stateless, so
    it must run unchanged on a stream (unified batch/stream model) and
    emit exactly the batch result — the streaming half of the media
    ingest path."""
    from yat_geo_db_spark.pipelines import multimodal

    docs = load_table(spark, SF, "documents").limit(200)
    media = multimodal.synthesize_media(docs)
    src = str(tmp_path / "media_src")
    media.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    q = (
        multimodal.extract_features(
            spark.readStream.schema(schema).parquet(src)
        )
        .writeStream.format("memory")
        .queryName("mm_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM mm_stream")
    want = multimodal.extract_features(spark.read.parquet(src))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.count() == 200


def test_streaming_heavy_hitters_bounds_and_replay(spark, tmp_path):
    """heavy_hitter_sink: stream events file-by-file; the merged CMS
    must respect exact <= est <= exact + eps*N for every event type,
    equal the one-shot whole-table sketch (commutative counters), and
    a full replay on a fresh checkpoint must change nothing."""
    import glob

    from yat_geo_db_spark.streaming.sinks import (
        heavy_hitter_sink,
        read_heavy_hitters,
    )

    events = load_table(spark, SF, "events").select("event_id", "event_type")
    src = str(tmp_path / "hh_src")
    events.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    root = str(tmp_path / "hh")
    eps = 0.001

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                heavy_hitter_sink(root, "event_type", eps=eps)
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_stream("ckpt1")
    assert len(glob.glob(f"{root}/batch_id=*")) >= 2

    got = {
        r["key"]: r["approx_count"]
        for r in read_heavy_hitters(spark, root).collect()
    }
    src_df = spark.read.parquet(src)
    exact = {
        r["event_type"]: r["n"]
        for r in src_df.groupBy("event_type").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    n_total = src_df.count()
    assert set(got) == set(exact)
    for k, est in got.items():
        assert exact[k] <= est <= exact[k] + eps * n_total

    # merge-of-batches == one-shot sketch of the whole table
    jvm = spark._jvm
    import pyspark.sql.functions as F
    blob = bytes(
        src_df.groupBy()
        .agg(
            F.expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").alias(
                "sk"
            )
        )
        .collect()[0]["sk"]
    )
    whole = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(blob)
    for k in exact:
        assert got[k] == int(whole.estimateCount(k))

    # replay: overwrite-by-batch_id keeps the merged view identical
    run_stream("ckpt2")
    got2 = {
        r["key"]: r["approx_count"]
        for r in read_heavy_hitters(spark, root).collect()
    }
    assert got2 == got


def test_streaming_histogram_quantiles_equal_batch(spark, tmp_path):
    """histogram_rollup_sink: streaming per-batch histogram states,
    folded on read, must produce EXACTLY the quantile estimates of the
    one-shot batch histogram (integer bin adds are associative); a
    full replay must change nothing."""
    from yat_geo_db_spark.relational.merge import (
        histogram_state,
        quantile_from_histogram,
    )
    from yat_geo_db_spark.streaming.sinks import (
        histogram_rollup_sink,
        read_histogram_quantiles,
    )

    lo, hi, bins, qs = 0.0, 1000.0, 64, [0.5, 0.95]
    events = load_table(spark, SF, "events").select("event_type", "value")
    src = str(tmp_path / "hist_src")
    events.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    root = str(tmp_path / "hist")

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                histogram_rollup_sink(
                    root, ["event_type"], "value", lo, hi, bins
                )
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_stream("ckpt1")
    got = sorted(
        map(
            tuple,
            read_histogram_quantiles(
                spark, root, ["event_type"], qs, lo, hi, bins
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            quantile_from_histogram(
                histogram_state(
                    spark.read.parquet(src), ["event_type"], "value",
                    lo, hi, bins,
                ),
                ["event_type"], qs, lo, hi, bins,
            ).collect(),
        )
    )
    assert got == want and got

    run_stream("ckpt2")
    again = sorted(
        map(
            tuple,
            read_histogram_quantiles(
                spark, root, ["event_type"], qs, lo, hi, bins
            ).collect(),
        )
    )
    assert again == got


def test_heavy_hitter_sink_integer_keys(spark, tmp_path):
    """Review regression: an INTEGER key column must still estimate
    correctly — the sketch adds string-cast keys to match the reader's
    string probes (an addLong/string-probe split returns ~0 for every
    key). The sink callable is exercised directly (no stream needed)."""
    from yat_geo_db_spark.streaming.sinks import (
        heavy_hitter_sink,
        read_heavy_hitters,
    )

    root = str(tmp_path / "hh_int")
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(300)], "event_id long, code int"
    )
    sink = heavy_hitter_sink(root, "code")
    sink(df, 0)
    got = {
        r["key"]: r["approx_count"]
        for r in read_heavy_hitters(spark, root).collect()
    }
    assert got == {"0": 100, "1": 100, "2": 100}


def test_streaming_transition_counts_match_batch(spark, tmp_path):
    """streaming_transition_counts folded over a time-range-split
    stream must equal the batch event_transitions counts — including
    the CROSS-BATCH edges the per-user state exists to keep."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.relational.queries import event_transitions
    from yat_geo_db_spark.streaming.stateful import (
        streaming_transition_counts,
    )

    events = load_table(spark, SF, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    src = str(tmp_path / "tr_src")
    # time-range-split files written SEQUENTIALLY with distinct mtimes:
    # FileStreamSource orders equal-mtime files unpredictably, so a
    # single range-partitioned write can stream a later time range
    # first and (correctly) trip the operator's ordering guard
    import time

    from pyspark.sql import Window

    ranked = events.withColumn(
        "_b",
        F.ntile(3).over(Window.orderBy("ts", "event_id")),
    )
    for b in (1, 2, 3):
        ranked.where(F.col("_b") == b).drop("_b").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.2)
    schema = spark.read.parquet(src).schema

    q = (
        streaming_transition_counts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        .writeStream.format("memory")
        .queryName("tr_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["cur_type"], r["next_type"]): r["total"]
        for r in spark.sql(
            "SELECT cur_type, next_type, sum(n) AS total FROM tr_counts "
            "GROUP BY 1, 2"
        ).collect()
    }
    want = {
        (r["cur_type"], r["next_type"]): r["n"]
        for r in event_transitions(events).collect()
    }
    assert got == want and want


def test_versioned_enrichment_sink_picks_up_dim_refresh(spark, tmp_path):
    """Rows streamed BEFORE a dimension refresh carry the old version's
    payload; rows streamed after carry the new one — the committed
    _latest marker decides per micro-batch."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.relational.layout import versioned_write
    from yat_geo_db_spark.streaming.sinks import (
        read_sink,
        versioned_enrichment_sink,
    )

    dim_root = str(tmp_path / "dim")
    versioned_write(
        spark.createDataFrame([(1, "old")], "k long, tag string"), dim_root
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "enriched")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, k long"
    sink = versioned_enrichment_sink(dim_root, ["k"], target, ["tag"])

    def run(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            spark.readStream.schema(
                spark.read.parquet(src).schema
            )
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run([(100, 1)])
    versioned_write(
        spark.createDataFrame([(1, "new")], "k long, tag string"), dim_root
    )
    run([(200, 1)])

    got = {
        r["event_id"]: r["tag"] for r in read_sink(spark, target).collect()
    }
    assert got == {100: "old", 200: "new"}


def test_compact_rollup_skips_in_flight_batch_dirs(spark, tmp_path):
    """A batch dir that exists but has not committed (_SUCCESS absent —
    a foreachBatch write still in flight) must not fold, and nothing
    ABOVE it may fold either (through is a single watermark); both fold
    on the next run once complete. Readers likewise skip it."""
    import glob
    import os

    from yat_geo_db_spark.streaming.sinks import (
        _read_marker, compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    sink(spark.createDataFrame([("b", 2.0)], "k string, v double"), 1)
    # batch 3 lands COMPLETE while batch 2 is still in flight
    sink(spark.createDataFrame([("a", 8.0)], "k string, v double"), 3)
    os.makedirs(f"{root}/batch_id=2/_temporary")

    def snap():
        return sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    want_visible = snap()  # folds 0, 1, 3 — not the in-flight 2

    compact_rollup(spark, root, **kw)
    # only 0 and 1 folded: through stops below the in-flight id
    assert _read_marker(spark, root)[0] == 1
    left = sorted(os.path.basename(d) for d in glob.glob(f"{root}/batch_id=*"))
    assert left == ["batch_id=2", "batch_id=3"]
    assert snap() == want_visible

    # the in-flight batch completes (replay path writes it for real)
    sink(spark.createDataFrame([("b", 5.0)], "k string, v double"), 2)
    want_all = snap()
    compact_rollup(spark, root, **kw)
    assert _read_marker(spark, root)[0] == 3
    assert glob.glob(f"{root}/batch_id=*") == []
    assert snap() == want_all


def test_rollup_reader_retries_on_marker_movement(spark, tmp_path, monkeypatch):
    """_rollup_state_paths must take a marker-list-marker snapshot: if
    the marker moves between the two reads (a concurrent compaction
    committed), it retries with the NEW marker instead of pairing the
    old generation number with the new directory contents."""
    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double"), 0)
    want = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    real_read = sinks._read_marker
    calls = {"n": 0}

    def racy_read(spark_, root_):
        calls["n"] += 1
        if calls["n"] == 2:
            # compaction commits BETWEEN the reader's first marker read
            # and its post-listing confirmation read
            compact_rollup(spark_, root_, **kw)
        return real_read(spark_, root_)

    monkeypatch.setattr(sinks, "_read_marker", racy_read)
    got = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))
    monkeypatch.undo()
    assert got == want
    assert calls["n"] >= 3  # first snapshot rejected, retried


def test_compact_heavy_hitters_preserves_estimates(spark, tmp_path):
    """CMS compaction: folding batch sketches into one generation blob
    preserves every estimate bit-for-bit (counter adds commute), the
    batch dirs disappear, replay of a folded batch is a no-op, and the
    sink keeps appending afterwards."""
    import glob

    from yat_geo_db_spark.streaming.sinks import (
        compact_heavy_hitters, heavy_hitter_sink, read_heavy_hitters,
    )

    root = str(tmp_path / "hh")
    sink = heavy_hitter_sink(root, "k", eps=0.01)
    b0 = spark.createDataFrame([("a",)] * 5 + [("b",)] * 2, "k string")
    b1 = spark.createDataFrame([("a",)] * 3 + [("c",)] * 7, "k string")
    sink(b0, 0)
    sink(b1, 1)

    def snap():
        return sorted(
            map(tuple, read_heavy_hitters(spark, root).collect())
        )

    want = snap()
    assert dict(want)["c"] >= 7  # sanity: estimates are real counts+

    compact_heavy_hitters(spark, root)
    assert glob.glob(f"{root}/batch_id=*") == []
    _assert_single_gen(root, 1)
    assert snap() == want

    sink(b1, 1)  # replay of a folded batch: gated, no double count
    assert glob.glob(f"{root}/batch_id=*") == []
    assert snap() == want

    sink(b1, 2)  # genuinely new batch still lands and reads merged
    got = dict(snap())
    assert got["c"] >= 14
    # second compaction folds the new batch into generation 2
    compact_heavy_hitters(spark, root)
    _assert_single_gen(root, 2)
    assert dict(snap()) == got


def test_compact_histogram_rollup_preserves_quantiles(spark, tmp_path):
    """Histogram compaction: integer bin counts add exactly, so the
    folded generation yields identical quantiles; replay of folded
    batches is a no-op."""
    import glob

    from yat_geo_db_spark.streaming.sinks import (
        compact_histogram_rollup, histogram_rollup_sink,
        read_histogram_quantiles,
    )

    kw = dict(key_cols=["g"], value_col="v", lo=0.0, hi=100.0, n_bins=50)
    root = str(tmp_path / "hist")
    sink = histogram_rollup_sink(root, **kw)
    rows0 = [("x", float(v)) for v in range(0, 60)]
    rows1 = [("x", float(v)) for v in range(40, 100)] + [("y", 5.0)]
    sink(spark.createDataFrame(rows0, "g string, v double"), 0)
    sink(spark.createDataFrame(rows1, "g string, v double"), 1)

    def snap():
        return sorted(
            map(
                tuple,
                read_histogram_quantiles(
                    spark, root, ["g"], [0.5, 0.9],
                    lo=0.0, hi=100.0, n_bins=50,
                ).collect(),
            )
        )

    want = snap()
    compact_histogram_rollup(spark, root, ["g"])
    assert glob.glob(f"{root}/batch_id=*") == []
    assert snap() == want
    sink(spark.createDataFrame(rows1, "g string, v double"), 1)  # replay
    assert glob.glob(f"{root}/batch_id=*") == []
    assert snap() == want


def test_sink_replay_losing_race_to_compaction_self_deletes(
    spark, tmp_path, monkeypatch
):
    """TOCTOU closure: a replayed batch whose marker gate passed BEFORE
    a concurrent compaction committed must not double-count — its
    post-write re-check self-deletes the recreated dir, and in the
    window before that delete, readers and the next compaction both
    ignore dirs at or below `through`."""
    import glob

    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        batch_partitioned_parquet_sink, compact_rollup, read_rollup,
        rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    b0 = spark.createDataFrame([("a", 1.0)], "k string, v double")
    b1 = spark.createDataFrame([("b", 2.0)], "k string, v double")
    sink(b0, 0)
    sink(b1, 1)

    def snap():
        return sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    want = snap()
    compact_rollup(spark, root, **kw)  # through = 1

    # replay of batch 1 that read the marker BEFORE the commit: first
    # _compacted_through call (the gate) sees the stale pre-commit
    # value, the second (the post-write re-check) sees the real one
    real = sinks._compacted_through
    calls = {"n": 0}

    def stale_then_real(spark_, root_):
        calls["n"] += 1
        return -1 if calls["n"] == 1 else real(spark_, root_)

    monkeypatch.setattr(sinks, "_compacted_through", stale_then_real)
    sink(b1, 1)
    monkeypatch.undo()
    assert calls["n"] >= 2  # gate passed, re-check fired
    assert glob.glob(f"{root}/batch_id=*") == []  # self-deleted
    assert snap() == want

    # reader/compactor exclusion in the pre-delete window: plant a
    # stale dir (id <= through) and assert it is invisible and never
    # re-folded
    batch_partitioned_parquet_sink(root)(b1, 1)
    assert glob.glob(f"{root}/batch_id=*") != []
    assert snap() == want
    compact_rollup(spark, root, **kw)
    assert snap() == want
    # the stale dir was not folded (same generation, no re-fold)
    _assert_single_gen(root, 1)


def test_compaction_interleaved_with_replay_stress(spark, tmp_path):
    """VERDICT r8 task 1: a replayed batch write physically overlapping
    an externally-driven compaction must never corrupt counts. The fold
    reads a concrete part-file snapshot and re-validates it before the
    marker commit, so an overlapping overwrite makes THAT compaction
    abort/fail loudly and retry — the merged value stays exact through
    any interleaving. A replayer thread hammers the highest batch id
    while the main thread compacts in a loop; after quiescence the
    rollup equals the one-shot batch aggregate bit-for-bit."""
    import threading
    import time

    from yat_geo_db_spark.relational.merge import partial_aggregate
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    batches = {
        bid: spark.createDataFrame(
            [(f"k{i % 3}", float(bid * 10 + i)) for i in range(12)],
            "k string, v double",
        )
        for bid in range(6)
    }
    for bid, df in batches.items():
        sink(df, bid)

    union = batches[0]
    for bid in range(1, 6):
        union = union.unionByName(batches[bid])
    want = sorted(map(tuple, partial_aggregate(union, **kw).collect()))

    stop = threading.Event()
    replays = {"n": 0, "errs": 0}

    def replayer():
        # an at-least-once source redelivering batch 5 over and over;
        # a write that loses a physical race (its dir deleted under it
        # by compaction cleanup) is retried by the engine — modeled by
        # swallowing the error and looping
        while not stop.is_set():
            try:
                sink(batches[5], 5)
                replays["n"] += 1
            except Exception:
                replays["errs"] += 1

    t = threading.Thread(target=replayer)
    t.start()
    aborted = 0
    try:
        deadline = time.time() + 60
        compactions = 0
        while compactions < 4 and time.time() < deadline:
            try:
                compact_rollup(spark, root, **kw)
                compactions += 1
            except Exception:
                # the documented loud-abort path (snapshot invalidated
                # by the replayed overwrite) — retry, never corrupt
                aborted += 1
    finally:
        stop.set()
        t.join()

    assert replays["n"] >= 1
    # quiesce: replay once more (no-op if folded), then compact cleanly
    sink(batches[5], 5)
    compact_rollup(spark, root, **kw)
    got = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))
    assert got == want


def test_concurrent_compactor_loses_and_aborts(spark, tmp_path, monkeypatch):
    """Two compactors racing from the same generation: the slower one
    must detect the moved marker at its pre-commit re-check, delete its
    own (uniquely-named, never-published) output dir, and raise —
    leaving exactly the faster one's committed generation and exact
    counts. (The fast compactor models a lease-breaker — a displacer
    that judged this run's lease stale — so it runs with lease_ms=0;
    a displacer that RESPECTS the lease never gets this far, see
    test_compact_lease_excludes_second_compactor.)"""
    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    sink(spark.createDataFrame([("b", 2.0)], "k string, v double"), 1)

    def snap():
        return sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    want = snap()

    # the "slower" compactor: a faster one commits right after this
    # one snapshots the marker (injected on its SECOND marker read,
    # i.e. the pre-commit re-check)
    real_read = sinks._read_marker
    state = {"n": 0, "raced": False}

    def racing_read(spark_, root_):
        state["n"] += 1
        if state["n"] == 2 and not state["raced"]:
            state["raced"] = True
            monkeypatch.setattr(sinks, "_read_marker", real_read)
            compact_rollup(spark_, root_, lease_ms=0, **kw)  # the
            # fast compactor, breaking this run's "stale" lease
            monkeypatch.setattr(sinks, "_read_marker", racing_read)
        return real_read(spark_, root_)

    monkeypatch.setattr(sinks, "_read_marker", racing_read)
    with pytest.raises(RuntimeError, match="concurrent compaction"):
        compact_rollup(spark, root, **kw)
    monkeypatch.undo()

    # exactly the winner's generation survives; the loser's orphan is
    # gone; counts exact
    _assert_single_gen(root, 1)
    assert snap() == want


def test_fold_input_overwritten_mid_fold_aborts(spark, tmp_path, monkeypatch):
    """A replayed overwrite that completes entirely inside the fold
    window swaps the dir's part files (job-unique names) — the
    pre-commit snapshot re-validation must catch it and abort without
    committing, leaving state exact."""
    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    b1 = spark.createDataFrame([("a", 1.0)], "k string, v double")
    sink(b1, 0)
    sink(b1, 1)

    def snap():
        return sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    want = snap()

    # inject the replayed overwrite between the fold's snapshot and its
    # commit: the fold's SECOND _read_marker call is the pre-commit
    # re-check, which runs after the generation dir was written — fire
    # there, so the marker itself is unmoved and only the file
    # re-validation can catch the swap
    real_read = sinks._read_marker
    calls = {"n": 0}
    from yat_geo_db_spark.relational.merge import partial_aggregate

    def read_then_replay(spark_, root_):
        calls["n"] += 1
        out = real_read(spark_, root_)
        if calls["n"] == 2:
            # between snapshot and commit: rewrite batch_id=1 in place
            partial_aggregate(b1, **kw).write.mode("overwrite").parquet(
                f"{root_}/batch_id=1"
            )
        return out

    monkeypatch.setattr(sinks, "_read_marker", read_then_replay)
    with pytest.raises(RuntimeError, match="changed during the fold"):
        compact_rollup(spark, root, **kw)
    monkeypatch.undo()
    assert snap() == want  # nothing committed, counts exact
    # and a clean rerun folds fine
    compact_rollup(spark, root, **kw)
    _assert_single_gen(root, 1)
    assert snap() == want


def test_reader_raises_on_missing_committed_generation(spark, tmp_path):
    """ADVICE r8: if the marker names generation N but the dir is gone
    (manual deletion / partial restore), readers must RAISE — silently
    folding only the recent batch dirs would be a large undercount,
    the exact failure mode the corrupt-marker path already refuses."""
    import glob
    import shutil

    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    compact_rollup(spark, root, **kw)
    sink(spark.createDataFrame([("b", 2.0)], "k string, v double"), 1)

    gen_dir = glob.glob(f"{root}/_compacted_g1-*")[0]
    shutil.rmtree(gen_dir)
    with pytest.raises(FileNotFoundError, match="names generation dir"):
        read_rollup(spark, root, **kw).collect()
    # compaction refuses too (it would otherwise fold without the
    # committed state and commit a permanent undercount)
    with pytest.raises(FileNotFoundError):
        compact_rollup(spark, root, **kw)


def test_orphan_sweep_grace_and_marker_guards(spark, tmp_path):
    """The orphan janitor must reclaim ONLY aged, unnamed generation
    dirs: a young orphan may belong to a concurrent compactor that is
    about to commit it, and the marker-named generation (plus anything
    still on the pending list) is live state at any age."""
    import glob
    import os
    import time

    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    compact_rollup(spark, root, **kw)
    committed = _assert_single_gen(root, 1)

    # plant two orphans: one young, one aged past the grace
    young = f"{root}/_compacted_g1-youngorphan"
    old = f"{root}/_compacted_g1-agedorphan"
    for d in (young, old):
        os.makedirs(d)
        open(f"{d}/_SUCCESS", "w").close()
    aged = time.time() - 7200
    # age the dir AND its children: the janitor ages against the
    # LATEST activity in the dir (a fresh child means a live writer)
    os.utime(old, (aged, aged))
    os.utime(f"{old}/_SUCCESS", (aged, aged))

    sinks._sweep_orphan_generations(spark, root)
    left = set(_gen_dirs(root))
    assert "_compacted_g1-agedorphan" not in left      # reclaimed
    assert "_compacted_g1-youngorphan" in left         # grace-spared
    assert committed in left                           # marker-named

    # the committed generation survives the sweep at ANY age
    os.utime(f"{root}/{committed}", (aged, aged))
    for child in os.listdir(f"{root}/{committed}"):
        os.utime(f"{root}/{committed}/{child}", (aged, aged))
    sinks._sweep_orphan_generations(spark, root, grace_ms=0)
    assert _gen_dirs(root) == [committed]
    got = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))
    assert got == [("a", 1, 1.0)]  # values survive the sweep exactly


def test_reader_retries_when_generation_swaps_mid_listing(
    spark, tmp_path, monkeypatch
):
    """A compaction committing (and deleting the old generation)
    between the reader's bracketed dir listing and its per-dir FILE
    listing must cause a RETRY with the new marker — not the
    'state corrupted' raise reserved for a genuinely missing
    generation under an unchanged marker."""
    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    compact_rollup(spark, root, **kw)  # gen 1 committed
    sink(spark.createDataFrame([("b", 2.0)], "k string, v double"), 1)
    want = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    # inject a full compaction inside the reader's per-dir file
    # listing of the OLD generation dir: the first list_data_files
    # call that targets a generation dir triggers it
    real_list = sinks.fsio.list_data_files
    state = {"fired": False}

    def racing_list(spark_, dirpath):
        if "/_compacted_g1-" in dirpath and not state["fired"]:
            state["fired"] = True
            compact_rollup(spark_, dirpath.rsplit("/", 1)[0], **kw)
        return real_list(spark_, dirpath)

    monkeypatch.setattr(sinks.fsio, "list_data_files", racing_list)
    got = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))
    monkeypatch.undo()
    assert state["fired"]
    assert got == want  # retried onto gen 2, exact counts


def test_compact_lease_excludes_second_compactor(spark, tmp_path):
    """ADVICE r9 (medium): marker writes are last-writer-wins, so two
    overlapping external compactors needed real mutual exclusion. A
    live lease file must make the second compactor REFUSE loudly with
    state untouched; a stale lease (presumed-crashed holder) is broken
    and compaction proceeds, leaving no lease behind."""
    import os
    import time

    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming.sinks import (
        _LEASE_NAME, compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    want = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    lease = f"{root}/{_LEASE_NAME}"
    assert fsio.create_exclusive(spark, lease, "other-compactor")
    with pytest.raises(RuntimeError, match="holds the lease"):
        compact_rollup(spark, root, **kw)
    assert _gen_dirs(root) == []                    # state untouched
    assert fsio.read_bytes(spark, lease) == b"other-compactor"  # kept

    aged = time.time() - 7200
    os.utime(lease, (aged, aged))                   # holder presumed dead
    compact_rollup(spark, root, **kw)               # breaks + proceeds
    _assert_single_gen(root, 1)
    assert not fsio.exists(spark, lease)            # released
    got = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))
    assert got == want


def test_lease_stolen_mid_run_aborts_before_commit(spark, tmp_path,
                                                   monkeypatch):
    """A compactor that stalls past its lease and is displaced must
    abort at the pre-commit token re-verify — never commit over the
    displacer. Modeled by swapping the lease content right before the
    pre-commit marker re-read."""
    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        _LEASE_NAME, compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    want = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    real_read = sinks._read_marker
    state = {"n": 0}

    def stealing_read(spark_, root_):
        state["n"] += 1
        if state["n"] == 2:  # the pre-commit re-check
            fsio.delete(spark_, f"{root_}/{_LEASE_NAME}", recursive=False)
            fsio.create_exclusive(spark_, f"{root_}/{_LEASE_NAME}", "thief")
        return real_read(spark_, root_)

    monkeypatch.setattr(sinks, "_read_marker", stealing_read)
    with pytest.raises(RuntimeError, match="stale lease"):
        compact_rollup(spark, root, **kw)
    monkeypatch.undo()

    assert _gen_dirs(root) == []      # own orphan deleted, no commit
    got = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))
    assert got == want                # batch dirs intact, counts exact
    # the thief's lease is NOT ours to release
    assert fsio.read_bytes(spark, f"{root}/{_LEASE_NAME}") == b"thief"


def test_displacer_commit_in_validate_commit_gap_loses_cleanly(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 task 5 — the residual the versioned-marker commit
    closes: a compactor that stalls between its validation and its
    commit while a DISPLACER runs an entire compaction in the gap.
    Both runs passed validation; under the old last-writer-wins
    marker write both could believe they committed. Now the stalled
    run's create-if-absent of the gen-1 marker is REFUSED, it aborts
    before any delete, reclaims its own generation dir (no orphan to
    adjudicate), and reads reflect exactly the displacer's commit."""
    import os

    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    sink(spark.createDataFrame([("b", 2.0)], "k string, v double"), 1)
    want = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    real_commit = sinks._commit_marker_exclusive
    state = {"stalled_once": False}

    def stall_then_commit(spark_, root_, *args):
        if not state["stalled_once"]:
            state["stalled_once"] = True
            # the stall: a full displacer compaction runs in the
            # validate→commit gap (lease_ms=0 models the stalled
            # holder's lease having aged out and been broken)
            compact_rollup(spark_, root_, lease_ms=0, **kw)
        return real_commit(spark_, root_, *args)

    monkeypatch.setattr(sinks, "_commit_marker_exclusive", stall_then_commit)
    with pytest.raises(
        RuntimeError, match="committed generation 1 first"
    ):
        compact_rollup(spark, root, **kw)
    monkeypatch.undo()

    # the displacer's commit is the ONLY one: exact counts, fold dirs
    # deleted by the winner, and the loser's generation dir reclaimed
    # by its own abort — nothing orphaned
    got = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))
    assert got == want
    assert not any(n.startswith("batch_id=") for n in os.listdir(root))
    _assert_single_gen(root, 1)


def test_commit_marker_exclusive_branches(spark, tmp_path):
    """Unit pins on the commit CAS: a healthy existing marker refuses
    (regardless of age); stacked aged empty slots are escalated past
    in one call (never deleted by the committer itself); a fresh empty
    slot refuses (possible commit mid-write on a degenerate FS)."""
    import os
    import time

    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming import sinks

    root = str(tmp_path / "r")
    os.makedirs(root)
    aged = time.time() - 120

    # healthy occupant at g1 -> lost, even when old
    with open(f"{root}/{sinks._marker_name(1)}", "w") as fh:
        fh.write("through=0\ngen=1\npending=\ngendir=_compacted_g1-x")
    os.utime(f"{root}/{sinks._marker_name(1)}", (aged, aged))
    assert sinks._commit_marker_exclusive(
        spark, root, 5, 1, [], "_compacted_g1-y"
    ) is None

    # two stacked aged empty slots at g2, g3 -> commits g4, debris kept
    for g in (2, 3):
        open(f"{root}/{sinks._marker_name(g)}", "w").close()
        os.utime(f"{root}/{sinks._marker_name(g)}", (aged, aged))
    got = sinks._commit_marker_exclusive(
        spark, root, 7, 2, [], "_compacted_g2-z"
    )
    assert got == 4
    assert fsio.read_bytes(spark, f"{root}/{sinks._marker_name(2)}") == b""
    assert fsio.read_bytes(spark, f"{root}/{sinks._marker_name(3)}") == b""
    # the committed marker parses with the escalated gen and the
    # reader resolves THROUGH it (skipping the empty slots below)
    assert sinks._read_marker(spark, root) == (7, 4, [], "_compacted_g2-z")

    # fresh empty slot -> refused (commit possibly mid-write)
    root2 = str(tmp_path / "r2")
    os.makedirs(root2)
    open(f"{root2}/{sinks._marker_name(1)}", "w").close()
    assert sinks._commit_marker_exclusive(
        spark, root2, 0, 1, [], "_compacted_g1-w"
    ) is None


def test_empty_marker_debris_escalates_generation(spark, tmp_path):
    """A zero-byte versioned marker (failed commit: namespace create
    won, content write and reclaim both failed) must not wedge the
    root, and must NEVER be broken by delete — a delete/recreate race
    on the commit pointer could destroy a concurrent winner's
    committed marker. The commit instead ESCALATES past the dead slot:
    aged debris at g1 → the next compaction commits g2, readers (who
    skip empty markers) follow it, and the superseded-marker cleanup
    removes the debris. Fresh (within-grace) debris is honored as a
    possible commit-in-flight: the compactor aborts loudly."""
    import os
    import time

    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        _marker_name, compact_rollup, read_rollup,
        rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    want = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    debris = f"{root}/{_marker_name(1)}"
    open(debris, "w").close()  # zero-byte g1: a failed commit
    # fresh debris: could be a commit mid-write — refuse loudly
    with pytest.raises(RuntimeError, match="aborted before commit"):
        compact_rollup(spark, root, **kw)
    assert sorted(
        map(tuple, read_rollup(spark, root, **kw).collect())
    ) == want  # reader skips the empty marker throughout

    aged = time.time() - 120  # past _EMPTY_MARKER_GRACE_MS
    os.utime(debris, (aged, aged))
    compact_rollup(spark, root, **kw)  # escalates: commits g2
    through, gen, pending, gendir = sinks._read_marker(spark, root)
    assert gen == 2 and pending == []
    assert not fsio.exists(spark, debris)  # cleanup swept the debris
    assert not any(
        n.startswith("batch_id=") for n in os.listdir(root)
    )
    assert sorted(
        map(tuple, read_rollup(spark, root, **kw).collect())
    ) == want


def test_threaded_two_compactor_stress_exact_counts(spark, tmp_path):
    """Two compactors hammering the same root from threads, every
    mutual-exclusion courtesy disabled (lease_ms=0 lets each break the
    other's lease): the versioned-marker commit must keep exactly one
    committed lineage — every interleaving ends in a clean commit or a
    loud abort, reader counts stay exact after every round, and no
    unreferenced generation dir outlives the sweep."""
    import os
    import threading

    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)

    expected: dict[str, float] = {}

    def feed(batch_id: int, rows: list[tuple[str, float]]) -> None:
        sink(
            spark.createDataFrame(rows, "k string, v double"), batch_id
        )
        for k, v in rows:
            expected[k] = expected.get(k, 0.0) + v

    def snap():
        return {
            r["k"]: float(r["sum_v"])
            for r in read_rollup(spark, root, **kw).collect()
        }

    outcomes: list[str] = []
    lock = threading.Lock()

    def compactor():
        try:
            compact_rollup(spark, root, lease_ms=0, **kw)
            res = "committed"
        except Exception:
            # loud loss of a race — never silent (RuntimeError aborts,
            # or a fold job failing on a mid-read deleted snapshot)
            res = "aborted"
        with lock:
            outcomes.append(res)

    bid = 0
    for rnd in range(3):
        feed(bid, [("a", 1.0), ("b", float(rnd + 1))])
        feed(bid + 1, [("a", 0.5), ("c", 2.0)])
        bid += 2
        ts = [threading.Thread(target=compactor) for _ in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert snap() == expected  # exact after every round

    # at least one thread committed over the stress run, every other
    # outcome was a loud abort, and a zero-grace sweep leaves exactly
    # the one committed generation — no orphan survives
    assert "committed" in outcomes
    assert len(outcomes) == 6
    sinks._sweep_orphan_generations(spark, root, grace_ms=0)
    gens = [
        n for n in os.listdir(root) if n.startswith("_compacted_g")
    ]
    assert len(gens) == 1, gens
    assert snap() == expected


def test_orphan_sweep_s3a_degenerate_mtime_forces_abort_not_loss(
    spark, tmp_path, monkeypatch
):
    """VERDICT r9 task 4: S3A reports fake-directory mtimes as 0, so a
    janitor can misread a MID-FLIGHT fold's output dir as ancient and
    sweep it. That mistimed sweep must cost a loud abort-and-retry —
    the compactor's own-output pre-commit verify — never a committed
    marker naming a swept dir, never a wrong count."""
    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    want = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    real_read = sinks._read_marker
    state = {"n": 0, "fired": False}

    def arming_read(spark_, root_):
        # fire at the pre-commit re-check (2nd top-level marker read):
        # the fold output dir exists but no marker names it yet
        state["n"] += 1
        if state["n"] == 2 and not state["fired"]:
            state["fired"] = True
            real_act = fsio.activity_time_ms
            # an external janitor fires while THIS run's fold output
            # sits uncommitted, on a store whose dir mtimes read 0
            fsio.activity_time_ms = lambda s, p: 0
            try:
                sinks._sweep_orphan_generations(
                    spark_, root_, grace_ms=60_000
                )
            finally:
                fsio.activity_time_ms = real_act
        return real_read(spark_, root_)

    monkeypatch.setattr(sinks, "_read_marker", arming_read)
    with pytest.raises(RuntimeError, match="no longer committed"):
        compact_rollup(spark, root, **kw)
    monkeypatch.undo()

    assert _gen_dirs(root) == []   # the swept orphan never published
    got = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))
    assert got == want             # batch dirs intact
    compact_rollup(spark, root, **kw)  # retry succeeds
    _assert_single_gen(root, 1)
    got = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))
    assert got == want


def test_vanished_lease_mid_acquire_retries_create(spark, tmp_path,
                                                   monkeypatch):
    """ADVICE r10 (sinks.py:388): a lease that VANISHES between the
    failed create's mtime read and the content read (holder released /
    debris swept by a concurrent breaker) must lead to a create RETRY,
    not a spurious age-based 'holds the lease' refusal computed from
    the stale mtime."""
    import os
    import time

    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming import sinks

    root = str(tmp_path / "rollup")
    os.makedirs(root)
    lease = f"{root}/{sinks._LEASE_NAME}"
    open(lease, "w").close()
    aged = time.time() - 120  # past the empty-lease grace
    os.utime(lease, (aged, aged))

    real_read = fsio.read_bytes

    def vanishing_read(spark_, path_):
        if path_ == lease and os.path.exists(lease):
            os.remove(lease)  # simulate: swept between mtime and read
            return None
        return real_read(spark_, path_)

    monkeypatch.setattr(fsio, "read_bytes", vanishing_read)
    token = sinks._acquire_compact_lease(spark, root, 3_600_000)
    monkeypatch.setattr(fsio, "read_bytes", real_read)
    assert fsio.read_bytes(spark, lease) == token.encode()
    sinks._release_compact_lease(spark, root, token)


def test_debris_break_recheck_spares_new_healthy_lease(spark, tmp_path,
                                                       monkeypatch):
    """ADVICE r10 (sinks.py:392): between the first emptiness read and
    the debris delete, another breaker may sweep the debris and a NEW
    holder create a healthy lease — the immediate pre-delete re-check
    (mtime unchanged AND still empty) must then SPARE the new holder's
    lease: this waiter refuses loudly instead of deleting it."""
    import os
    import time

    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming import sinks

    root = str(tmp_path / "rollup")
    os.makedirs(root)
    lease = f"{root}/{sinks._LEASE_NAME}"
    open(lease, "w").close()
    aged = time.time() - 120
    os.utime(lease, (aged, aged))

    real_read = fsio.read_bytes
    state = {"first": True}

    def racing_read(spark_, path_):
        if path_ == lease and state["first"]:
            state["first"] = False
            # report the debris empty, then lose the race: a new
            # holder replaces the file with a fresh healthy lease
            os.remove(lease)
            with open(lease, "w") as fh:
                fh.write("new-holder-token")
            return b""
        return real_read(spark_, path_)

    monkeypatch.setattr(fsio, "read_bytes", racing_read)
    with pytest.raises(RuntimeError, match="holds the lease"):
        sinks._acquire_compact_lease(spark, root, 3_600_000)
    monkeypatch.setattr(fsio, "read_bytes", real_read)
    assert fsio.read_bytes(spark, lease) == b"new-holder-token"


def test_release_lease_failure_warns_not_silent(spark, tmp_path,
                                                monkeypatch):
    """ADVICE r10 (sinks.py:425): a swallowed lease-release failure
    must leave a diagnosable trace — the release stays best-effort
    (no exception escapes; the lease self-heals past the window), but
    a RuntimeWarning names the root and the swallowed error."""
    import os

    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming import sinks

    root = str(tmp_path / "rollup")
    os.makedirs(root)
    token = "tok-123"
    with open(f"{root}/{sinks._LEASE_NAME}", "w") as fh:
        fh.write(token)

    def broken_delete(*a, **kw):
        raise OSError("simulated transient FS failure")

    monkeypatch.setattr(fsio, "delete", broken_delete)
    with pytest.warns(RuntimeWarning, match="lease release"):
        sinks._release_compact_lease(spark, root, token)
    # monkeypatch restores fsio.delete on teardown; the lease file is
    # intentionally left behind (that IS the failure mode under test)


def test_zero_byte_lease_debris_broken_past_short_grace(spark, tmp_path):
    """A create that wins the namespace entry but never writes its
    token (transient failure; reclaim delete also failed) leaves a
    ZERO-BYTE lease nobody holds. It must not wedge compaction for a
    full lease window: older than the short empty-lease grace it is
    broken immediately; younger (a healthy racer mid-write) it is
    still honored."""
    import os
    import time

    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming.sinks import (
        _LEASE_NAME, compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    want = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    lease = f"{root}/{_LEASE_NAME}"
    open(lease, "w").close()                       # zero-byte phantom
    with pytest.raises(RuntimeError, match="holds the lease"):
        compact_rollup(spark, root, **kw)          # fresh ⇒ honored
    aged = time.time() - 120                       # past 60 s grace,
    os.utime(lease, (aged, aged))                  # far inside lease_ms
    compact_rollup(spark, root, **kw)              # debris broken
    _assert_single_gen(root, 1)
    assert not fsio.exists(spark, lease)
    got = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))
    assert got == want


def test_read_marker_relists_when_legacy_swept_mid_read(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: the first-ever versioned commit plus its legacy-file
    sweep can land between _read_marker's (empty) versioned listing
    and its legacy read — a bare _compacted_through caller must NOT
    get a stale 'never compacted' (-1) view. Simulated by a
    list_file_names wrapper that hides the versioned markers exactly
    once AFTER the legacy file is already gone: the re-list must find
    the committed generation. A genuinely empty root must still
    return the sentinel (no spin, no storm error)."""
    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    compact_rollup(spark, root, **kw)  # first versioned commit (g1);
    # the cleanup has already swept any legacy _compacted_through file

    real = fsio.list_file_names
    state = {"hidden": 0}

    def racy_list(spark_, path):
        names = real(spark_, path)
        if state["hidden"] < 1:
            state["hidden"] += 1
            return [n for n in names
                    if not n.startswith(sinks._MARKER_V_PREFIX)]
        return names

    monkeypatch.setattr(sinks.fsio, "list_file_names", racy_list)
    assert sinks._compacted_through(spark, root) == 0  # batch 0 folded
    assert state["hidden"] == 1  # the stale listing happened and was
    # recovered by the one-shot re-list

    # genuinely never-compacted root: sentinel, not a storm error
    empty = str(tmp_path / "empty")
    import os
    os.makedirs(empty, exist_ok=True)
    assert sinks._compacted_through(spark, empty) == -1


def test_commit_outranked_by_displacer_aborts_before_deletes(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: a creator stalled mid content-write past the grace
    can finish AFTER a displacer escalated past its slot — its own
    marker verifies (its text IS there) but a higher generation is
    already committed. The run must abort BEFORE its fold-dir deletes
    (false success was the residual). Simulated by a
    create_exclusive wrapper that plants a healthy higher-generation
    marker immediately after the real create succeeds."""
    import pytest as _pytest

    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        _marker_name, _marker_text, compact_rollup, read_rollup,
        rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    compact_rollup(spark, root, **kw)  # real g1 with a real gendir
    g1_through, g1_gen, _, g1_dir = sinks._read_marker(spark, root)
    assert g1_gen == 1
    sink(spark.createDataFrame([("a", 2.0)], "k string, v double"), 1)
    want = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    real_create = fsio.create_exclusive

    def create_then_displace(spark_, path, text):
        ok = real_create(spark_, path, text)
        if ok and sinks._MARKER_V_PREFIX in path:
            # the displacer's committed higher generation appears
            # between this run's content verify and its deletes; it
            # names a REAL committed generation dir (as a true
            # displacer's would)
            fsio.write_text_atomic(
                spark_, f"{root}/{_marker_name(9)}",
                _marker_text(g1_through, 9, [], g1_dir),
            )
        return ok

    monkeypatch.setattr(sinks.fsio, "create_exclusive",
                        create_then_displace)
    with _pytest.raises(RuntimeError, match="higher generation"):
        compact_rollup(spark, root, **kw)
    # fold dirs intact: the abort fired before any delete
    import os
    assert any(n.startswith("batch_id=") for n in os.listdir(root))
    # readers follow the max generation throughout — counts exact
    assert sorted(
        map(tuple, read_rollup(spark, root, **kw).collect())
    ) == want
    monkeypatch.undo()
    # a rerun folds batch 1 into the displacer's lineage and converges
    compact_rollup(spark, root, **kw)
    assert sinks._read_marker(spark, root)[1] == 10
    assert sorted(
        map(tuple, read_rollup(spark, root, **kw).collect())
    ) == want


def test_commit_folded_forward_by_fast_follower_is_success(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12: a fast follower that read THIS run's committed gen+1
    marker and folded it into gen+2 before the outranked re-read is NOT
    a displacement — this run's commit stood and was folded forward, so
    the run must report success (previously it aborted with a false
    'state unchanged; rerun'). Simulated by a create_exclusive wrapper
    that, after the real create, replays a follower: folds the new
    generation dir forward, inherits-and-cleans the pending batch dirs,
    and commits gen+2 listing our gendir pending."""
    import os
    import shutil

    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    sink(spark.createDataFrame([("a", 2.0), ("b", 1.0)],
                               "k string, v double"), 1)
    want = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    real_create = fsio.create_exclusive
    seen = {}

    def create_then_follow(spark_, path, text):
        ok = real_create(spark_, path, text)
        if ok and sinks._MARKER_V_PREFIX in os.path.basename(path):
            fields = dict(
                ln.partition("=")[::2] for ln in text.splitlines()
            )
            gen = int(fields["gen"])
            gendir = fields["gendir"]
            seen["gendir"] = gendir
            pend = [p for p in fields["pending"].split(",") if p]
            # the follower folds OUR committed generation forward …
            fol_dir = f"{sinks._GEN_PREFIX}{gen + 1}-f0110wer"
            shutil.copytree(os.path.join(root, gendir),
                            os.path.join(root, fol_dir))
            fsio.write_text_atomic(
                spark_, f"{root}/{sinks._marker_name(gen + 1)}",
                sinks._marker_text(
                    int(fields["through"]), gen + 1, [gendir], fol_dir
                ),
            )
            # … after having cleaned the pending dirs it inherited
            for n in pend:
                shutil.rmtree(os.path.join(root, n), ignore_errors=True)
        return ok

    monkeypatch.setattr(sinks.fsio, "create_exclusive",
                        create_then_follow)
    compact_rollup(spark, root, **kw)  # must NOT raise
    monkeypatch.undo()
    # our generation dir survives (the follower lists it pending — its
    # cleanup, not ours)
    assert os.path.isdir(os.path.join(root, seen["gendir"]))
    assert sorted(
        map(tuple, read_rollup(spark, root, **kw).collect())
    ) == want
    # the next compaction run resumes the follower's pending cleanup
    compact_rollup(spark, root, **kw)
    assert not os.path.isdir(os.path.join(root, seen["gendir"]))
    assert sorted(
        map(tuple, read_rollup(spark, root, **kw).collect())
    ) == want


def test_corrupt_higher_marker_after_commit_keeps_gendir(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12 (adjudicated differently): if the post-commit
    outranked re-read hits a CORRUPT higher marker, this run's commit
    already stood — its generation dir is committed state and must NOT
    be reclaimed (the documented manual remedy deletes the corrupt file
    and readers resume from exactly this generation). The raised error
    must say the commit stood, not 'state unchanged'."""
    import os

    import pytest as _pytest

    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    want = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    real_create = fsio.create_exclusive
    seen = {}

    def create_then_corrupt(spark_, path, text):
        ok = real_create(spark_, path, text)
        if ok and sinks._MARKER_V_PREFIX in os.path.basename(path):
            fields = dict(
                ln.partition("=")[::2] for ln in text.splitlines()
            )
            seen["gendir"] = fields["gendir"]
            seen["gen"] = int(fields["gen"])
            # a gen+5 creator's partial content flush: non-empty,
            # unparseable — _read_marker must raise on it
            fsio.write_text_atomic(
                spark_, f"{root}/{sinks._marker_name(9)}", "thr"
            )
        return ok

    monkeypatch.setattr(sinks.fsio, "create_exclusive",
                        create_then_corrupt)
    with _pytest.raises(RuntimeError, match="COMMITTED generation"):
        compact_rollup(spark, root, **kw)
    monkeypatch.undo()
    # committed state intact: gendir on disk, our marker parseable
    assert os.path.isdir(os.path.join(root, seen["gendir"]))
    # manual remedy: delete the corrupt higher file → readers resume
    # from this run's committed generation
    os.remove(os.path.join(root, sinks._marker_name(9)))
    got = sinks._read_marker(spark, root)
    assert got[1] == seen["gen"] and got[3] == seen["gendir"]
    assert sorted(
        map(tuple, read_rollup(spark, root, **kw).collect())
    ) == want


def test_commit_consumed_by_finished_follower_is_success(
    spark, tmp_path, monkeypatch
):
    """Round-13 review: the pending-list carve-out only covers a
    follower caught MID-cleanup. A follower that already FINISHED —
    folded our committed generation forward, deleted our gendir (its
    fold input), wrote its final marker with pending=[] and swept our
    superseded marker — leaves a higher marker that does NOT list us
    pending. That is still a success (our commit stood and was rolled
    forward), distinguished from a displacer by the gendir's absence:
    only a consumer of our generation ever deletes it; a displacer
    folds from the prior lineage and leaves it orphaned."""
    import os
    import shutil

    from yat_geo_db_spark import fsio
    from yat_geo_db_spark.streaming import sinks
    from yat_geo_db_spark.streaming.sinks import (
        compact_rollup, read_rollup, rollup_maintenance_sink,
    )

    kw = dict(key_cols=["k"], sum_cols=["v"], scale=2)
    root = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(root, **kw)
    sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    sink(spark.createDataFrame([("a", 2.0), ("b", 1.0)],
                               "k string, v double"), 1)
    want = sorted(map(tuple, read_rollup(spark, root, **kw).collect()))

    real_create = fsio.create_exclusive

    def create_then_finish_follow(spark_, path, text):
        ok = real_create(spark_, path, text)
        if ok and sinks._MARKER_V_PREFIX in os.path.basename(path):
            fields = dict(
                ln.partition("=")[::2] for ln in text.splitlines()
            )
            gen = int(fields["gen"])
            gendir = fields["gendir"]
            pend = [p for p in fields["pending"].split(",") if p]
            fol_dir = f"{sinks._GEN_PREFIX}{gen + 1}-f0110wer"
            shutil.copytree(os.path.join(root, gendir),
                            os.path.join(root, fol_dir))
            # the follower runs to COMPLETION: fold-input dirs deleted
            # (ours included), final marker pending=[], our superseded
            # marker swept
            for n in pend + [gendir]:
                shutil.rmtree(os.path.join(root, n), ignore_errors=True)
            fsio.write_text_atomic(
                spark_, f"{root}/{sinks._marker_name(gen + 1)}",
                sinks._marker_text(
                    int(fields["through"]), gen + 1, [], fol_dir
                ),
            )
            os.remove(path)
        return ok

    monkeypatch.setattr(sinks.fsio, "create_exclusive",
                        create_then_finish_follow)
    compact_rollup(spark, root, **kw)  # must NOT raise
    monkeypatch.undo()
    assert sorted(
        map(tuple, read_rollup(spark, root, **kw).collect())
    ) == want
