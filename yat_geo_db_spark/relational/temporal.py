"""Temporal joins — as-of and band (range) joins.

Neither exists in the reference (SURVEY.md §2.7); both are bread-and-butter
for training-data pipelines (align each sample with the latest prior
snapshot / bucket a measure into ranges) and both need care at 100 TB:

- An as-of join expressed naively is a range join (`r.ts <= l.ts` + argmax),
  which Spark executes as a broadcast nested-loop or a cross-ish sort-merge
  — quadratic blowup per key. The union+window form below is ONE shuffle on
  the join keys and a linear per-partition sweep, the same shape a
  time-series database uses.
- A band join against a tiny bands table is fine as a broadcast non-equi
  join: O(|facts| × |bands|) with |bands| constant and no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    right_payload: tuple[str, ...] = ("event_id", "value"),
    right_id_col: str = "event_id",
    prefix: str = "asof_",
) -> DataFrame:
    """For every left row, attach the latest right row with
    ``right.ts <= left.ts`` for the same `on` keys (ties at equal ts: the
    right row wins — i.e. <= semantics — and among equal right timestamps
    the largest `right_id_col` wins, which keeps the result deterministic).

    Implementation: tag both sides, union, ONE shuffle on `on`, then a
    running ``last(payload, ignorenulls=True)`` over
    (ts, tag, right-id) order. The payload is carried as a single struct so
    every output field comes from the SAME matched right row. Left rows
    with no prior right row get nulls.

    Scale shape: one hash-partitioned exchange + one in-partition sort —
    identical cost to a window aggregate over the union; no range-join
    explosion, skewed keys handled by AQE like any other shuffle.
    """
    lcols = [c for c in left.columns if c not in on and c != ts_col]
    payload_struct = F.struct(*[F.col(c).alias(c) for c in right_payload])

    r = right.select(
        *on,
        F.col(ts_col).alias("_ts"),
        F.lit(0).alias("_tag"),
        F.col(right_id_col).cast("long").alias("_rid"),
        payload_struct.alias("_payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in lcols],
    )
    l = left.select(
        *on,
        F.col(ts_col).alias("_ts"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast("long").alias("_rid"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
    )

    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("_ts"), F.col("_tag"), F.col("_rid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        r.unionByName(l)
        .withColumn("_match", F.last("_payload", ignorenulls=True).over(w))
        .filter(F.col("_tag") == 1)
    )
    out_cols = (
        [F.col(c) for c in on]
        + [F.col("_ts").alias(ts_col)]
        + [F.col(f"_l_{c}").alias(c) for c in lcols]
        + [F.col(f"_match.{p}").alias(f"{prefix}{p}") for p in right_payload]
    )
    return matched.select(*out_cols)


def band_join(
    facts: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Non-equi join of a fact table against [lo, hi) bands. The bands side
    is explicitly broadcast: a non-equi predicate cannot hash-partition, so
    the ONLY scalable physical plan is broadcast-nested-loop with a tiny
    build side — facts stream through untouched, no shuffle."""
    return facts.join(
        F.broadcast(bands),
        (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col)),
        "inner",
    )


def scd2_intervals(
    events: DataFrame,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Build a type-2 slowly-changing dimension from a change-event log:
    collapse each key's consecutive runs of the same attribute value into
    one row with a validity interval — (key, attr, valid_from, valid_to,
    version, is_current), `valid_to` = the next run's start (NULL while
    current), `version` = the run's 1-based sequence number.

    The warehouse pattern for turning an append-only CDC/event stream
    into a point-in-time-joinable dimension. Plan shape: ONE shuffle on
    the key; the run-start detection (lag), interval close (lead), and
    version number (row_number) are all windows over the SAME
    (key, ts, id) sort, so Catalyst plans a single exchange + sort and
    the per-key sweep is linear. Ordering is made total by the unique
    `id_col` tiebreak, so the output is deterministic under equal
    timestamps."""
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    prev = F.lag(attr_col).over(w)
    # run start = first row OR attribute differs from the predecessor's.
    # prev.isNull() covers BOTH "first row" and "predecessor attr was
    # NULL" — matching SQL's `prev IS NULL OR prev IS DISTINCT FROM
    # attr` exactly (a bare ~eqNullSafe would swallow a key's LEADING
    # null-attribute run: first row has prev=NULL, attr=NULL,
    # eqNullSafe true).
    starts = (
        events.select(key_col, attr_col, ts_col, id_col)
        .withColumn(
            "_chg",
            prev.isNull() | ~prev.eqNullSafe(F.col(attr_col)),
        )
        .filter(F.col("_chg"))
    )
    # run starts keep their original (ts, id) order, so the same window
    # spec re-sorts only the surviving rows
    valid_to = F.lead(ts_col).over(w)
    return starts.select(
        key_col,
        attr_col,
        F.col(ts_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        F.row_number().over(w).alias("version"),
        valid_to.isNull().alias("is_current"),
    )


def scd2_apply_increment(
    dim: DataFrame,
    new_events: DataFrame,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Incrementally maintain an SCD2 dimension built by `scd2_intervals`:
    apply a batch of NEW change events without rebuilding untouched keys.
    Returns the updated dimension, row-identical to a full rebuild over
    (original events ∪ increment) — the incremental-view-maintenance
    contract, hash-checked by the registry oracle.

    PRECONDITION (standard for CDC appliers): the increment is
    append-only per key — no new event is earlier than an affected key's
    last already-applied event. A late event landing inside an
    already-collapsed run could split it in ways the dimension rows no
    longer carry enough information to replay (the raw events between
    run starts are gone). Late data ⇒ rebuild the affected keys from
    the source log instead.

    Plan shape: keys absent from the increment stream straight through
    (broadcast anti-join when the increment's key set is small — the
    common case); only AFFECTED keys re-run the run-collapse, seeded by
    their existing run-start rows (each dim row IS its run's first
    event), so the work is proportional to the increment's key set, not
    the dimension."""
    affected = new_events.select(key_col).distinct()
    untouched = dim.join(affected, key_col, "left_anti")
    seed = dim.join(affected, key_col, "left_semi").select(
        F.col(key_col),
        F.col(attr_col),
        F.col("valid_from").alias(ts_col),
        # seed ids rank below any real event id (so on an exact ts tie
        # with a NEW event the existing run start wins) AND preserve the
        # runs' original relative order through the version offset — two
        # equal-ts run starts of one key would otherwise sort
        # nondeterministically and break full-rebuild equality
        (F.col("version").cast("long") - F.lit(1 << 62)).alias(id_col),
    )
    evts = seed.unionByName(
        new_events.select(
            F.col(key_col),
            F.col(attr_col),
            F.col(ts_col),
            F.col(id_col).cast("long"),
        )
    )
    rebuilt = scd2_intervals(evts, key_col, attr_col, ts_col, id_col)
    return untouched.unionByName(rebuilt)


def coalesce_intervals(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge overlapping/touching [start, end] intervals per key into
    maximal islands — the gaps-and-islands coalesce (validity-interval
    compaction, covered-timeline computation, span merging). Returns
    (keys, start, end, n_merged) with island extents.

    Scale shape: ONE key-partitioned window ordered by (start, end) — a
    key-LOCAL sort, never global — computing the running max of prior
    ends (an island starts where start > that cummax), then a running
    sum of the starts-island flags as the island id, then one
    groupBy(key, island). Deterministic on ties: identical intervals
    fold into the same island regardless of sort-tie order."""
    w = Window.partitionBy(*key_cols).orderBy(start_col, end_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
    ).otherwise(0)
    islands = df.withColumn(
        "_isl",
        F.sum(new_island).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        islands.groupBy(*key_cols, "_isl")
        .agg(
            F.min(start_col).alias(start_col),
            F.max(end_col).alias(end_col),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .drop("_isl")
    )


def scd2_lookup_join(
    facts: DataFrame,
    dim: DataFrame,
    on: list[str],
    fact_ts: str = "ts",
    payload: tuple[str, ...] = ("event_type",),
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    version_col: str = "version",
    prefix: str = "dim_",
) -> DataFrame:
    """Point-in-time dimension lookup: attach to every fact the SCD2
    dimension version that was valid AT the fact's timestamp — the join
    every star schema with slowly-changing dimensions runs on every
    query. Matches valid_from <= ts < valid_to (valid_to NULL = still
    current); facts before the key's first version, or landing in a
    validity GAP (key deleted then re-created), get NULLs rather than a
    stale neighbor.

    Scale shape: rides asof_join — ONE hash shuffle on the key + one
    in-partition sort over facts ∪ versions; never a range-join
    explosion against the interval table. The covering check is a pure
    post-projection (the as-of row is the only candidate: intervals
    per key are disjoint)."""
    dimr = dim.select(
        *on,
        F.col(valid_from).alias("_vf"),
        F.col(version_col),
        *[F.col(c) for c in payload],
        F.col(valid_to).alias("_vt"),
    )
    joined = asof_join(
        facts.withColumnRenamed(fact_ts, "_scd_ts"),
        dimr.withColumnRenamed("_vf", "_scd_ts"),
        on=on,
        ts_col="_scd_ts",
        right_payload=tuple(payload) + ("_vt",),
        right_id_col=version_col,
        prefix=prefix,
    )
    covered = F.col(f"{prefix}_vt").isNull() | (
        F.col("_scd_ts") < F.col(f"{prefix}_vt")
    )
    out = joined
    for c in payload:
        out = out.withColumn(
            f"{prefix}{c}", F.when(covered, F.col(f"{prefix}{c}"))
        )
    return out.drop(f"{prefix}_vt").withColumnRenamed("_scd_ts", fact_ts)


def next_after_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    right_payload: tuple[str, ...] = ("event_id", "ts"),
    right_id_col: str = "event_id",
    prefix: str = "next_",
) -> DataFrame:
    """Forward-looking as-of: for every left row, the EARLIEST right row
    with right.ts >= left.ts for the same keys — the attribution /
    funnel primitive ("first conversion after this touch"). Exactly
    asof_join run on NEGATED event-time micros (earliest-following under
    t is latest-prior under −t), so it inherits the one-shuffle
    union+window plan and its determinism: ties at the same instant
    resolve to the largest right id. Left rows with no following right
    row get NULLs."""
    def negts(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_nts", -F.unix_micros(F.col(ts_col).cast("timestamp"))
        )

    out = asof_join(
        negts(left),
        negts(right),
        on=on,
        ts_col="_nts",
        right_payload=right_payload,
        right_id_col=right_id_col,
        prefix=prefix,
    )
    return out.drop("_nts")


def funnel_with_timeout(
    events: DataFrame,
    steps: list[str],
    max_gap_minutes: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Multi-step funnel with per-step timeout: for each step-1 event,
    chain the earliest following step-2 event within the gap, then the
    earliest step-3 after THAT, etc. Returns one row per funnel depth:
    (step index, step name, n_reached) where n_reached counts step-1
    events whose chain got at least that far — the standard conversion
    readout, computed without any event-level self-join explosion
    (each hop is ONE next_after_join = one key shuffle).

    Each hop matches the earliest FOLLOWING event (>= semantics), so a
    same-instant next step counts; a hop only survives if its gap to
    the PREVIOUS hop's time is <= max_gap_minutes. When a step REPEATS
    the previous step's type, the hop searches strictly AFTER the
    previous hop's instant (+1 µs) — otherwise the standing event would
    match itself and a re-engagement funnel would report 100%
    conversion (review regression)."""
    gap_us = max_gap_minutes * 60 * 1_000_000
    base = events.where(F.col(type_col) == steps[0]).select(
        F.col(user_col),
        F.col(id_col).alias("_sid"),
        F.col(ts_col).alias("_t0"),
    )
    counts = [base.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(0).alias("step_idx"), F.lit(steps[0]).alias("step"), "n"
    )]
    cur = base.withColumn("_prev_ts", F.col("_t0"))
    for i, step in enumerate(steps[1:], start=1):
        nxt = events.where(F.col(type_col) == step).select(
            F.col(user_col),
            F.col(id_col),
            F.col(ts_col),
        )
        search_from = (
            F.col("_prev_ts") + F.expr("INTERVAL 1 MICROSECOND")
            if step == steps[i - 1]
            else F.col("_prev_ts")
        )
        hopped = next_after_join(
            cur.withColumn(ts_col, search_from),
            nxt,
            on=[user_col],
            ts_col=ts_col,
            right_payload=(id_col, ts_col),
            right_id_col=id_col,
        )
        cur = (
            hopped.where(
                F.col(f"next_{ts_col}").isNotNull()
                & (
                    F.unix_micros(F.col(f"next_{ts_col}").cast("timestamp"))
                    - F.unix_micros(F.col("_prev_ts").cast("timestamp"))
                    <= gap_us
                )
            )
            .select(
                user_col,
                "_sid",
                "_t0",
                F.col(f"next_{ts_col}").alias("_prev_ts"),
            )
        )
        counts.append(
            cur.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(i).alias("step_idx"), F.lit(step).alias("step"), "n"
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def time_weighted_avg(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    scale: int = 4,
) -> DataFrame:
    """Per-key time-weighted average over IRREGULAR samples: each value
    holds until the next observation, so TWAP = Σ vᵢ·(tᵢ₊₁−tᵢ) /
    (t_last − t_first) — the metric a plain mean silently gets wrong
    whenever sampling density correlates with the value (the classic
    metrics/pricing bias). The last sample carries no duration; keys
    with fewer than two samples return NULL.

    Scale shape: ONE key shuffle for the lead() window (ties broken by
    id), then a map-side-combinable aggregate; the duration-weighted
    sum runs through dsum fixed-point so the result is engine-exact.
    NULL values contribute their duration to the span but not to the
    weighted sum — mirroring avg()'s null-skip would instead require
    carrying forward the previous value (a gap-fill concern, not
    TWAP's)."""
    from yat_geo_db_spark.relational.queries import dsum

    w = Window.partitionBy(*key_cols).orderBy(ts_col, id_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    dur_us = F.lead(us).over(w) - us
    seg = df.select(
        *key_cols,
        F.col(value_col).alias("_v"),
        dur_us.alias("_dur_us"),
        # per-row double division is deterministic; only SUMS need the
        # fixed-point treatment (span sums as exact integer micros)
        (dur_us.cast("double") / F.lit(1_000_000.0)).alias("_dur_s"),
    ).where(F.col("_dur_us").isNotNull())
    span_us = F.sum("_dur_us")
    return seg.groupBy(*key_cols).agg(
        (F.count(F.lit(1)) + 1).alias("n_samples"),
        F.round(span_us.cast("double") / F.lit(1_000_000.0), 6).alias(
            "span_s"
        ),
        F.round(
            F.when(
                span_us > 0,
                dsum(
                    F.when(
                        F.col("_v").isNotNull(),
                        F.col("_v") * F.col("_dur_s"),
                    ).otherwise(F.lit(0.0)),
                    scale,
                )
                / (span_us.cast("double") / F.lit(1_000_000.0)),
            ),
            6,
        ).alias("twap"),
    )


def funnel_completion_times(
    events: DataFrame,
    steps: list[str],
    max_gap_minutes: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Completed-chain view of funnel_with_timeout: one row per step-1
    event whose chain reached the LAST step within every per-hop gap,
    with the end-to-end conversion time in seconds — the input to
    time-to-convert percentiles (the read that tells you whether a slow
    funnel is slow at acquisition or slow at checkout). Same hop
    machinery (next_after_join per hop), so counts agree with
    funnel_with_timeout's deepest step by construction."""
    gap_us = max_gap_minutes * 60 * 1_000_000
    base = events.where(F.col(type_col) == steps[0]).select(
        F.col(user_col),
        F.col(id_col).alias("start_event_id"),
        F.col(ts_col).alias("_t0"),
    )
    cur = base.withColumn("_prev_ts", F.col("_t0"))
    for i, step in enumerate(steps[1:], start=1):
        nxt = events.where(F.col(type_col) == step).select(
            F.col(user_col), F.col(id_col), F.col(ts_col)
        )
        search_from = (
            F.col("_prev_ts") + F.expr("INTERVAL 1 MICROSECOND")
            if step == steps[i - 1]
            else F.col("_prev_ts")
        )
        hopped = next_after_join(
            cur.withColumn(ts_col, search_from),
            nxt,
            on=[user_col],
            ts_col=ts_col,
            right_payload=(id_col, ts_col),
            right_id_col=id_col,
        )
        cur = hopped.where(
            F.col(f"next_{ts_col}").isNotNull()
            & (
                F.unix_micros(F.col(f"next_{ts_col}").cast("timestamp"))
                - F.unix_micros(F.col("_prev_ts").cast("timestamp"))
                <= gap_us
            )
        ).select(
            user_col,
            "start_event_id",
            "_t0",
            F.col(f"next_{ts_col}").alias("_prev_ts"),
        )
    return cur.select(
        user_col,
        "start_event_id",
        (
            (
                F.unix_micros(F.col("_prev_ts").cast("timestamp"))
                - F.unix_micros(F.col("_t0").cast("timestamp"))
            ).cast("double")
            / F.lit(1_000_000.0)
        ).alias("conversion_s"),
    )
