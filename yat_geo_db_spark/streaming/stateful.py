"""Custom stateful streaming operator via applyInPandasWithState — the
escape hatch for semantics the built-in window aggregations can't express
(here: per-user lifetime running totals emitted every micro-batch, with an
idle-timeout that finalizes a user's state).

Scale notes: state is partitioned by the grouping key across the state
store (one partition per shuffle partition); Arrow batches per group keep
the Python boundary vectorized; the timeout bounds state growth exactly
like a watermark bounds window state. Prefer RocksDB state store off-heap
for 100 TB-class key cardinalities.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def running_user_totals(events: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Per-user cumulative (count, value-sum) across micro-batches.

    Emits one row per user per micro-batch in which the user appeared
    (`closed=False`), plus a final row when the idle timeout fires
    (`closed=True`). Input must be a streaming DataFrame grouped-able by
    `user_id` with a `value` column.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            n, v = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "n_events": [n],
                 "total_value": [v], "closed": [True]}
            )
            return
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n],
             "total_value": [v], "closed": [False]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, OUTPUT_SCHEMA, STATE_SCHEMA, "update", timeout
        )
    )


# --------------------------------------------------------------------------
# streaming transition counts — cross-batch sequence state
# --------------------------------------------------------------------------

TRANSITION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("cur_type", T.StringType()),
        T.StructField("next_type", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)

#: last event seen per user: (event-time micros, event id, event type)
TRANSITION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("last_id", T.LongType()),
        T.StructField("last_type", T.StringType()),
    ]
)


def streaming_transition_counts(events: DataFrame) -> DataFrame:
    """Streaming twin of relational.queries.event_transitions: per-user
    (current, next) event-type transition counts maintained ACROSS
    micro-batches — the state carries each user's last event, so the
    first event of a new batch pairs with the last event of the
    previous one (the cross-batch edge a per-batch window would drop).
    Emits per-batch transition DELTAS; counts are mergeable, so the
    reader folds them with a plain groupBy-sum and the folded stream
    equals the batch matrix whenever batches arrive per-user
    time-ordered (a time-range-split source; test-pinned).

    State is O(1) per user (one last-event tuple); per batch each
    user's rows sort locally inside applyInPandasWithState."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        (user_id,) = key
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values(["us", "event_id"])
        prev = state.get if state.exists else None
        if prev is not None:
            first = rows.iloc[0]
            if (int(first["us"]), int(first["event_id"])) <= (
                prev[0],
                prev[1],
            ):
                raise ValueError(
                    "streaming_transition_counts: batch delivered events "
                    f"at or before the stored last event for user {key[0]} "
                    f"(got ({int(first['us'])}, {int(first['event_id'])}) "
                    f"<= state ({prev[0]}, {prev[1]})). The fold contract "
                    "requires per-user time-ordered micro-batches — "
                    "time-range-partition the source."
                )
        prev_type = prev[2] if prev is not None else None
        counts: dict = {}
        last = None
        for _, r in rows.iterrows():
            cur = r["event_type"]
            if prev_type is not None:
                k = (prev_type, cur)
                counts[k] = counts.get(k, 0) + 1
            prev_type = cur
            last = (int(r["us"]), int(r["event_id"]), cur)
        state.update(last)
        if counts:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(counts),
                    "cur_type": [k[0] for k in counts],
                    "next_type": [k[1] for k in counts],
                    "n": list(counts.values()),
                }
            )

    return (
        events.select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            TRANSITION_OUTPUT_SCHEMA,
            TRANSITION_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
