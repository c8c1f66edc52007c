"""As-of join and band join unit semantics (golden hand-computed cases).
Cross-engine parity for the registry queries is covered by
tests/test_oracle_parity.py; these pin the operator semantics themselves."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from yat_geo_db_spark.relational.temporal import asof_join, band_join


def _ts(s: int):
    return dt.datetime(2024, 1, 1, 0, 0, s)


def test_asof_join_matches_latest_prior_right(spark):
    left = spark.createDataFrame(
        [(1, 100, _ts(10)), (1, 101, _ts(5)), (2, 102, _ts(10))],
        "user_id long, event_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, 900, _ts(3), 1.0),
            (1, 901, _ts(10), 2.0),   # same instant as click 100 → matches (<=)
            (1, 902, _ts(10), 3.0),   # tie at same ts → larger event_id wins
            (3, 903, _ts(1), 4.0),    # other user — never matched
        ],
        "user_id long, event_id long, ts timestamp, value double",
    )
    out = {
        r["event_id"]: (r["asof_event_id"], r["asof_value"])
        for r in asof_join(
            left, right, on=["user_id"], right_payload=("event_id", "value")
        ).collect()
    }
    assert out[100] == (902, 3.0)   # same-ts ties: <=, then max event_id
    assert out[101] == (900, 1.0)   # latest strictly-prior
    assert out[102] == (None, None) # user 2 has no right rows


def test_asof_payload_fields_come_from_same_row(spark):
    # two right rows at distinct ts: the matched (event_id, value) pair must
    # be internally consistent, never a mix of rows
    left = spark.createDataFrame(
        [(1, 10, _ts(20))], "user_id long, event_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, 800, _ts(1), 8.0), (1, 801, _ts(2), 9.0)],
        "user_id long, event_id long, ts timestamp, value double",
    )
    row = asof_join(
        left, right, on=["user_id"], right_payload=("event_id", "value")
    ).collect()[0]
    assert (row["asof_event_id"], row["asof_value"]) == (801, 9.0)


def test_band_join_boundaries_half_open(spark):
    facts = spark.createDataFrame(
        [(0.0,), (9.99,), (10.0,), (24.9,), (25.0,), (59.9,), (60.0,)],
        "q double",
    )
    bands = spark.createDataFrame(
        [("small", 0.0, 10.0), ("mid", 10.0, 25.0), ("large", 25.0, 60.0)],
        "band string, lo double, hi double",
    )
    got = {
        r["q"]: r["band"]
        for r in band_join(facts, bands, "q").collect()
    }
    assert got == {
        0.0: "small", 9.99: "small",
        10.0: "mid", 24.9: "mid",
        25.0: "large", 59.9: "large",
        # 60.0 outside every band → dropped by inner join
    }


def test_band_join_is_broadcast(spark):
    facts = spark.createDataFrame([(1.0,)], "q double")
    bands = spark.createDataFrame([("all", 0.0, 10.0)], "band string, lo double, hi double")
    plan = band_join(facts, bands, "q")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_scd2_intervals_semantics_and_single_exchange(spark):
    from yat_geo_db_spark.relational.temporal import scd2_intervals

    events = spark.createDataFrame(
        [
            # user 1: a, a, b, a  -> 3 runs (a, b, a)
            (10, 1, "a", _ts(1)),
            (11, 1, "a", _ts(2)),
            (12, 1, "b", _ts(3)),
            (13, 1, "a", _ts(4)),
            # user 2: single run; equal-ts rows break ties by event_id
            (21, 2, "x", _ts(5)),
            (20, 2, "x", _ts(5)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    out = scd2_intervals(events)
    rows = {
        (r.user_id, r.version): r for r in out.collect()
    }
    assert len(rows) == 4  # 3 runs for user 1, 1 for user 2
    assert rows[(1, 1)].event_type == "a" and rows[(1, 1)].valid_to == _ts(3)
    assert rows[(1, 2)].event_type == "b" and rows[(1, 2)].valid_to == _ts(4)
    assert rows[(1, 3)].event_type == "a" and rows[(1, 3)].is_current
    assert rows[(1, 3)].valid_to is None
    # intervals tile: each run's valid_to is the next run's valid_from
    assert rows[(1, 1)].valid_to == rows[(1, 2)].valid_from
    assert rows[(2, 1)].valid_from == _ts(5) and rows[(2, 1)].is_current
    # exactly one current row per key
    assert out.filter("is_current").count() == 2
    # all three windows share one (key, ts, id) sort: a single shuffle
    # (split off AQE's "Initial Plan" echo, which repeats the tree)
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") == 1


def test_scd2_apply_increment_equals_full_rebuild(spark):
    from yat_geo_db_spark.relational.temporal import (
        scd2_apply_increment,
        scd2_intervals,
    )

    # covers: cross-boundary collapse (user 1's increment starts with the
    # SAME attr as their last run — no new version), a plain transition
    # (user 2), an untouched key (user 3), and a brand-new key (user 4)
    base_rows = [
        (10, 1, "a", _ts(1)), (11, 1, "b", _ts(3)),
        (20, 2, "x", _ts(2)),
        (30, 3, "z", _ts(1)), (31, 3, "w", _ts(5)),
    ]
    incr_rows = [
        (12, 1, "b", _ts(10)), (13, 1, "c", _ts(12)),
        (21, 2, "y", _ts(11)),
        (40, 4, "q", _ts(10)),
    ]
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    base = spark.createDataFrame(base_rows, schema)
    incr = spark.createDataFrame(incr_rows, schema)
    full = spark.createDataFrame(base_rows + incr_rows, schema)

    inc = scd2_apply_increment(scd2_intervals(base), incr)
    want = scd2_intervals(full)
    key = lambda r: (r["user_id"], r["version"])
    got_m = {key(r): (r["event_type"], r["valid_from"], r["valid_to"], r["is_current"]) for r in inc.collect()}
    want_m = {key(r): (r["event_type"], r["valid_from"], r["valid_to"], r["is_current"]) for r in want.collect()}
    assert got_m == want_m
    # user 1 kept exactly 3 versions (a, b, c) — the boundary "b" collapsed
    assert max(v for (u, v) in got_m if u == 1) == 3
    # untouched user 3 still closed/current as before
    assert got_m[(3, 2)][3] is True


def test_scd2_null_attr_leading_run_kept(spark):
    """Review regression: a key whose FIRST events have a NULL attribute
    keeps that leading run (SQL-oracle semantics: prev IS NULL OR
    prev IS DISTINCT FROM attr — every row after a NULL-attr row starts
    a run)."""
    from yat_geo_db_spark.relational.temporal import scd2_intervals

    events = spark.createDataFrame(
        [(1, 1, None, _ts(1)), (2, 1, None, _ts(2)), (3, 1, "a", _ts(3))],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    rows = {r["version"]: r for r in scd2_intervals(events).collect()}
    # null rows each start a run (vers 1, 2), then 'a' (ver 3)
    assert len(rows) == 3
    assert rows[1].event_type is None and rows[1].valid_from == _ts(1)
    assert rows[2].event_type is None and rows[2].valid_from == _ts(2)
    assert rows[3].event_type == "a" and rows[3].is_current


def test_scd2_apply_increment_equal_ts_seeds_keep_order(spark):
    """Review regression: two existing run starts sharing an exact
    timestamp must keep their original relative order through the seed
    ids (a constant seed id would make the rebuilt order
    nondeterministic)."""
    from yat_geo_db_spark.relational.temporal import (
        scd2_apply_increment,
        scd2_intervals,
    )

    schema = "event_id long, user_id long, event_type string, ts timestamp"
    base = spark.createDataFrame(
        [(10, 1, "a", _ts(5)), (11, 1, "b", _ts(5))], schema
    )
    incr = spark.createDataFrame([(12, 1, "c", _ts(9))], schema)
    full = spark.createDataFrame(
        [(10, 1, "a", _ts(5)), (11, 1, "b", _ts(5)), (12, 1, "c", _ts(9))],
        schema,
    )
    inc = {
        r["version"]: r["event_type"]
        for r in scd2_apply_increment(scd2_intervals(base), incr).collect()
    }
    want = {
        r["version"]: r["event_type"] for r in scd2_intervals(full).collect()
    }
    assert inc == want == {1: "a", 2: "b", 3: "c"}


def test_dq_audit_rules(spark):
    """Every rule kind fires on crafted violations and stays quiet on
    clean data; NULLs violate only not_null (SQL FK semantics)."""
    from yat_geo_db_spark.relational.dq import dq_audit

    child = spark.createDataFrame(
        [(1, 5.0, "A"), (1, -1.0, "B"), (None, 2.0, "A"), (9, 200.0, "A")],
        "k int, v double, flag string",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    out = {(r["rule"], r["column"]): r for r in dq_audit(
        child,
        not_null=("k",),
        unique=("k",),
        ranges={"v": (0.0, 100.0)},
        accepted={"flag": ("A",)},
        refs=(("k", parent, "pk"),),
    ).collect()}
    assert out[("not_null", "k")]["n_violations"] == 1  # the None
    assert out[("unique", "k")]["n_violations"] == 1    # k=1 twice (NULL ignored)
    assert out[("range[0.0,100.0]", "v")]["n_violations"] == 2  # -1 and 200
    assert out[("accepted_values", "flag")]["n_violations"] == 1  # "B"
    # k=9 is the only orphan; NULL child key doesn't violate the FK
    r = out[("referential", "k")]
    assert r["n_violations"] == 1 and r["n_rows"] == 4 and not r["ok"]
    assert all(r["n_rows"] == 4 for r in out.values())
    clean = dq_audit(parent, not_null=("pk",), unique=("pk",)).collect()
    assert all(r["ok"] for r in clean)


def test_dq_audit_fk_only_and_no_rules(spark):
    """An FK-only audit (no row-level rules) works — the stack() unpivot
    is skipped, not parsed as stack(0) — and a rule-less call refuses."""
    import pytest

    from yat_geo_db_spark.relational.dq import dq_audit

    child = spark.createDataFrame([(1,), (9,), (None,)], "k int")
    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    rows = dq_audit(child, refs=(("k", parent, "pk"),)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["rule"] == "referential" and r["n_violations"] == 1
    assert r["n_rows"] == 3 and not r["ok"]
    with pytest.raises(ValueError):
        dq_audit(child)


def test_cdc_apply_semantics(spark):
    """Deletes suppress lower-version upserts; the latest upsert wins
    per key; stream ties beat the snapshot; inserts of new keys land."""
    from yat_geo_db_spark.relational.merge import cdc_apply

    snap = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0)],
        "k long, v string, version int",
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", 1, "U"),   # plain update
            (2, "x", 1, "U"),    # update...
            (2, "gone", 2, "D"), # ...then deleted at higher version
            (3, "tie", 0, "U"),  # version tie -> stream beats snapshot
            (4, "new", 1, "I"),  # brand-new key
            (5, "up", 3, "U"),   # same-version U and D ...
            (5, "del", 3, "D"),  # ... the DELETE wins, deterministically
        ],
        "k long, v string, version int, op string",
    )
    got = {r["k"]: (r["v"], r["version"])
           for r in cdc_apply(snap, changes, ["k"], "version").collect()}
    assert got == {1: ("a2", 1), 3: ("tie", 0), 4: ("new", 1)}


def test_cdc_apply_rejects_malformed_op(spark):
    """The op ∈ {I,U,D} domain is enforced at execution: a NULL (or
    unknown) op would otherwise sort FIRST under asc (NULLs-first),
    outrank same-version real ops, then vanish through the op != 'D'
    filter — silently deleting the key with no delete record."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from yat_geo_db_spark.relational.merge import cdc_apply

    snap = spark.createDataFrame([(1, "a", 0)], "k long, v string, version int")
    for bad_op in (None, "X"):
        changes = spark.createDataFrame(
            [(1, "z", 5, bad_op)], "k long, v string, version int, op string"
        )
        with pytest.raises(SparkRuntimeException, match="cdc_apply: op"):
            cdc_apply(snap, changes, ["k"], "version").collect()


def test_dq_audit_hostile_column_names(spark):
    """Rule labels and column names pass through the generated stack()
    SQL as escaped literals, and agg aliases are positional — a column
    named with a quote/backtick (legal in Spark) must not break or
    mis-parse the unpivot."""
    from yat_geo_db_spark.relational.dq import dq_audit

    df = spark.createDataFrame([(1,), (None,)], ["it's a col"])
    rows = dq_audit(df, not_null=("it's a col",)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["column"] == "it's a col"
    assert r["rule"] == "not_null"
    assert r["n_violations"] == 1 and r["n_rows"] == 2 and not r["ok"]


def test_snapshot_diff_round_trips_through_cdc_apply(spark):
    """snapshot_diff(old, new) must be exactly the change stream that
    rebuilds `new` from `old` via cdc_apply — inserts, deletes, updates,
    NULL transitions in both directions, and unchanged keys emitting
    nothing."""
    from yat_geo_db_spark.relational.merge import cdc_apply, snapshot_diff

    old = spark.createDataFrame(
        [
            (1, 10.0, "a"),     # unchanged
            (2, 20.0, "b"),     # value update
            (3, 30.0, None),    # NULL -> value update
            (4, None, "d"),     # value -> NULL update
            (5, 50.0, "e"),     # deleted
        ],
        "k long, x double, s string",
    )
    new = spark.createDataFrame(
        [
            (1, 10.0, "a"),
            (2, 21.0, "b"),
            (3, 30.0, "c"),
            (4, None, None),
            (6, 60.0, "f"),     # inserted
        ],
        "k long, x double, s string",
    )
    diff = snapshot_diff(old, new, ["k"])
    got = {r["k"]: (r["op"], r["changed"]) for r in diff.collect()}
    assert got == {
        2: ("U", "x"),
        3: ("U", "s"),
        4: ("U", "s"),
        5: ("D", ""),
        6: ("I", ""),
    }

    # round trip: applying the diff onto old reproduces new exactly
    changes = diff.drop("changed").withColumn("version", F.lit(1))
    rebuilt = cdc_apply(
        old.withColumn("version", F.lit(0)), changes, ["k"], "version"
    ).drop("version")
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, new.collect())
    )

    # identical snapshots diff to nothing
    assert snapshot_diff(old, old, ["k"]).count() == 0


def test_coalesce_intervals_islands(spark):
    """Overlap, containment, exact touch (start == prior end → same
    island), gaps, and per-key isolation — checked against the obvious
    local merge."""
    from yat_geo_db_spark.relational.temporal import coalesce_intervals

    rows = [
        ("a", 1, 5), ("a", 4, 8),      # overlap -> [1,8]
        ("a", 8, 9),                   # touches  -> [1,9]
        ("a", 2, 3),                   # contained
        ("a", 15, 20),                 # gap -> new island
        ("b", 1, 2), ("b", 10, 11),    # other key: own islands
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    got = sorted(
        (r["k"], r["s"], r["e"], r["n_merged"])
        for r in coalesce_intervals(df, ["k"], "s", "e").collect()
    )
    assert got == [
        ("a", 1, 9, 4),
        ("a", 15, 20, 1),
        ("b", 1, 2, 1),
        ("b", 10, 11, 1),
    ]

    # an interval whose end extends a PRIOR short one must still chain:
    # [1,10], [2,3], [4,20] is ONE island even though 4 > 3
    chain = spark.createDataFrame(
        [("x", 1, 10), ("x", 2, 3), ("x", 4, 20)], "k string, s long, e long"
    )
    out = coalesce_intervals(chain, ["k"], "s", "e").collect()
    assert [(r["s"], r["e"], r["n_merged"]) for r in out] == [(1, 20, 3)]


def test_snapshot_diff_key_only_tables(spark):
    """A membership diff (no payload columns) must work: only I and D
    ops, never U, never a crash from the empty compare set."""
    from yat_geo_db_spark.relational.merge import snapshot_diff

    old = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    new = spark.createDataFrame([(2,), (3,), (4,)], "k long")
    got = {r["k"]: r["op"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "D", 4: "I"}


def test_event_transitions_golden(spark):
    """Hand-built two-user stream: counts and conditional probabilities
    must match the by-hand matrix; ts ties break by event id."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.relational.queries import event_transitions

    rows = [
        # user 1: view -> click -> view
        (1, 1, "2024-01-01 00:00:00", "view"),
        (2, 1, "2024-01-01 00:01:00", "click"),
        (3, 1, "2024-01-01 00:02:00", "view"),
        # user 2: view -> view  (tie on ts: event 5 before 6 by id)
        (4, 2, "2024-01-01 00:00:00", "view"),
        (5, 2, "2024-01-01 00:01:00", "view"),
        (6, 2, "2024-01-01 00:01:00", "click"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r["cur_type"], r["next_type"]): (r["n"], r["p_next"])
        for r in event_transitions(events).collect()
    }
    # user 1: view->click, click->view; user 2: view->view, view->click
    assert got[("view", "click")] == (2, 0.666667)
    assert got[("view", "view")] == (1, 0.333333)
    assert got[("click", "view")] == (1, 1.0)
    assert ("click", "click") not in got


def test_robust_outliers_flags_and_degenerate_group(spark):
    """A planted far point must flag; the bulk must not; a group where
    >50% of values are identical (MAD = 0) must yield NULL z and flag
    nothing — never a divide-by-zero artifact."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.relational.dq import robust_outliers

    rows = [("a", float(v)) for v in [10, 11, 12, 13, 14, 1000]] + [
        ("b", 5.0),
        ("b", 5.0),
        ("b", 5.0),
        ("b", 99.0),
    ]
    df = spark.createDataFrame(rows, "grp string, x double")
    out = robust_outliers(df, ["grp"], "x").collect()
    flagged = {(r["grp"], r["x"]) for r in out if r["is_outlier"]}
    assert flagged == {("a", 1000.0)}
    b_rows = [r for r in out if r["grp"] == "b"]
    assert all(r["robust_z"] is None for r in b_rows)


def test_table_stats_profile_golden(spark):
    """Nulls, ndv, numeric bounds, timestamp epoch bounds, and string
    avg length must all be exact on a hand-built frame."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.relational.dq import table_stats

    df = spark.createDataFrame(
        [
            (1, 2.5, "ab", "2024-01-01 00:00:00"),
            (2, None, "abcd", "2024-01-02 00:00:00"),
            (2, 7.5, None, None),
        ],
        "k long, x double, s string, t string",
    ).withColumn("t", F.to_timestamp("t"))
    got = {r["column_name"]: r for r in table_stats(df).collect()}
    assert got["k"]["n_rows"] == 3 and got["k"]["n_distinct"] == 2
    assert got["x"]["n_null"] == 1 and got["x"]["null_frac"] == 0.333333
    assert got["x"]["min_num"] == 2.5 and got["x"]["max_num"] == 7.5
    assert got["s"]["avg_len"] == 3.0 and got["s"]["min_num"] is None
    assert got["t"]["min_num"] == 1704067200000000.0
    assert got["t"]["n_null"] == 1


def test_winsorize_clips_tails_only(spark):
    """Values inside the [p_lo, p_hi] band pass through unchanged; the
    tails clamp to the bounds; NULLs stay NULL (never clamped to a
    bound by least/greatest null-skipping)."""
    from yat_geo_db_spark.relational.dq import winsorize

    vals = [float(v) for v in range(1, 101)]  # 1..100
    rows = [("a", i, v) for i, v in enumerate(vals)] + [("a", 999, None)]
    df = spark.createDataFrame(rows, "g string, i long, x double")
    out = {r["i"]: r["x_w"] for r in winsorize(df, ["g"], "x", 0.1, 0.9).collect()}
    # p10 of 1..100 (quantile_cont) = 10.9; p90 = 90.1
    assert abs(out[0] - 10.9) < 1e-9 and out[0] == out[4]  # low tail clamps up
    assert abs(out[99] - 90.1) < 1e-9  # high tail clamps down
    assert out[49] == 50.0  # interior untouched
    assert out[999] is None


def test_impute_median_group_and_global_fallback(spark):
    """NULLs fill with the group median; an all-NULL group falls back to
    the global median; non-null values pass through untouched."""
    from yat_geo_db_spark.relational.dq import impute_median

    rows = [
        ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, None),
        ("b", 4, None), ("b", 5, None),
        ("c", 6, 100.0),
    ]
    df = spark.createDataFrame(rows, "g string, i long, x double")
    got = {r["i"]: r["x_filled"] for r in impute_median(df, ["g"], "x").collect()}
    assert got[3] == 15.0          # group median of a
    assert got[4] == got[5] == 20.0  # global median of {10,20,100}
    assert got[1] == 10.0 and got[6] == 100.0


def test_association_rules_golden_basket(spark):
    """Hand-built baskets: a rule that always fires gets confidence 1
    and lift N/n_b; a never-co-occurring pair is absent; min_pair_n
    prunes."""
    import datetime as dt

    from yat_geo_db_spark.relational.queries import association_rules

    rows = []
    eid = 0
    # 4 sessions (distinct users, far-apart times): {a,b} x3, {c} x1
    for u in range(3):
        for t in ("a", "b"):
            rows.append((eid, u, dt.datetime(2024, 1, 1, 0, 0, eid), t))
            eid += 1
    rows.append((eid, 99, dt.datetime(2024, 1, 1, 0, 0, 59), "c"))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(df, min_pair_n=2, top_k=10).collect()
    }
    ab = got[("a", "b")]
    assert ab["n_ab"] == 3 and ab["confidence"] == 1.0
    assert ab["support"] == 0.75  # 3 of 4 sessions
    assert ab["lift"] == round(1.0 / (3 / 4), 6)  # 1.333333
    assert ("a", "c") not in got


def test_scd2_lookup_join_golden(spark):
    """Point-in-time lookup: boundary instant belongs to the NEW version
    (valid_from <= ts < valid_to), validity gaps and pre-first-version
    facts yield NULL, current (open) versions match any later ts."""
    import datetime as dt

    from yat_geo_db_spark.relational.temporal import scd2_lookup_join

    def ts(s):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

    dim = spark.createDataFrame(
        [
            (1, 1, "a", ts(0), ts(10)),
            (1, 2, "b", ts(10), ts(20)),
            (1, 3, "c", ts(30), None),  # gap 20..30, then current
            (2, 1, "x", ts(5), None),
        ],
        "user_id long, version int, event_type string,"
        " valid_from timestamp, valid_to timestamp",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, ts(0)), (101, 1, ts(9)), (102, 1, ts(10)),
            (103, 1, ts(25)), (104, 1, ts(31)),
            (105, 2, ts(4)), (106, 2, ts(99)),
        ],
        "fact_id long, user_id long, ts timestamp",
    )
    got = {
        r["fact_id"]: r["dim_event_type"]
        for r in scd2_lookup_join(
            facts, dim, ["user_id"], payload=("event_type",)
        ).collect()
    }
    assert got == {
        100: "a", 101: "a", 102: "b", 103: None,
        104: "c", 105: None, 106: "x",
    }


def test_next_after_join_and_funnel_timeout(spark):
    """next_after_join must pick the EARLIEST following right row
    (>= semantics, same-instant matches); funnel_with_timeout must
    count chains per depth with the per-hop gap enforced."""
    import datetime as dt

    from yat_geo_db_spark.relational.temporal import (
        funnel_with_timeout,
        next_after_join,
    )

    def ts(m):
        return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)

    rows = [
        # user 1: view(0) -> click(5) -> purchase(8): full chain
        (1, 1, "view", ts(0)), (2, 1, "click", ts(5)),
        (3, 1, "purchase", ts(8)),
        # user 2: view(0) -> click(40): click too late (gap 30)
        (4, 2, "view", ts(0)), (5, 2, "click", ts(40)),
        # user 3: view(0) -> click(10) -> purchase(50): last hop too late
        (6, 3, "view", ts(0)), (7, 3, "click", ts(10)),
        (8, 3, "purchase", ts(50)),
        # user 4: click before the view only — not a following event
        (9, 4, "click", ts(0)), (10, 4, "view", ts(5)),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )

    views = events.where("event_type = 'view'")
    clicks = events.where("event_type = 'click'")
    nxt = {
        r["event_id"]: r["next_event_id"]
        for r in next_after_join(views, clicks, ["user_id"]).collect()
    }
    assert nxt == {1: 2, 4: 5, 6: 7, 10: None}

    funnel = {
        r["step_idx"]: r["n"]
        for r in funnel_with_timeout(
            events, ["view", "click", "purchase"], max_gap_minutes=30
        ).collect()
    }
    assert funnel == {0: 4, 1: 2, 2: 1}


def test_dau_mau_window_semantics(spark):
    """A user active on day 0 supports the trailing window of days
    0..29 but not day 30; stickiness is exact DAU/window-actives;
    multi-event days count each user once."""
    import datetime as dt

    import pyspark.sql.functions as F
    from yat_geo_db_spark.relational.queries import dau_mau_stickiness

    def ts(d):
        return dt.datetime(2024, 1, 1) + dt.timedelta(days=d)

    rows = [
        (1, ts(0)), (1, ts(0)),          # dup same day
        (2, ts(0)),
        (1, ts(29)),
        (3, ts(30)),
    ]
    events = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        str(r["day"]): (r["dau"], r["window_active"], r["stickiness"])
        for r in dau_mau_stickiness(events, window_days=30).collect()
    }
    assert got["2024-01-01"] == (2, 2, 1.0)
    # day 29: dau = {1}; window covers day0 users {1,2} + day29 {1} = {1,2}
    assert got["2024-01-30"] == (1, 2, 0.5)
    # day 30: day-0 users aged out; active = day29 {1} + day30 {3}
    assert got["2024-01-31"] == (1, 2, 0.5)


def test_time_weighted_avg_density_bias(spark):
    """A value sampled densely must NOT dominate the TWAP the way it
    dominates a plain mean: value 10 held for 90 s then value 100
    sampled 9× in the last 10 s → TWAP ≈ 19, plain mean ≈ 73. Single
    sample keys → NULL; trailing sample carries no weight."""
    import datetime as dt

    from yat_geo_db_spark.relational.temporal import time_weighted_avg

    def ts(s):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

    rows = [(1, "k", ts(0), 10.0)]
    rows += [(i + 2, "k", ts(90 + i), 100.0) for i in range(10)]
    rows += [(50, "lone", ts(0), 5.0)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    got = {
        r["event_type"]: r
        for r in time_weighted_avg(df, ["event_type"]).collect()
    }
    k = got["k"]
    # 10*90 + 100*9 = 1800 over 99 s
    assert k["twap"] == round(1800 / 99, 6) and k["span_s"] == 99.0
    assert k["n_samples"] == 11
    assert "lone" not in got  # no second sample → no duration → no row


def test_funnel_repeated_step_no_self_match(spark):
    """Review regression: a repeated step type must not match the
    standing event — one view per user means zero view→view
    conversions; a genuine second view still counts."""
    import datetime as dt

    from yat_geo_db_spark.relational.temporal import funnel_with_timeout

    def ts(m):
        return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)

    events = spark.createDataFrame(
        [(1, 1, "view", ts(0)), (2, 2, "view", ts(0)),
         (3, 2, "view", ts(5))],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    got = {
        r["step_idx"]: r["n"]
        for r in funnel_with_timeout(
            events, ["view", "view"], max_gap_minutes=30
        ).collect()
    }
    # 3 view starts; only user 2's first view has a LATER second view
    assert got == {0: 3, 1: 1}


def test_evolve_union_widening_and_conflicts(spark):
    """Missing columns fill NULL, ints widen to the widest observed
    type, column order follows first appearance, and a string/long
    conflict refuses instead of silently casting."""
    import pytest

    from yat_geo_db_spark.relational.merge import evolve_union

    a = spark.createDataFrame([(1, 10)], "id int, v int")
    b = spark.createDataFrame([(2, 3.5, "x")], "id long, w double, tag string")
    out = evolve_union([a, b])
    assert [f.name for f in out.schema.fields] == ["id", "v", "w", "tag"]
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types["id"] == "bigint" and types["v"] == "int"
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["v"] == 10 and rows[1]["w"] is None
    assert rows[2]["tag"] == "x" and rows[2]["v"] is None

    c = spark.createDataFrame([("oops",)], "id string")
    with pytest.raises(ValueError, match="incompatible"):
        evolve_union([a, c])


def test_corr_matrix_known_correlations(spark):
    """Perfectly correlated, anti-correlated, and independent planted
    columns must land at 1, -1, and ~0; a constant column yields NULL;
    a row with any NULL is excluded everywhere (complete-case)."""
    from yat_geo_db_spark.relational.dq import corr_matrix

    rows = []
    for i in range(40):
        x = float(i)
        rows.append((x, 2 * x + 3, -x, float((i * 7919) % 13), 5.0))
    rows.append((None, 1.0, 1.0, 1.0, 5.0))  # complete-case drop
    df = spark.createDataFrame(rows, "x double, y double, z double, r double, c double")
    got = {
        (r["col_a"], r["col_b"]): r
        for r in corr_matrix(df, ["x", "y", "z", "r", "c"]).collect()
    }
    assert all(r["n"] == 40 for r in got.values())
    assert got[("x", "y")]["corr"] == 1.0
    assert got[("x", "z")]["corr"] == -1.0
    assert abs(got[("x", "r")]["corr"]) < 0.4
    assert got[("x", "c")]["corr"] is None  # zero variance


def test_chi_square_independence_golden(spark):
    """A perfectly independent 2×2 table scores chi2 = 0; a fully
    dependent one scores chi2 = n; dof is (ka−1)(kb−1); NULLs drop."""
    from yat_geo_db_spark.relational.dq import chi_square_independence

    indep = spark.createDataFrame(
        [("a", "x")] * 10 + [("a", "y")] * 10
        + [("b", "x")] * 10 + [("b", "y")] * 10,
        "u string, v string",
    )
    r = chi_square_independence(indep, "u", "v").collect()[0]
    assert (r["n"], r["dof"], r["chi2"]) == (40, 1, 0.0)

    dep = spark.createDataFrame(
        [("a", "x")] * 20 + [("b", "y")] * 20 + [(None, "x")],
        "u string, v string",
    )
    r2 = chi_square_independence(dep, "u", "v").collect()[0]
    assert (r2["n"], r2["dof"], r2["chi2"]) == (40, 1, 40.0)


def test_funnel_completion_times_agree_with_counts(spark):
    """Completed-chain count must equal funnel_with_timeout's deepest
    step, and the conversion seconds are the exact end-to-end deltas."""
    import datetime as dt

    from yat_geo_db_spark.relational.temporal import (
        funnel_completion_times,
        funnel_with_timeout,
    )

    def ts(m):
        return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)

    rows = [
        (1, 1, "view", ts(0)), (2, 1, "click", ts(5)),
        (3, 1, "purchase", ts(8)),
        (4, 2, "view", ts(0)), (5, 2, "click", ts(10)),
        (6, 2, "purchase", ts(50)),  # last hop too late at gap 30
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    chains = funnel_completion_times(
        events, ["view", "click", "purchase"], max_gap_minutes=30
    ).collect()
    deepest = {
        r["step_idx"]: r["n"]
        for r in funnel_with_timeout(
            events, ["view", "click", "purchase"], max_gap_minutes=30
        ).collect()
    }[2]
    assert len(chains) == deepest == 1
    assert chains[0]["start_event_id"] == 1
    assert chains[0]["conversion_s"] == 8 * 60.0
