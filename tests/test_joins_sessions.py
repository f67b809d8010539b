"""Golden unit tests for asof_join and sessionize/session_stats."""

import datetime as dt

from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.operators import joins, sessions


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 12, minute, second)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )


def test_asof_picks_latest_at_or_before(spark):
    left = _events(spark, [(1, _ts(10), 100, 0.0)])
    right = _events(
        spark,
        [(1, _ts(5), 201, 5.0), (1, _ts(9), 202, 9.0), (1, _ts(11), 203, 11.0)],
    )
    out = joins.asof_join(
        left, right, on="user_id", left_keep=["event_id"],
        right_payload=["event_id", "value"],
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["r_event_id"] == 202 and r["r_value"] == 9.0
    assert r["r_ts"] == _ts(9)


def test_asof_inclusive_equality(spark):
    left = _events(spark, [(1, _ts(10), 100, 0.0)])
    right = _events(spark, [(1, _ts(10), 201, 7.0)])
    r = joins.asof_join(
        left, right, on="user_id", left_keep=["event_id"],
        right_payload=["event_id", "value"],
    ).collect()[0]
    assert r["r_event_id"] == 201


def test_asof_no_match_is_null(spark):
    left = _events(spark, [(1, _ts(1), 100, 0.0)])
    right = _events(spark, [(1, _ts(5), 201, 5.0), (2, _ts(0), 301, 1.0)])
    r = joins.asof_join(
        left, right, on="user_id", left_keep=["event_id"],
        right_payload=["event_id", "value"],
    ).collect()[0]
    assert r["r_event_id"] is None and r["r_ts"] is None
    assert r["event_id"] == 100  # left payload carried through


def test_asof_tie_breaks_by_max_payload(spark):
    left = _events(spark, [(1, _ts(10), 100, 0.0)])
    right = _events(spark, [(1, _ts(5), 201, 5.0), (1, _ts(5), 205, 6.0)])
    r = joins.asof_join(
        left, right, on="user_id", left_keep=["event_id"],
        right_payload=["event_id", "value"],
    ).collect()[0]
    assert r["r_event_id"] == 205


def test_sessionize_splits_on_gap(spark):
    ev = _events(
        spark,
        [
            (1, _ts(0), 1, 0.0),
            (1, _ts(10), 2, 0.0),   # same session (10 min gap)
            (1, _ts(45), 3, 0.0),   # new session (35 min gap)
            (2, _ts(0), 4, 0.0),    # separate user
        ],
    )
    out = sessions.sessionize(ev, gap_minutes=30).collect()
    got = {r["event_id"]: r["session_id"] for r in out}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_session_stats_duration(spark):
    ev = _events(
        spark,
        [(1, _ts(0), 1, 0.0), (1, _ts(10, 30), 2, 0.0), (1, _ts(45), 3, 0.0)],
    )
    out = {
        (r["user_id"], r["session_id"]): r
        for r in sessions.session_stats(ev, gap_minutes=30).collect()
    }
    s1 = out[(1, 1)]
    assert s1["n_events"] == 2
    assert s1["duration_s"] == 630.0
    s2 = out[(1, 2)]
    assert s2["n_events"] == 1 and s2["duration_s"] == 0.0


def test_sessionize_boundary_gap_exact_not_new(spark):
    # gap EXACTLY 30 min is not a new session (strict >)
    ev = _events(spark, [(1, _ts(0), 1, 0.0), (1, _ts(30), 2, 0.0)])
    got = {
        r["event_id"]: r["session_id"]
        for r in sessions.sessionize(ev, gap_minutes=30).collect()
    }
    assert got == {1: 1, 2: 1}


# ---------------------------------------------------------------------------
# binned_interval_join
# ---------------------------------------------------------------------------
def test_binned_interval_join_matches_naive(spark):
    """Property: the bin-blocked join returns exactly the naive
    equi-join + range-filter pair set, including pairs that straddle a
    bin boundary."""
    import random

    rng = random.Random(7)
    rows = [
        (u, _ts(rng.randrange(0, 59), rng.randrange(0, 60)), i, float(i))
        for i, u in enumerate(rng.choices([1, 2, 3], k=60))
    ]
    ev = _events(spark, rows)
    right = ev.select("user_id", "ts", F.col("event_id").alias("rid"))
    out = joins.binned_interval_join(
        ev, right, on="user_id", lo_s=0.0, hi_s=300.0, right_payload=["rid"]
    )
    got = {(r["event_id"], r["r_rid"], r["gap_us"]) for r in out.collect()}

    a, b = ev.alias("a"), right.alias("b")
    naive = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (
            F.unix_micros(F.col("b.ts"))
            <= F.unix_micros(F.col("a.ts")) + 300_000_000
        ),
    ).select(
        F.col("a.event_id"),
        F.col("b.rid"),
        (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))).alias(
            "gap_us"
        ),
    )
    want = {(r["event_id"], r["rid"], r["gap_us"]) for r in naive.collect()}
    assert got == want and len(got) > 0


def test_binned_interval_join_boundaries(spark):
    """(lo, hi] semantics: gap == 0 excluded, gap == hi included,
    gap just over hi excluded; exact bin-boundary gap included once."""
    left = _events(spark, [(1, _ts(0), 1, 0.0)])
    right = _events(
        spark,
        [
            (1, _ts(0), 10, 0.0),        # gap 0 -> excluded (open low end)
            (1, _ts(5), 11, 0.0),        # gap 300s == hi -> included
            (1, _ts(5, 1), 12, 0.0),     # gap 301s -> excluded
            (2, _ts(1), 13, 0.0),        # other key -> excluded
        ],
    )
    out = joins.binned_interval_join(
        left,
        right.select("user_id", "ts", F.col("event_id").alias("rid")),
        on="user_id",
        lo_s=0.0,
        hi_s=300.0,
        right_payload=["rid"],
    ).collect()
    assert {(r["r_rid"], r["gap_us"]) for r in out} == {(11, 300_000_000)}


def test_binned_interval_join_is_equi_shuffle(spark):
    """The physical plan must be an equi-join on (key, bin) — a
    SortMergeJoin/ShuffledHashJoin with the range as a post-condition —
    not a nested-loop cartesian per key."""
    ev = _events(spark, [(1, _ts(0), 1, 0.0), (1, _ts(2), 2, 0.0)])
    out = joins.binned_interval_join(
        ev,
        ev.select("user_id", "ts", F.col("event_id").alias("rid")),
        on="user_id",
        lo_s=0.0,
        hi_s=300.0,
        right_payload=["rid"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


# ---------------------------------------------------------------------------
# followup_stats (r16: the no-pair-materialization window form)
# ---------------------------------------------------------------------------
def _typed_events(spark, rows):
    """(user_id, ts, event_id, event_type) with nullable key/ts/type."""
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )


def _join_form_per_row(ev, lo_s, hi_s):
    """Reference: binned_interval_join pairs aggregated per LEFT row."""
    pairs = joins.binned_interval_join(
        ev,
        ev.select("user_id", "ts", F.col("event_type").alias("next_type")),
        on="user_id",
        lo_s=lo_s,
        hi_s=hi_s,
        right_payload=["next_type"],
    )
    return {
        r["event_id"]: (r["cnt"], r["gap_sum"], r["same_cnt"])
        for r in pairs.groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("gap_us").alias("gap_sum"),
            F.sum(
                F.when(F.col("r_next_type") == F.col("event_type"), 1).otherwise(0)
            ).alias("same_cnt"),
        )
        .collect()
    }


def test_followup_stats_matches_binned_join_aggregate(spark):
    """Property: followup_stats' per-row (count, exact gap sum,
    same-type count) equal the binned_interval_join pair set aggregated
    per left row — on data with a hot key, ts ties, NULL keys, NULL
    timestamps and NULL types. Rows the join form gives no pairs
    (cnt 0) must appear with zeros; NULL-key/ts rows must be absent."""
    import random

    rng = random.Random(16)
    rows = []
    for i in range(120):
        u = rng.choice([1, 1, 1, 2, 3, None])  # hot key + a NULL key
        t = (
            None
            if rng.random() < 0.05
            else _ts(rng.randrange(0, 59), rng.choice([0, 0, 15, 30]))  # ties
        )
        rows.append((u, t, i, rng.choice(["a", "b", None])))
    ev = _typed_events(spark, rows)

    want = _join_form_per_row(ev, 0.0, 300.0)
    got = {
        r["event_id"]: (
            r["fu_count"],
            int(r["fu_gap_sum_us"]),
            r["fu_same_count"],
        )
        for r in joins.followup_stats(
            ev, on="user_id", ts="ts", lo_s=0.0, hi_s=300.0, same_col="event_type"
        ).collect()
    }
    # every surviving row appears exactly once; NULL key/ts rows don't
    assert set(got) == {
        i for (u, t, i, _) in rows if u is not None and t is not None
    }
    for eid, (cnt, gap, same) in got.items():
        w_cnt, w_gap, w_same = want.get(eid, (0, None, 0))
        assert cnt == w_cnt, (eid, cnt, w_cnt)
        assert same == w_same, (eid, same, w_same)
        if w_gap is not None:
            assert gap == w_gap, (eid, gap, w_gap)
        else:
            assert gap == 0
    assert any(c for (c, _, _) in got.values())  # non-degenerate data


def test_followup_stats_nonzero_lo(spark):
    """The (lo, hi] window generalizes: lo_s=60 must exclude gap 60
    and include gap 61 — same exact boundary discipline as
    binned_interval_join's (lus+lo, lus+hi]."""
    ev = _typed_events(
        spark,
        [
            (1, _ts(0), 1, "a"),
            (1, _ts(1), 2, "a"),       # gap 60 s == lo -> excluded
            (1, _ts(1, 1), 3, "b"),    # gap 61 s -> included
            (1, _ts(5), 4, "a"),       # gap 300 s == hi -> included
            (1, _ts(5, 1), 5, "a"),    # gap 301 s -> excluded
        ],
    )
    r = {
        row["event_id"]: (row["fu_count"], int(row["fu_gap_sum_us"]), row["fu_same_count"])
        for row in joins.followup_stats(
            ev, on="user_id", lo_s=60.0, hi_s=300.0, same_col="event_type"
        ).collect()
    }
    assert r[1] == (2, 61_000_000 + 300_000_000, 1)
    want = _join_form_per_row(ev, 60.0, 300.0)
    assert {k: v[0] for k, v in r.items() if v[0]} == {
        k: v[0] for k, v in want.items()
    }


def test_followup_stats_null_type_counts_zero_same(spark):
    """A NULL same_col row must report fu_same_count 0 even when
    another NULL-typed row follows inside the window (SQL equality:
    NULL = NULL is not true; the window PARTITIONS nulls together, so
    an unguarded count would say 1)."""
    ev = _typed_events(
        spark,
        [(1, _ts(0), 1, None), (1, _ts(1), 2, None), (1, _ts(2), 3, "a")],
    )
    r = {
        row["event_id"]: (row["fu_count"], row["fu_same_count"])
        for row in joins.followup_stats(
            ev, on="user_id", lo_s=0.0, hi_s=300.0, same_col="event_type"
        ).collect()
    }
    # event 1 has followers 2 and 3 in-window but NULL type -> same 0
    assert r[1] == (2, 0)
    assert r[2] == (1, 0)
    assert r[3] == (0, 0)


def test_followup_stats_ties_excluded(spark):
    """Equal-timestamp rows are not each other's follow-ups under
    lo_s=0 (strict rus > lus), in either direction."""
    ev = _typed_events(
        spark, [(1, _ts(0), 1, "a"), (1, _ts(0), 2, "a"), (1, _ts(1), 3, "a")]
    )
    r = {
        row["event_id"]: row["fu_count"]
        for row in joins.followup_stats(
            ev, on="user_id", lo_s=0.0, hi_s=300.0, same_col="event_type"
        ).collect()
    }
    assert r == {1: 1, 2: 1, 3: 0}


def test_followup_stats_rejects_reserved_columns(spark):
    """A caller column named like an output/internal temp would be
    silently overwritten (r16 ADVICE) — the operator must refuse."""
    import pytest

    ev = _typed_events(spark, [(1, _ts(0), 1, "a")]).withColumn(
        "fu_count", F.lit(7)
    )
    with pytest.raises(ValueError, match="fu_count"):
        joins.followup_stats(
            ev, on="user_id", lo_s=0.0, hi_s=300.0, same_col="event_type"
        )


def test_keyed_operators_over_aggregated_input_run_no_job(spark):
    """Building followup_stats / sessionize over an input that already
    shuffles must not execute it: repartition_key_for_cpu used to count
    the input's partitions through df.rdd, which under AQE runs the
    upstream shuffle stages at plan-build time (and the caller's action
    runs them again). The results must still be right."""
    ev = _typed_events(
        spark,
        [
            (1, _ts(0), 1, "a"),
            (1, _ts(0), 2, "a"),
            (1, _ts(2), 3, "b"),
            (1, _ts(50), 4, "a"),
            (2, _ts(1), 5, "a"),
        ],
    )
    # one row per (user, ts): an aggregate, so the plan has an Exchange
    agg = ev.groupBy("user_id", "ts").agg(F.min("event_id").alias("event_id"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup())
    fu = joins.followup_stats(agg, on="user_id", lo_s=0.0, hi_s=300.0)
    sess = sessions.sessionize(agg, gap_minutes=30)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup()) - before == set()

    assert {r["event_id"]: r["fu_count"] for r in fu.collect()} == {
        1: 1, 3: 0, 4: 0, 5: 0,
    }
    assert {r["event_id"]: r["session_id"] for r in sess.collect()} == {
        1: 1, 3: 1, 4: 2, 5: 1,
    }


# ------------------------------------------------------- range lookup
def _tier_dim(spark):
    return spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 50.0), ("high", 50.0, 100.0)],
        "tier string, lo double, hi double",
    )


def test_range_lookup_boundaries(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        range_lookup_join,
    )

    fact = spark.createDataFrame(
        [(1, 0.0), (2, 9.999), (3, 10.0), (4, 99.9), (5, 100.0), (6, -1.0)],
        "id long, v double",
    )
    out = range_lookup_join(fact, _tier_dim(spark), "v", bin_width=7.0)
    got = {r["id"]: r["tier"] for r in out.collect()}
    # lo inclusive, hi exclusive; 100.0 and -1.0 match nothing (inner)
    assert got == {1: "low", 2: "low", 3: "mid", 4: "high"}


def test_range_lookup_left_keeps_gaps(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        range_lookup_join,
    )

    fact = spark.createDataFrame([(1, 5.0), (2, 200.0)], "id long, v double")
    out = range_lookup_join(
        fact, _tier_dim(spark), "v", bin_width=25.0, how="left"
    )
    got = {r["id"]: r["tier"] for r in out.collect()}
    assert got == {1: "low", 2: None}


def test_range_lookup_plan_is_equi_join(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        range_lookup_join,
    )

    fact = spark.createDataFrame([(1, 5.0)], "id long, v double")
    plan = (
        range_lookup_join(fact, _tier_dim(spark), "v", bin_width=10.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the bin equality must be extracted as the hash-join key — the
    # whole point vs the naive BroadcastNestedLoopJoin theta-join
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


# -------------------------------------------------- decay attribution
def test_decay_attribution_math(spark):
    import datetime as dt
    import math

    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        decay_attribution,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    conv = spark.createDataFrame(
        [(100, t0, 7)], "event_id long, ts timestamp, user_id long"
    )
    touches = spark.createDataFrame(
        [
            (1, t0 - dt.timedelta(hours=1), 7),   # in horizon: exp(-1)
            (2, t0 - dt.timedelta(hours=2), 7),   # exp(-2)
            (3, t0 - dt.timedelta(hours=7), 7),   # outside 6h horizon
            (4, t0 + dt.timedelta(minutes=5), 7), # after conversion
            (5, t0 - dt.timedelta(hours=1), 8),   # other user
            (6, t0, 7),                           # at the instant: exp(0)
        ],
        "event_id long, ts timestamp, user_id long",
    )
    out = decay_attribution(
        conv, touches, on="user_id", horizon_s=21600, tau_s=3600
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["event_id"], r["user_id"], r["n_touches"]) == (100, 7, 3)
    assert r["score"] == round(1.0 + math.exp(-1) + math.exp(-2), 6)


def test_decay_attribution_zero_touch_conversions_absent(spark):
    import datetime as dt

    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        decay_attribution,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    conv = spark.createDataFrame(
        [(1, t0, 7)], "event_id long, ts timestamp, user_id long"
    )
    touches = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long"
    )
    assert (
        decay_attribution(conv, touches, on="user_id").count() == 0
    )


def test_interval_overlap_join_semantics(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        interval_overlap_join,
    )

    M = 1_000_000
    left = spark.createDataFrame(
        [(1, 0 * M, 100 * M), (2, 500 * M, 600 * M), (3, 7200 * M, 7300 * M)],
        "lid long, s long, e long",
    )
    right = spark.createDataFrame(
        [(10, 90 * M, 95 * M),      # inside interval 1
         (11, 100 * M, 150 * M),    # touches 1's end exactly (closed)
         (12, 601 * M, 700 * M),    # just misses 2
         (13, 0 * M, 10000 * M)],   # spans everything
        "rid long, rs long, re long",
    )
    out = interval_overlap_join(
        left, right, "s", "e", "rs", "re", bin_span_us=60 * M
    )
    got = sorted((r["lid"], r["r_rid"]) for r in out.collect())
    assert got == [(1, 10), (1, 11), (1, 13), (2, 13), (3, 13)]
    # no duplicates even though pair (1, 13) shares many bins
    assert len(got) == len(set(got))


def test_interval_overlap_join_keyed(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        interval_overlap_join,
    )

    M = 1_000_000
    left = spark.createDataFrame(
        [("a", 0, 100 * M), ("b", 0, 100 * M)], "k string, s long, e long"
    )
    right = spark.createDataFrame(
        [("a", 50 * M, 60 * M)], "k string, rs long, re long"
    )
    out = interval_overlap_join(
        left, right, "s", "e", "rs", "re", on="k", bin_span_us=60 * M
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["k"] == "a"  # key gates the match


def test_asof_null_right_ts_is_not_a_match(spark):
    """A right row with NULL ts satisfies no <= comparison: it must
    neither crash nor attach as a phantom predecessor."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("u1", 100, "L")], "user string, ts long, tag string"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    right = spark.createDataFrame(
        [("u1", None, "pNULL"), ("u1", 50, "p50")],
        "user string, ts long, purchase string",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    out = asof_join(left, right, on="user").collect()
    assert len(out) == 1 and out[0]["r_purchase"] == "p50"
    # with ONLY a null-ts right row: no match at all
    right2 = spark.createDataFrame(
        [("u1", None, "pNULL")], "user string, ts long, purchase string"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    out2 = asof_join(left, right2, on="user").collect()
    assert len(out2) == 1 and out2[0]["r_purchase"] is None


def test_asof_map_payload_column_is_carried_not_sorted(spark):
    """A MapType payload column is legal cargo: it rides the payload
    struct but must stay out of the tiebreak ordering (sorting a map
    is unanalyzable)."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("u1", 100)], "user string, ts long"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    right = spark.createDataFrame(
        [("u1", 50, "a", {"k": "v"})],
        "user string, ts long, pid string, attrs map<string,string>",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    out = asof_join(left, right, on="user").collect()
    assert out[0]["r_pid"] == "a" and out[0]["r_attrs"] == {"k": "v"}


def test_asof_null_key_follows_sql_equality(spark):
    """NULL keys follow SQL equality (the pandas/DuckDB forms the
    docstring cites): a NULL-key right row matches nothing; a
    NULL-key left row is kept with a null payload.  Before the r16
    fix the window's partitionBy grouped nulls, so the two NULL-key
    rows below would NULL<=>NULL-match each other."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(None, 10, "Lnull"), ("a", 10, "La")],
        "k string, ts long, lab string",
    )
    right = spark.createDataFrame(
        [(None, 5, 100), ("a", 5, 200)], "k string, ts long, v long"
    )
    out = {
        r["lab"]: (r["r_ts"], r["r_v"])
        for r in asof_join(
            left, right, on="k", left_keep=["lab"], right_payload=["v"]
        ).collect()
    }
    assert out == {"Lnull": (None, None), "La": (5, 200)}


def test_asof_same_source_matches_two_frame(spark):
    """r16: the single-scan fused variant must emit EXACTLY the rows
    of asof_join over the two predicate-filtered frames — including
    NULL keys, NULL timestamps, NULL-predicate rows (side column
    NULL -> dropped, like .where), ts ties, and payload tie-breaks."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        asof_join,
        asof_join_same_source,
    )

    rows = [
        # (k, ts, side, pay, lab)
        ("a", 10, "L", None, "La10"),
        ("a", 10, "R", 1, None),      # tie at ts=10: inclusive match
        ("a", 10, "R", 7, None),      # payload tie-break -> 7
        ("a", 5, "R", 3, None),
        ("a", 3, "L", None, "La3"),   # no purchase <= 3... (5 > 3) -> null
        (None, 10, "L", None, "Lnull"),
        (None, 5, "R", 9, None),      # NULL-key right row: matches nothing
        ("b", None, "R", 4, None),    # NULL-ts right row: matches nothing
        ("b", 20, "L", None, "Lb"),
        ("b", None, "L", None, "LbN"),  # NULL-ts LEFT row: kept, no match
        ("c", 1, None, 5, None),      # NULL side predicate: dropped
    ]
    base = spark.createDataFrame(
        rows, "k string, ts long, side string, pay long, lab string"
    )
    fused = asof_join_same_source(
        base,
        on="k",
        ts_col="ts",
        left_pred=F.col("side") == "L",
        right_pred=F.col("side") == "R",
        left_keep=["lab"],
        right_payload=["pay"],
    )
    two = asof_join(
        base.where(F.col("side") == "L").select("k", "ts", "lab"),
        base.where(F.col("side") == "R").select("k", "ts", "pay"),
        on="k",
        left_keep=["lab"],
        right_payload=["pay"],
    )
    def _key(t):
        return tuple((x is None, str(x)) for x in t)

    got = sorted((tuple(r) for r in fused.collect()), key=_key)
    want = sorted((tuple(r) for r in two.collect()), key=_key)
    assert got == want
    assert fused.columns == two.columns
    by_lab = {r["lab"]: (r["r_ts"], r["r_pay"]) for r in fused.collect()}
    assert by_lab == {
        "La10": (10, 7),   # inclusive tie + max-payload tie-break
        "La3": (None, None),
        "Lnull": (None, None),
        "Lb": (None, None),  # b's only purchase has NULL ts
        "LbN": (None, None),
    }
    # the fusion's point: ONE scan of the base in the plan
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ExistingRDD") + plan.count("LocalTableScan") <= 2
