"""Semantics + plan-shape tests for the temporal wave: SCD2 history,
backward as-of join, incremental aggregate maintenance, bucketed range
join."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from lakehouse_cdc_spark.cdc.apply import compact_changes
from lakehouse_cdc_spark.cdc.incremental import (
    apply_moment_adjustments,
    delta_moment_adjustments,
)
from lakehouse_cdc_spark.cdc.scd import scd2_history
from lakehouse_cdc_spark.operators.asof import asof_join_backward
from lakehouse_cdc_spark.plans import REGISTRY


def _ts(s):
    return dt.datetime.fromisoformat(s)


# ---------------------------------------------------------------- SCD2


def test_scd2_versions_close_delete_and_recreate(spark):
    rows = [
        # key 1: create, update, delete, re-create
        (1, _ts("2024-01-01T00:00:00"), 10, "c", "a"),
        (1, _ts("2024-01-02T00:00:00"), 11, "u", "b"),
        (1, _ts("2024-01-03T00:00:00"), 12, "d", None),
        (1, _ts("2024-01-04T00:00:00"), 13, "c", "c"),
        # key 2: single create, stays open
        (2, _ts("2024-01-01T12:00:00"), 20, "c", "x"),
        # key 3: ends deleted → no current version
        (3, _ts("2024-01-01T00:00:00"), 30, "c", "y"),
        (3, _ts("2024-01-05T00:00:00"), 31, "d", None),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, eid int, operation string, attr string")
    out = scd2_history(df, keys=["k"], time_col="ts", tiebreak=["eid"])
    got = {
        (r["k"], r["version"]): (r["attr"], r["ts"], r["valid_to"], r["is_current"])
        for r in out.collect()
    }
    assert got[(1, 1)] == ("a", _ts("2024-01-01T00:00:00"), _ts("2024-01-02T00:00:00"), False)
    assert got[(1, 2)] == ("b", _ts("2024-01-02T00:00:00"), _ts("2024-01-03T00:00:00"), False)
    # delete row emits nothing; re-create opens version 3
    assert got[(1, 3)] == ("c", _ts("2024-01-04T00:00:00"), None, True)
    assert got[(2, 1)] == ("x", _ts("2024-01-01T12:00:00"), None, True)
    # key 3's only version is CLOSED by the delete → nothing current
    assert got[(3, 1)] == ("y", _ts("2024-01-01T00:00:00"), _ts("2024-01-05T00:00:00"), False)
    assert len(got) == 5


def test_scd2_single_exchange(spark, sf_dir):
    """lead() + row_number() must share one shuffle+sort — the filter
    between them preserves partitioning and ordering."""
    plan = (
        REGISTRY["cdc_scd2_history"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 2


# ------------------------------------------------------------- as-of


def test_asof_backward_basic_and_strictness(spark):
    views = [
        (1, _ts("2024-01-01T00:00:00"), 100, 5.0),
        (1, _ts("2024-01-01T02:00:00"), 102, 7.0),
        (2, _ts("2024-01-01T01:00:00"), 103, 9.0),
    ]
    purchases = [
        (1, _ts("2024-01-01T01:00:00"), 201, 1.0),  # after view@00 → 5.0
        (1, _ts("2024-01-01T02:00:00"), 202, 2.0),  # tie ts, view eid 102 < 202 → 7.0
        (1, _ts("2024-01-01T03:00:00"), 203, 3.0),  # latest prior → 7.0
        (2, _ts("2024-01-01T00:30:00"), 204, 4.0),  # before any view → NULL
        (3, _ts("2024-01-01T05:00:00"), 205, 5.0),  # user with no views → NULL
    ]
    l = spark.createDataFrame(purchases, "user_id int, ts timestamp, event_id int, value double")
    r = spark.createDataFrame(views, "user_id int, ts timestamp, event_id int, value double")
    out = asof_join_backward(
        l, r, on=["user_id"], time_col="ts", tiebreak=["event_id"],
        payload={"value": "prior_value", "event_id": "prior_eid"},
    )
    got = {r2["event_id"]: (r2["prior_value"], r2["prior_eid"]) for r2 in out.collect()}
    assert got[201] == (5.0, 100)
    assert got[202] == (7.0, 102)  # same-ts view has smaller tiebreak → prior
    assert got[203] == (7.0, 102)
    assert got[204] == (None, None)
    assert got[205] == (None, None)


def test_asof_payload_is_row_atomic(spark):
    """A newer right row with a NULL payload FIELD must supersede older
    rows — per-column last(ignorenulls) would resurrect the old value."""
    r = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T00:00:00"), 1, 99.0),
            (1, _ts("2024-01-01T01:00:00"), 2, None),  # newer, value NULL
        ],
        "user_id int, ts timestamp, event_id int, value double",
    )
    l = spark.createDataFrame(
        [(1, _ts("2024-01-01T02:00:00"), 10, 0.0)],
        "user_id int, ts timestamp, event_id int, value double",
    )
    out = asof_join_backward(
        l, r, on=["user_id"], time_col="ts", tiebreak=["event_id"],
        payload={"value": "prior_value", "event_id": "prior_eid"},
    ).collect()[0]
    assert out["prior_eid"] == 2
    assert out["prior_value"] is None  # NOT 99.0


def test_asof_plans_without_join(spark, sf_dir):
    plan = (
        REGISTRY["join_asof_prior_view"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "Join" not in plan  # union+window, not a join


# ------------------------------------------- incremental aggregation


def test_incremental_agg_equals_full_recompute(spark):
    base = [
        (1, 1, "g1", 10.0, "c"),
        (2, 2, "g1", 20.0, "c"),
        (3, 3, "g2", 30.0, "c"),
        (4, 4, "g2", 40.0, "c"),
    ]
    delta = [
        (1, 5, "g2", 11.0, "u"),   # group migration g1 → g2
        (2, 6, "g1", 99.0, "d"),   # delete
        (5, 7, "g3", 50.0, "c"),   # new key, new group
        (9, 8, "g1", 1.0, "d"),    # delete of never-seen key → no-op
        (3, 9, "g2", 33.0, "u"),   # in-place update
    ]
    schema = "k int, seq int, grp string, value double, operation string"
    base_df = spark.createDataFrame(base, schema)
    delta_df = spark.createDataFrame(delta, schema)
    measure = F.floor(F.col("value") * 10000 + 0.5).cast("bigint")

    prev_agg = base_df.groupBy("grp").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(measure).alias("s")
    )
    delta_c = compact_changes(delta_df, keys=["k"], order_by=[F.desc("seq")])
    adj = delta_moment_adjustments(
        base_df, delta_c, keys=["k"], group_col="grp", measures={"s": measure}
    )
    got = {
        r["grp"]: (r["cnt"], r["s"])
        for r in apply_moment_adjustments(
            prev_agg, adj, group_col="grp", cnt_col="cnt", sum_cols=["s"]
        ).collect()
    }

    # full recompute over base ⊎ delta with last-write-wins + delete
    full = compact_changes(
        base_df.unionByName(delta_df), keys=["k"], order_by=[F.desc("seq")]
    ).filter(F.col("operation") != "d")
    want = {
        r["grp"]: (r["cnt"], r["s"])
        for r in full.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(measure).alias("s"))
        .collect()
    }
    assert got == want
    # spot-check the algebra: g1 lost key1 (migrated) and key2 (deleted),
    # g2 gained key1 and re-valued key3, g3 was born with key5
    assert got["g3"] == (1, 500000)
    assert got["g2"][0] == 3


def test_incremental_agg_group_drains_to_zero(spark):
    schema = "k int, seq int, grp string, value double, operation string"
    base_df = spark.createDataFrame([(1, 1, "g1", 5.0, "c")], schema)
    delta_df = spark.createDataFrame([(1, 2, "g1", 5.0, "d")], schema)
    measure = F.floor(F.col("value") * 10000 + 0.5).cast("bigint")
    prev_agg = base_df.groupBy("grp").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(measure).alias("s")
    )
    adj = delta_moment_adjustments(
        base_df,
        compact_changes(delta_df, keys=["k"], order_by=[F.desc("seq")]),
        keys=["k"],
        group_col="grp",
        measures={"s": measure},
    )
    out = apply_moment_adjustments(
        prev_agg, adj, group_col="grp", cnt_col="cnt", sum_cols=["s"]
    ).collect()
    assert out == []  # drained group disappears, no zero-count residue


# -------------------------------------------------------- range join


def test_range_join_boundary_exact(spark, sf_dir):
    """Bucketed range join ≡ theta join on a boundary-heavy fixture:
    pairs at exactly ±300s are IN, one microsecond past is OUT, and
    cross-bucket pairs are found."""
    from lakehouse_cdc_spark.plans.temporal_queries import join_range_bucketed  # noqa: F401

    base = _ts("2024-01-01T00:00:00")
    errors = [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate((0, 299, 600), 1)]
    purchases = [
        (base + dt.timedelta(seconds=300), 1.0),          # ==300s of e0, 1s of e1
        (base + dt.timedelta(seconds=300, microseconds=1), 2.0),  # >300s of e0
        (base + dt.timedelta(seconds=899), 3.0),          # 299s of e2 (cross-bucket)
    ]
    e = spark.createDataFrame(errors, "eid int, ts timestamp")
    p = spark.createDataFrame(purchases, "ts timestamp, value double")
    span = 300_000_000
    el = e.select("eid", F.unix_micros("ts").alias("l_us")).withColumn(
        "bucket", F.floor(F.col("l_us") / span)
    )
    pr = p.select(F.unix_micros("ts").alias("r_us"), "value").withColumn(
        "bucket",
        F.explode(
            F.array(
                F.floor(F.col("r_us") / span) - 1,
                F.floor(F.col("r_us") / span),
                F.floor(F.col("r_us") / span) + 1,
            )
        ),
    )
    pairs = el.join(pr, on="bucket").filter(F.abs(F.col("l_us") - F.col("r_us")) <= span)
    got = sorted((r["eid"], r["value"]) for r in pairs.collect())
    # e1@0s matches p@300 at EXACTLY ±300s but not p@300.000001 (one
    # microsecond past).  e2@299s matches both.  e3@600s matches p@300
    # (exact boundary again), p@300.000001 (299.999999s) and p@899
    # (cross-bucket, 299s).
    assert got == [(1, 1.0), (2, 1.0), (2, 2.0), (3, 1.0), (3, 2.0), (3, 3.0)]


def test_range_join_no_nested_loop(spark, sf_dir):
    plan = (
        REGISTRY["join_range_bucketed"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_asof_nearest_single_shuffle_and_direction_semantics(spark):
    """The nearest variant must keep the backward form's one-exchange
    property (both windows share the partitioning), and must actually
    pick forward rows when they are closer."""
    from pyspark.sql import functions as F

    from lakehouse_cdc_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        [(1, 100, 1), (1, 205, 2), (2, 50, 3)], "k long, t long, id long"
    ).select("k", F.timestamp_micros(F.col("t")).alias("ts"), "id")
    right = spark.createDataFrame(
        [(1, 90, 10, 7.0), (1, 210, 11, 9.0), (2, 300, 12, 5.0)],
        "k long, t long, id long, v double",
    ).select("k", F.timestamp_micros(F.col("t")).alias("ts"), "id", "v")
    out = asof_join_nearest(
        left, right, on=["k"], time_col="ts", tiebreak=["id"], payload={"v": "v"}
    )
    # plan audit BEFORE the action (post-AQE strings repeat nodes):
    # both direction windows must share one exchange and one Window op
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"\bWindow\b", plan)) == 1
    got = {r.id: (r.v, r.asof_delta_us) for r in out.collect()}
    assert got[1] == (7.0, -10)  # prior (90) closer than next (210)
    assert got[2] == (9.0, 5)  # next (210) closer than prior (90)
    assert got[3] == (5.0, 250)  # only a following row exists


def test_asof_nearest_duplicate_ts_tiebreak_pinned(spark):
    """Regression (review finding): duplicate right-side timestamps
    must resolve the way the oracle states — prior side wins |d| ties,
    a tied-ts prior group keeps its largest event_id — so the operator
    and the LATERAL oracle can never diverge on tie-heavy data."""
    import datetime

    from lakehouse_cdc_spark.operators.asof import asof_join_nearest

    ts = datetime.datetime.fromisoformat
    T = ts("2024-01-01T10:00:00")
    pur = spark.createDataFrame(
        [
            (1, T, 5, 50),
            (1, T, 6, 60),  # tied-ts pair: id 6 must win
            (2, ts("2024-01-01T09:59:59.999995"), 11, 110),
            (2, ts("2024-01-01T10:00:00.000005"), 12, 120),  # |d| tie
        ],
        "user_id int, ts timestamp, event_id int, v_cents int",
    )
    err = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00.000010"), 9), (2, T, 19)],
        "user_id int, ts timestamp, event_id int",
    )
    out = {
        r.user_id: (r.nearest_value_cents, r.asof_delta_us)
        for r in asof_join_nearest(
            err, pur, on=["user_id"], time_col="ts",
            tiebreak=["event_id"], payload={"v_cents": "nearest_value_cents"},
        ).collect()
    }
    assert out == {1: (60, -10), 2: (110, -5)}
