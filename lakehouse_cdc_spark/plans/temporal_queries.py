"""Temporal / CDC-consumption declared queries (round 2 wave 5).

Four operators the reference's consumers would ask for next, each with
a scale-honest Spark plan and a DuckDB oracle:

- ``cdc_scd2_history`` — SCD Type 2 versioning of the change stream
  (the other canonical lakehouse consumption of CDC besides
  last-write-wins compaction).
- ``join_asof_prior_view`` — backward as-of join via union+window (one
  shuffle, no theta-join fan-out).
- ``cdc_incremental_agg`` — materialized-aggregate maintenance from a
  delta batch, proven equal to a full recompute by the oracle.
- ``join_range_bucketed`` — time-proximity range join planned as a
  bucketed equi-join instead of a BroadcastNestedLoop theta join.

The `events` table is the change stream (see cdc_queries module doc
for the op mapping).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_cdc_spark.cdc.apply import compact_changes
from lakehouse_cdc_spark.cdc.incremental import (
    apply_moment_adjustments,
    delta_moment_adjustments,
)
from lakehouse_cdc_spark.cdc.scd import scd2_history
from lakehouse_cdc_spark.operators.asof import asof_join_backward
from lakehouse_cdc_spark.plans.cdc_queries import _OP_CASE_SQL, _op_col
from lakehouse_cdc_spark.plans.registry import fixed_point, register, table

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_SQL = "%Y-%m-%d %H:%M:%S.%f"


@register(
    "cdc_scd2_history",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             {_OP_CASE_SQL} AS operation
      FROM events
    ), closed AS (
      SELECT *,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to_ts
      FROM tagged
    ), versions AS (
      SELECT user_id, event_type, value, ts, valid_to_ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS version
      FROM closed WHERE operation <> 'd'
    )
    SELECT user_id, version, event_type,
           CAST(value AS DOUBLE) AS value,
           strftime(ts, '{_TS_FMT_SQL}') AS valid_from,
           strftime(valid_to_ts, '{_TS_FMT_SQL}') AS valid_to,
           valid_to_ts IS NULL AS is_current
    FROM versions
    """,
    tags=("cdc", "scd2", "window", "temporal"),
)
def cdc_scd2_history(spark, sf_dir):
    """SCD Type 2 dimension history from the change stream: every
    non-delete change opens a version row [valid_from, valid_to);
    deletes close the open version.  One shuffle total — lead() and
    row_number() share the key partitioning and sort, and the
    delete-filter between them preserves both, so the second window
    adds no exchange (locked by the plan test)."""
    e = table(spark, sf_dir, "events").withColumn("operation", _op_col())
    hist = scd2_history(
        e, keys=["user_id"], time_col="ts", tiebreak=["event_id"]
    )
    return hist.select(
        "user_id",
        "version",
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.date_format("ts", _TS_FMT).alias("valid_from"),
        F.date_format("valid_to", _TS_FMT).alias("valid_to"),
        "is_current",
    )


@register(
    "join_asof_prior_view",
    oracle=f"""
    WITH l AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'
    ), r AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'view'
    ), u AS (
      SELECT user_id, ts, event_id, value,
             1 AS side, CAST(NULL AS TIMESTAMP) AS r_ts,
             CAST(NULL AS DOUBLE) AS r_value
      FROM l
      UNION ALL
      SELECT user_id, ts, event_id, NULL, 0, ts, value FROM r
    ), w AS (
      SELECT *,
             last_value(r_ts IGNORE NULLS) OVER win AS prior_ts,
             last_value(r_value IGNORE NULLS) OVER win AS prior_value
      FROM u
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id,
           strftime(ts, '{_TS_FMT_SQL}') AS purchase_ts,
           CAST(value AS DOUBLE) AS purchase_value,
           strftime(prior_ts, '{_TS_FMT_SQL}') AS prior_view_ts,
           CAST(prior_value AS DOUBLE) AS prior_view_value,
           CAST(date_diff('second', prior_ts, ts) AS BIGINT) AS gap_s
    FROM w WHERE side = 1
    """,
    bench=True,
    tags=("join", "asof", "temporal"),
)
def join_asof_prior_view(spark, sf_dir):
    """Backward as-of join: each purchase picks up the latest strictly
    prior view by the same user (pandas merge_asof semantics,
    distributed).  Union+window — one hash shuffle of |L|+|R|, no
    range-join fan-out; the oracle is the same formulation in SQL.
    Single-payload-struct trick keeps multi-column payloads row-atomic
    (see operators/asof.py)."""
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join_backward(
        purchases,
        views,
        on=["user_id"],
        time_col="ts",
        tiebreak=["event_id"],
        payload={"ts": "prior_view_ts", "value": "prior_view_value"},
    )
    return joined.select(
        "user_id",
        "event_id",
        F.date_format("ts", _TS_FMT).alias("purchase_ts"),
        F.col("value").cast("double").alias("purchase_value"),
        F.date_format("prior_view_ts", _TS_FMT).alias("prior_view_ts"),
        F.col("prior_view_value").cast("double").alias("prior_view_value"),
        (
            F.col("ts").cast("long") - F.col("prior_view_ts").cast("long")
        ).alias("gap_s"),
    )


_CUTOFF = "2024-01-20"


@register(
    "cdc_incremental_agg",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             {_OP_CASE_SQL} AS operation
      FROM events
    ), latest AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM tagged
    )
    SELECT event_type AS state_group,
           COUNT(*) AS key_cnt,
           CAST(SUM(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000.0 AS value_sum
    FROM latest
    WHERE rn = 1 AND operation <> 'd'
    GROUP BY event_type
    """,
    tags=("cdc", "incremental", "materialized-view"),
)
def cdc_incremental_agg(spark, sf_dir):
    """Materialized-aggregate maintenance: per-group key count and
    value sum over the CURRENT state, computed incrementally — base
    state aggregated once, then a later delta batch applied as
    retract-old / add-new adjustments touching only changed keys.
    The oracle is the FULL recompute over the whole stream, so a green
    row is an equivalence proof (incremental ≡ recompute).  Sums ride
    fixed-point BIGINTs so retraction is exact."""
    e = table(spark, sf_dir, "events").withColumn("operation", _op_col())
    base = e.filter(F.col("ts") < _CUTOFF)
    delta = e.filter(F.col("ts") >= _CUTOFF)

    prev_state = compact_changes(
        base, keys=["user_id"], order_by=["ts", "event_id"]
    ).filter(F.col("operation") != "d")
    measure = fixed_point(F.col("value"))
    prev_agg = prev_state.groupBy(
        F.col("event_type").alias("state_group")
    ).agg(
        F.count(F.lit(1)).alias("key_cnt"),
        F.sum(measure).alias("sum_fp"),
    )

    delta_c = compact_changes(delta, keys=["user_id"], order_by=["ts", "event_id"])
    adj = delta_moment_adjustments(
        prev_state.withColumnRenamed("event_type", "state_group"),
        delta_c.withColumnRenamed("event_type", "state_group"),
        keys=["user_id"],
        group_col="state_group",
        measures={"sum_fp": measure},
    )
    new_agg = apply_moment_adjustments(
        prev_agg, adj, group_col="state_group", cnt_col="key_cnt", sum_cols=["sum_fp"]
    )
    return new_agg.select(
        "state_group",
        "key_cnt",
        (F.col("sum_fp").cast("double") / 10000.0).alias("value_sum"),
    )


@register(
    "join_range_bucketed",
    oracle="""
    SELECT CAST(e.ts AS DATE) AS err_day,
           COUNT(*) AS pair_cnt,
           CAST(SUM(CAST(floor(p.value * 10000.0 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000.0 AS purchase_value_sum
    FROM (SELECT ts, value FROM events WHERE event_type = 'error') e
    JOIN (SELECT ts, value FROM events WHERE event_type = 'purchase') p
      ON abs(epoch_us(e.ts) - epoch_us(p.ts)) <= 300000000
    GROUP BY 1
    """,
    tags=("join", "range", "temporal", "bucketed"),
)
def join_range_bucketed(spark, sf_dir):
    """Time-proximity range join: every (error, purchase) pair within
    ±5 minutes, with NO equi-key.  Naively that's a theta join
    (BroadcastNestedLoop, O(N·M) comparisons); here each right row is
    exploded to its 3 adjacent 5-minute buckets and joined on bucket
    equality, then refined with the exact |Δt| predicate — a hash
    join whose probe work is proportional to truly-near pairs.  A
    (left, right) pair shares at most one bucket cell, so no dedup
    step is needed.  Microsecond-integer arithmetic on both engines
    keeps the boundary exact."""
    e = table(spark, sf_dir, "events")
    span = 300_000_000  # 5 min in microseconds
    errors = (
        e.filter(F.col("event_type") == "error")
        .select("ts", F.unix_micros("ts").alias("l_us"))
        .withColumn("bucket", F.floor(F.col("l_us") / span))
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.unix_micros("ts").alias("r_us"), "value")
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.floor(F.col("r_us") / span) - 1,
                    F.floor(F.col("r_us") / span),
                    F.floor(F.col("r_us") / span) + 1,
                )
            ),
        )
    )
    pairs = errors.join(purchases, on="bucket").filter(
        F.abs(F.col("l_us") - F.col("r_us")) <= span
    )
    return pairs.groupBy(F.to_date("ts").alias("err_day")).agg(
        F.count(F.lit(1)).alias("pair_cnt"),
        (
            F.sum(fixed_point(F.col("value"))).cast("double") / 10000.0
        ).alias("purchase_value_sum"),
    )


@register(
    "mv_incremental_join",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, c.c_nationkey, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("temporal", "ivm", "J1", "S9"),
)
def mv_incremental_join(spark, sf_dir):
    """Incremental maintenance of a materialized JOIN view via the
    delta-join algebra: with base/delta splits of both inputs
    (O = Ob + dO, C = Cb + dC), the view update is

        d(O JOIN C) = dO JOIN Cb  UNION  Ob JOIN dC  UNION  dO JOIN dC

    and MV_new = (Ob JOIN Cb) UNION d(O JOIN C).  The oracle is the
    FULL recompute of orders JOIN customer, so a green row proves the
    three-arm algebra loses and duplicates nothing — the join-side
    companion to cdc_incremental_agg's retract/add maintenance.  At
    100 TB the payoff is the arms' sizes: every arm touching a delta
    is |delta|-bounded, the customer sides broadcast, and the big
    Ob JOIN Cb term is the PREVIOUSLY MATERIALIZED view — a scan, not
    a join, in steady state (materialized here inline because the
    declared query must be self-contained)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o_base, o_delta = o.filter(o.o_orderkey % 5 != 0), o.filter(o.o_orderkey % 5 == 0)
    c_base, c_delta = (
        c.filter(c.c_custkey % 10 != 0),
        c.filter(c.c_custkey % 10 == 0),
    )

    def arm(lhs, rhs):
        return lhs.join(F.broadcast(rhs), lhs.o_custkey == rhs.c_custkey).select(
            "o_orderkey", "o_custkey", "c_nationkey", "o_totalprice"
        )

    mv_base = arm(o_base, c_base)
    delta_mv = (
        arm(o_delta, c_base).unionAll(arm(o_base, c_delta)).unionAll(arm(o_delta, c_delta))
    )
    return mv_base.unionAll(delta_mv)


@register(
    "join_asof_nearest_purchase",
    oracle=f"""
    WITH err AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
    ),
    pur AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT e.user_id, e.event_id,
           strftime(e.ts, '{_TS_FMT_SQL}') AS error_ts,
           n.v AS nearest_value_cents,
           n.d AS asof_delta_us
    FROM err e LEFT JOIN LATERAL (
      SELECT CAST(ROUND(p.value * 100) AS BIGINT) AS v,
             epoch_us(p.ts) - epoch_us(e.ts) AS d
      FROM pur p
      WHERE p.user_id = e.user_id
      -- mirror the window operator's exact tie mechanics: equal
      -- |distance| resolves to the PRIOR side (prior = sorts before
      -- the probe in (ts, event_id) order); within a tied-ts group
      -- the prior side keeps its LAST row (largest event_id), the
      -- following side its FIRST (smallest event_id)
      ORDER BY abs(epoch_us(p.ts) - epoch_us(e.ts)),
               CASE WHEN p.ts < e.ts
                         OR (p.ts = e.ts AND p.event_id < e.event_id)
                    THEN 0 ELSE 1 END,
               CASE WHEN p.ts < e.ts
                         OR (p.ts = e.ts AND p.event_id < e.event_id)
                    THEN -p.event_id ELSE p.event_id END
      LIMIT 1
    ) n ON TRUE
    ORDER BY e.user_id, e.event_id
    """,
    tags=("temporal", "asof", "nearest", "window"),
)
def join_asof_nearest_purchase(spark, sf_dir):
    """Nearest as-of join (merge_asof direction='nearest'): every error
    event is annotated with the user's time-closest purchase in EITHER
    direction — the diagnostic join \"what transaction surrounds this
    failure\".  The operator runs the union+window formulation twice
    (closest prior via last, closest next via first) over ONE shared
    partitioning and picks by integer microsecond distance, equal
    distances resolving to the earlier row — so there is still exactly
    one shuffle and no theta-join fan-out at any scale.  The oracle
    states the same semantics declaratively as a correlated LATERAL
    top-1, which DuckDB can afford at sf0.01 and a cluster could not —
    a green row proves the scale formulation equals the obvious one."""
    from lakehouse_cdc_spark.operators.asof import asof_join_nearest

    ev = table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("v_cents")
    )
    out = asof_join_nearest(
        err,
        pur,
        on=["user_id"],
        time_col="ts",
        tiebreak=["event_id"],
        payload={"v_cents": "nearest_value_cents"},
    )
    return out.select(
        "user_id",
        "event_id",
        F.date_format("ts", _TS_FMT).alias("error_ts"),
        "nearest_value_cents",
        "asof_delta_us",
    ).orderBy("user_id", "event_id")


@register(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT o_custkey AS cust, o_orderkey AS k,
             date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               AS s,
             date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               + o_orderkey % 30 AS e
      FROM orders
    )
    SELECT a.cust, a.k AS order_a, b.k AS order_b,
           GREATEST(a.s, b.s) AS overlap_start,
           LEAST(a.e, b.e) AS overlap_end,
           LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS overlap_days
    FROM iv a JOIN iv b
      ON a.cust = b.cust AND a.k < b.k
     AND a.s <= b.e AND b.s <= a.e
    ORDER BY a.cust, order_a, order_b
    """,
    tags=("temporal", "interval", "overlap-join", "J2"),
)
def join_interval_overlap(spark, sf_dir):
    """Interval-overlap join (the temporal-database classic: which
    order fulfilment windows of the SAME customer overlap) — each
    order becomes [start, start + key%30 days] and pairs overlap iff
    a.s <= b.e AND b.s <= a.e.  The join is keyed on the customer, so
    the quadratic comparison is bounded by per-key interval counts
    (~10 here) and the plan is one key-hash shuffle + within-group
    filter — the partition-bounded form every temporal engine uses
    before reaching for interval trees.  At scale a hot key would get
    the same start-bucket treatment as join_range_bucketed; the
    overlap arithmetic is epoch-day integers, exact in both
    engines."""
    iv = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("k"),
        F.expr(
            "datediff(to_date(o_orderdate), DATE '1992-01-01')"
        ).alias("s"),
        (
            F.expr("datediff(to_date(o_orderdate), DATE '1992-01-01')")
            + F.col("o_orderkey") % 30
        ).alias("e"),
    )
    a, b = iv.alias("a"), iv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.k") < F.col("b.k"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.cust").alias("cust"),
            F.col("a.k").alias("order_a"),
            F.col("b.k").alias("order_b"),
            F.greatest(F.col("a.s"), F.col("b.s")).alias("overlap_start"),
            F.least(F.col("a.e"), F.col("b.e")).alias("overlap_end"),
            (
                F.least(F.col("a.e"), F.col("b.e"))
                - F.greatest(F.col("a.s"), F.col("b.s"))
            ).alias("overlap_days"),
        )
        .orderBy("cust", "order_a", "order_b")
    )


@register(
    "orders_concurrency_curve",
    oracle="""
    WITH iv AS (
      SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               AS s,
             date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               + o_orderkey % 30 AS e
      FROM orders
    ),
    deltas AS (
      SELECT s AS d, 1 AS delta FROM iv
      UNION ALL
      SELECT e + 1, -1 FROM iv
    ),
    curve AS (
      SELECT d, SUM(SUM(delta)) OVER (ORDER BY d) AS open_orders
      FROM deltas GROUP BY d
    )
    SELECT d AS day_index, CAST(open_orders AS BIGINT) AS open_orders
    FROM curve
    ORDER BY open_orders DESC, d
    LIMIT 20
    """,
    tags=("temporal", "interval", "concurrency", "W1-scale"),
)
def orders_concurrency_curve(spark, sf_dir):
    """Interval-concurrency curve (\"how many orders were open each
    day\") via the +1/-1 sweep: every fulfilment window [s, e]
    contributes +1 at s and -1 at e+1, deltas collapse per day
    (map-side combined), and a running sum over day order yields the
    concurrency — O(N) total against the O(N x days) explode or the
    O(N^2) self-join the naive forms cost.  Top-20 peak days under a
    total order.  This is the capacity-planning primitive (concurrent
    sessions, open tickets, active loans) every ops dashboard needs;
    the cumsum over the per-day delta table is the two-pass
    distributed prefix sum (operators/prefix.py: day range-bucket →
    per-bucket cumsum + broadcast lower-bucket carry), so even a
    decades-deep day axis never funnels through a SinglePartition
    window."""
    from pyspark.sql import Window

    from lakehouse_cdc_spark.operators.prefix import (
        lower_bucket_agg,
        with_range_bucket,
    )

    iv = table(spark, sf_dir, "orders").select(
        F.expr("datediff(to_date(o_orderdate), DATE '1992-01-01')").alias("s"),
        (
            F.expr("datediff(to_date(o_orderdate), DATE '1992-01-01')")
            + F.col("o_orderkey") % 30
        ).alias("e"),
    )
    deltas = iv.select(F.col("s").alias("d"), F.lit(1).alias("delta")).unionAll(
        iv.select((F.col("e") + 1).alias("d"), F.lit(-1).alias("delta"))
    )
    daily = with_range_bucket(
        deltas.groupBy("d").agg(F.sum("delta").alias("net")), "d", 64
    )
    carry = lower_bucket_agg(
        daily.groupBy("__bkt").agg(F.sum("net").alias("__btot")),
        "__bkt",
        "__btot",
        "__carry",
    )
    curve = daily.join(F.broadcast(carry), "__bkt").withColumn(
        "open_orders",
        F.sum("net").over(Window.partitionBy("__bkt").orderBy("d"))
        + F.col("__carry"),
    )
    return (
        curve.select(
            F.col("d").alias("day_index"),
            F.col("open_orders").cast("bigint").alias("open_orders"),
        )
        .orderBy(F.desc("open_orders"), F.asc("day_index"))
        .limit(20)
    )


_PIT_TS = "2024-01-15 12:00:00"


@register(
    "cdc_scd2_point_in_time",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             {_OP_CASE_SQL} AS operation
      FROM events
    ), closed AS (
      SELECT *,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to_ts
      FROM tagged
    )
    SELECT user_id, event_type,
           CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
           strftime(ts, '{_TS_FMT_SQL}') AS valid_from
    FROM closed
    WHERE operation <> 'd'
      AND ts <= TIMESTAMP '{_PIT_TS}'
      AND (valid_to_ts IS NULL OR valid_to_ts > TIMESTAMP '{_PIT_TS}')
    ORDER BY user_id
    """,
    tags=("cdc", "scd2", "time-travel", "temporal"),
)
def cdc_scd2_point_in_time(spark, sf_dir):
    """Point-in-time lookup over the SCD2 history — the CONSUMPTION
    side of cdc_scd2_history and the join shape every \"training
    features as of prediction time\" pipeline runs: the version row
    valid at timestamp T is the one with valid_from <= T < valid_to
    (open versions qualify via NULL).  One key-partitioned lead()
    builds the intervals and a pure filter selects the slice — no
    as-of join needed when the question is one global timestamp, which
    is why dimension snapshots are cheap to serve at any scale.  Same
    deletion semantics and total order as the history query."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    closed = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        _op_col().alias("operation"),
        F.lead("ts").over(w).alias("valid_to_ts"),
    )
    t = F.lit(_PIT_TS).cast("timestamp")
    return (
        closed.filter(
            (F.col("operation") != "d")
            & (F.col("ts") <= t)
            & (F.col("valid_to_ts").isNull() | (F.col("valid_to_ts") > t))
        )
        .select(
            "user_id",
            "event_type",
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("value_cents"),
            F.date_format("ts", _TS_FMT).alias("valid_from"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------------------- bitemporal

#: bitemporal cut points: transaction time = arrival order proxied by
#: event_id (the log offset) — the cut is HALF the log so the probe is
#: meaningful at every scale factor; valid time = the event timestamp.
_BT_TXN_SQL = "(SELECT MAX(event_id) // 2 FROM events)"
_BT_VALID = "TIMESTAMP '2024-02-15 00:00:00'"


@register(
    "cdc_bitemporal_asof",
    oracle=f"""
    WITH knew_then AS (
      SELECT user_id, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE event_id <= {_BT_TXN_SQL} AND ts <= {_BT_VALID}
    ),
    know_now AS (
      SELECT user_id, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE ts <= {_BT_VALID}
    )
    SELECT n.user_id,
           t.event_id AS then_event,
           n.event_id AS now_event,
           t.vc AS then_vc,
           n.vc AS now_vc,
           (t.event_id IS NULL OR t.event_id <> n.event_id) AS revised
    FROM (SELECT * FROM know_now WHERE rn = 1) n
    LEFT JOIN (SELECT * FROM knew_then WHERE rn = 1) t USING (user_id)
    """,
    tags=("cdc", "temporal", "bitemporal"),
)
def cdc_bitemporal_asof(spark, sf_dir):
    """Bitemporal as-of: TWO time axes — transaction time (what the
    system had INGESTED: event_id as the log offset) and valid time
    (when the fact was true: the event timestamp).  For each user,
    compare the latest state at valid time V *as known at transaction
    time T* against the same valid-time cut with full present
    knowledge; ``revised`` marks users whose history was retroactively
    changed by late-arriving events (event_id > T but ts <= V) — the
    audit question ("what did we believe on the 15th when we filed
    the report?") that a single-axis SCD2 cannot answer.

    Plan: two window ranks over pushdown-filtered scans + one
    user-keyed left join; both filters reach parquet (transaction
    bound prunes by event_id, valid bound by ts)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    txn_max = e.agg(
        F.expr("MAX(event_id) div 2").alias("txn_max")
    ).collect()[0][0]  # O(1) scalar, min/max served from parquet footers
    vc = F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("vc")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    valid = F.col("ts") <= F.expr(_BT_VALID)

    def latest(df):
        return (
            df.select("user_id", "event_id", vc, "ts")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )

    then = latest(e.filter((F.col("event_id") <= txn_max) & valid)).select(
        "user_id",
        F.col("event_id").alias("then_event"),
        F.col("vc").alias("then_vc"),
    )
    now = latest(e.filter(valid)).select(
        "user_id",
        F.col("event_id").alias("now_event"),
        F.col("vc").alias("now_vc"),
    )
    return now.join(then, "user_id", "left").select(
        "user_id",
        "then_event",
        "now_event",
        "then_vc",
        "now_vc",
        (
            F.col("then_event").isNull()
            | (F.col("then_event") != F.col("now_event"))
        ).alias("revised"),
    )


@register(
    "orders_open_backlog_daily",
    oracle="""
    WITH opened AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_opened
      FROM orders GROUP BY 1
    ),
    closed AS (
      SELECT last_ship AS day, COUNT(*) AS n_closed
      FROM (
        SELECT l_orderkey,
               CAST(MAX(l_shipdate) AS DATE) AS last_ship
        FROM lineitem GROUP BY l_orderkey
      ) GROUP BY 1
    ),
    days AS (
      SELECT day, COALESCE(o.n_opened, 0) AS n_opened,
             COALESCE(c.n_closed, 0) AS n_closed
      FROM opened o FULL OUTER JOIN closed c USING (day)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(n_opened AS BIGINT) AS n_opened,
           CAST(n_closed AS BIGINT) AS n_closed,
           CAST(SUM(n_opened - n_closed) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS open_backlog
    FROM days ORDER BY day
    """,
    tags=("temporal", "backlog", "event-sourcing", "window"),
)
def orders_open_backlog_daily(spark, sf_dir):
    """OPEN-BACKLOG RECONSTRUCTION from the order event log — the
    event-sourcing view a fulfilment dashboard derives from CDC
    history: an order OPENS on its order date and CLOSES when its last
    line ships (max l_shipdate per order); the daily running sum of
    opens − closes is the standing backlog curve.  This is the
    state-over-time query class (like inventory from movements) that
    snapshot stores answer for free and event logs must reconstruct.
    Exact integer counts; days as formatted strings.

    Scale shape: the per-order close date is ONE map-side-combined max
    over lineitem keyed by order; both event streams then compact to
    |days|-sized tables before the full-outer align, and the running
    sum is the TWO-PASS PREFIX form (operators/prefix.py:
    lower_bucket_agg — per-day carry-in via a broadcast theta join
    over the calendar-bounded day table), so NO unpartitioned window
    exists anywhere in the plan at any corpus size."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    opened = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_opened")
    )
    closed = (
        li.groupBy("l_orderkey")
        .agg(F.to_date(F.max("l_shipdate")).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_closed"))
    )
    days = (
        opened.join(closed, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
            F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
        )
        .withColumn("net", F.col("n_opened") - F.col("n_closed"))
    )
    from lakehouse_cdc_spark.operators.prefix import lower_bucket_agg

    carry = lower_bucket_agg(days, "day", "net", "carry", combine="sum")
    return (
        days.join(carry, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_opened").cast("bigint").alias("n_opened"),
            F.col("n_closed").cast("bigint").alias("n_closed"),
            (F.col("carry") + F.col("net")).cast("bigint").alias("open_backlog"),
        )
        .orderBy("day")
    )


_ASOF_TOL_US = 3_600_000_000  # 1 hour max staleness


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH purch AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    views AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus
      FROM events WHERE event_type = 'view'
    ),
    matched AS (
      SELECT p.event_id, p.tus, p.cents, v.v_tus, v.v_eid
      FROM purch p LEFT JOIN LATERAL (
        SELECT tus AS v_tus, event_id AS v_eid
        FROM views v
        WHERE v.user_id = p.user_id
          AND (v.tus < p.tus OR (v.tus = p.tus AND v.event_id < p.event_id))
        ORDER BY v.tus DESC, v.event_id DESC LIMIT 1
      ) v ON TRUE
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(*) FILTER (v_tus IS NOT NULL
                AND tus - v_tus <= {_ASOF_TOL_US}) AS BIGINT)
             AS n_matched,
           CAST(COUNT(*) FILTER (v_tus IS NOT NULL
                AND tus - v_tus > {_ASOF_TOL_US}) AS BIGINT)
             AS n_stale_dropped,
           CAST(COUNT(*) FILTER (v_tus IS NULL) AS BIGINT) AS n_no_prior,
           CAST(SUM(CASE WHEN v_tus IS NOT NULL
                         AND tus - v_tus <= {_ASOF_TOL_US}
                    THEN cents ELSE 0 END) AS BIGINT) AS matched_cents,
           CAST(bit_xor(CASE WHEN v_tus IS NOT NULL
                             AND tus - v_tus <= {_ASOF_TOL_US}
                        THEN v_eid ELSE 0 END) AS BIGINT)
             AS matched_view_ids_xor
    FROM matched
    """,
    tags=("temporal", "asof", "tolerance", "J-family"),
)
def join_asof_tolerance(spark, sf_dir):
    """AS-OF JOIN WITH A STALENESS TOLERANCE — pandas merge_asof's
    ``tolerance`` semantics, distributed: each purchase matches the
    user's latest strictly-prior view ONLY if it is at most 1 hour
    old; older matches are dropped to NULL rather than silently
    attached (market-data / attribution hygiene — a quote from last
    Tuesday must not price today's trade).  Built on the ONE-shuffle
    union+window as-of kernel (operators/asof.py — no theta-join
    BroadcastNestedLoop); the matched view's OWN timestamp rides the
    payload struct, so the tolerance gate is a post-hoc map-side
    filter costing nothing.  Census output: matched / stale-dropped /
    no-prior lanes with exact cents and an XOR digest of the matched
    view ids (the oracle's correlated LATERAL top-1 must pick the
    IDENTICAL view rows).  Scale: |purchases|+|views| rows through one
    user-keyed exchange, tolerance applied after — same cost as the
    untoleranced as-of."""
    from lakehouse_cdc_spark.operators.asof import asof_join_backward

    e = table(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tus"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus")
    )
    j = asof_join_backward(
        purch,
        views,
        on=["user_id"],
        time_col="tus",
        tiebreak=["event_id"],
        payload={"tus": "v_tus", "event_id": "v_eid"},
    )
    fresh = F.col("v_tus").isNotNull() & (
        F.col("tus") - F.col("v_tus") <= _ASOF_TOL_US
    )
    stale = F.col("v_tus").isNotNull() & (
        F.col("tus") - F.col("v_tus") > _ASOF_TOL_US
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.count(F.when(fresh, 1)).cast("bigint").alias("n_matched"),
        F.count(F.when(stale, 1)).cast("bigint").alias("n_stale_dropped"),
        F.count(F.when(F.col("v_tus").isNull(), 1))
        .cast("bigint")
        .alias("n_no_prior"),
        F.sum(F.when(fresh, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("matched_cents"),
        F.expr(
            f"bit_xor(CASE WHEN v_tus IS NOT NULL AND tus - v_tus <= "
            f"{_ASOF_TOL_US} THEN v_eid ELSE 0 END)"
        )
        .cast("bigint")
        .alias("matched_view_ids_xor"),
    )
