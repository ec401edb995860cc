"""Incremental aggregate maintenance from CDC deltas.

A lakehouse serving layer keeps aggregates (counts, sums per group)
over the *current state* of a CDC-maintained table.  Recomputing them
from the full state after every micro-batch is O(|state|); the point
of CDC is that a batch touches few keys, so the aggregate should
update in O(|delta| + |groups|).  The reference has no such operator
— it revalidates by full recount (src/validation/validation.py:236) —
but this is the standard materialized-view-maintenance contract
(retract old contribution, add new contribution), and it is what makes
serving aggregates feasible when the base table is 100 TB.

Algebra (per group g, for additive measures):

    new_agg(g) = prev_agg(g)
               - Σ contributions of changed keys' OLD rows
               + Σ contributions of changed keys' NEW rows (op ≠ 'd')

Only *changed keys* are looked up in the previous state (a key-lookup
semi-join — at scale a point-read MERGE against the state table, with
the delta side broadcast when small); the base fact is never
rescanned.  Works for SUM/COUNT (self-inverse under retraction); NOT
for MIN/MAX, which need a full regroup of the affected group — callers
wanting those keep them out of the incremental set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_cdc_spark.operators.hints import runtime_sized


def delta_moment_adjustments(
    prev_state: DataFrame,
    delta_compacted: DataFrame,
    keys: list[str],
    group_col: str,
    measures: dict[str, Column],
    op_col: str = "operation",
    delete_op: str = "d",
) -> DataFrame:
    """Per-group ``(cnt_adj, <name>_adj …)`` a compacted delta implies,
    one ``<name>_adj`` per entry of ``measures``.

    ``delta_compacted`` must hold ≤1 row per key (run
    ``compact_changes`` first — MERGE cardinality rule).  Each measure
    is an integer-typed column expression (use ``fixed_point`` for
    money) so retraction is exact.  Several measures make VARIANCE
    (and any higher moment) incrementally maintainable: maintain exact
    integer ``(count, Σx, Σx²)`` and the serving layer derives
    ``var = (n·Σx² − (Σx)²) / n²`` at read time.  ONE semi-join lookup
    of the changed keys serves all measures, so adding moments costs
    no extra shuffle."""
    # delta keys are micro-batch-bounded in streaming use but
    # UNBOUNDED under backfill/replay — a forced hint would ship a
    # data-sized set to every executor.  runtime_sized leaves the
    # call to AQE, which broadcasts exactly when the materialized
    # delta fits the threshold (operators/hints.py).
    changed = runtime_sized(delta_compacted.select(*keys).distinct(), "delta")
    old = prev_state.join(changed, on=keys, how="left_semi").select(
        F.col(group_col).alias("g"),
        F.lit(-1).cast("bigint").alias("cnt_adj"),
        *[(-m).cast("bigint").alias(f"{n}_adj") for n, m in measures.items()],
    )
    new = delta_compacted.filter(F.col(op_col) != delete_op).select(
        F.col(group_col).alias("g"),
        F.lit(1).cast("bigint").alias("cnt_adj"),
        *[m.cast("bigint").alias(f"{n}_adj") for n, m in measures.items()],
    )
    return (
        old.unionByName(new)
        .groupBy("g")
        .agg(
            F.sum("cnt_adj").alias("cnt_adj"),
            *[F.sum(f"{n}_adj").alias(f"{n}_adj") for n in measures],
        )
    )


def apply_moment_adjustments(
    prev_agg: DataFrame,
    adjustments: DataFrame,
    group_col: str,
    cnt_col: str,
    sum_cols: list[str],
) -> DataFrame:
    """Merge per-group adjustments (:func:`delta_moment_adjustments`)
    into the previous aggregate: ``sum_cols`` name the measures.

    Full-outer join on the group (groups can appear, drain to zero, or
    be born in one batch); zero-count groups drop out.  |groups| rows
    on each side — this join is tiny next to the facts it summarizes.
    """
    adj = adjustments.withColumnRenamed("g", group_col)
    merged = prev_agg.join(adj, on=group_col, how="full_outer")
    return (
        merged.select(
            F.col(group_col),
            (
                F.coalesce(F.col(cnt_col), F.lit(0))
                + F.coalesce(F.col("cnt_adj"), F.lit(0))
            ).alias(cnt_col),
            *[
                (
                    F.coalesce(F.col(c), F.lit(0))
                    + F.coalesce(F.col(f"{c}_adj"), F.lit(0))
                ).alias(c)
                for c in sum_cols
            ],
        )
        .filter(F.col(cnt_col) > 0)
    )
