"""Declared setup-phase artifacts (round 13).

The round-12 verdict required the per-process artifact builds to be
an explicit, reported setup phase rather than work hidden in the
bench's untimed warm pass — and the shard query's candidate table to
be rebuilt per invocation (no cross-invocation result memo).
"""

from __future__ import annotations

import uuid

from lakehouse_cdc_spark.plans.artifacts import prepare_artifacts


def test_prepare_artifacts_reports_each_build(spark, sf_dir):
    t = prepare_artifacts(spark, sf_dir)
    assert set(t) == {"lsh_old_band_index", "ivf_auto_fit", "er_blocking_stats"}
    assert all(isinstance(v, float) and v >= 0 for v in t.values())


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, counted under its own job group."""
    sc = spark.sparkContext
    group = f"test_artifacts_probe_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs run by one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_prepare_artifacts_idempotent_and_cheap_second_call(spark, sf_dir):
    prepare_artifacts(spark, sf_dir)
    # second call must find every per-process cache hot: no rebuild,
    # so it runs no Spark job at all
    assert _jobs_run_by(spark, lambda: prepare_artifacts(spark, sf_dir)) == 0


def test_shard_query_has_no_result_memo(spark, sf_dir):
    """The shard's band-join + groupBy must be rebuilt per invocation:
    two calls return distinct DataFrames (no module-level DataFrame
    reuse), and both compute the same rows from parquet."""
    from lakehouse_cdc_spark.plans.llm_queries import (
        dedup_incremental_new_shard,
    )

    df1 = dedup_incremental_new_shard(spark, sf_dir)
    df2 = dedup_incremental_new_shard(spark, sf_dir)
    assert df1 is not df2
    rows1 = sorted(map(tuple, df1.collect()))
    rows2 = sorted(map(tuple, df2.collect()))
    assert rows1 == rows2
