"""Plan-quality regression tests: the physical-plan properties SCALE.md
claims must keep holding — pushdown reaching the scan, dimensions
broadcast, window pre-compaction, no accidental cartesian products."""

from __future__ import annotations

import pytest

from lakehouse_cdc_spark.plans import REGISTRY

#: queries that intentionally contain a broadcast cross join
#: (1-row aggregate or tiny query-vector block)
_INTENDED_CROSS = {
    "subquery_above_avg",
    "emb_cosine_topk",
    "emb_topk_batch",
    "validation_rowcount",
    "validation_freshness_lag",
}


def _plan(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read join keys it doesn't need
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 3  # region/nation/supplier at minimum
    assert "CartesianProduct" not in plan


def test_flagship_window_group_limit(spark, sf_dir):
    """The CDC compaction must keep the WindowGroupLimit pre-shuffle
    top-1 optimization — losing it means shuffling |rows| instead of
    |keys| at 100 TB."""
    plan = _plan(spark, sf_dir, "flagship_cdc_compaction")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan  # customer dim broadcast


def test_q8_all_dimensions_broadcast(spark, sf_dir):
    """The 7-table market-share join must broadcast every dimension —
    a single sort-merge exchange on a dim would shuffle the whole
    lineitem scan at 100 TB."""
    plan = _plan(spark, sf_dir, "q8_market_share")
    assert plan.count("BroadcastHashJoin") == 7
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("Exchange hashpartitioning") <= 1  # only the final agg


def test_q18_plans_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q18_large_orders")
    assert "TakeOrderedAndProject" in plan  # top-100 without a global sort


def test_bucketed_neardup_single_cluster_shuffle(spark, sf_dir):
    """The blocked ANN path must plan as: map-side multi-probe
    assignment (no join, no centroid-scoring shuffle) → ONE exchange
    keyed by cluster → grouped numpy scoring.  A join or a second
    hash exchange means the assignment stopped being map-side."""
    df = REGISTRY["emb_neardup_bucketed"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # blocked per-cluster scorer
    assert "hashpartitioning(cluster" in plan  # the ONE bucketed shuffle
    assert "Join" not in plan
    # distinct adds its own exchange over (ia, ib, cos_sim); nothing else may
    assert plan.count("Exchange hashpartitioning") <= 2


def test_ivf_assign_is_map_side(spark, sf_dir):
    """IVF assignment is the map-side Arrow kernel: no N×K cross join
    of vectors and centroids, no per-vector ranking window."""
    plan = _plan(spark, sf_dir, "emb_ivf_assign")
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_salted_join_spreads_hot_key(spark, sf_dir):
    """The salted variant must join on (key, salt) — the salt column
    in the join keys is what spreads the whale key over N tasks — and
    both skew variants must agree with each other (same oracle)."""
    plan = _plan(spark, sf_dir, "join_skewed_salted")
    assert "__salt" in plan  # salt participates in the join
    assert "explode" in plan or "Expand" in plan or "Generate" in plan  # dim ×16
    aqe = {
        tuple(r)
        for r in REGISTRY["join_skewed_aqe"].fn(spark, sf_dir).collect()
    }
    salted = {
        tuple(r)
        for r in REGISTRY["join_skewed_salted"].fn(spark, sf_dir).collect()
    }
    assert aqe == salted


def test_topk_plans_as_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_orders_global")
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation_everywhere(spark, sf_dir):
    """Hash aggregations must be partial→final (map-side combine)."""
    for name in ["q1_pricing_summary", "agg_group_stats", "join_inner_orders_nation"]:
        plan = _plan(spark, sf_dir, name)
        assert plan.count("HashAggregate") >= 2, name


@pytest.mark.parametrize(
    "name", sorted(n for n in REGISTRY if n not in _INTENDED_CROSS)
)
def test_no_accidental_cartesian(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name


#: representative slice across operator families — the partitioning-
#: invariance sweep proxies "does a different cluster size change the
#: answer" locally (the oracle gate already proves engine-invariance;
#: this proves layout-invariance within Spark)
_INVARIANCE_SAMPLE = [
    "q1_pricing_summary",
    "q8_market_share",
    "flagship_cdc_compaction",
    "checksum_stats_lineitem",
    "dedup_ngram_jaccard",
    "emb_neardup_bucketed",
    "window_range_30d_peak",
    "validation_suite",
    "text_tfidf_top_terms",
    "q18_large_orders",
]


@pytest.mark.slow
@pytest.mark.parametrize("name", _INVARIANCE_SAMPLE)
def test_results_invariant_to_shuffle_partitioning(spark, sf_dir, name):
    """Every declared result must be a pure function of the data — a
    different shuffle-partition count (≈ a different cluster size)
    must not change a single value."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    fn = REGISTRY[name].fn
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        few = [tuple(r) for r in fn(spark, sf_dir).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        many = [tuple(r) for r in fn(spark, sf_dir).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert sorted(map(repr, few)) == sorted(map(repr, many)), name


def _single_partition_windows(simple_plan: str) -> list[str]:
    """Physical Window/WindowGroupLimit nodes fed by an Exchange
    SinglePartition — the unpartitioned-global-window anti-pattern
    that funnels the whole input through ONE task.  In the simple-mode
    tree the offending shape is::

        Window [...]
        +- *Sort [...]
           +- Exchange SinglePartition, ...

    i.e. the exchange sits within two lines of the window node.  A
    window over a post-limit input (emb_pq_rerank's 50-row re-rank)
    does NOT match: GlobalLimit already leaves the data in one
    partition, so no exchange appears between the limit and the
    window."""
    lines = simple_plan.splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "Window [" in line or "WindowGroupLimit" in line:
            below = "\n".join(lines[i + 1 : i + 3])
            if "Exchange SinglePartition" in below:
                hits.append(line.strip()[:80])
    return hits


def test_all_plans_have_no_cartesian_row_udfs_or_global_windows(spark):
    """Plan hygiene over the ENTIRE registry: no CartesianProduct (an
    unkeyed fact-fact blowup), no BatchEvalPython (row-at-a-time
    Python UDF — everything Python must be Arrow-vectorized:
    MapInPandas / FlatMapGroupsInPandas are fine), and no Window fed
    by an Exchange SinglePartition (an unpartitioned global window —
    the whole table through one task; the scalable form is the
    two-pass prefix scan in operators/prefix.py).  Building each plan
    also executes the documented O(1) driver probes (blocking-key
    sizing, BPE argmax, convergence checks), so this doubles as a
    registry-wide smoke test at sf0.001."""
    from lakehouse_cdc_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    # windows whose input is CONSTANT-size by construction (not
    # data-sized), each with the reason it is safe at any scale:
    bounded_window_ok = {
        # row_number over the 25-row nation dimension — the query IS
        # the NULLS FIRST/LAST ordering contract, and nation is
        # constant-size at every SF (one task sees 25 rows forever)
        "sort_null_ordering_contract",
    }
    jvm = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    formatted = jvm.fromString("formatted")
    simple = jvm.fromString("simple")

    def _check(item):
        name, spec = item
        df = spec.fn(spark, sf)
        plan = df._jdf.queryExecution().explainString(formatted)
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in plan
        ]
        if name not in bounded_window_ok:
            bad += [
                f"SinglePartition window: {w}"
                for w in _single_partition_windows(
                    df._jdf.queryExecution().explainString(simple)
                )
            ]
        # fold the driver-canonicalizer schema fence into the SAME
        # registry pass (building all ~300 plans twice cost ~90 s of
        # suite wall): every oracle-backed query must emit only scalar
        # columns — round 5's only red row was an array cell the
        # driver's pandas value-hash could not hash
        if spec.oracle is not None:
            bad += [
                f"complex-typed output column: {f.name}"
                for f in df.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
        return name, bad

    # the loop is driver-bound Catalyst analysis through py4j (which
    # releases the GIL) plus the queries' documented O(1) probe jobs —
    # a thread pool cuts the ~140 s serial registry walk to ~¼ with
    # identical coverage; fixture-cache check-then-build races are
    # benign (two threads build, one wins the dict slot)
    from concurrent.futures import ThreadPoolExecutor

    offenders = {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, bad in pool.map(_check, sorted(REGISTRY.items())):
            if bad:
                offenders[name] = bad
    assert not offenders, offenders


def test_spatial_grid_join_equals_naive_cross_join(spark):
    """The 3x3 grid candidate set must yield EXACTLY the pairs the
    O(N*M) cross join finds — the superset property plus the exact
    distance filter leave no pair behind and admit none extra."""
    from pyspark.sql import functions as F

    from lakehouse_cdc_spark.plans import REGISTRY
    from lakehouse_cdc_spark.plans.registry import table
    from lakehouse_cdc_spark.plans.spatial_queries import (
        _RADIUS,
        _XY_SPARK,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.custkey, r.suppkey, r.dist_linf)
        for r in REGISTRY["spatial_grid_join"].fn(spark, sf).collect()
    }
    cust = table(spark, sf, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.expr(_XY_SPARK[0].format(tag="c", key="c_custkey")).alias("x"),
        F.expr(_XY_SPARK[1].format(tag="c", key="c_custkey")).alias("y"),
    )
    supp = table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("sk"),
        F.expr(_XY_SPARK[0].format(tag="s", key="s_suppkey")).alias("sx_"),
        F.expr(_XY_SPARK[1].format(tag="s", key="s_suppkey")).alias("sy_"),
    )
    dist = F.greatest(
        F.abs(F.col("x") - F.col("sx_")), F.abs(F.col("y") - F.col("sy_"))
    )
    naive = {
        (r.ck, r.sk, r.d)
        for r in cust.crossJoin(supp)
        .withColumn("d", dist)
        .filter(F.col("d") <= _RADIUS)
        .collect()
    }
    assert got == naive and naive, "expected a non-empty identical pair set"


def test_registry_head_is_the_family_showcase():
    """The driver's correctness snapshot samples the FIRST 50 registry
    entries — that window must stay the curated all-family showcase,
    every entry oracle-backed (no rows-only checks hiding in it)."""
    from lakehouse_cdc_spark.plans import _SHOWCASE_HEAD, REGISTRY

    head = list(REGISTRY)[:50]
    assert head == _SHOWCASE_HEAD
    assert all(REGISTRY[n].oracle for n in head)


def test_register_refuses_a_name_already_registered():
    """A second ``register`` of a name raises instead of silently
    replacing the first definition, and the first one stays."""
    from lakehouse_cdc_spark.plans import REGISTRY, register

    name = next(iter(REGISTRY))
    first = REGISTRY[name]
    with pytest.raises(ValueError, match=name):
        register(name)(lambda spark, sf_dir: None)
    assert REGISTRY[name] is first


def test_runtime_sized_sides_get_aqe_broadcast_at_small_scale(spark, sf_dir):
    """operators/hints.py's contract, proven empirically: a
    vocabulary-sized side marked runtime_sized (NO forced hint) is
    still broadcast by AQE once its true materialized size is known —
    so dropping the forced hints cost nothing at test scale, while a
    genuinely large side would shuffle instead of OOMing the driver."""
    df = REGISTRY["text_rare_token_ratio"].fn(spark, sf_dir)
    df.collect()  # AQE finalizes join strategies during execution
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final[:2000]
