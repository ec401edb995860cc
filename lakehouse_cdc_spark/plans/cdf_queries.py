"""Declared queries over the snapshot sink's CHANGE DATA FEED and
time travel (round 6).

These put the S12 sink surface (``changes_between``, ``state_at``) on
the correctness gate, not just on pytest: each query materializes a
deterministic three-batch sink from ``orders``-derived change batches
(cached per sf_dir — content is a pure function of the input tables),
then answers through the sink's OWN feed / snapshots, while DuckDB
replays the same batch algebra directly against ``orders.parquet``.
A green hash proves feed-driven maintenance ≡ recompute and
time-travel diff ≡ the declared change set.

Reference grounding: the reference revalidates aggregates by full
recount after every sync (src/validation/validation.py:236) and has
no changelog surface; Delta CDF / Iceberg changelog consumers are the
standard the sink mirrors.  At 100 TB the point is exactly that the
feed is O(changed data): the maintained aggregate never rescans the
base table (see cdc/incremental.py's cost contract).

Batch algebra (all arithmetic in exact integer cents):

- batch 0 → snapshot 0: INSERT one row per order with
  ``o_orderkey % 3 = 0``: key, grp = o_orderpriority,
  val_cents = fixed_point(o_totalprice, 2).
- batch 1 → snapshot 1: UPDATE keys with ``o_orderkey % 6 = 0``
  (val_cents += 100000) plus INSERT new keys
  ``o_orderkey % 3 = 1 AND o_orderkey % 5 = 0`` (base val).
- batch 2 → snapshot 2: DELETE keys with ``o_orderkey % 9 = 0``.
"""

from __future__ import annotations

import functools
import tempfile

from pyspark.sql import functions as F

from lakehouse_cdc_spark.operators.hints import runtime_sized

from lakehouse_cdc_spark.plans.registry import (
    fixed_point,
    register,
    sql_fixed_point,
    table,
)

_FP = sql_fixed_point("o_totalprice", 2)

#: process-local fixture memo, keyed by (fixture name, sf_dir): a demo
#: sink's content is a pure function of sf_dir, so one build serves
#: every query and every repeat call
_FIXTURES: dict[tuple[str, str], object] = {}


def _fixture(is_valid):
    """Memoize a demo-fixture builder ``build(spark, sf_dir)`` per
    (fixture name, sf_dir).  A cached fixture is served only while
    ``is_valid(fixture)`` holds (the sink still sits on the state its
    build committed); otherwise it is rebuilt and the stale entry
    REPLACED."""

    def deco(build):
        @functools.wraps(build)
        def get(spark, sf_dir):
            key = (build.__name__, sf_dir)
            hit = _FIXTURES.get(key)
            if hit is not None and is_valid(hit):
                return hit
            _FIXTURES[key] = built = build(spark, sf_dir)
            return built

        return get

    return deco


def _at_snapshot(n: int):
    """Fixture validity: the sink's committed snapshot is still ``n``."""
    return lambda sink: sink.committed_snapshot() == n


class _FedSink:
    """A demo ``SnapshotUpsertSink`` whose reads never return None.

    The sink returns None for a state, table or change range that
    holds no rows (every read of a sink fed only empty batches); here
    that reads as an empty change batch, i.e. the last batch fed to
    the sink with no rows, so the queries' feed loops and aggregates
    run unchanged on empty input."""

    def __init__(self, prefix: str, keys: list[str], n_buckets: int):
        from lakehouse_cdc_spark.streaming import SnapshotUpsertSink

        self.sink = SnapshotUpsertSink(
            tempfile.mkdtemp(prefix=prefix),
            keys=keys,
            order_by=["seq"],
            n_buckets=n_buckets,
        )
        self.empty = None

    def process_batch(self, batch, batch_id: int) -> None:
        self.sink.process_batch(batch, batch_id)
        self.empty = batch.limit(0)

    def committed_snapshot(self):
        return self.sink.committed_snapshot()

    def _or_empty(self, df):
        return self.empty if df is None else df

    def state_at(self, spark, snapshot: int):
        return self._or_empty(self.sink.state_at(spark, snapshot))

    def changes_between(self, spark, from_snap: int, to_snap: int):
        return self._or_empty(
            self.sink.changes_between(spark, from_snap, to_snap)
        )

    def current_table(self, spark):
        return self._or_empty(self.sink.current_table(spark))


def _demo_batches(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    val = fixed_point(F.col("o_totalprice"), 2)
    b0 = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("grp"),
        val.alias("val_cents"),
        F.lit("c").alias("operation"),
        F.lit(0).cast("bigint").alias("seq"),
    )
    b1 = (
        o.filter(F.col("o_orderkey") % 6 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("grp"),
            (val + F.lit(100000)).alias("val_cents"),
            F.lit("u").alias("operation"),
            F.lit(1).cast("bigint").alias("seq"),
        )
        .unionByName(
            o.filter(
                (F.col("o_orderkey") % 3 == 1) & (F.col("o_orderkey") % 5 == 0)
            ).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderpriority").alias("grp"),
                val.alias("val_cents"),
                F.lit("c").alias("operation"),
                F.lit(1).cast("bigint").alias("seq"),
            )
        )
    )
    b2 = o.filter(F.col("o_orderkey") % 9 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("grp"),
        F.lit(None).cast("bigint").alias("val_cents"),
        F.lit("d").alias("operation"),
        F.lit(2).cast("bigint").alias("seq"),
    )
    return [b0, b1, b2]


@_fixture(_at_snapshot(2))
def _demo_sink(spark, sf_dir):
    """Build (once per sf_dir per process) the three-snapshot demo
    sink.  COW mode so every snapshot is bucket-complete and the feed
    exercises the rewritten-bucket diff path."""
    sink = _FedSink("cdf_demo_", ["k"], 8)
    for i, b in enumerate(_demo_batches(spark, sf_dir)):
        sink.process_batch(b, i)
    assert sink.committed_snapshot() == 2
    return sink


@register(
    "cdf_incremental_view_maintenance",
    oracle=f"""
    WITH final_state AS (
      SELECT o_orderpriority AS grp,
             {_FP} + CASE WHEN o_orderkey % 6 = 0 THEN 100000 ELSE 0 END
               AS val_cents
      FROM orders
      WHERE o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0
      UNION ALL
      SELECT o_orderpriority, {_FP}
      FROM orders
      WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0
    )
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(val_cents) AS BIGINT) AS sum_cents
    FROM final_state GROUP BY grp ORDER BY grp
    """,
    tags=("cdc", "cdf", "ivm", "S12", "T-family"),
)
def cdf_incremental_view_maintenance(spark, sf_dir):
    """Materialized-view maintenance driven by the sink's own CHANGE
    DATA FEED: bootstrap the per-group (count, sum) aggregate from
    snapshot 0, then for each later snapshot consume ONLY
    ``changes_between(s-1, s)`` — retract the changed keys' old
    contributions (a key semi-join into the previous snapshot, at
    scale a bloom/bucket-pruned point lookup) and add the new rows'
    (cdc/incremental.py's retract/add algebra).  The base table is
    never rescanned after bootstrap: per step the work is
    O(|feed| + |groups|).  The oracle recomputes the same aggregate
    from the final state directly — a hash match proves
    feed ≡ recompute across inserts, updates, AND deletes."""
    from lakehouse_cdc_spark.cdc.incremental import (
        apply_moment_adjustments,
        delta_moment_adjustments,
    )

    sink = _demo_sink(spark, sf_dir)
    visible0 = sink.state_at(spark, 0).filter(F.col("operation") != "d")
    agg = visible0.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("val_cents").cast("bigint").alias("sum_cents"),
    )
    for s in (1, 2):
        feed = sink.changes_between(spark, s - 1, s)
        prev_visible = sink.state_at(spark, s - 1).filter(
            F.col("operation") != "d"
        )
        adj = delta_moment_adjustments(
            prev_visible,
            feed,
            keys=["k"],
            group_col="grp",
            measures={"sum_cents": F.col("val_cents")},
        )
        agg = apply_moment_adjustments(agg, adj, "grp", "cnt", ["sum_cents"])
    return agg.select(
        "grp",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
    ).orderBy("grp")


@register(
    "cdf_incremental_moments",
    oracle=f"""
    WITH final_state AS (
      SELECT o_orderpriority AS grp,
             ({_FP} + CASE WHEN o_orderkey % 6 = 0 THEN 100000 ELSE 0 END)
               // 100 AS val_d
      FROM orders
      WHERE o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0
      UNION ALL
      SELECT o_orderpriority, {_FP} // 100
      FROM orders
      WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0
    )
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(val_d) AS BIGINT) AS sum_d,
           CAST(SUM(val_d * val_d) AS BIGINT) AS sum_sq_d
    FROM final_state GROUP BY grp ORDER BY grp
    """,
    tags=("cdc", "cdf", "ivm", "variance", "S12", "T-family"),
)
def cdf_incremental_moments(spark, sf_dir):
    """SECOND-MOMENT view maintenance over the change feed: the
    maintained aggregate carries exact integer ``(count, Σx, Σx²)``
    per group — enough to serve mean AND variance/stddev at read time
    (``var = (n·Σx² − (Σx)²)/n²``) — updated from ``changes_between``
    batches alone via multi-measure retract/add
    (cdc/incremental.py:delta_moment_adjustments: ONE changed-key
    semi-join serves every moment, no extra shuffle per measure).
    Classic IVM only covers linear aggregates; keeping the raw power
    sums makes variance self-maintainable too, exactly (integer
    dollars, truncating div on both engines — never divided doubles
    on the oracle surface).  The oracle recomputes all three sums from
    the final state — hash match proves feed ≡ recompute across
    inserts, updates, and deletes."""
    from lakehouse_cdc_spark.cdc.incremental import (
        apply_moment_adjustments,
        delta_moment_adjustments,
    )

    sink = _demo_sink(spark, sf_dir)
    val_d = F.expr("val_cents div 100")
    measures = {"sum_d": val_d, "sum_sq_d": val_d * val_d}
    visible0 = sink.state_at(spark, 0).filter(F.col("operation") != "d")
    agg = visible0.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(val_d).cast("bigint").alias("sum_d"),
        F.sum(val_d * val_d).cast("bigint").alias("sum_sq_d"),
    )
    for s in (1, 2):
        feed = sink.changes_between(spark, s - 1, s)
        prev_visible = sink.state_at(spark, s - 1).filter(
            F.col("operation") != "d"
        )
        adj = delta_moment_adjustments(
            prev_visible, feed, keys=["k"], group_col="grp", measures=measures
        )
        agg = apply_moment_adjustments(
            agg, adj, "grp", "cnt", ["sum_d", "sum_sq_d"]
        )
    return agg.select(
        "grp",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("sum_d").cast("bigint").alias("sum_d"),
        F.col("sum_sq_d").cast("bigint").alias("sum_sq_d"),
    ).orderBy("grp")


@register(
    "timetravel_snapshot_diff",
    oracle=f"""
    SELECT o_orderkey AS k, 'added' AS change, o_orderpriority AS grp,
           {_FP} AS val_delta
    FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0
    UNION ALL
    SELECT o_orderkey, 'removed', o_orderpriority, -{_FP}
    FROM orders WHERE o_orderkey % 9 = 0
    UNION ALL
    SELECT o_orderkey, 'changed', o_orderpriority, CAST(100000 AS BIGINT)
    FROM orders WHERE o_orderkey % 6 = 0 AND o_orderkey % 9 <> 0
    ORDER BY k, change
    """,
    tags=("cdc", "time-travel", "diff", "S12"),
)
def timetravel_snapshot_diff(spark, sf_dir):
    """Time-travel DIFF between two retained snapshots (Iceberg
    ``VERSION AS OF`` pair semantics): full-outer join the visible
    states of snapshot 0 and snapshot 2 on the key and classify every
    key as added / removed / changed, with the exact value delta.
    Unchanged keys (the overwhelming majority at scale) are dropped by
    the order-by comparison, so the output is O(changed keys).  The
    join keys are the sink's bucket keys: on a bucketed store both
    sides arrive co-partitioned and the diff needs no extra shuffle.
    The oracle derives the same change set from the declared batch
    algebra — a hash match proves the sink's snapshots retained
    exactly the committed history."""
    sink = _demo_sink(spark, sf_dir)
    v0 = (
        sink.state_at(spark, 0)
        .filter(F.col("operation") != "d")
        .select(
            F.col("k"),
            F.col("grp").alias("grp0"),
            F.col("val_cents").alias("val0"),
            F.col("seq").alias("seq0"),
        )
    )
    v2 = (
        sink.state_at(spark, 2)
        .filter(F.col("operation") != "d")
        .select(
            F.col("k"),
            F.col("grp").alias("grp2"),
            F.col("val_cents").alias("val2"),
            F.col("seq").alias("seq2"),
        )
    )
    j = v0.join(v2, on="k", how="full_outer")
    return (
        j.select(
            "k",
            F.when(F.col("seq0").isNull(), F.lit("added"))
            .when(F.col("seq2").isNull(), F.lit("removed"))
            .when(F.col("seq2") > F.col("seq0"), F.lit("changed"))
            .alias("change"),
            F.coalesce("grp2", "grp0").alias("grp"),
            (
                F.coalesce(F.col("val2"), F.lit(0))
                - F.coalesce(F.col("val0"), F.lit(0))
            ).cast("bigint").alias("val_delta"),
        )
        .filter(F.col("change").isNotNull())
        .orderBy("k", "change")
    )


def _text_demo_batches(spark, sf_dir):
    """The shared documents-derived change batches: b0 inserts docs
    with ``doc_id % 3 = 0``; b1 appends ' updated extra' to docs with
    ``doc_id % 6 = 0`` (postings/shingles change) and inserts docs
    ``% 3 = 1 AND % 5 = 0``; b2 deletes docs ``% 9 = 0``."""
    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    b0 = d.filter(did % 3 == 0).select(
        did.alias("doc"),
        F.col("text"),
        F.lit("c").alias("operation"),
        F.lit(0).cast("bigint").alias("seq"),
    )
    b1 = (
        d.filter(did % 6 == 0)
        .select(
            did.alias("doc"),
            F.concat(F.col("text"), F.lit(" updated extra")).alias("text"),
            F.lit("u").alias("operation"),
            F.lit(1).cast("bigint").alias("seq"),
        )
        .unionByName(
            d.filter((did % 3 == 1) & (did % 5 == 0)).select(
                did.alias("doc"),
                F.col("text"),
                F.lit("c").alias("operation"),
                F.lit(1).cast("bigint").alias("seq"),
            )
        )
    )
    b2 = d.filter(did % 9 == 0).select(
        did.alias("doc"),
        F.lit(None).cast("string").alias("text"),
        F.lit("d").alias("operation"),
        F.lit(2).cast("bigint").alias("seq"),
    )
    return (b0, b1, b2)


@_fixture(_at_snapshot(2))
def _text_demo_sinks(spark, sf_dir):
    """Base text sink (3 change batches) + the inverted-index sink
    maintained from its feed, cached per sf_dir."""
    from lakehouse_cdc_spark.streaming.indexing import token_index_changes

    base = _FedSink("cdf_textbase_", ["doc"], 4)
    idx = _FedSink("cdf_index_", ["token", "doc"], 8)
    for i, b in enumerate(_text_demo_batches(spark, sf_dir)):
        base.process_batch(b, i)
        feed = base.changes_between(spark, i - 1, i)
        prev = (
            base.state_at(spark, i - 1).filter(F.col("operation") != "d")
            if i > 0
            else feed.limit(0)
        )
        idx.process_batch(
            token_index_changes(feed, prev, ["doc"], snapshot=i), i
        )
    return idx


@register(
    "cdf_incremental_index",
    oracle="""
    WITH final_docs AS (
      SELECT doc_id AS doc,
             CASE WHEN doc_id % 6 = 0 THEN text || ' updated extra'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 3 = 0 AND doc_id % 9 <> 0
      UNION ALL
      SELECT doc_id, text FROM documents
      WHERE doc_id % 3 = 1 AND doc_id % 5 = 0
    ),
    postings AS (
      SELECT token, doc, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (
        SELECT doc, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM final_docs
      ) WHERE token <> ''
      GROUP BY token, doc
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           CAST(SUM(tf) AS BIGINT) AS tf_total
    FROM postings
    GROUP BY token
    ORDER BY doc_freq DESC, token ASC
    LIMIT 20
    """,
    tags=("cdc", "cdf", "index-maintenance", "S12", "retrieval"),
)
def cdf_incremental_index(spark, sf_dir):
    """INVERTED-INDEX MAINTENANCE over the change feed: a token →
    document postings index (its own bucketed upsert sink, keyed by
    (token, doc)) is kept in sync with a text table consuming ONLY
    ``changes_between`` batches — per snapshot the index work is
    O(|changed docs| × tokens/doc): old postings come from a key
    semi-join into the previous snapshot, the batch is the (token,
    doc) diff, and unchanged postings are never re-emitted
    (streaming/indexing.py).  The declared result is the term
    dictionary head (top-20 tokens by document frequency) read from
    the MAINTAINED index; the oracle rebuilds postings from the final
    document state directly — a hash match proves incremental index ≡
    full rebuild across inserts, text updates, and deletes.  The
    reference revalidates by rescan (validation.py); this is the CDC →
    search-index pipeline done lakehouse-native."""
    idx = _text_demo_sinks(spark, sf_dir)
    t = idx.current_table(spark)
    return (
        t.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
            F.sum("tf").cast("bigint").alias("tf_total"),
        )
        .orderBy(F.desc("doc_freq"), F.asc("token"))
        .limit(20)
    )


#: DuckDB cosine fragments against the 64-dim embeddings (mirror of
#: llm/similarity.py's fold — same shape emb_ivf_assign's oracle uses)
_ANN_NSQ = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST({v}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE)))"
)
_ANN_DOT = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@_fixture(_at_snapshot(2))
def _ann_demo_sinks(spark, sf_dir):
    """Base vector sink (3 embeddings-derived change batches) + the
    IVF assignment index maintained from its feed, cached per sf_dir.

    Batch algebra (same modulus scheme as the other demo sinks): b0
    inserts vectors with ``vec_id % 3 = 0``; b1 NEGATES the embedding
    of vectors with ``vec_id % 6 = 0`` (cosine flips sign, so most
    re-assign to a different centroid — a real re-embedding event) and
    inserts vectors ``% 3 = 1 AND % 5 = 0``; b2 deletes ``% 9 = 0``.
    Centroids are the 8 vectors ``vec_id < 8`` from the base parquet,
    FROZEN across batches (centroids retrain offline; assignment
    streams)."""
    from lakehouse_cdc_spark.streaming.indexing import ann_index_changes

    e = table(spark, sf_dir, "embeddings")
    vid = F.col("vec_id")
    neg = F.transform(F.col("embedding"), lambda x: -x)
    b0 = e.filter(vid % 3 == 0).select(
        vid.alias("vec_id"),
        F.col("embedding"),
        F.lit("c").alias("operation"),
        F.lit(0).cast("bigint").alias("seq"),
    )
    b1 = (
        e.filter(vid % 6 == 0)
        .select(
            vid.alias("vec_id"),
            neg.alias("embedding"),
            F.lit("u").alias("operation"),
            F.lit(1).cast("bigint").alias("seq"),
        )
        .unionByName(
            e.filter((vid % 3 == 1) & (vid % 5 == 0)).select(
                vid.alias("vec_id"),
                F.col("embedding"),
                F.lit("c").alias("operation"),
                F.lit(1).cast("bigint").alias("seq"),
            )
        )
    )
    b2 = e.filter(vid % 9 == 0).select(
        vid.alias("vec_id"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit("d").alias("operation"),
        F.lit(2).cast("bigint").alias("seq"),
    )
    centroids = e.filter(vid < 8).select(
        vid.alias("cid"), F.col("embedding").alias("cemb")
    )
    base = _FedSink("cdf_annbase_", ["vec_id"], 4)
    idx = _FedSink("cdf_annidx_", ["vec_id"], 4)
    for i, b in enumerate((b0, b1, b2)):
        base.process_batch(b, i)
        feed = base.changes_between(spark, i - 1, i)
        idx.process_batch(ann_index_changes(feed, centroids, snapshot=i), i)
    return idx


@register(
    "cdf_incremental_ann_index",
    oracle=f"""
    WITH final_vecs AS (
      SELECT vec_id,
             CASE WHEN vec_id % 6 = 0
                  THEN list_transform(embedding, x -> -x)
                  ELSE embedding END AS embedding
      FROM embeddings WHERE vec_id % 3 = 0 AND vec_id % 9 <> 0
      UNION ALL
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % 3 = 1 AND vec_id % 5 = 0
    ),
    c AS (SELECT vec_id AS cid, embedding AS cemb,
                 {_ANN_NSQ.format(v='embedding')} AS cnorm
          FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.cid,
             round({_ANN_DOT.format(a='e.embedding', b='c.cemb')}
                   / (sqrt({_ANN_NSQ.format(v='e.embedding')})
                      * sqrt(c.cnorm)), 6) AS cs
      FROM final_vecs e, c
    ),
    ranked AS (SELECT vec_id, cid, cs,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cid ASC) AS rn
               FROM scored)
    SELECT cid AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id
    FROM ranked WHERE rn = 1
    GROUP BY cid ORDER BY cid
    """,
    tags=("cdc", "cdf", "index-maintenance", "ann", "ivf", "S12"),
)
def cdf_incremental_ann_index(spark, sf_dir):
    """ANN-INDEX MAINTENANCE over the change feed: an IVF assignment
    table (vector id → nearest of 8 frozen centroids) lives in its own
    bucketed upsert sink and is kept in sync with an embedding-bearing
    base table consuming ONLY ``changes_between`` batches — per
    snapshot the work is O(|changed vectors| × K) broadcast-centroid
    scores, zero base rescans (streaming/indexing.py:ann_index_changes;
    what a production embedding store does on every ingest).  Inserts
    and re-embeddings (here: sign-flipped vectors, which jump Voronoi
    cells) upsert their new bucket; deletes tombstone it.  The
    declared result is the bucket census (count + exact id-sum per
    cluster) read from the MAINTAINED index; the oracle re-derives the
    final vector state from the declared batch algebra and re-assigns
    from scratch — a hash match proves incremental index ≡ full
    rebuild across inserts, re-embeddings, and deletes."""
    idx = _ann_demo_sinks(spark, sf_dir)
    t = idx.current_table(spark)
    return (
        t.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
            F.sum("vec_id").cast("bigint").alias("sum_vec_id"),
        )
        .orderBy("cluster")
    )


#: DuckDB mirror of llm/dedup.py's md5 minhash family + banding, over
#: the final-state docs CTE (column ``doc``)
_LSH_MINS = ",\n             ".join(
    f"min(md5('{j}|' || shingle)) AS h{j}" for j in range(8)
)
_LSH_BANDS = ",\n             ".join(
    f"md5(h{2 * b} || '|' || h{2 * b + 1}) AS band{b}" for b in range(4)
)
_LSH_LONG = "\n      UNION ALL ".join(
    f"SELECT doc, CAST({b} AS INTEGER) AS band, band{b} AS band_key FROM bands"
    for b in range(4)
)


@_fixture(_at_snapshot(2))
def _lsh_demo_sinks(spark, sf_dir):
    """Base text sink (same batches as the inverted-index demo) + the
    MinHash-LSH band-index sink maintained from its feed, cached per
    sf_dir."""
    from lakehouse_cdc_spark.streaming.indexing import lsh_index_changes

    base = _FedSink("cdf_lshbase_", ["doc"], 4)
    idx = _FedSink("cdf_lshidx_", ["doc", "band"], 8)
    for i, b in enumerate(_text_demo_batches(spark, sf_dir)):
        base.process_batch(b, i)
        feed = base.changes_between(spark, i - 1, i)
        idx.process_batch(lsh_index_changes(feed, snapshot=i), i)
    return idx


@register(
    "cdf_incremental_lsh_index",
    oracle=f"""
    WITH final_docs AS (
      SELECT doc_id AS doc,
             CASE WHEN doc_id % 6 = 0 THEN text || ' updated extra'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 3 = 0 AND doc_id % 9 <> 0
      UNION ALL
      SELECT doc_id, text FROM documents
      WHERE doc_id % 3 = 1 AND doc_id % 5 = 0
    ),
    toks AS (SELECT doc, string_split_regex(trim(text), '\\s+') AS t
             FROM final_docs),
    idx AS (SELECT doc, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
            FROM toks),
    sh AS (SELECT DISTINCT doc, array_to_string(t[i:i+2], ' ') AS shingle
           FROM idx),
    sig AS (SELECT doc,
             {_LSH_MINS}
            FROM sh GROUP BY doc),
    bands AS (SELECT doc,
             {_LSH_BANDS}
            FROM sig),
    long AS (
      {_LSH_LONG}
    ),
    buckets AS (SELECT band, band_key, COUNT(*) AS sz
                FROM long GROUP BY 1, 2)
    SELECT band,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM buckets GROUP BY band ORDER BY band
    """,
    tags=("cdc", "cdf", "index-maintenance", "lsh", "dedup", "S12"),
)
def cdf_incremental_lsh_index(spark, sf_dir):
    """LSH-INDEX MAINTENANCE over the change feed — the dedup analog
    of ``cdf_incremental_ann_index``, completing the feed-maintained
    index family (aggregate / inverted index / ANN / LSH): the banded
    MinHash index (document → 4 band-bucket hashes, the table
    near-dup candidate generation joins on) lives in its own
    (doc, band)-keyed bucketed sink and is kept in sync with a
    text-bearing base table consuming ONLY ``changes_between``
    batches — per snapshot the work is O(|changed docs| × shingles)
    md5 minhashing with zero base rescans
    (streaming/indexing.py:lsh_index_changes).  Updates re-shingle and
    replace all 4 band rows wholesale (fixed band count — no old-state
    lookup); deletes tombstone each band.  This is exactly the
    maintained "old side" that ``dedup_incremental_new_shard`` joins a
    daily ingest against.  The declared result is the per-band bucket
    census (rows, distinct buckets, within-bucket candidate pairs
    Σ C(sz,2)) read from the MAINTAINED index; the oracle re-derives
    the final document state from the declared batch algebra and
    recomputes signatures from scratch — a hash match proves
    incremental index ≡ full rebuild across inserts, text edits (which
    move band keys), and deletes."""
    idx = _lsh_demo_sinks(spark, sf_dir)
    t = idx.current_table(spark)
    buckets = t.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        buckets.groupBy("band")
        .agg(
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(
                F.expr("(sz * (sz - 1)) div 2")
            ).cast("bigint").alias("candidate_pairs"),
        )
        .orderBy("band")
    )


@register(
    "cdf_incremental_text_index",
    oracle="""
    WITH final_docs AS (
      SELECT doc_id AS doc,
             CASE WHEN doc_id % 6 = 0 THEN text || ' updated extra'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 3 = 0 AND doc_id % 9 <> 0
      UNION ALL
      SELECT doc_id, text FROM documents
      WHERE doc_id % 3 = 1 AND doc_id % 5 = 0
    ),
    postings AS (
      SELECT token, doc, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (
        SELECT doc, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM final_docs
      ) WHERE token <> ''
      GROUP BY token, doc
    ),
    dl AS (SELECT doc, CAST(SUM(tf) AS BIGINT) AS dl
           FROM postings GROUP BY doc),
    stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                     COUNT(*) AS n_docs
              FROM dl),
    qtf AS (SELECT doc, token, tf FROM postings
            WHERE token IN ('spark', 'merge', 'vector')),
    dfreq AS (SELECT token, COUNT(*) AS df FROM qtf GROUP BY 1),
    contrib AS (
      SELECT qtf.doc,
             CAST(floor(
               ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                        / (CAST(df AS DOUBLE) + 0.5))
               * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (1.0 - 0.75
                              + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
               * 10000.0 + 0.5) AS BIGINT) AS contrib_fp
      FROM qtf
      JOIN dfreq USING (token)
      JOIN dl USING (doc), stats
    )
    SELECT doc AS doc_id, CAST(SUM(contrib_fp) AS BIGINT) AS score_fp,
           COUNT(*) AS hit_terms
    FROM contrib GROUP BY doc
    ORDER BY score_fp DESC, doc ASC
    LIMIT 15
    """,
    tags=("cdc", "cdf", "index-maintenance", "bm25", "retrieval", "S12"),
)
def cdf_incremental_text_index(spark, sf_dir):
    """SEARCH-INDEX SERVING from the feed-maintained postings — the
    retrieval completion of the feed-maintained index family (VERDICT
    r7 item 5): a production search stack keeps its BM25 postings in
    sync on every ingest, and this query proves the maintained index
    SERVES identically to a from-scratch build.  The (token, doc, tf)
    postings sink from ``cdf_incremental_index`` (maintained from
    ``changes_between`` alone — O(|changed docs| x tokens/doc) per
    snapshot, zero base rescans) is here read as a BM25 index: doc
    length = Σtf per doc, avgdl/N from the dl table, df per query
    term — every statistic BM25 needs derives from the maintained
    postings, so the index is self-contained (no side lookup into the
    base table at query time).  Query = the same 3-term keyword set
    and k1=1.2/b=0.75 fixed-point contribution formula as
    ``text_bm25_search``; top-15 by exact BIGINT score.  The oracle
    rebuilds postings from the final document state and scores from
    scratch — a hash match proves maintained-index BM25 ≡ full-rebuild
    BM25 across inserts, text edits (tf/df/dl all shift), and deletes
    (the reference's only answer is a rescan,
    src/validation/validation.py)."""
    from lakehouse_cdc_spark.plans.graph_queries import _B, _BM25_TERMS, _K1

    idx = _text_demo_sinks(spark, sf_dir)
    t = idx.current_table(spark).select("token", "doc", "tf")
    dl = t.groupBy("doc").agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    qtf = t.filter(F.col("token").isin(*_BM25_TERMS))
    dfreq = qtf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    tf_component = (F.col("tf").cast("double") * (_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + _K1 * (1.0 - _B + _B * (F.col("dl").cast("double") / F.col("avgdl")))
    )
    contrib = (
        qtf.join(runtime_sized(dfreq, "vocabulary"), "token")
        .join(dl, "doc")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("doc").alias("doc_id"),
            F.floor(idf * tf_component * 10000.0 + 0.5)
            .cast("bigint")
            .alias("contrib_fp"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("contrib_fp").cast("bigint").alias("score_fp"),
            F.count(F.lit(1)).alias("hit_terms"),
        )
        .orderBy(F.desc("score_fp"), F.asc("doc_id"))
        .limit(15)
    )


#: uncapped per-band candidate join over the `bands` CTE (the pair
#: policy must be insertion-monotone for maintained ≡ rebuild; the
#: capped _BAND_UNION of dedup_minhash_lsh is time-dependent under
#: increments)
_GRP_BAND_UNION = "\n      UNION\n".join(
    f"      SELECT a.doc AS da, b.doc AS db FROM bands a JOIN bands b\n"
    f"        ON a.band{b} = b.band{b} AND a.doc < b.doc"
    for b in range(4)
)


@_fixture(_at_snapshot(2))
def _grp_demo_sinks(spark, sf_dir):
    """Base text sink fed three INSERT-ONLY batches (doc_id % 3 =
    0 / 1 / 2 — the whole documents table by the end), with the LSH
    band index AND the dedup-group label table maintained from its
    feed, cached per sf_dir."""
    from lakehouse_cdc_spark.streaming.indexing import (
        dedup_groups_changes,
        lsh_index_changes,
    )

    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    batches = [
        d.filter(did % 3 == i).select(
            did.alias("doc"),
            F.col("text"),
            F.lit("c").alias("operation"),
            F.lit(i).cast("bigint").alias("seq"),
        )
        for i in range(3)
    ]
    base = _FedSink("cdf_grpbase_", ["doc"], 4)
    idx = _FedSink("cdf_grpidx_", ["doc", "band"], 8)
    lab = _FedSink("cdf_grplab_", ["doc"], 4)
    for i, b in enumerate(batches):
        base.process_batch(b, i)
        feed = base.changes_between(spark, i - 1, i)
        prev_index = idx.current_table(spark) if i > 0 else None
        prev_labels = lab.current_table(spark) if i > 0 else None
        lab.process_batch(
            dedup_groups_changes(
                feed, prev_labels, prev_index, snapshot=i
            ),
            i,
        )
        idx.process_batch(lsh_index_changes(feed, snapshot=i), i)
    return lab


@register(
    "cdf_incremental_dedup_groups",
    oracle=f"""
    WITH RECURSIVE final_docs AS (
      SELECT doc_id AS doc, text FROM documents
    ),
    toks AS (SELECT doc, string_split_regex(trim(text), '\\s+') AS t
             FROM final_docs),
    idx AS (SELECT doc, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
            FROM toks),
    sh AS (SELECT DISTINCT doc, array_to_string(t[i:i+2], ' ') AS shingle
           FROM idx),
    sig AS (SELECT doc,
             {_LSH_MINS}
            FROM sh GROUP BY doc),
    bands AS (SELECT doc,
             {_LSH_BANDS}
            FROM sig),
    cand AS (
{_GRP_BAND_UNION}
    ),
    sym AS (SELECT da AS u, db AS v FROM cand
            UNION SELECT db, da FROM cand),
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    walk(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.v, w.label FROM walk w JOIN sym e ON e.u = w.node
    ),
    comp AS (SELECT node, MIN(label) AS grp FROM walk GROUP BY node)
    SELECT grp AS canonical_doc_id,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
    FROM comp GROUP BY grp HAVING COUNT(*) >= 2
    ORDER BY canonical_doc_id
    """,
    tags=("cdc", "cdf", "index-maintenance", "dedup", "graph", "S12"),
)
def cdf_incremental_dedup_groups(spark, sf_dir):
    """DEDUP-GROUP MAINTENANCE over the change feed — the decision
    layer of incremental dedup, completing the story the maintained
    LSH index started: as append-only shards land, the transitive
    near-dup GROUP LABELS (who is a duplicate of whom, which doc is
    canonical) are kept current consuming ONLY ``changes_between``
    batches + the maintained band index + the maintained label table
    (streaming/indexing.py:dedup_groups_changes).  Per snapshot the
    work is O(|new docs| × shingles + |touched groups|): new docs
    band-join the maintained index, only the MERGED groups' members
    are re-labeled (min-label connected components on the touched
    subgraph — never the corpus), and unchanged groups never re-emit.
    Append-only is enforced (a delete can split a group — that is a
    rebuild, the same boundary as MAX retraction in maintained
    aggregates).  The declared result is every multi-doc group (label
    = min member = canonical doc) read from the MAINTAINED table; the
    oracle recomputes the closure from the full final corpus with a
    recursive CTE and the same uncapped band-pair policy — a hash
    match proves the incrementally maintained labels reach the exact
    fixed point a from-scratch rebuild lands."""
    lab = _grp_demo_sinks(spark, sf_dir)
    t = lab.current_table(spark).select("doc", "label")
    return (
        t.groupBy(F.col("label").alias("canonical_doc_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc"))).alias(
                "members"
            ),
        )
        .filter(F.col("group_size") >= 2)
        .orderBy("canonical_doc_id")
    )


@_fixture(_at_snapshot(0))
def _chk_demo_sink(spark, sf_dir):
    """Sink with CHECK constraints fed one orders-derived batch whose
    rows deterministically violate them (negative totals minted from
    key parity, out-of-range dates), cached per sf_dir."""
    from lakehouse_cdc_spark.streaming import SnapshotUpsertSink

    o = table(spark, sf_dir, "orders")
    batch = o.select(
        F.col("o_orderkey").alias("k"),
        # every 7th key minted negative — a violating measure
        F.when(
            F.col("o_orderkey") % 7 == 0,
            -fixed_point(F.col("o_totalprice"), 2),
        )
        .otherwise(fixed_point(F.col("o_totalprice"), 2))
        .alias("total_cents"),
        # every 11th key nulled — NULL must count as a violation
        F.when(
            F.col("o_orderkey") % 11 == 0, F.lit(None).cast("string")
        )
        .otherwise(F.col("o_orderpriority"))
        .alias("priority"),
        F.lit("c").alias("operation"),
        F.lit(0).cast("bigint").alias("seq"),
    )
    sink = SnapshotUpsertSink(
        tempfile.mkdtemp(prefix="cdf_chk_"),
        keys=["k"],
        order_by=["seq"],
        n_buckets=4,
        checks={
            "total_positive": "total_cents > 0",
            "priority_set": "priority IS NOT NULL",
        },
    )
    sink.process_batch(batch, 0)
    return sink


@register(
    "sink_check_quarantine",
    oracle="""
    WITH lanes AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7 = 0 THEN 'total_positive'
                  WHEN o_orderkey % 11 = 0 THEN 'priority_set'
             END AS rule,
             CASE WHEN o_orderkey % 7 = 0
                  THEN -CAST(ROUND(o_totalprice * 100) AS BIGINT)
                  ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT)
             END AS total_cents
      FROM orders
    )
    SELECT COALESCE(rule, '(committed)') AS lane,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(total_cents) AS BIGINT) AS sum_total_cents,
           CAST(bit_xor(k) AS BIGINT) AS keys_xor
    FROM lanes GROUP BY rule ORDER BY lane
    """,
    tags=("cdc", "sink", "check-constraint", "quality", "S12"),
)
def sink_check_quarantine(spark, sf_dir):
    """WRITE-TIME CHECK CONSTRAINTS with a quarantine lane — the sink
    enforces declared row rules (positive measure, mandatory column)
    on every non-delete batch row: violators divert to the queryable
    ``_quarantine`` lane tagged with the FIRST failing rule in
    declared order (NULL check results are violations — NULL-escaping
    is how bad rows sneak past ANSI CHECK), clean rows commit.  The
    declared result is the three-lane census (committed state + one
    row per rule) with exact sums and key-XOR membership digests read
    from the SINK's own surfaces (current_table + quarantine_table);
    the oracle re-derives every lane from the declared violation
    algebra — a hash match proves the split is exact and loses no
    row.  This is the Delta CHECK-constraint / DLQ posture done
    lakehouse-native: at 100 TB one poison row must not fail the
    ingest, and audit-after-commit ships the corruption first."""
    sink = _chk_demo_sink(spark, sf_dir)
    committed = sink.current_table(spark).select(
        F.lit("(committed)").alias("lane"),
        F.col("k"),
        F.col("total_cents"),
    )
    q = sink.quarantine_table(spark).select(
        F.col("__check").alias("lane"), F.col("k"), F.col("total_cents")
    )
    return (
        committed.unionByName(q)
        .groupBy("lane")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("total_cents").cast("bigint").alias("sum_total_cents"),
            F.expr("bit_xor(k)").cast("bigint").alias("keys_xor"),
        )
        .orderBy("lane")
    )


@_fixture(_at_snapshot(1))
def _zone_demo_sink(spark, sf_dir):
    """Sink with a zone-mapped day column, fed two orders-derived
    batches (the second rewrites some buckets so carried + refreshed
    zones coexist), cached per sf_dir."""
    from lakehouse_cdc_spark.streaming import SnapshotUpsertSink

    o = table(spark, sf_dir, "orders")
    day = F.expr("datediff(to_date(o_orderdate), DATE '1992-01-01')")

    def batch(pred, seq):
        return o.filter(pred).select(
            F.col("o_orderkey").alias("k"),
            day.cast("bigint").alias("d"),
            fixed_point(F.col("o_totalprice"), 2).alias("cents"),
            F.lit("c").alias("operation"),
            F.lit(seq).cast("bigint").alias("seq"),
        )

    sink = SnapshotUpsertSink(
        tempfile.mkdtemp(prefix="cdf_zone_"),
        keys=["k"],
        order_by=["seq"],
        n_buckets=4,
        zone_cols=["d"],
    )
    sink.process_batch(batch(F.col("o_orderkey") % 2 == 0, 0), 0)
    sink.process_batch(batch(F.col("o_orderkey") % 2 == 1, 1), 1)
    return sink


@register(
    "sink_zone_range_lookup",
    oracle="""
    WITH state AS (
      SELECT o_orderkey AS k,
             datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               AS d,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    hit AS (SELECT * FROM state WHERE d BETWEEN 1300 AND 1450)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(bit_xor(k) AS BIGINT) AS keys_xor,
           CAST(MIN(d) AS BIGINT) AS min_d,
           CAST(MAX(d) AS BIGINT) AS max_d
    FROM hit
    """,
    tags=("cdc", "sink", "zonemap", "data-skipping", "S12", "M1-scale"),
)
def sink_zone_range_lookup(spark, sf_dir):
    """RANGE LOOKUP THROUGH THE SINK'S OWN ZONE MAPS — the read path
    itself on the oracle gate: the state (all orders, committed in two
    bucket-rewriting waves so carried AND refreshed zones coexist in
    the manifest) is queried for a 5-month day range via
    ``lookup_range``, which consults ONLY the per-bucket [min, max]
    zones folded from the written parquet footers and opens the
    overlapping buckets.  The declared result is the exact census of
    the range hits (count / cents sum / key XOR / observed bounds);
    the oracle filters the declared final state directly — a hash
    match proves zone pruning is LOSSLESS end to end (a wrongly
    cleared bucket would drop rows and break all four columns).  The
    pruning ECONOMICS (buckets opened vs total) are pytest-asserted,
    since the bucket hash is engine-internal.  This is parquet
    footer / Iceberg manifest data-skipping implemented on the sink's
    own manifest — the maintenance_zone_map_skipping economics made
    operational."""
    sink = _zone_demo_sink(spark, sf_dir)
    hit = sink.lookup_range(spark, "d", 1300, 1450)
    return hit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.expr("bit_xor(k)").cast("bigint").alias("keys_xor"),
        F.min("d").cast("bigint").alias("min_d"),
        F.max("d").cast("bigint").alias("max_d"),
    )


@_fixture(_at_snapshot(1))
def _wap_demo_sink(spark, sf_dir):
    """Sink taken through one full write-audit-publish lifecycle:
    main commit of all orders, a pre-publish tag, a branch staging
    deterministic updates (+1000 cents on key%3==0) and deletes
    (key%5==0), then publish — cached per sf_dir."""
    from lakehouse_cdc_spark.streaming import SnapshotUpsertSink

    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        fixed_point(F.col("o_totalprice"), 2).alias("cents"),
        F.lit("c").alias("operation"),
        F.lit(0).cast("bigint").alias("seq"),
    )
    staged = o.filter(
        (F.col("o_orderkey") % 5 == 0) | (F.col("o_orderkey") % 3 == 0)
    ).select(
        F.col("o_orderkey").alias("k"),
        (fixed_point(F.col("o_totalprice"), 2) + 1000).alias("cents"),
        F.when(F.col("o_orderkey") % 5 == 0, "d")
        .otherwise("u")
        .alias("operation"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    sink = SnapshotUpsertSink(
        tempfile.mkdtemp(prefix="cdf_wap_"),
        keys=["k"],
        order_by=["seq"],
        n_buckets=4,
    )
    sink.process_batch(base, 0)
    sink.create_tag("pre_publish")
    sink.create_branch("audit")
    sink.stage_batch("audit", staged, 1)
    sink.publish_branch("audit")
    return sink


@register(
    "sink_wap_publish",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, {_FP} AS cents FROM orders
    ),
    published AS (
      SELECT k,
             CASE WHEN k % 3 = 0 THEN cents + 1000 ELSE cents END AS cents
      FROM base WHERE k % 5 <> 0
    ),
    lanes AS (
      SELECT 'published_main' AS lane, k, cents FROM published
      UNION ALL
      SELECT 'tag_pre_publish', k, cents FROM base
    )
    SELECT lane,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(bit_xor(k) AS BIGINT) AS keys_xor
    FROM lanes GROUP BY lane ORDER BY lane
    """,
    tags=("cdc", "sink", "wap", "branch", "tag", "S12"),
)
def sink_wap_publish(spark, sf_dir):
    """WRITE-AUDIT-PUBLISH THROUGH THE SINK'S OWN REFS — the staging
    discipline (Iceberg branch/tag + the WAP pattern Netflix published)
    executed end to end on the oracle gate: all orders commit to main,
    a ``pre_publish`` TAG pins that snapshot, a BRANCH stages a batch
    of deterministic updates (+1000 cents on key%3) and deletes
    (key%5) as a full durable snapshot that main readers cannot see,
    and ``publish_branch`` fast-forwards the pointer in one atomic
    rename.  The declared result reads BOTH lanes from the sink's ref
    surfaces — the published main table (``current_table``, updates
    applied, tombstones gone) and the tag (time travel to the exact
    pre-publish state, immune to expiry) — and the oracle re-derives
    each lane from the staged-change algebra: a hash match proves
    publish applied exactly the staged changes and the tag preserved
    exactly the pre-publish rows.  At 100 TB this is how a bad batch
    is audited BEFORE anyone reads it, instead of rolled back after."""
    sink = _wap_demo_sink(spark, sf_dir)
    published = sink.current_table(spark).select(
        F.lit("published_main").alias("lane"), "k", "cents"
    )
    tagged = (
        sink.state_at_ref(spark, "pre_publish")
        .filter(F.col("operation") != "d")
        .select(F.lit("tag_pre_publish").alias("lane"), "k", "cents")
    )
    return (
        published.unionByName(tagged)
        .groupBy("lane")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.expr("bit_xor(k)").cast("bigint").alias("keys_xor"),
        )
        .orderBy("lane")
    )

@_fixture(
    lambda sink: "mb_base" in sink.refs()["tags"] and not sink.refs()["branches"]
)
def _wap_multibranch_sink(spark, sf_dir):
    """Demo sink for the CONCURRENT write-audit-publish lifecycle: two
    branches staged from the same base, first publish fast-forwards,
    second lands by rebase when its key-hash buckets are disjoint from
    the first's — or, when they overlap (the common case at 4 buckets),
    raises, is aborted, restaged on the new base, and published.  The
    final table is identical on either path because the staged values
    are absolute (computed from the orders table, not deltas): this is
    the single-table atomic multi-writer commit the reference's
    exactly-once processor aspires to with its invalid START
    TRANSACTION wrapper (spark_exactly_once.py:426-551), done the way
    Iceberg actually does it — optimistic conflict detection at file
    (here: bucket) granularity."""
    from lakehouse_cdc_spark.streaming import SnapshotUpsertSink
    from lakehouse_cdc_spark.streaming.pipeline import ConcurrentCommitError

    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        fixed_point(F.col("o_totalprice"), 2).alias("cents"),
        F.lit("c").alias("operation"),
        F.lit(0).cast("bigint").alias("seq"),
    )
    stage_a = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        (fixed_point(F.col("o_totalprice"), 2) + 1000).alias("cents"),
        F.lit("u").alias("operation"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    stage_b = o.filter(F.col("o_orderkey") % 3 == 1).select(
        F.col("o_orderkey").alias("k"),
        (fixed_point(F.col("o_totalprice"), 2) + 500).alias("cents"),
        F.lit("u").alias("operation"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    sink = SnapshotUpsertSink(
        tempfile.mkdtemp(prefix="cdf_wap_mb_"),
        keys=["k"],
        order_by=["seq"],
        n_buckets=4,
    )
    sink.process_batch(base, 0)
    sink.create_tag("mb_base")
    sink.create_branch("audit_a")
    sink.create_branch("audit_b")
    sink.stage_batch("audit_a", stage_a, 1)
    sink.stage_batch("audit_b", stage_b, 1)
    sink.publish_branch("audit_a")
    try:
        sink.publish_branch("audit_b")
    except ConcurrentCommitError:
        # bucket overlap with audit_a's published rewrite: Iceberg-style
        # conflict resolution — abort, restage on the new base, publish
        sink.abort_branch("audit_b")
        sink.create_branch("audit_b")
        sink.stage_batch("audit_b", stage_b, 2)
        sink.publish_branch("audit_b")
    return sink


@register(
    "sink_wap_multibranch",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, {_FP} AS cents FROM orders
    ),
    final AS (
      SELECT k,
             CASE WHEN k % 3 = 0 THEN cents + 1000
                  WHEN k % 3 = 1 THEN cents + 500
                  ELSE cents END AS cents
      FROM base
    ),
    lanes AS (
      SELECT 'published_main' AS lane, k, cents FROM final
      UNION ALL
      SELECT 'tag_mb_base', k, cents FROM base
    )
    SELECT lane,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(bit_xor(k) AS BIGINT) AS keys_xor
    FROM lanes GROUP BY lane ORDER BY lane
    """,
    tags=("cdc", "sink", "wap", "branch", "concurrency", "S12"),
)
def sink_wap_multibranch(spark, sf_dir):
    """CONCURRENT MULTI-BRANCH WRITE-AUDIT-PUBLISH — two audit lanes
    staged from the same base snapshot, published one after the other:
    the first fast-forwards the pointer; the second finds main moved
    and either REBASES (staged key-hash buckets disjoint from what
    main changed — a manifest-only graft, no data copied) or conflicts
    at bucket granularity and is restaged on the new base.  The
    declared result reads the final main table plus the pinned
    pre-staging tag; the oracle re-derives both lanes from the staged
    change algebra — a hash match proves BOTH branches' changes (and
    nothing else) landed exactly once, whichever conflict path ran.
    Reference anchor: the single-table atomic commit its exactly-once
    processor attempts with invalid START TRANSACTION SQL
    (spark_exactly_once.py:426-551, spark_batch.py:304-406); Spark
    cannot wrap multi-statement transactions, so the sink provides
    snapshot-atomic optimistic concurrency instead — Iceberg's model.

    Scale shape: each stage is the same one-exchange bucket merge as a
    live batch; publish is O(manifest) metadata — at 100 TB a branch
    publish never rewrites or moves a data file."""
    sink = _wap_multibranch_sink(spark, sf_dir)
    published = sink.current_table(spark).select(
        F.lit("published_main").alias("lane"), "k", "cents"
    )
    tagged = (
        sink.state_at_ref(spark, "mb_base")
        .filter(F.col("operation") != "d")
        .select(F.lit("tag_mb_base").alias("lane"), "k", "cents")
    )
    return (
        published.unionByName(tagged)
        .groupBy("lane")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.expr("bit_xor(k)").cast("bigint").alias("keys_xor"),
        )
        .orderBy("lane")
    )


@_fixture(_at_snapshot(2))
def _cursor_demo_sink(spark, sf_dir):
    """Sink taken through the cursor-pinned retention lifecycle: all
    orders committed (snapshot 0), a NAMED feed cursor registered and
    acked at 0, two more batches committed (updates +70 cents on
    key%7 → snapshot 1, deletes on key%11 → snapshot 2), then an
    aggressive ``expire_snapshots(retain_last=1)`` — which must keep
    everything ≥ the cursor's acked floor — cached per sf_dir."""
    import os

    from lakehouse_cdc_spark.maintenance import expire_snapshots
    from lakehouse_cdc_spark.streaming import SnapshotUpsertSink
    from lakehouse_cdc_spark.streaming.feed import FeedCursor

    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        fixed_point(F.col("o_totalprice"), 2).alias("cents"),
        F.lit("c").alias("operation"),
        F.lit(0).cast("bigint").alias("seq"),
    )
    upd = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        (fixed_point(F.col("o_totalprice"), 2) + 70).alias("cents"),
        F.lit("u").alias("operation"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    dels = o.filter(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_orderkey").alias("k"),
        fixed_point(F.col("o_totalprice"), 2).alias("cents"),
        F.lit("d").alias("operation"),
        F.lit(2).cast("bigint").alias("seq"),
    )
    sink = SnapshotUpsertSink(
        tempfile.mkdtemp(prefix="cdf_cursor_"),
        keys=["k"],
        order_by=["seq"],
        n_buckets=4,
    )
    sink.process_batch(base, 0)
    cur = FeedCursor(
        sink,
        os.path.join(sink.target_dir, "_analytics.cursor"),
        name="analytics",
    )
    df, _, ack = cur.next_batch(spark)
    df.collect()
    ack()  # acked floor = 0; the consumer now lags
    sink.process_batch(upd, 1)
    sink.process_batch(dels, 2)
    # aggressive retention: without the registered cursor this would
    # delete manifest 1 and strand the (0, 2] range
    expired = expire_snapshots(sink.target_dir, retain_last=1)
    if expired:
        raise RuntimeError(
            f"cursor pin failed: expiry removed {expired} above the "
            "acked floor"
        )
    return sink


@register(
    "feed_cursor_pinned_drain",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, {_FP} AS cents FROM orders
    ),
    lanes AS (
      SELECT 'u' AS op, k, cents + 70 AS cents FROM base WHERE k % 7 = 0
      UNION ALL
      SELECT 'd', k, cents FROM base WHERE k % 11 = 0
    )
    SELECT op,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(bit_xor(k) AS BIGINT) AS keys_xor
    FROM lanes GROUP BY op ORDER BY op
    """,
    tags=("cdc", "sink", "feed", "cursor", "retention", "S12", "M2"),
)
def feed_cursor_pinned_drain(spark, sf_dir):
    """RETENTION-SAFE FEED CONSUMPTION — the cursor-vs-expiry race on
    the oracle gate: a NAMED ``FeedCursor`` (registered in the sink's
    refs as a retention pin) acknowledges snapshot 0, falls two
    commits behind (updates +70 cents on key%7, deletes on key%11),
    and an aggressive ``expire_snapshots(retain_last=1)`` runs — which
    must keep every snapshot ≥ the acked floor (the builder raises if
    anything above the floor expired).  The declared result is the
    POST-EXPIRY drained backlog, the exact range
    ``changes_between(0, 2]`` the cursor's next drain reads: per
    change op, the row count / cents sum / key XOR.  The oracle
    re-derives the same backlog from the change algebra — a hash
    match proves retention stranded nothing.  Reference anchor: the
    reference has no changelog retention contract at all (its
    validation rescans the base table, validation.py:236); Kafka
    consumer-group offsets vs ``log.retention`` is the race this
    solves, Iceberg-ref style.

    Scale shape: the feed read is O(changed buckets) COW diffs; the
    pin is O(1) refs metadata per ack — retention safety costs
    nothing at 100 TB."""
    sink = _cursor_demo_sink(spark, sf_dir)
    feed = sink.changes_between(spark, 0, 2)
    return (
        feed.select(F.col("operation").alias("op"), "k", "cents")
        .groupBy("op")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.expr("bit_xor(k)").cast("bigint").alias("keys_xor"),
        )
        .orderBy("op")
    )


@_fixture(_at_snapshot(3))
def _retention_demo_sink(spark, sf_dir):
    """Sink exhibiting every retention-PIN kind at once, cached per
    sf_dir: four commits (all orders inserted → snapshot 0, +70 cents
    on key%7 → 1, deletes on key%11 → 2, +50 cents on key%5 → 3), a
    tag at snapshot 1, a lagging NAMED cursor acked at 0, an ABANDONED
    named cursor that never acked (floor -1 — pins everything), and a
    crashed writer's leftover claim file on snapshot 2.  An aggressive
    ``expire_snapshots(retain_last=1)`` then runs and must delete
    nothing (the builder raises otherwise) — the silent-retention
    state ``retention_report`` exists to make visible."""
    import os

    from lakehouse_cdc_spark.maintenance import expire_snapshots
    from lakehouse_cdc_spark.streaming import SnapshotUpsertSink
    from lakehouse_cdc_spark.streaming.feed import FeedCursor

    o = table(spark, sf_dir, "orders")
    cents = fixed_point(F.col("o_totalprice"), 2)
    base = o.select(
        F.col("o_orderkey").alias("k"),
        cents.alias("cents"),
        F.lit("c").alias("operation"),
        F.lit(0).cast("bigint").alias("seq"),
    )
    upd1 = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        (cents + 70).alias("cents"),
        F.lit("u").alias("operation"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    dels = o.filter(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_orderkey").alias("k"),
        cents.alias("cents"),
        F.lit("d").alias("operation"),
        F.lit(2).cast("bigint").alias("seq"),
    )
    upd2 = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        (cents + 50).alias("cents"),
        F.lit("u").alias("operation"),
        F.lit(3).cast("bigint").alias("seq"),
    )
    sink = SnapshotUpsertSink(
        tempfile.mkdtemp(prefix="retention_pins_"),
        keys=["k"],
        order_by=["seq"],
        n_buckets=4,
    )
    for i, b in enumerate((base, upd1, dels, upd2)):
        sink.process_batch(b, i)
    sink.create_tag("audit", snapshot=1)
    # lagging-but-live consumer: drains ONLY snapshot 0, acks, stops
    live = FeedCursor(
        sink, os.path.join(sink.target_dir, "_analytics.cursor"),
        name="analytics",
    )
    df, _, ack = live.next_batch(spark, max_snapshots=1)
    df.collect()
    ack()  # acked floor = 0
    # abandoned consumer: registered, never acks — floor -1
    FeedCursor(
        sink, os.path.join(sink.target_dir, "_abandoned.cursor"),
        name="abandoned",
    )
    # crashed writer's leftover claim on snapshot 2 (recovery not run)
    with open(sink._claim_path(2), "w") as f:
        f.write("crashed_writer:42")
    expired = expire_snapshots(sink.target_dir, retain_last=1)
    if expired:
        raise RuntimeError(
            f"retention pins failed: expiry removed {expired}"
        )
    return sink


@register(
    "maintenance_retention_pins",
    oracle="""
    WITH n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 7 = 0) AS BIGINT) AS n7,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 11 = 0) AS BIGINT) AS n11,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 5 = 0) AS BIGINT) AS n5
      FROM orders
    )
    SELECT kind, name, floor, lag, backlog_rows FROM (
      SELECT 'claim' AS kind, 'crashed_writer' AS name,
             CAST(2 AS BIGINT) AS floor, CAST(1 AS BIGINT) AS lag,
             CAST(NULL AS BIGINT) AS backlog_rows FROM n
      UNION ALL
      SELECT 'cursor', 'abandoned', CAST(-1 AS BIGINT), CAST(4 AS BIGINT),
             n_all + n7 + n11 + n5 FROM n
      UNION ALL
      SELECT 'cursor', 'analytics', CAST(0 AS BIGINT), CAST(3 AS BIGINT),
             n7 + n11 + n5 FROM n
      UNION ALL
      SELECT 'tag', 'audit', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
             CAST(NULL AS BIGINT) FROM n
    ) ORDER BY kind, name
    """,
    tags=("maintenance", "sink", "retention", "cursor", "M2", "S12"),
)
def maintenance_retention_pins(spark, sf_dir):
    """RETENTION-PIN VISIBILITY (round-12 ADVICE): the pin rules that
    make retention safe — tags, registered cursor floors, writer-claim
    files — can also make it SILENT: an abandoned named cursor
    (acked=-1) or a crashed writer's claim pins snapshots forever with
    nothing in ``expire_snapshots``'s return saying why.
    ``maintenance.retention_report`` names every pin; this query puts
    it on the oracle gate.  The demo sink carries all four pin kinds
    (tag@1, cursor acked@0, never-acked cursor, dead claim@2) through
    an aggressive retain_last=1 expiry that must delete nothing.

    Declared columns per pin: kind, name, floor (lowest snapshot
    held; -1 = everything), lag (committed head − floor), and — for
    cursors — ``backlog_rows``, the change-feed rows the cursor's
    next full drain delivers (``changes_between(floor, head)``),
    computed distributed from the feed itself.  The oracle re-derives
    floors/lags from the construction and the backlogs from the change
    algebra over ``orders`` (full history n_all+n7+n11+n5 for the
    never-acked cursor; n7+n11+n5 above the acked floor).  Age and
    extra-kept columns exist in the report but are excluded here:
    wall-clock age is nondeterministic and extra-kept depends on
    which hash buckets each commit rewrote (asserted in
    tests/test_retention_report.py instead).

    Scale shape: the report is O(pins) pure metadata (refs document +
    manifest closure — no data files touched); the backlog counts are
    O(changed buckets) feed scans.  At 100 TB this is the operator
    dashboard that says WHICH dead consumer is holding a petabyte of
    expired history."""
    from lakehouse_cdc_spark.maintenance import retention_report

    sink = _retention_demo_sink(spark, sf_dir)
    head = sink.committed_snapshot()
    report = retention_report(sink.target_dir, retain_last=1)
    rep = spark.createDataFrame(
        [
            (r["kind"], r["name"], int(r["floor"]), int(r["lag"]))
            for r in report
        ],
        "kind string, name string, floor bigint, lag bigint",
    )
    backlogs = None
    for r in report:
        if r["kind"] != "cursor":
            continue
        leg = (
            sink.changes_between(spark, r["floor"], head)
            .agg(F.count(F.lit(1)).cast("bigint").alias("backlog_rows"))
            .withColumn("name", F.lit(r["name"]))
        )
        backlogs = leg if backlogs is None else backlogs.unionByName(leg)
    return (
        rep.join(F.broadcast(backlogs), "name", "left")
        .select("kind", "name", "floor", "lag", "backlog_rows")
        .orderBy("kind", "name")
    )
