"""Distributed connected components over an edge DataFrame.

Near-dup candidate pairs (MinHash/LSH, SimHash bands, embedding
buckets) form a GRAPH; the unit of deduplication is its connected
component — every doc in a component is (transitively) a near-dup of
the others, and the curator keeps one canonical doc per component.
The reference has no graph operator at all; at 100 TB this is the step
that turns pairwise candidates into dedup decisions.

Algorithm: minimum-label propagation.  Every node starts labeled with
itself; each round replaces a node's label with the minimum label in
its closed neighborhood (itself + neighbors, edges both directions).
Labels are monotonically non-increasing, so convergence is detected by
an O(1)-row aggregate (``sum(label)`` stable ⇒ fixed point) — one
cheap action per round, no row-by-row diff.  Rounds needed = graph
diameter; dedup graphs are unions of band-bucket cliques with tiny
diameter (2–4 in practice).  For adversarially long chains the
large-star/small-star variant (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14) converges in O(log² n) rounds —
same per-round DataFrame shape, so it can replace the propagation rule
without touching callers; min-label is kept because its rounds are
cheaper and dedup diameters are small.

Scale notes per round: one shuffle to co-locate (node → incident
labels) + a map-side-combined min groupBy.  ``localCheckpoint``
truncates the lineage each round, keeping the plan O(1) deep instead
of O(rounds) (iterative DataFrame loops otherwise re-plan the whole
history every round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# kcore broadcast budget: the alive node set ships to every executor
# only when its PROVABLE upper bound (|edges| // k, see kcore) fits
# this many rows.  4M bigint keys ≈ 150 MB serialized — comfortably
# inside executor memory and far under Spark's 8 GB broadcast ceiling;
# above it the join shuffles (AQE may still pick broadcast from real
# runtime stats).  Same discipline as the IVF centroid budget in
# llm/similarity.py.
_KCORE_BROADCAST_MAX_NODES = 4_000_000


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 25,
) -> DataFrame:
    """Label each node of the undirected graph ``edges`` with the
    minimum node id reachable from it (= a canonical component id).

    Returns ``(node, component)`` for every node incident to ≥1 edge.
    Raises ``RuntimeError`` if ``max_iter`` rounds don't reach the
    fixed point (diameter > max_iter — switch to the star algorithm).
    """
    # Self-loops make the closed-neighborhood min fall out of the join
    # alone: (u,u) delivers u's OWN current label through the same
    # v == node lookup, so the per-round union-with-labels (and its
    # extra exchange into the groupBy) disappears — the round rule
    # min(labels of neighbors ∪ self) is unchanged.  The loops ride
    # the SAME single distinct as the edge symmetrization (one
    # exchange builds edges + loops together), and pre-partitioning
    # by v before the one-time checkpoint lets every round's join
    # reuse that layout instead of re-shuffling the edge list each
    # round (R-1 fewer |edges| exchanges over the loop).
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .union(edges.select(F.col(src).alias("u"), F.col(src).alias("v")))
        .union(edges.select(F.col(dst).alias("u"), F.col(dst).alias("v")))
        .distinct()
    )
    sym = sym.repartition(F.col("v")).localCheckpoint(eager=True)
    # The initial label table derives from the CHECKPOINTED edge list
    # (the self-loop rows ARE the node set — no distinct needed):
    # deriving it from the pre-checkpoint lineage re-runs the whole
    # upstream edge build (for semantic dedup, the candidate pair
    # generation) a second time — measured 2.8 s -> 4.4 s on
    # emb_semantic_dedup when that regressed in round 12.
    labels = sym.filter(F.col("u") == F.col("v")).select(
        F.col("u").alias("node"), F.col("u").alias("component")
    )

    prev_sum = None
    for _ in range(max_iter):
        # labels flow along edges; min over the closed neighborhood
        # (self-loops carry each node's own label into the min)
        labels = (
            sym.join(labels, sym.v == labels.node, "inner")
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        cur = labels.agg(
            F.sum("component").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        cur_sum = (cur["s"], cur["n"])
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def pagerank_converged(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1_000_000,
    base: int = 150_000,
    tol: int = 10_000,
    max_iter: int = 80,
) -> tuple[DataFrame, int, int]:
    """PageRank iterated to CONVERGENCE instead of a fixed round count
    (the probe-driven sibling of plans/graph_queries.py's unrolled
    form): stop when the max per-node rank change drops to ``tol``
    fixed-point units.

    The same exact-integer recurrence (rank scaled by ``scale``,
    contribution ``(pr * 85) div (100 * outdeg)``), so every round is
    bit-deterministic — and therefore so is the NUMBER of rounds: the
    per-round max delta decays geometrically at the damping factor
    (~0.85^i), making "converged at tol" a pure function of the graph.
    An exact fixed point exists but sits ~100 rounds out (delta < 1),
    so the stop is tolerance-based like every production PageRank.

    Per round: one hash join of the cached degree-fused edge list with
    the rank vector, a map-side-combined SUM, a left join back onto
    the node list carrying the previous rank so the O(1)-row
    convergence probe (``max(abs(delta))``) rides the same
    localCheckpoint-ed result — no second pass.  Lineage is truncated
    every round (unbounded loop ⇒ the plan must stay O(1) deep).

    Returns ``(ranks, n_iters, final_delta)`` where ranks is
    ``(node, pr)``.  Raises RuntimeError if ``max_iter`` rounds don't
    reach ``tol``.
    """
    # normalize + materialize the edge list BEFORE anything downstream
    # is checkpointed: an eager localCheckpoint whose lineage contains
    # a not-yet-materialized cache over an arbitrary upstream plan can
    # deadlock the first checkpoint job (observed on local[32] with
    # AQE); a concrete cached RDD at the base removes the hazard and
    # the fact-side derivation runs exactly once either way.
    e2 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    e2.count()
    deg = e2.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).persist()
    ew = e2.join(deg, "src").persist()
    ew.count()
    nodes = deg.select(F.col("src").alias("node"))
    # the rank vector is |nodes|-sized — far smaller than the default
    # shuffle width, and the loop pays the per-partition fixed cost
    # (checkpoint + probe) every round.  Narrow the shuffle for the
    # loop only; restore on exit.  At a real 100 TB deployment this is
    # the usual "size the iteration's parallelism to the VECTOR, not
    # the edge scan" knob (the edge caches above were built at full
    # width).  Exact integer arithmetic ⇒ the result is invariant to
    # this setting (pinned by test).
    session = edges.sparkSession
    prev_parts = session.conf.get("spark.sql.shuffle.partitions")
    try:
        session.conf.set("spark.sql.shuffle.partitions", "8")
        pr = nodes.select(
            "node", F.lit(scale).cast("bigint").alias("pr")
        ).localCheckpoint(eager=True)
        for i in range(1, max_iter + 1):
            contrib = (
                ew.join(pr, ew.src == pr.node)
                .select(
                    F.col("dst").alias("node"),
                    F.expr("(pr * 85) div (100 * outdeg)").alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("c"))
            )
            stepped = (
                nodes.join(contrib, "node", "left")
                .select(
                    "node",
                    (F.lit(base) + F.coalesce(F.col("c"), F.lit(0)))
                    .cast("bigint")
                    .alias("pr"),
                )
                .localCheckpoint(eager=True)
            )
            # the O(1)-row probe joins the TWO CHECKPOINTED vectors
            # (both flat LogicalRDD leaves).  Folding the previous
            # vector into the checkpointed plan instead (3 joins under
            # one eager checkpoint) nondeterministically stalls Spark
            # 4.1's size-stats estimation on this shape — keep the
            # delta join outside the checkpoint.
            delta = (
                stepped.join(
                    pr.select("node", F.col("pr").alias("__prev")), "node"
                )
                .agg(F.max(F.abs(F.col("pr") - F.col("__prev"))).alias("d"))
                .collect()[0]["d"]
            )
            pr = stepped
            if delta <= tol:
                return pr, i, int(delta)
        raise RuntimeError(
            f"pagerank did not reach tol={tol} in {max_iter} rounds"
        )
    finally:
        session.conf.set("spark.sql.shuffle.partitions", prev_parts)
        ew.unpersist()
        deg.unpersist()
        e2.unpersist()


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> tuple[DataFrame, int]:
    """Extract the k-CORE of the undirected graph ``edges`` by
    iterative peeling run to the FIXED POINT: each round drops every
    node with fewer than ``k`` surviving neighbors and restricts the
    edge set to survivors; peeling stops when a round removes nothing
    (or the graph dies).  Returns ``(core_edges, n_rounds)`` where
    ``core_edges`` has columns (src, dst) — possibly empty — and
    ``n_rounds`` counts the peel rounds actually executed (a pure
    function of the graph, since the peel is exact set algebra).

    ``edges`` must already contain both directions of every edge (the
    degree aggregate reads only ``src``).

    Scale notes per round: ONE |edges|-sized degree shuffle plus an
    edge restriction via two joins against the alive node set.  The
    broadcast hint on the alive side is BUDGET-GUARDED: each round's
    count probe gives ``|cur|`` rows for free, and every alive node
    has degree >= k, so ``|alive| <= |cur| / k`` provably — the hint
    is applied only when that bound fits ``_KCORE_BROADCAST_MAX_NODES``
    (early peel rounds on a billion-node graph shuffle instead; late
    rounds flip to broadcast as the graph shrinks).  The edge set
    monotonically shrinks, so per-round cost decreases; convergence is
    detected by an O(1)-row count probe riding each round's
    ``localCheckpoint`` (the loop is unbounded, so lineage must be
    truncated eagerly — same discipline as
    :func:`connected_components`)."""
    cur = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=False)
    n_prev = cur.count()
    rounds = 0
    while n_prev > 0 and rounds < max_iter:
        # ONE alive-set plan joined against both edge endpoints: the
        # src- and dst-side references are the identical subtree (same
        # output attribute, no rename-Project), so Spark's exchange
        # reuse materializes it ONCE per round — one broadcast build
        # instead of two on the hinted path, one degree-aggregation
        # shuffle instead of two on the at-scale shuffle path.  (The
        # previous withColumnRenamed("src", "dst") form made the two
        # sides canonicalize differently, defeating ReuseExchange.)
        alive = (
            cur.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select(F.col("src").alias("__alive"))
        )
        # provable alive-set bound from the probe already paid for:
        # sum of surviving degrees = |cur| rows and each alive node
        # contributes >= k of them, so |alive| <= |cur| // k.  Only
        # hint broadcast under the byte budget; above it, let AQE pick
        # the strategy (the early peel rounds of a huge graph keep a
        # data-sized alive set that must NOT ship to every executor).
        if n_prev // k <= _KCORE_BROADCAST_MAX_NODES:
            alive = F.broadcast(alive)
        # lazy checkpoint + count(): the probe action materializes the
        # checkpoint, so each round costs ONE job instead of the
        # eager-then-count two (sf0.1 delta sits inside run noise, but
        # the job count per round is strictly halved)
        nxt = (
            cur.join(alive, F.col("src") == F.col("__alive"))
            .drop("__alive")
            .join(alive, F.col("dst") == F.col("__alive"))
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
        n = nxt.count()
        rounds += 1
        cur = nxt
        if n == n_prev:
            return cur, rounds
        n_prev = n
    if n_prev == 0:
        return cur, rounds
    raise RuntimeError(f"kcore did not converge in {max_iter} rounds")
