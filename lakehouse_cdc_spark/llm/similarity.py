"""Embedding similarity search over ``array<float>`` columns.

Per-row vector math uses native higher-order functions (``zip_with``
+ ``aggregate``) — JVM-side, no Python serialization.  Where the work
is a BLOCK rather than a row — every vector against every centroid
(:func:`ivf_assign`), or every pair inside a bucket
(:func:`bucketed_cosine_pairs`) — it switches to Arrow-batched numpy
with a fold-order contract that keeps results bit-identical to the
expression path: HOFs don't enter whole-stage codegen, so per-pair
interpreted folds lose to C loops once the block is O(N·K) or
O(bucket²).

Scale path: brute-force top-k is O(N·Q); for large N use
:func:`ivf_topk` (coarse quantization / IVF-style: probe only the
nearest centroid buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: max centroid-matrix size (float64 ELEMENTS = K x dim) that the IVF
#: kernel will broadcast — 32M elements (256 MB), a comfortable
#: TorrentBroadcast; beyond it the "tiny by contract" K ≈ √N sizing
#: has been violated and the fit must coarsen.
_CENTROID_ELEM_BUDGET = 32 * 1024 * 1024


def auto_k(n: int, dim: int, c: float = 1.0, min_k: int = 8) -> int:
    """Scale-aware IVF centroid count: ``K = max(min_k, ⌊c·√N + 0.5⌋)``
    clamped by the centroid broadcast byte budget.

    The √N rule keeps per-bucket work flat as the corpus grows — with
    K ∝ √N and nprobe fixed, a bucketed pair query's candidate space is
    O(N²·probes²/K) = O(N^1.5), and a probe query scans
    O(nprobe·N/K) = O(√N) vectors.  A FIXED demo K leaves a quadratic
    residue that the measured sf0.1→sf1 profile showed as 9–14× wall
    for 10× data; the K∝√N sweep at sf1 restored ≤4× (SCALE.md, "The K
    lever, measured").

    Deterministic and ORACLE-REPLICABLE by construction: ``⌊x + 0.5⌋``
    over IEEE ``sqrt`` is bit-identical in any engine, so a DuckDB
    oracle can recompute the same K from ``COUNT(*)`` —
    ``LEAST(GREATEST(min_k, CAST(floor(c*sqrt(cnt)+0.5) AS BIGINT)),
    budget)`` — and a query parameterized by auto_k stays exactly
    checkable at every scale factor."""
    import math

    if n <= 0:
        return min_k
    k = int(math.floor(c * math.sqrt(float(n)) + 0.5))
    k = max(min_k, k)
    return min(k, _CENTROID_ELEM_BUDGET // max(1, dim))


def _fold_sum(arr: Column) -> Column:
    """Left-fold sum of an array<double> — deterministic order."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _round_half_up(arr, digits: int):
    """``F.round`` semantics in numpy: HALF_UP on the shortest decimal
    repr of the double (java ``BigDecimal.valueOf``), NOT numpy's
    ties-to-even on the scaled binary value.

    Fast path: away from a .5 boundary the two disagree never — the
    scaled product's representation error (≤ ~1.2e-10 for |x| ≤ 1 at 6
    digits) can't cross a boundary that's ≥ 1e-7 away, so plain
    ``np.round`` is exact there.  Elements within 1e-7 of a boundary
    (rare: requires the value to sit on a near-half-ulp-of-decimal
    point, e.g. 1/128 at 6 digits) are re-rounded exactly through
    ``decimal`` on ``repr(x)``, which is the same shortest round-trip
    string java produces.  Keeps the numpy kernels' rounding
    bit-identical to ``F.round`` and the DuckDB oracles."""
    import numpy as np

    scale = 10.0**digits
    y = arr * scale
    out = np.round(arr, digits)
    sus = np.abs((y - np.floor(y)) - 0.5) < 1e-7
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-digits)
        idx = np.nonzero(sus)
        out[idx] = [
            float(Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP))
            for v in arr[idx]
        ]
    return out


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def l2_norm_sq(a: Column) -> Column:
    return _fold_sum(F.zip_with(a, a, lambda x, y: x * y))


def cosine_sim(a: Column, b: Column) -> Column:
    """cos(a,b) = dot / (||a||·||b||), computed dot/(sqrt·sqrt)."""
    return dot(a, b) / (F.sqrt(l2_norm_sq(a)) * F.sqrt(l2_norm_sq(b)))


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the squared L2 norm once — self-joins then reuse it
    instead of recomputing per pair."""
    return df.withColumn(
        "__norm_sq", l2_norm_sq(F.col(vec_col).cast("array<double>"))
    )


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """All-pairs cosine near-duplicate detection (embedding near-dup).

    Exact baseline: self-join on id inequality, fold-based dot
    product, threshold on the rounded similarity.  O(N²) by nature —
    at 100 TB scale use :func:`ivf_assign` buckets (or LSH) to
    restrict the pair space first; this operator is then applied
    within buckets only.
    """
    n = with_norm(embeddings, vec_col)
    a = n.select(
        F.col(id_col).alias("ia"),
        F.col(vec_col).cast("array<double>").alias("va"),
        F.col("__norm_sq").alias("na"),
    )
    b = n.select(
        F.col(id_col).alias("ib"),
        F.col(vec_col).cast("array<double>").alias("vb"),
        F.col("__norm_sq").alias("nb"),
    )
    pairs = a.join(b, F.col("ia") < F.col("ib"))
    sim = F.round(
        dot(F.col("va"), F.col("vb")) / (F.sqrt("na") * F.sqrt("nb")), round_digits
    )
    return (
        pairs.select("ia", "ib", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _centroid_block(centroids, centroid_id_col="cid", centroid_vec_col="cemb"):
    """MLlib-style "fit" materialization shared by every blocked ANN
    path: collect the centroid table ONCE on the driver (tiny by
    contract, K ≈ √N — budget-ENFORCED below, not assumed: at N=1e12,
    K≈1e6 × 512 dims × 8 B ≈ 4 GB stops being an executor-friendly
    broadcast) as ``(cids asc, float64 matrix, fold-left norms)``
    ready for TorrentBroadcast.  An empty table gives an empty block,
    which scores nothing."""
    import numpy as np

    cen_rows = sorted(
        (
            (r[0], r[1])
            for r in centroids.select(
                F.col(centroid_id_col),
                F.col(centroid_vec_col).cast("array<double>"),
            ).collect()
        ),
        key=lambda t: t[0],
    )
    cids = np.array([t[0] for t in cen_rows], dtype=np.int64)
    cmat = (
        np.vstack([t[1] for t in cen_rows]).astype(np.float64, copy=False)
        if cen_rows
        else np.empty((0, 0))
    )
    n_cen, dim = cmat.shape
    if n_cen * dim > _CENTROID_ELEM_BUDGET:
        raise ValueError(
            f"centroid table too large to broadcast: K={n_cen} x "
            f"dim={dim} = {n_cen * dim} float64 elements exceeds the "
            f"{_CENTROID_ELEM_BUDGET}-element budget (~"
            f"{_CENTROID_ELEM_BUDGET * 8 >> 20} MB). Coarsen K toward √N "
            "(auto_k)."
        )
    cnrm = np.zeros(n_cen)
    for k in range(dim):  # fold-left, matches l2_norm_sq exactly
        cnrm += cmat[:, k] * cmat[:, k]
    return cids, cmat, cnrm


def _nearest(vecs, block, probes, round_digits):
    """The IVF kernel: score one Arrow batch of vectors against the
    centroid block and keep each vector's ``probes`` best centroids.
    Returns ``(row, cluster, cs)`` arrays — ``probes`` entries per
    vector in rank order, ``row`` indexing into ``vecs``.

    Bit-identical to the SQL form the oracles replay: dimension-at-a-
    time fold-left accumulation (the exact ``aggregate(zip_with(...))``
    order), the cosine as ``acc / (sqrt(na)·sqrt(nc))`` — the same
    three IEEE ops — and HALF_UP rounding via ``_round_half_up``; the
    rounded ``cs`` ranks, desc, ties by cid asc (``ROW_NUMBER() OVER
    (PARTITION BY id ORDER BY cs DESC, cid ASC)``)."""
    import numpy as np

    cids, cmat, cnrm = block
    mat = np.vstack(vecs).astype(np.float64, copy=False)
    n, (n_cen, dim) = len(mat), cmat.shape
    nrm = np.zeros(n)
    for k in range(dim):  # fold-left, matches l2_norm_sq
        nrm += mat[:, k] * mat[:, k]
    acc = np.zeros((n, n_cen))
    for k in range(dim):  # fold-left per (vector, centroid)
        acc += mat[:, k, None] * cmat[None, :, k]
    cs = _round_half_up(
        acc / (np.sqrt(nrm)[:, None] * np.sqrt(cnrm)[None, :]), round_digits
    )
    # the block's cids ascend, so a stable sort on -cs breaks ties by cid
    top = np.argsort(-cs, axis=1, kind="stable")[:, :probes]
    return (
        np.repeat(np.arange(n), top.shape[1]),
        cids[top].ravel(),
        np.take_along_axis(cs, top, axis=1).ravel(),
    )


def _broadcast_fit(
    embeddings, centroids, id_col, vec_col, centroid_id_col, centroid_vec_col, block
):
    """``(vectors, broadcast block)`` for a :func:`_nearest` pass:
    ``block`` (a :func:`_centroid_block` result) or the collected
    centroid table, shipped once per executor via TorrentBroadcast
    rather than once per task in the pickled closure."""
    if block is None:
        block = _centroid_block(centroids, centroid_id_col, centroid_vec_col)
    bc = embeddings.sparkSession.sparkContext.broadcast(block)
    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__vec")
    )
    return vecs, bc


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    centroid_vec_col: str = "cemb",
    round_digits: int = 6,
    probes: int = 1,
    block: tuple | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its ``probes``
    most-similar centroids (rounded cosine desc, centroid id asc).
    Returns ``(id_col, cluster, cs)`` — one row per (vector, probe).

    This is the ANN scale path: search probes only the top buckets,
    turning brute-force O(N) per query into O(N/k · probes).
    ``probes > 1`` is multi-probe assignment, the standard recall fix
    for pairs that straddle a Voronoi boundary.

    Map-side (``mapInPandas``): each Arrow batch is scored against the
    broadcast centroid block by :func:`_nearest` and emits its
    ``probes`` best clusters directly — zero exchanges.  A crossJoin +
    per-vector window would materialize N·K scored rows and shuffle
    them; at K ≈ √N that is N^1.5 rows.

    The centroid table is collected when the plan is built (one Spark
    job); ``block`` takes a pre-collected :func:`_centroid_block`
    result instead, so several assignments against one fit pay that
    job once.  An empty centroid table assigns nothing."""
    import pandas as pd

    vecs, bc = _broadcast_fit(
        embeddings, centroids, id_col, vec_col, centroid_id_col, centroid_vec_col, block
    )

    def _assign(batches):
        for pdf in batches:
            if len(pdf):
                row, cluster, cs = _nearest(
                    pdf["__vec"].to_numpy(), bc.value, probes, round_digits
                )
                ids = pdf[id_col].to_numpy()
                yield pd.DataFrame({id_col: ids[row], "cluster": cluster, "cs": cs})

    return vecs.mapInPandas(_assign, f"{id_col} bigint, cluster bigint, cs double")


def bucketed_cosine_pairs(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    centroid_vec_col: str = "cemb",
    round_digits: int = 6,
    block: tuple | None = None,
) -> DataFrame:
    """Near-duplicate pairs via IVF buckets — the 100 TB replacement
    for :func:`cosine_pairs`' all-pairs self-join.

    Plan shape: map-side multi-probe assignment (the :func:`ivf_assign`
    kernel, the vector riding along) → ONE exchange keyed by cluster →
    per-cluster blocked numpy scoring (``applyInPandas``).  The pair
    space collapses from O(N²) to O(Σ bucket²) ≈ O(N²·probes²/K) for K
    balanced centroids; multi-probe duplicates (a pair sharing two
    buckets) are folded by a final ``distinct``.

    Why blocked: evaluating a 64-dim higher-order-function dot per pair
    is interpreted (HOFs don't enter whole-stage codegen).  Shipping
    each cluster's vectors ONCE over Arrow (O(N·probes) rows) and
    scoring all of its pairs with vectorized C loops turns ~6M
    interpreted folds into ~64 SIMD passes — the FAISS-style "gather
    the cell, score the block" layout.

    Bit-compatibility contract (what keeps the oracle hash green):
    dimension-at-a-time accumulation reproduces the fold-left order
    ``((0+x₀d₀)+x₁d₁)+…`` of ``aggregate(zip_with(a, b, *), 0.0, +)``;
    the cosine is ``acc / (sqrt(na)·sqrt(nb))``; rounding and
    thresholding stay in Spark (``F.round``), so every emitted cos_sim
    equals :func:`cosine_pairs`'.

    Approximate by construction: a pair is found iff the two vectors
    share ≥1 of their ``probes`` nearest centroids.  High-similarity
    pairs (the near-dups this exists for) almost always do; recall is
    tunable via ``probes`` / K.  ``block`` as in :func:`ivf_assign`.
    """
    import numpy as np
    import pandas as pd

    vecs, bc = _broadcast_fit(
        embeddings, centroids, id_col, vec_col, centroid_id_col, centroid_vec_col, block
    )

    def _tag(batches):
        # the vector rides along with its clusters, so scoring needs no join
        for pdf in batches:
            if len(pdf):
                v = pdf["__vec"].to_numpy()
                row, cluster, _ = _nearest(v, bc.value, probes, round_digits)
                ids = pdf[id_col].to_numpy()
                yield pd.DataFrame(
                    {"cluster": cluster, id_col: ids[row], "__vec": v[row]}
                )

    tagged = vecs.mapInPandas(
        _tag, f"cluster bigint, {id_col} bigint, __vec array<double>"
    )
    # pandas pre-filter margin: any pair whose ROUNDED sim can reach the
    # threshold survives; the exact post-round filter runs in Spark.
    margin = threshold - 10.0 ** (-round_digits)

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "ia": np.array([], dtype=np.int64),
                "ib": np.array([], dtype=np.int64),
                "cos_raw": np.array([], dtype=np.float64),
            }
        )
        if n < 2:
            return empty
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        mat = np.vstack(pdf["__vec"].to_numpy()[order]).astype(np.float64, copy=False)
        d = mat.shape[1]
        nrm = np.zeros(n)
        for k in range(d):  # fold-left, matches l2_norm_sq exactly
            nrm += mat[:, k] * mat[:, k]
        ii, jj = np.triu_indices(n, 1)
        acc = np.zeros(len(ii))
        A, B = mat[ii], mat[jj]
        for k in range(d):  # fold-left, matches dot() exactly
            acc += A[:, k] * B[:, k]
        cos = acc / (np.sqrt(nrm[ii]) * np.sqrt(nrm[jj]))
        keep = cos >= margin
        return pd.DataFrame(
            {"ia": ids[ii][keep], "ib": ids[jj][keep], "cos_raw": cos[keep]}
        )

    pairs = tagged.groupBy("cluster").applyInPandas(
        _score, "ia bigint, ib bigint, cos_raw double"
    )
    sim = F.round(F.col("cos_raw"), round_digits)
    return (
        pairs.select("ia", "ib", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def maxsim_partials_blocked(
    cand: DataFrame,
    queries: DataFrame,
    group_col: str = "grp",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qemb",
    micro: int = 1_000_000,
) -> DataFrame:
    """Late-interaction (ColBERT MaxSim) scoring as a MAP-SIDE blocked
    numpy kernel: per (candidate-group, query-vector) max of the
    micro-rounded cosine, computed without ever materializing the
    |cand| × |queries| similarity rows in the JVM.

    The broadcast-nested-loop form (``cand.join(broadcast(q))`` + a
    higher-order-function cosine per pair) evaluates |cand|·|q|
    interpreted ``aggregate(zip_with(...))`` folds — HOFs don't enter
    whole-stage codegen, so at |q|=50 every candidate vector pays 50
    interpreted 64-dim folds, and the (qid, grp) partial-max aggregate
    shuffles |cand|·|q| rows.  This kernel streams each Arrow batch of
    candidates once, scores it against the broadcast query block with
    dimension-at-a-time C loops, and reduces to per-batch
    (group, qid) maxima before anything leaves the task — the exchange
    then carries O(|groups|·|q|) rows instead of O(|cand|·|q|).

    Bit-compatibility contract (same as :func:`_nearest`):
    fold-left accumulation reproduces ``aggregate(zip_with(a, b, *),
    0.0, +)`` exactly; the cosine is ``acc / (sqrt(nq)·sqrt(nc))`` —
    the same three IEEE ops; ``round(cos · micro)`` uses
    :func:`_round_half_up` (``F.round`` HALF_UP semantics).  MAX over
    exact int64 micro-units is order-free, so batch partials compose.

    Returns ``(group_col, qid_col, max_sim)`` — one row per
    (group, query vector), already globally reduced."""
    import numpy as np
    import pandas as pd

    qids, qmat, qnrm = _centroid_block(queries, qid_col, qvec_col)
    nq, dim = qmat.shape
    bc = cand.sparkSession.sparkContext.broadcast((qids, qmat, qnrm))

    def _score(batches):
        qids, qmat, qnrm = bc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            grp = pdf[group_col].to_numpy()
            mat = np.vstack(pdf["__vec"].to_numpy()).astype(
                np.float64, copy=False
            )
            nrm = np.zeros(n)
            for k in range(dim):  # fold-left, matches l2_norm_sq
                nrm += mat[:, k] * mat[:, k]
            acc = np.zeros((n, nq))
            for k in range(dim):  # fold-left per (candidate, query)
                acc += mat[:, k, None] * qmat[None, :, k]
            sim = _round_half_up(
                acc / (np.sqrt(qnrm)[None, :] * np.sqrt(nrm)[:, None])
                * float(micro),
                0,
            ).astype(np.int64)
            ug, inv = np.unique(grp, return_inverse=True)
            part = np.full((len(ug), nq), np.iinfo(np.int64).min)
            np.maximum.at(part, inv, sim)
            yield pd.DataFrame(
                {
                    group_col: np.repeat(ug, nq),
                    qid_col: np.tile(qids, len(ug)),
                    "max_sim": part.ravel(),
                }
            )

    vecs = cand.select(
        F.col(group_col), F.col(vec_col).cast("array<double>").alias("__vec")
    )
    partials = vecs.mapInPandas(
        _score, f"{group_col} bigint, {qid_col} bigint, max_sim bigint"
    )
    return partials.groupBy(group_col, qid_col).agg(
        F.max("max_sim").alias("max_sim")
    )


def kmeans_refine(
    embeddings: DataFrame,
    centroids: DataFrame,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    centroid_vec_col: str = "cemb",
    round_digits: int = 6,
    fp_scale: int = 6,
) -> DataFrame:
    """Lloyd's k-means refinement of IVF centroids: assign → per-
    cluster mean → repeat.  The iterative-algorithm pattern on pure
    DataFrames: each iteration collects the previous centroids for a
    map-side :func:`ivf_assign` (no shuffle) + one (cluster, dim)
    aggregation (one shuffle, map-side partials).

    Deterministic BY CONSTRUCTION, unlike textbook float k-means: the
    per-dimension mean is an exact bigint fixed-point sum divided as
    doubles (order- and partition-independent — registry.fixed_point
    rationale), so every iteration's centroids are bit-identical in
    any engine and the whole refinement is oracle-checkable.

    A cluster that loses all members disappears (its mean is
    undefined) — standard Lloyd behavior; K can only shrink.
    """
    fp_mult = float(10**fp_scale)
    for _ in range(iterations):
        assign = ivf_assign(
            embeddings,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            centroid_id_col=centroid_id_col,
            centroid_vec_col=centroid_vec_col,
            round_digits=round_digits,
        ).select(id_col, "cluster")
        tagged = assign.join(embeddings, id_col)
        ex = tagged.select(
            "cluster",
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
        )
        fp = F.floor(F.col("val") * F.lit(fp_mult) + F.lit(0.5)).cast("bigint")
        means = ex.groupBy("cluster", "pos").agg(
            (
                F.sum(fp).cast("double") / F.lit(fp_mult) / F.count(F.lit(1)).cast("double")
            ).alias("mval")
        )
        centroids = means.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                lambda s: s["mval"],
            ).alias(centroid_vec_col)
        ).select(F.col("cluster").alias(centroid_id_col), centroid_vec_col)
    return centroids


def ivf_topk(
    embeddings: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    centroid_vec_col: str = "cemb",
    query_vec_col: str = "q_embedding",
    round_digits: int = 6,
) -> DataFrame:
    """ANN top-k through IVF probes — the query-side scale path that
    pairs with :func:`ivf_assign` (index build) and
    :func:`bucketed_cosine_pairs` (all-pairs dedup).

    1. rank centroids against the query, keep the ``probes`` nearest
       (the :func:`ivf_assign` kernel on the one query row),
    2. restrict the scan to vectors assigned to those buckets
       (broadcast semi-join — at scale this is partition pruning on a
       cluster-partitioned table: only probes/K of the data is read),
    3. exact cosine top-k inside the probed buckets
       (TakeOrderedAndProject).

    Both assignments score against one collected centroid block.
    Deterministic approximation: rounded sims, id tie-breaks —
    reproducible in any engine, so the oracle composes the SAME
    probe pipeline and must agree bit-for-bit."""
    blk = _centroid_block(centroids, centroid_id_col, centroid_vec_col)
    probe = ivf_assign(
        query.select(F.lit(0).cast("bigint").alias("qid"), query_vec_col),
        centroids,
        id_col="qid",
        vec_col=query_vec_col,
        round_digits=round_digits,
        probes=probes,
        block=blk,
    ).select("cluster")
    assign = ivf_assign(
        embeddings,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
        block=blk,
    ).select(id_col, "cluster")
    in_probed = assign.join(F.broadcast(probe), "cluster").select(id_col)
    cand = embeddings.join(in_probed, id_col)
    vec = F.col(vec_col).cast("array<double>")
    qvec = F.col(query_vec_col).cast("array<double>")
    return (
        cand.crossJoin(F.broadcast(query))
        .select(
            F.col(id_col),
            F.round(cosine_sim(vec, qvec), round_digits).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k of ``embeddings`` against a single
    query vector (1-row ``query`` DataFrame) — the exact baseline.

    The query side is broadcast (one row), so the scan of N embeddings
    is embarrassingly parallel: map-side cosine, then a global top-k
    (TakeOrderedAndProject — per-partition heaps, no full sort).
    Similarity is rounded before ranking and tie-broken by id so the
    result is a total order.
    """
    vec = F.col(vec_col).cast("array<double>")
    qvec = F.col(query_vec_col).cast("array<double>")
    sim = F.round(cosine_sim(vec, qvec), round_digits).alias("cos_sim")
    return (
        embeddings.crossJoin(F.broadcast(query))
        .select(F.col(id_col), sim)
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )
