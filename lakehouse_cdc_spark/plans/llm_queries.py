"""LLM-pipeline declared queries (dedup / similarity / text analysis).

Round-1 set: exact dedup, brute-force cosine top-k, token stats.
Widened in later slices with MinHash+LSH, SimHash, n-gram Jaccard,
IVF-bucketed ANN, language-ID, quality scoring, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lakehouse_cdc_spark.llm.dedup import (
    _bit_vote_sql,
    containment_pairs,
    prefix_filter_jaccard_pairs,
    fingerprint_min_k,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash16,
    simhash_hamming_pairs,
)
from lakehouse_cdc_spark.llm.multimodal import attach_binary
from lakehouse_cdc_spark.llm.similarity import (
    _CENTROID_ELEM_BUDGET,
    _centroid_block,
    auto_k,
    bucketed_cosine_pairs,
    cosine_pairs,
    cosine_sim,
    cosine_topk,
    dot,
    ivf_assign,
    ivf_topk,
    with_norm,
)
from lakehouse_cdc_spark.llm.text import (
    LANG_PRIORITY,
    STOPWORDS,
    digit_count,
    predicted_lang,
    punct_count,
    quality_score,
    token_count,
    tokens,
)
from lakehouse_cdc_spark.plans.registry import (
    davg,
    read_parquet,
    register,
    sql_davg,
    table,
)

#: shared shingle CTE (3-word shingles, distinct per doc) — the DuckDB
#: mirror of llm/dedup.py:shingle_table
_SH_CTE = """
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
             FROM documents),
    idx AS (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
            FROM toks),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           FROM idx)
"""

#: DuckDB fold-based vector fragments (mirror of llm/similarity.py)
_NORM_SQ = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))"
)
_DOT_AB = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)

#: scale-aware IVF centroid count, oracle side — the exact arithmetic
#: of ``similarity.auto_k`` (K = max(min_k, ⌊√N + 0.5⌋), clamped by the
#: 32M-element broadcast budget at dim=64): ⌊x+0.5⌋ over IEEE sqrt is
#: bit-identical across engines, so a query parameterized by auto_k
#: stays exactly oracle-checkable at EVERY scale factor.
_AUTO_K_SQL = (
    "LEAST(GREATEST({min_k}, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) "
    f"+ 0.5) AS BIGINT)), {_CENTROID_ELEM_BUDGET // 64})"
)

#: corpus-size cache for the auto-K fit: ``_auto_fit`` runs
#: one count job per fit, and several declared queries fit the SAME
#: embeddings corpus — within a process (bench run, driver gate) the
#: count is a constant of sf_dir, so pay it once (the round-11 bench
#: showed the per-fit count job as the main small-SF cost of the
#: scale-correct auto-K default).  DECLARED SETUP (r13): built and
#: reported by ``plans.artifacts.prepare_artifacts``.
_EMB_COUNT_CACHE: dict[str, int] = {}

#: collected centroid blocks per (sf_dir, K): the fit is a pure
#: function of the corpus (first K vectors by id), so the IVF
#: kernel can reuse one driver-side materialization across the
#: queries (and bench iterations) that share it — the stored-index
#: shape of a production ANN service, where the fit is an artifact
#: read back, not recomputed per query
_FIT_BLOCK_CACHE: dict[tuple[str, int], tuple] = {}


#: the ``min_k`` of each ``_auto_fit`` configuration the declared
#: queries use: "probe" for the IVF probe queries
#: (contamination_embedding_overlap, emb_ivf_auto_k), "dedup" for the
#: bucketed near-dup scans (emb_neardup_bucketed, emb_semantic_dedup).
#: Their oracles read the same values, and
#: ``plans.artifacts.prepare_artifacts`` builds exactly these fits.
AUTO_FIT_MIN_K = {"probe": 8, "dedup": 32}


def _auto_fit(spark, sf_dir, min_k):
    """(embeddings, centroids, k, block) — the shared scale-aware IVF
    fit: ``K = auto_k(N)`` centroids seeded with the first K vectors by
    id (ids are dense from 0), with the corpus count and the collected
    centroid block cached per sf_dir.  Pass ``block`` to the IVF
    functions so they do not collect the centroids again.  Every
    caller stays exactly oracle-replicable via ``_AUTO_K_SQL``."""
    emb = table(spark, sf_dir, "embeddings")
    n = _EMB_COUNT_CACHE.get(sf_dir)
    if n is None:
        n = emb.count()
        _EMB_COUNT_CACHE[sf_dir] = n
    k = auto_k(n, 64, min_k=min_k)
    centroids = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    block = _FIT_BLOCK_CACHE.get((sf_dir, k))
    if block is None:
        block = _centroid_block(centroids)
        _FIT_BLOCK_CACHE[(sf_dir, k)] = block
    return emb, centroids, k, block


def _auto_fit_cached(sf_dir, min_k) -> bool:
    """True once ``_auto_fit(.., min_k)`` for
    ``sf_dir`` is served from the caches (count and block)."""
    n = _EMB_COUNT_CACHE.get(sf_dir)
    return n is not None and (sf_dir, auto_k(n, 64, min_k=min_k)) in _FIT_BLOCK_CACHE


@register(
    "dedup_exact_documents",
    oracle="""
    SELECT md5(text) AS text_hash,
           COUNT(*) AS dup_cnt,
           MIN(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def dedup_exact_documents(spark, sf_dir):
    """Exact dedup: hash-groupBy on content digest, keep lowest id.
    Map-side partial agg means only one row per distinct hash
    shuffles — at 100 TB the shuffle is |distinct docs|, not |docs|."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count(F.lit(1)).alias("dup_cnt"),
        F.min("doc_id").alias("keep_doc_id"),
    )


@register(
    "emb_cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding AS q_embedding FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(
             list_sum(list_transform(generate_series(1, 64),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> CAST(q.q_embedding[i] AS DOUBLE) * CAST(q.q_embedding[i] AS DOUBLE))))),
             6) AS cos_sim
    FROM embeddings e, q
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 10
    """,
    tags=("llm", "similarity", "ann"),
)
def emb_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 against the vec_id=0 embedding —
    native zip_with/aggregate vector math, broadcast query side."""
    emb = table(spark, sf_dir, "embeddings")
    query = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("q_embedding"))
    )
    return cosine_topk(emb, query, k=10)


_TOKCNT = "len(string_split_regex(trim(text), '\\s+'))"


@register(
    "text_token_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS doc_cnt,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM({_TOKCNT}) AS BIGINT) AS total_tokens,
           {sql_davg(_TOKCNT, 'avg_tokens')}
    FROM documents
    GROUP BY lang
    """,
    tags=("llm", "text"),
)
def text_token_stats(spark, sf_dir):
    """Token counting per language — whitespace tokenizer, all
    codegen'd (no UDF)."""
    d = table(spark, sf_dir, "documents")
    tc = token_count(F.col("text"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("doc_cnt"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(tc).cast("bigint").alias("total_tokens"),
        davg(tc.cast("double"), "avg_tokens"),
    )


# ---------------------------------------------------------------------------
# Fuzzy dedup (n-gram Jaccard, MinHash+LSH, SimHash, fingerprint)
# ---------------------------------------------------------------------------


#: declared shingle document-frequency cap: shingles in > F docs are
#: boilerplate, carry no dedup signal, and are what makes the inverted
#: index self-join quadratic — the cap bounds per-shingle join fan-out
#: at F², making worst-case cost O(|shingles|·F²) instead of O(docs²).
_JACCARD_MAX_DF = 5


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SH_CTE},
    capped AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM sh) WHERE df <= {_JACCARD_MAX_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT da, db, jaccard FROM (
      SELECT da, db,
             round(CAST(inter AS DOUBLE)
                   / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
      FROM pairs
      JOIN sizes sa ON pairs.da = sa.doc_id
      JOIN sizes sb ON pairs.db = sb.doc_id
    ) WHERE jaccard >= 0.5
    """,
    bench=True,
    tags=("llm", "dedup", "neardup"),
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs ≥ 0.5 over the
    frequency-capped shingle space — inverted index + self-equi-join,
    |∩|/|∪| per candidate pair.  The DF cap (shingles in ≤ 5 docs
    survive) is the guard that keeps the join linear on
    boilerplate-heavy corpora; it genuinely triggers at sf0.01 (drops
    the 29 hottest shingles) so the oracle proves the capped
    semantics.  Finds the planted near-duplicates in the fixture."""
    return jaccard_pairs(
        table(spark, sf_dir, "documents"),
        threshold=0.5,
        max_shingle_freq=_JACCARD_MAX_DF,
    )


@register(
    "dedup_prefix_filter_join",
    oracle=f"""
    WITH {_SH_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT da, db,
           round(CAST(inter AS DOUBLE)
                 / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON pairs.da = sa.doc_id
    JOIN sizes sb ON pairs.db = sb.doc_id
    WHERE inter * 2 >= (sa.n + sb.n - inter)
    """,
    tags=("llm", "dedup", "neardup", "ssjoin", "prefix-filter"),
)
def dedup_prefix_filter_join(spark, sf_dir):
    """EXACT Jaccard ≥ 0.5 similarity join through PREFIX FILTERING
    (SSJoin, Chaudhuri et al. 2006 / PPJoin, Xiao et al. 2008): each
    document joins only on its |A| − ceil(t·|A|) + 1 globally-RAREST
    shingles — any true pair must share one of them — then candidates
    verify with exact intersection counts and an exact rational
    threshold test (inter·2 ≥ union, no float compare).  The ORACLE is
    the naive all-shingle join with no pruning at all, so the hash
    match PROVES the pruned join returns the identical answer — the
    property LSH (probabilistic recall) and DF-capping (changed
    semantics) give up.  This is the third, exactness-preserving
    member of the similarity-join family.

    Scale shape: prefixes are rare tokens by construction, so the
    candidate join is bounded by rare-token posting lists — the
    boilerplate shingles that blow up a naive join never enter the
    prefix.  The verify stage touches only surviving candidates."""
    return prefix_filter_jaccard_pairs(table(spark, sf_dir, "documents"))


@register(
    "dedup_containment_pairs",
    bench=True,
    oracle=f"""
    WITH {_SH_CTE},
    capped AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM sh) WHERE df <= {_JACCARD_MAX_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT da, db, CAST(sa.n AS BIGINT) AS n_a,
           CAST(inter AS BIGINT) AS inter,
           CAST(inter * 1000 // sa.n AS BIGINT) AS containment_permille
    FROM pairs JOIN sizes sa ON pairs.da = sa.doc_id
    WHERE inter * 1000 // sa.n >= 800
    """,
    tags=("llm", "dedup", "neardup", "containment"),
)
def dedup_containment_pairs(spark, sf_dir):
    """Directional shingle containment ≥ 80%: |A∩B| / |A| on the same
    DF-capped 3-gram space as dedup_ngram_jaccard — Broder's
    containment coefficient, which catches the case resemblance
    structurally cannot: a short document wholly EMBEDDED in a longer
    one (quote farms, mirrors with boilerplate, sub-document
    plagiarism) scores ~1000 permille here while its Jaccard stays far
    below any dedup threshold because the union is dominated by the
    host document.  Directional output: (A⊂B) and (B⊂A) are different
    rows, which is exactly what a keep-the-superset dedup rule needs.
    Exact integer permille score — no float threshold drift.

    Scale shape: identical to the Jaccard path — one shingle
    explosion, DF-cap, |postings|-shaped self-equi-join; the score
    adds zero extra shuffles (sizes ride the shingle rows)."""
    return containment_pairs(
        table(spark, sf_dir, "documents"),
        threshold_permille=800,
        max_shingle_freq=_JACCARD_MAX_DF,
    )


_MINS = ",\n             ".join(
    f"min(md5('{j}|' || shingle)) AS h{j}" for j in range(8)
)
_BANDS = ",\n             ".join(
    f"md5(h{2*b} || '|' || h{2*b+1}) AS band{b}" for b in range(4)
)
#: declared LSH bucket-size cap (mirror of max_bucket_size in
#: llm/dedup.py:lsh_candidate_pairs) — no sf0.01 bucket exceeds 3, so
#: the cap is a pure scale guard on the fixture
_LSH_MAX_BUCKET = 10

_BAND_UNION = "\n      UNION\n".join(
    f"      SELECT a.doc_id AS da, b.doc_id AS db\n"
    f"      FROM (SELECT doc_id, band{b} FROM bands QUALIFY\n"
    f"            COUNT(*) OVER (PARTITION BY band{b}) <= {_LSH_MAX_BUCKET}) a\n"
    f"      JOIN (SELECT doc_id, band{b} FROM bands QUALIFY\n"
    f"            COUNT(*) OVER (PARTITION BY band{b}) <= {_LSH_MAX_BUCKET}) b\n"
    f"        ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
    for b in range(4)
)

#: incremental-shard band joins: the NEW shard (doc_id % 5 = 0) probes
#: the STORED index of the existing corpus — the bucket cap is
#: index-build hygiene, applied to the OLD side's buckets at write
#: time (a degenerate template bucket never reaches any future reader)
_BAND_CROSS_UNION = "\n      UNION\n".join(
    f"      SELECT n.doc_id AS new_id, o.doc_id AS old_id\n"
    f"      FROM (SELECT doc_id, band{b} FROM bands\n"
    f"            WHERE doc_id % 5 = 0) n\n"
    f"      JOIN (SELECT doc_id, band{b} FROM bands\n"
    f"            WHERE doc_id % 5 <> 0 QUALIFY\n"
    f"            COUNT(*) OVER (PARTITION BY band{b}) <= {_LSH_MAX_BUCKET}) o\n"
    f"        ON n.band{b} = o.band{b}"
    for b in range(4)
)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SH_CTE},
    sig AS (SELECT doc_id,
             {_MINS}
            FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id,
             {_BANDS}
            FROM sig),
    cand AS (
{_BAND_UNION}
    )
    SELECT da, db FROM cand
    """,
    tags=("llm", "dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(k=8) + LSH(4 bands × 2 rows) candidate pairs — the
    scale path for near-dup at 100 TB: cost is O(docs·k) + band
    bucket-joins, never an all-pairs comparison.  Degenerate buckets
    are dropped at size > 10 (oracle mirrors the cap), bounding the
    bucket self-join; md5-based hash family keeps every stage
    bit-identical to the oracle."""
    sigs = minhash_signatures(table(spark, sf_dir, "documents"), k=8)
    return lsh_candidate_pairs(
        sigs, bands=4, rows_per_band=2, max_bucket_size=_LSH_MAX_BUCKET
    )


_SIMHASH_VOTES = ",\n             ".join(
    f"SUM({_bit_vote_sql(p)}) AS s{p}" for p in range(16)
)
_SIMHASH_VALUE = " + ".join(
    f"(CASE WHEN s{p} > 0 THEN {1 << p} ELSE 0 END)" for p in range(16)
)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    agg AS (SELECT doc_id,
             {_SIMHASH_VOTES}
            FROM tok GROUP BY doc_id)
    SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash16
    FROM agg
    """,
    tags=("llm", "dedup", "simhash"),
)
def dedup_simhash(spark, sf_dir):
    """16-bit SimHash fingerprint per document (token ±1 votes on
    md5-derived bits) — near-identical docs land within small Hamming
    distance; one groupBy, no joins."""
    return simhash16(table(spark, sf_dir, "documents"))


#: 60-bit simhash oracle fragments (same ±1 md5-nibble votes as the
#: 16-bit demo — _bit_vote_sql is shared verbatim with the engine)
_SIMHASH60_VOTES = ",\n             ".join(
    f"SUM({_bit_vote_sql(p)}) AS s{p}" for p in range(60)
)
_SIMHASH60_VALUE = " + ".join(
    f"(CASE WHEN s{p} > 0 THEN {1 << p} ELSE 0 END)" for p in range(60)
)
#: pigeonhole block joins: 4 blocks x 15 bits — Hamming <= 3 pairs
#: must share >= 1 exact block value
_SIMHASH_BLOCK_UNION = "\n      UNION\n".join(
    f"      SELECT a.doc_id AS da, b.doc_id AS db, a.sh AS sa, b.sh AS sb\n"
    f"      FROM sig a JOIN sig b\n"
    f"        ON ((a.sh >> {b * 15}) & 32767) = ((b.sh >> {b * 15}) & 32767)\n"
    f"       AND a.doc_id < b.doc_id"
    for b in range(4)
)


@register(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    agg AS (SELECT doc_id,
             {_SIMHASH60_VOTES}
            FROM tok GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({_SIMHASH60_VALUE} AS BIGINT) AS sh FROM agg),
    cand AS (
{_SIMHASH_BLOCK_UNION}
    )
    SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY da, db
    """,
    tags=("llm", "dedup", "simhash", "hamming"),
)
def dedup_simhash_hamming(spark, sf_dir):
    """SimHash HAMMING-BALL near-dup pairs — the Manku/Jain/Sarma
    (WWW'07) web-crawl dedup operator the 16-bit demo fingerprint
    can't support: a 60-bit simhash split into 4 pigeonhole blocks of
    15 bits; any pair within Hamming distance 3 must agree on >= 1
    whole block, so candidates are 4 equi-joins on (block, value) and
    the exact ``bit_count(xor)`` filter loses nothing — blocked ≡
    brute force BY CONSTRUCTION (pytest asserts the equivalence),
    unlike probabilistic MinHash banding.

    Scale shape: block keys have 2^15 values, so bucket sizes are
    ~N/32768 for well-mixed fingerprints and the pair space is
    O(Σ bucket²), never all-pairs; the operator takes the same
    write-time bucket cap as the LSH index for degenerate template
    buckets.  Output: (da, db, hamming) per near-dup pair — the
    removal worklist a crawl-dedup pass feeds to keep-best."""
    return simhash_hamming_pairs(
        table(spark, sf_dir, "documents"),
        bits=60,
        blocks=4,
        max_distance=3,
    ).orderBy("da", "db")


@register(
    "doc_fingerprint",
    oracle=f"""
    WITH {_SH_CTE},
    hashed AS (SELECT DISTINCT doc_id, md5(shingle) AS h FROM sh),
    ranked AS (SELECT doc_id, h,
                      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS rn
               FROM hashed)
    SELECT doc_id, string_agg(h, ',' ORDER BY h) AS fingerprint
    FROM ranked WHERE rn <= 5 GROUP BY doc_id
    """,
    tags=("llm", "text", "fingerprint"),
)
def doc_fingerprint(spark, sf_dir):
    """Winnowing-style content signature: the 5 smallest shingle
    hashes per document, joined — stable under small edits."""
    return fingerprint_min_k(table(spark, sf_dir, "documents"), k=5)


# ---------------------------------------------------------------------------
# Text analysis: language-ID + quality scoring
# ---------------------------------------------------------------------------


def _sql_stop_cnt(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        "len(list_filter(string_split_regex(trim(text), '\\s+'), "
        f"x -> x IN ({words})))"
    )


_LANG_SCORES = ",\n           ".join(
    f"{_sql_stop_cnt(lang)} AS s_{lang}" for lang in LANG_PRIORITY
)
_ALL_ZERO = " AND ".join(f"s_{lang} = 0" for lang in LANG_PRIORITY)
_LANG_CASE_ARMS = "\n           ".join(
    "WHEN "
    + " AND ".join(
        f"s_{lang} >= s_{other}" for other in LANG_PRIORITY if other != lang
    )
    + f" THEN '{lang}'"
    for lang in LANG_PRIORITY
)


@register(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
           {_LANG_SCORES}
      FROM documents
    )
    SELECT lang,
           CASE WHEN {_ALL_ZERO} THEN 'und'
           {_LANG_CASE_ARMS}
           ELSE 'und' END AS predicted_lang,
           COUNT(*) AS doc_cnt
    FROM scored
    GROUP BY 1, 2
    """,
    tags=("llm", "text", "langid"),
)
def text_lang_id(spark, sf_dir):
    """Heuristic language-ID (stopword-set scoring, priority-order
    argmax) vs the labeled lang column — the agreement matrix a real
    pipeline monitors.  Columnar: token-set filters, no UDF."""
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn("predicted_lang", predicted_lang(F.col("text")))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("doc_cnt"))
    )


_Q_NTOK = "CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)"
_Q_STOP = _sql_stop_cnt("en")
_Q_PUNCT = "CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)"
_Q_DIGIT = "CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)"


@register(
    "text_quality_scores",
    oracle=f"""
    SELECT doc_id,
           CAST({_Q_NTOK} AS BIGINT) AS n_tokens,
           CAST({_Q_PUNCT} AS BIGINT) AS punct_cnt,
           CAST({_Q_DIGIT} AS BIGINT) AS digit_cnt,
           round(0.4 * least({_Q_NTOK} / 100.0, 1.0)
               + 0.4 * least(CAST({_Q_STOP} AS DOUBLE)
                             / greatest({_Q_NTOK}, 1.0) * 5.0, 1.0)
               + 0.2 * (1.0 - least(({_Q_PUNCT} / greatest(CAST(length(text) AS DOUBLE), 1.0)
                                    + {_Q_DIGIT} / greatest(CAST(length(text) AS DOUBLE), 1.0))
                                    * 5.0, 1.0)),
               6) AS quality
    FROM documents
    """,
    tags=("llm", "text", "quality"),
)
def text_quality_scores(spark, sf_dir):
    """Per-document quality heuristics: token count, punctuation and
    digit noise, stopword presence → composite score.  The filter
    stage of a training-data pipeline, fully codegen'd."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        punct_count(F.col("text")).cast("bigint").alias("punct_cnt"),
        digit_count(F.col("text")).cast("bigint").alias("digit_cnt"),
        quality_score(F.col("text")).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Embedding similarity: near-dup pairs + IVF bucketing (scale path)
# ---------------------------------------------------------------------------


@register(
    "emb_neardup_pairs",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQ} AS norm_sq FROM embeddings)
    SELECT ia, ib, cos_sim FROM (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             round({_DOT_AB} / (sqrt(a.norm_sq) * sqrt(b.norm_sq)), 6) AS cos_sim
      FROM n a JOIN n b ON a.vec_id < b.vec_id
    ) WHERE cos_sim >= 0.4
    """,
    tags=("llm", "similarity", "neardup"),
)
def emb_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (≥0.4): exact all-pairs
    baseline with norms computed once.  At scale this runs within IVF/
    LSH buckets (see emb_ivf_assign) instead of globally."""
    return cosine_pairs(table(spark, sf_dir, "embeddings"), threshold=0.4)


@register(
    "emb_ivf_assign",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding FROM embeddings),
    c AS (SELECT vec_id AS cid, embedding AS cemb,
                 {_NORM_SQ.replace('embedding', 'embedding')} AS cnorm
          FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.cid,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)))
                   / (sqrt({_NORM_SQ.replace('embedding', 'e.embedding')})
                      * sqrt(c.cnorm)), 6) AS cs
      FROM n e, c
    ),
    ranked AS (SELECT vec_id, cid, cs,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cid ASC) AS rn
               FROM scored)
    SELECT cid AS cluster, COUNT(*) AS n_assigned
    FROM ranked WHERE rn = 1 GROUP BY cid
    """,
    tags=("llm", "similarity", "ann", "ivf"),
)
def emb_ivf_assign(spark, sf_dir):
    """IVF coarse quantization: every vector assigned to its nearest
    of 8 centroid vectors (vec_id < 8) — the bucketing that turns
    brute-force ANN into bucket-local search.  Output: bucket sizes.
    The assignment is the map-side IVF kernel (``ivf_assign``): one
    Arrow pass against the broadcast centroids, no cross join, no
    window; the only exchange is the bucket-size aggregate's."""
    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    return (
        ivf_assign(emb, centroids)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
    )


_DOT_EQ = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@register(
    "emb_ann_query_ivf",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQ} AS norm_sq FROM embeddings),
    c AS (SELECT vec_id AS cid, embedding AS cemb, norm_sq AS cnorm
          FROM n WHERE vec_id < 8),
    q AS (SELECT embedding AS qemb, norm_sq AS qnorm FROM n WHERE vec_id = 7),
    probe AS (
      SELECT cid AS cluster FROM (
        SELECT c.cid,
               round({_DOT_EQ.format(a='c.cemb', b='q.qemb')}
                     / (sqrt(c.cnorm) * sqrt(q.qnorm)), 6) AS qcs
        FROM c, q)
      ORDER BY qcs DESC, cid ASC LIMIT 2
    ),
    scored AS (
      SELECT e.vec_id, c.cid,
             round({_DOT_EQ.format(a='e.embedding', b='c.cemb')}
                   / (sqrt(e.norm_sq) * sqrt(c.cnorm)), 6) AS cs
      FROM n e, c
    ),
    assign AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid ASC) AS rn
        FROM scored) WHERE rn = 1
    ),
    cand AS (SELECT a.vec_id FROM assign a JOIN probe p ON a.cluster = p.cluster)
    SELECT n.vec_id,
           round({_DOT_EQ.format(a='n.embedding', b='q.qemb')}
                 / (sqrt(n.norm_sq) * sqrt(q.qnorm)), 6) AS cos_sim
    FROM n JOIN cand ON n.vec_id = cand.vec_id, q
    ORDER BY cos_sim DESC, n.vec_id ASC
    LIMIT 10
    """,
    tags=("llm", "similarity", "ann", "ivf"),
)
def emb_ann_query_ivf(spark, sf_dir):
    """ANN top-10 for the vec_id=7 query through 2-probe IVF: rank the
    8 centroids against the query, search ONLY the two nearest buckets
    (probes/K of the data — partition pruning at scale), exact top-k
    inside.  Deterministic approximation, so the oracle composes the
    same probe pipeline and must agree bit-for-bit.  Completes the ANN
    family: emb_ivf_assign (build) / emb_neardup_bucketed (pairs) /
    this (query)."""
    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    query = emb.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("q_embedding")
    )
    return ivf_topk(emb, centroids, query, k=10, probes=2)


@register(
    "text_rrf_fusion",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS ntok,
             n_chars
      FROM documents
    ),
    ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY ntok DESC, doc_id ASC) AS ra,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rb
      FROM d
    )
    SELECT doc_id,
           CAST(ra AS BIGINT) AS rank_tokens,
           CAST(rb AS BIGINT) AS rank_chars,
           CAST(1000000000 // (60 + ra) + 1000000000 // (60 + rb)
                AS BIGINT) AS rrf_nano
    FROM ranked
    ORDER BY rrf_nano DESC, doc_id ASC
    LIMIT 20
    """,
    tags=("llm", "retrieval", "fusion", "ranking"),
)
def text_rrf_fusion(spark, sf_dir):
    """RECIPROCAL RANK FUSION (Cormack et al. 2009 — the standard way
    to merge heterogeneous retrieval rankings, e.g. BM25 + dense ANN):
    fuse two global document rankings by summing 1/(60 + rank), here
    in exact integer nano-units (``1e9 div (60+rank)``) so the fused
    ordering never depends on float precision.  The two demo rankers
    (token count, char count) stand in for any score columns — RRF
    only consumes ranks, which is exactly why it fuses incomparable
    scorers.  Scale shape: each global ranking uses the two-pass
    prefix scan (operators/prefix.py:row_number_two_pass — NO
    SinglePartition window), the fusion is a keyed self-join on
    doc_id, and the final top-20 is TakeOrderedAndProject."""
    from lakehouse_cdc_spark.operators.prefix import row_number_two_pass

    # materialized ON PURPOSE (per-invocation localCheckpoint): each
    # two-pass ranking derives bounds,
    # per-bucket counts, and the bucketed scan from this base — six
    # consumers total, and the 24-byte/row projection is the right
    # thing to cache instead of re-tokenizing the corpus six times
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(tokens(F.col("text"))).cast("bigint").alias("ntok"),
            "n_chars",
        )
        .localCheckpoint()
    )
    ra = row_number_two_pass(
        d, "ntok", ["doc_id"], "rank_tokens", ascending=False
    ).select("doc_id", "rank_tokens")
    rb = row_number_two_pass(
        d, "n_chars", ["doc_id"], "rank_chars", ascending=False
    ).select("doc_id", "rank_chars")
    fused = ra.join(rb, on="doc_id").select(
        "doc_id",
        F.col("rank_tokens").cast("bigint").alias("rank_tokens"),
        F.col("rank_chars").cast("bigint").alias("rank_chars"),
        F.expr(
            "1000000000 div (60 + rank_tokens) + "
            "1000000000 div (60 + rank_chars)"
        )
        .cast("bigint")
        .alias("rrf_nano"),
    )
    return fused.orderBy(F.desc("rrf_nano"), F.asc("doc_id")).limit(20)


@register(
    "emb_late_interaction_maxsim",
    bench=True,
    oracle=f"""
    WITH n AS (SELECT vec_id, vec_id // 50 AS grp, embedding,
                      {_NORM_SQ} AS norm_sq
               FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qemb, norm_sq AS qnorm
          FROM n WHERE grp = 0),
    cand AS (SELECT grp, vec_id, embedding, norm_sq FROM n WHERE grp <> 0),
    sims AS (
      SELECT q.qid, c.grp, c.vec_id,
             CAST(round({_DOT_EQ.format(a='q.qemb', b='c.embedding')}
                   / (sqrt(q.qnorm) * sqrt(c.norm_sq)) * 1000000)
                  AS BIGINT) AS sim_micro
      FROM q, cand c
    ),
    best AS (SELECT qid, grp, MAX(sim_micro) AS max_sim
             FROM sims GROUP BY qid, grp)
    SELECT CAST(grp AS BIGINT) AS doc_group,
           CAST(SUM(max_sim) AS BIGINT) AS maxsim_score_micro
    FROM best GROUP BY grp
    ORDER BY maxsim_score_micro DESC, doc_group ASC
    LIMIT 5
    """,
    tags=("llm", "similarity", "retrieval", "late-interaction"),
)
def emb_late_interaction_maxsim(spark, sf_dir):
    """LATE-INTERACTION retrieval (ColBERT MaxSim): documents are
    multi-vector bags (here: vec_id // 50 groups), the query is bag 0,
    and a candidate's score is Σ over query vectors of its best
    (max-cosine) match in the candidate bag — token-level interaction
    deferred to scoring time, the retrieval family between single-
    vector ANN and full cross-encoders.  Plan: the query bag (small by
    construction) is broadcast as a numpy block and every candidate
    vector is scored against it in ONE Arrow ``mapInPandas`` pass with
    per-batch (doc, query-vec) partial maxima
    (``similarity.maxsim_partials_blocked``) — the |cand|·|q|
    similarity rows never exist in the JVM and the only exchange
    carries O(|docs|·|q|) partial rows.  Scores in exact integer
    micro-units (round then max then sum) so the ranking never depends
    on float summation order — the cross-engine-safe form of a
    fractional additive score, and what lets batch-local maxima
    compose exactly."""
    from lakehouse_cdc_spark.llm.similarity import maxsim_partials_blocked

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("vec_id") / 50).cast("bigint").alias("grp"),
        "embedding",
    )
    q = emb.filter(F.col("grp") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    cand = emb.filter(F.col("grp") != 0)
    best = maxsim_partials_blocked(cand, q)
    return (
        best.groupBy(F.col("grp").alias("doc_group"))
        .agg(F.sum("max_sim").cast("bigint").alias("maxsim_score_micro"))
        .orderBy(F.desc("maxsim_score_micro"), F.asc("doc_group"))
        .limit(5)
    )


@register(
    "contamination_embedding_overlap",
    bench=True,
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQ} AS norm_sq FROM embeddings),
    kk AS (SELECT {_AUTO_K_SQL.format(min_k=AUTO_FIT_MIN_K['probe'])} AS k FROM n),
    c AS (SELECT vec_id AS cid, embedding AS cemb, norm_sq AS cnorm
          FROM n WHERE vec_id < (SELECT k FROM kk)),
    train AS (SELECT * FROM n WHERE vec_id % 97 <> 0),
    eval_set AS (SELECT vec_id AS eval_id, embedding AS eemb,
                        norm_sq AS enorm
                 FROM n WHERE vec_id % 97 = 0),
    assign AS (
      SELECT vec_id, cluster FROM (
        SELECT t.vec_id, c.cid AS cluster,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
                 round({_DOT_EQ.format(a='t.embedding', b='c.cemb')}
                       / (sqrt(t.norm_sq) * sqrt(c.cnorm)), 6) DESC,
                 c.cid ASC) AS rn
        FROM train t, c) WHERE rn = 1
    ),
    eprobe AS (
      SELECT eval_id, cluster FROM (
        SELECT e.eval_id, c.cid AS cluster,
               ROW_NUMBER() OVER (PARTITION BY e.eval_id ORDER BY
                 round({_DOT_EQ.format(a='e.eemb', b='c.cemb')}
                       / (sqrt(e.enorm) * sqrt(c.cnorm)), 6) DESC,
                 c.cid ASC) AS rn
        FROM eval_set e, c) WHERE rn <= 2
    ),
    cand AS (SELECT DISTINCT p.eval_id, a.vec_id
             FROM eprobe p JOIN assign a USING (cluster)),
    hits AS (
      SELECT d.eval_id, d.vec_id,
             round({_DOT_EQ.format(a='t.embedding', b='e.eemb')}
                   / (sqrt(t.norm_sq) * sqrt(e.enorm)), 6) AS cs
      FROM cand d
      JOIN train t ON t.vec_id = d.vec_id
      JOIN eval_set e ON e.eval_id = d.eval_id
    )
    SELECT eval_id,
           CAST(COUNT(*) FILTER (WHERE cs >= 0.5) AS BIGINT)
             AS n_contaminated,
           CAST(SUM(vec_id) FILTER (WHERE cs >= 0.5) AS BIGINT)
             AS sum_train_ids
    FROM hits GROUP BY eval_id ORDER BY eval_id
    """,
    tags=("llm", "curation", "contamination", "similarity", "ivf"),
)
def contamination_embedding_overlap(spark, sf_dir):
    """SEMANTIC decontamination (the meaning-level complement of
    ``contamination_ngram_overlap``'s lexical scan): held-out eval
    vectors (``vec_id % 97 = 0``) are swept against the training set
    for embedding-cosine overlap ≥ 0.5 — paraphrased benchmark leakage
    that n-gram matching cannot see.  Bipartite and bucketed: train
    vectors are IVF-assigned once, each eval vector probes its 2
    nearest buckets (the tiny eval side is broadcast), so the pair
    space is probes/K of |train| × |eval| — never all-pairs.  Output:
    per eval item, how many training docs are contaminated and the
    exact id-sum of the hits (the removal worklist's checksum).  Same
    report a frontier-model data pipeline runs before training; the
    oracle composes the identical probe pipeline.

    K is SCALE-AWARE (``similarity.auto_k``: max(8, ⌊√N+0.5⌋)): the
    fixed demo K=8 left a quadratic candidate-pair residue that the
    measured sf1 profile showed as 14.2× wall for 10× data; K ∝ √N
    keeps buckets constant-size (SCALE.md "The K lever, measured").
    The oracle recomputes the same K from COUNT(*) — exact at every
    scale factor."""
    emb, centroids, _, blk = _auto_fit(spark, sf_dir, min_k=AUTO_FIT_MIN_K["probe"])
    train = emb.filter(F.col("vec_id") % 97 != 0)
    eval_rows = emb.filter(F.col("vec_id") % 97 == 0)
    # both sides assign against the one cached fit: no centroid collect
    assign = ivf_assign(train, centroids, block=blk)
    eprobe = ivf_assign(eval_rows, centroids, probes=2, block=blk).select(
        F.col("vec_id").alias("eval_id"), "cluster"
    )
    evecs = eval_rows.select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("eemb")
    )
    cand = (
        F.broadcast(eprobe)
        .join(assign, on="cluster")
        .select("eval_id", "vec_id")
        .distinct()
    )
    hits = (
        cand.join(train.select("vec_id", "embedding"), on="vec_id")
        .join(F.broadcast(evecs), on="eval_id")
        .select(
            "eval_id",
            "vec_id",
            F.round(
                cosine_sim(
                    F.col("embedding").cast("array<double>"),
                    F.col("eemb").cast("array<double>"),
                ),
                6,
            ).alias("cs"),
        )
    )
    contaminated = F.col("cs") >= 0.5
    return (
        hits.groupBy("eval_id")
        .agg(
            F.count_if(contaminated).cast("bigint").alias("n_contaminated"),
            F.sum(F.when(contaminated, F.col("vec_id")))
            .cast("bigint")
            .alias("sum_train_ids"),
        )
        .orderBy("eval_id")
    )


@register(
    "emb_ivf_auto_k",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQ} AS norm_sq FROM embeddings),
    kk AS (SELECT {_AUTO_K_SQL.format(min_k=AUTO_FIT_MIN_K['probe'])} AS k FROM n),
    q AS (SELECT vec_id AS qid, embedding AS qemb, norm_sq AS qnorm
          FROM n WHERE vec_id % 101 = 3),
    truth AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 round({_DOT_EQ.format(a='e.embedding', b='q.qemb')}
                       / (sqrt(e.norm_sq) * sqrt(q.qnorm)), 6) DESC,
                 e.vec_id ASC) AS rn
        FROM n e, q) WHERE rn <= 10
    ),
    cf AS (SELECT vec_id AS cid, embedding AS cemb, norm_sq AS cnorm
           FROM n WHERE vec_id < 8),
    ca AS (SELECT vec_id AS cid, embedding AS cemb, norm_sq AS cnorm
           FROM n WHERE vec_id < (SELECT k FROM kk)),
    af AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cid AS cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 round({_DOT_EQ.format(a='e.embedding', b='c.cemb')}
                       / (sqrt(e.norm_sq) * sqrt(c.cnorm)), 6) DESC,
                 c.cid ASC) AS rn
        FROM n e, cf c) WHERE rn = 1
    ),
    aa AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cid AS cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 round({_DOT_EQ.format(a='e.embedding', b='c.cemb')}
                       / (sqrt(e.norm_sq) * sqrt(c.cnorm)), 6) DESC,
                 c.cid ASC) AS rn
        FROM n e, ca c) WHERE rn = 1
    ),
    pf AS (
      SELECT qid, cluster FROM (
        SELECT q.qid, c.cid AS cluster,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 round({_DOT_EQ.format(a='q.qemb', b='c.cemb')}
                       / (sqrt(q.qnorm) * sqrt(c.cnorm)), 6) DESC,
                 c.cid ASC) AS rn
        FROM q, cf c) WHERE rn <= 2
    ),
    pa AS (
      SELECT qid, cluster FROM (
        SELECT q.qid, c.cid AS cluster,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 round({_DOT_EQ.format(a='q.qemb', b='c.cemb')}
                       / (sqrt(q.qnorm) * sqrt(c.cnorm)), 6) DESC,
                 c.cid ASC) AS rn
        FROM q, ca c) WHERE rn <= 2
    ),
    candf AS (SELECT DISTINCT p.qid, a.vec_id
              FROM pf p JOIN af a USING (cluster)),
    canda AS (SELECT DISTINCT p.qid, a.vec_id
              FROM pa p JOIN aa a USING (cluster)),
    hf AS (SELECT t.qid, COUNT(*) AS h FROM truth t
           JOIN candf c ON c.qid = t.qid AND c.vec_id = t.vec_id
           GROUP BY t.qid),
    ha AS (SELECT t.qid, COUNT(*) AS h FROM truth t
           JOIN canda c ON c.qid = t.qid AND c.vec_id = t.vec_id
           GROUP BY t.qid)
    SELECT q.qid,
           CAST((SELECT k FROM kk) AS BIGINT) AS k_auto,
           CAST(COALESCE(hf.h, 0) AS BIGINT) AS hits_fixed,
           CAST(COALESCE(ha.h, 0) AS BIGINT) AS hits_auto
    FROM q LEFT JOIN hf ON hf.qid = q.qid
           LEFT JOIN ha ON ha.qid = q.qid
    ORDER BY q.qid
    """,
    tags=("llm", "similarity", "ann", "ivf", "auto-k", "recall"),
)
def emb_ivf_auto_k(spark, sf_dir):
    """RECALL PARITY of the scale-aware auto-K IVF policy against the
    fixed demo K: for every probe query (``vec_id % 101 = 3``), count
    how many of the brute-force top-10 neighbors survive the 2-probe
    candidate restriction under K=8 (demo) vs K=auto_k(N) (≈√N,
    byte-budget-clamped) — recall@10 as exact hit COUNTS, never
    ratios, so the row is integer-stable in any engine.

    Why this row exists: the sf1 K-sweep proved K ∝ √N restores
    sub-linear scaling of the bucketed ANN family (3.7× wall for 10×
    data vs 14.2× at fixed K=8 — SCALE.md), but a bigger K with fixed
    nprobe probes a SMALLER corpus fraction, so recall must be shown,
    not assumed.  The oracle recomputes the identical auto K from
    COUNT(*) (⌊√N+0.5⌋ is bit-deterministic over IEEE sqrt) and
    replays both probe pipelines — green means the engines agree on
    the POLICY, and the hits_auto column itself is the recall
    evidence (``tests/test_llm.py`` asserts parity at the gate SFs).

    Scale shape: ground truth is one broadcast-query sweep (O(N·Q),
    the evaluation cost any ANN recall probe pays on a sampled Q);
    both candidate pipelines are broadcast-assign + cluster-keyed
    joins — probes/K of the corpus each, never all-pairs."""
    emb, cen_auto, k_auto_val, blk_auto = _auto_fit(
        spark, sf_dir, min_k=AUTO_FIT_MIN_K["probe"]
    )
    cen_fixed = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    probes_df = emb.filter(F.col("vec_id") % 101 == 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    scored = emb.crossJoin(F.broadcast(probes_df)).select(
        "qid",
        "vec_id",
        F.round(
            cosine_sim(
                F.col("embedding").cast("array<double>"),
                F.col("qemb").cast("array<double>"),
            ),
            6,
        ).alias("cs"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("vec_id"))
    truth = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )

    def cand_for(cen, blk):
        assign = ivf_assign(emb, cen, block=blk).select("vec_id", "cluster")
        qprobe = ivf_assign(
            probes_df.select(
                F.col("qid").alias("vec_id"), F.col("qemb").alias("embedding")
            ),
            cen,
            probes=2,
            block=blk,
        ).select(F.col("vec_id").alias("qid"), "cluster")
        return (
            F.broadcast(qprobe)
            .join(assign, on="cluster")
            .select("qid", "vec_id")
            .distinct()
        )

    def hits(cand, name):
        return (
            truth.join(cand, on=["qid", "vec_id"])
            .groupBy("qid")
            .agg(F.count(F.lit(1)).alias(name))
        )

    cand_fixed = cand_for(cen_fixed, _centroid_block(cen_fixed))
    return (
        probes_df.select("qid")
        .join(hits(cand_fixed, "hf"), on="qid", how="left")
        .join(hits(cand_for(cen_auto, blk_auto), "ha"), on="qid", how="left")
        .select(
            "qid",
            F.lit(k_auto_val).cast("bigint").alias("k_auto"),
            F.coalesce(F.col("hf"), F.lit(0)).cast("bigint").alias("hits_fixed"),
            F.coalesce(F.col("ha"), F.lit(0)).cast("bigint").alias("hits_auto"),
        )
        .orderBy("qid")
    )


@register(
    "emb_neardup_bucketed",
    bench=True,
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQ} AS norm_sq FROM embeddings),
    kk AS (SELECT {_AUTO_K_SQL.format(min_k=AUTO_FIT_MIN_K['dedup'])} AS k FROM n),
    c AS (SELECT vec_id AS cid, embedding AS cemb, norm_sq AS cnorm
          FROM n WHERE vec_id < (SELECT k FROM kk)),
    scored AS (
      SELECT e.vec_id, c.cid,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)))
                   / (sqrt(e.norm_sq) * sqrt(c.cnorm)), 6) AS cs
      FROM n e, c
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid ASC) AS rn
        FROM scored) WHERE rn <= 2
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS ia, y.vec_id AS ib
      FROM assign x JOIN assign y
        ON x.cid = y.cid AND x.vec_id < y.vec_id
    )
    SELECT ia, ib, cos_sim FROM (
      SELECT ia, ib,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                   / (sqrt(a.norm_sq) * sqrt(b.norm_sq)), 6) AS cos_sim
      FROM cand JOIN n a ON a.vec_id = cand.ia
                JOIN n b ON b.vec_id = cand.ib
    ) WHERE cos_sim >= 0.4
    """,
    tags=("llm", "similarity", "neardup", "ann", "ivf"),
)
def emb_neardup_bucketed(spark, sf_dir):
    """The scale path for embedding near-dup: IVF assignment (2-probe,
    scale-aware centroid count) → cosine pairs WITHIN buckets only.
    Shuffle is keyed by cluster; pair space is O(Σ bucket²), never
    all-pairs — and K must GROW with N (K ≈ √N keeps per-bucket work
    flat; 8 centroids over 2k vectors left a quadratic residue that
    was 4× slower).  K is ``similarity.auto_k`` (max(32, ⌊√N+0.5⌋),
    byte-budget-clamped; the demo floor keeps the sf0.01 result
    identical) and the oracle recomputes the same K from COUNT(*).
    Same output contract as emb_neardup_pairs restricted to
    bucket-cohabiting pairs — on clustered near-dups recall ≈ 1 (see
    tests/test_llm.py recall test)."""
    emb, centroids, _, blk = _auto_fit(spark, sf_dir, min_k=AUTO_FIT_MIN_K["dedup"])
    return bucketed_cosine_pairs(
        emb, centroids, threshold=0.4, probes=2, block=blk
    )


def _ivf_recall(spark, sf_dir, probe_counts):
    """Per ``(probes, qid)``: ``n_cand``, the candidates the IVF path
    scans, and ``n_hit``, how many of the exact top-10 its top-10
    recovers — for the five query vectors (vec_id 3–7) against the
    8-centroid fit (vec_id < 8), at every probe count in
    ``probe_counts``.  A qid with no candidates has no row.  Rankings
    use the rounded cosine with id tie-breaks, as the oracles do.

    The corpus assignment and the query→centroid ranking at
    ``max(probe_counts)`` run once through the ``ivf_assign`` kernel
    against one collected block; each arm keeps the ranking's first
    ``probes`` clusters, and ONE join of the assignment against every
    arm yields the candidates.  (One ``ivf_assign`` per arm would
    rescore the corpus per arm: ``mapInPandas`` output has no exchange
    for Spark to reuse.)"""
    emb = with_norm(table(spark, sf_dir, "embeddings"))
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    qs = emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") <= 7)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        F.col("__norm_sq").alias("qnorm"),
    )
    cos = F.round(
        dot(
            F.col("embedding").cast("array<double>"),
            F.col("qemb").cast("array<double>"),
        )
        / (F.sqrt("__norm_sq") * F.sqrt("qnorm")),
        6,
    ).alias("cs")

    def top10(df, *part):
        w = Window.partitionBy(*part).orderBy(F.desc("cs"), F.asc("vec_id"))
        return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)

    exact = top10(emb.crossJoin(F.broadcast(qs)).select("qid", "vec_id", cos), "qid")
    blk = _centroid_block(cents)
    assign = ivf_assign(emb, cents, block=blk).select("vec_id", "cluster")
    rank = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("cluster"))
    )
    arms = (
        ivf_assign(
            qs, cents, id_col="qid", vec_col="qemb",
            probes=max(probe_counts), block=blk,
        )
        .withColumn("rank", rank)
        .withColumn("probes", F.explode(F.array(*[F.lit(p) for p in probe_counts])))
        .filter(F.col("rank") <= F.col("probes"))
        .select(F.col("probes").cast("bigint"), "qid", "cluster")
    )
    cand = assign.join(F.broadcast(arms), "cluster")
    n_cand = F.count(F.lit(1)).over(Window.partitionBy("probes", "qid"))
    ivf = top10(
        cand.join(emb, "vec_id")
        .join(F.broadcast(qs), "qid")
        .select("probes", "qid", "vec_id", cos, n_cand.alias("n_cand")),
        "probes",
        "qid",
    )
    hits = exact.select("qid", "vec_id", F.lit(1).alias("hit"))
    return (
        ivf.join(hits, ["qid", "vec_id"], "left")
        .groupBy("probes", "qid")
        .agg(F.max("n_cand").alias("n_cand"), F.count("hit").alias("n_hit"))
    )


@register(
    "emb_ivf_recall_probe",
    bench=True,
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQ} AS norm_sq FROM embeddings),
    c AS (SELECT vec_id AS cid, embedding AS cemb, norm_sq AS cnorm
          FROM n WHERE vec_id < 8),
    q AS (SELECT vec_id AS qid, embedding AS qemb, norm_sq AS qnorm
          FROM n WHERE vec_id BETWEEN 3 AND 7),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 round({{dot_eq_eq}} / (sqrt(e.norm_sq) * sqrt(q.qnorm)), 6)
                   DESC, e.vec_id ASC) AS rn
        FROM n e, q) WHERE rn <= 10),
    assign AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cid AS cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 round({{dot_ec}} / (sqrt(e.norm_sq) * sqrt(c.cnorm)), 6)
                   DESC, c.cid ASC) AS rn
        FROM n e, c) WHERE rn = 1),
    probe AS (
      SELECT qid, cluster FROM (
        SELECT q.qid, c.cid AS cluster,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 round({{dot_cq}} / (sqrt(c.cnorm) * sqrt(q.qnorm)), 6)
                   DESC, c.cid ASC) AS rn
        FROM c, q) WHERE rn <= 2),
    cand AS (SELECT p.qid, a.vec_id
             FROM assign a JOIN probe p ON a.cluster = p.cluster),
    ivf AS (
      SELECT qid, vec_id FROM (
        SELECT cand.qid, cand.vec_id,
               ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
                 round({{dot_eq_eq}} / (sqrt(e.norm_sq) * sqrt(q.qnorm)), 6)
                   DESC, cand.vec_id ASC) AS rn
        FROM cand JOIN n e ON e.vec_id = cand.vec_id
                  JOIN q ON q.qid = cand.qid) WHERE rn <= 10),
    counts AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cand
               FROM cand GROUP BY qid),
    hits AS (SELECT e.qid, CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit
             FROM exact e LEFT JOIN ivf i
               ON e.qid = i.qid AND e.vec_id = i.vec_id
             GROUP BY e.qid)
    SELECT h.qid, counts.n_cand, h.n_hit,
           CAST(h.n_hit * 10 AS BIGINT) AS recall_pct
    FROM hits h JOIN counts USING (qid)
    ORDER BY h.qid
    """.format(
        dot_eq_eq=_DOT_EQ.format(a="e.embedding", b="q.qemb"),
        dot_ec=_DOT_EQ.format(a="e.embedding", b="c.cemb"),
        dot_cq=_DOT_EQ.format(a="c.cemb", b="q.qemb"),
    ),
    tags=("llm", "similarity", "ann", "ivf", "evaluation"),
)
def emb_ivf_recall_probe(spark, sf_dir):
    """Recall@10 of the 2-probe IVF path against exact brute force,
    per query — the evaluation loop every ANN deployment runs before
    trusting the index: five query vectors (vec_id 3–7), each ranked
    exactly over the whole corpus AND through the 8-centroid / 2-probe
    IVF funnel, then scored by overlap.  ``n_cand`` is the candidate
    count the IVF path actually scanned, so each row reads "recall_pct
    recall for n_cand/N of the work" — the accuracy-vs-cost trade
    quantified, same contract as emb_matryoshka_truncation for
    dimension truncation.  All rankings use the rounded cosine with
    vec_id tie-breaks, so the probe is deterministic and the oracle
    replays it bit-for-bit.

    Scale shape: queries broadcast; the corpus is scored map-side
    twice (exact ranking + assignment); the per-qid rank windows
    partition on qid; candidate scoring touches only the probed
    buckets (``_ivf_recall``).  At 100 TB the exact arm runs on a
    SAMPLED query set (as here — 5 probes), never per production
    query."""
    return _ivf_recall(spark, sf_dir, (2,)).select(
        "qid",
        "n_cand",
        "n_hit",
        (F.col("n_hit") * 10).cast("bigint").alias("recall_pct"),
    ).orderBy("qid")


# ---------------------------------------------------------------------------
# Multimodal binary-column plumbing
# ---------------------------------------------------------------------------


@register(
    "multimodal_binary_metadata",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           MIN(md5(text)) AS min_md5,
           MAX(md5(text)) AS max_md5
    FROM documents
    GROUP BY source
    """,
    tags=("llm", "multimodal"),
)
def multimodal_binary_metadata(spark, sf_dir):
    """Opaque-binary column handling: payload bytes + typed metadata
    (length/content hash), aggregated per source — the metadata-only
    access pattern multimodal tables must support without touching
    payload bytes (column pruning does the rest).  The decode stage
    itself is the mapInPandas stub in llm/multimodal.py (tested with
    a deterministic fake kernel)."""
    d = attach_binary(table(spark, sf_dir, "documents"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("meta.byte_len")).cast("bigint").alias("total_bytes"),
        F.min(F.col("meta.content_md5")).alias("min_md5"),
        F.max(F.col("meta.content_md5")).alias("max_md5"),
    )


@register(
    "emb_topk_batch",
    bench=True,
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQ} AS norm_sq FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qemb, norm_sq AS qnorm
          FROM n WHERE vec_id < 5),
    scored AS (
      SELECT q.qid, e.vec_id,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qemb[i] AS DOUBLE)))
                   / (sqrt(e.norm_sq) * sqrt(q.qnorm)), 6) AS cos_sim
      FROM n e, q
      WHERE e.vec_id != q.qid
    ),
    ranked AS (SELECT qid, vec_id, cos_sim,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY cos_sim DESC, vec_id ASC) AS rn
               FROM scored)
    SELECT qid, vec_id, cos_sim, rn FROM ranked WHERE rn <= 3
    """,
    tags=("llm", "similarity", "ann", "batch"),
)
def emb_topk_batch(spark, sf_dir):
    """Batched ANN: top-3 neighbors for each of 5 query vectors in ONE
    plan — broadcast the query block, score map-side, rank with a
    per-query window.  The realistic serving shape (queries arrive in
    batches); brute-force baseline that IVF bucketing accelerates."""
    from pyspark.sql import Window

    n = with_norm(table(spark, sf_dir, "embeddings"))
    q = n.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        F.col("__norm_sq").alias("qnorm"),
    )
    scored = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                dot(
                    F.col("embedding").cast("array<double>"),
                    F.col("qemb").cast("array<double>"),
                )
                / (F.sqrt("__norm_sq") * F.sqrt("qnorm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id", "cos_sim", "rn")
    )


@register(
    "sample_hash_deterministic",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20'
    """,
    tags=("llm", "sampling"),
)
def sample_hash_deterministic(spark, sf_dir):
    """Deterministic ~12.5% dataset subsample by content-stable hash
    (md5 prefix < '20' ≈ 2/16): the reproducible alternative to
    rand()-sampling for training-data pipelines — the same rows are
    selected on any cluster, any partitioning, any engine, and the
    sample composes with incremental data (new rows don't reshuffle
    old membership)."""
    d = table(spark, sf_dir, "documents")
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "20"
    ).select("doc_id", "lang")


@register(
    "sample_stratified",
    oracle="""
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
    tags=("llm", "sampling", "stratified"),
)
def sample_stratified(spark, sf_dir):
    """Stratified deterministic sampling: exactly 20 docs per language,
    chosen by hash order (stable, engine-independent) — the balanced
    subsampling step of a multilingual training mix."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id")
    )


_WPS_K = 120


@register(
    "sample_weighted_priority",
    oracle=f"""
    SELECT doc_id, source, weight, priority FROM (
      SELECT doc_id, source,
             CAST(GREATEST(n_chars, 1) AS BIGINT) AS weight,
             (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) + 1) // GREATEST(n_chars, 1) AS priority
      FROM documents)
    ORDER BY priority, doc_id LIMIT {_WPS_K}
    """,
    tags=("llm", "sampling", "weighted", "priority"),
)
def sample_weighted_priority(spark, sf_dir):
    """Weighted priority sampling (the Duffield–Lund–Thorup scheme
    behind weighted SAMPLE clauses): each document draws a
    deterministic pseudo-uniform 60-bit hash and competes with key
    hash/weight — P(key below any threshold) is LINEAR in the weight,
    so the k smallest keys form a without-replacement sample where
    inclusion probability tracks document length (weight = n_chars).
    Hash-seeded instead of rand(): the same {_WPS_K} docs win on any
    engine, partitioning, or rerun, and membership is stable under
    incremental ingest (new docs compete without reshuffling old
    keys) — the property rand()-based weighted sampling cannot give.

    Scale shape: key computation is map-side; the global top-k
    compiles to TakeOrderedAndProject (per-partition heaps, no full
    sort, no SinglePartition window) — same plan class as
    topk_orders_global."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "source",
            F.greatest(F.col("n_chars"), F.lit(1))
            .cast("bigint")
            .alias("weight"),
            F.expr(
                "(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), "
                "16, 10) AS BIGINT) + 1) div greatest(n_chars, 1)"
            ).alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(_WPS_K)
    )


@register(
    "schema_evolution_union",
    oracle="""
    SELECT event_id, user_id, event_type, value, source_gen
    FROM (
      SELECT event_id, user_id, event_type, value, 'v1' AS source_gen
      FROM events WHERE event_id % 2 = 0
      UNION ALL BY NAME
      SELECT event_id, user_id, event_type, CAST(NULL AS DOUBLE) AS value,
             'v2' AS source_gen
      FROM events WHERE event_id % 2 = 1
    )
    """,
    tags=("setop", "union", "schema-evolution", "cdc"),
)
def schema_evolution_union(spark, sf_dir):
    """Schema-drift union (unionByName allowMissingColumns): micro-
    batches produced before/after an upstream column was added merge
    by NAME with NULL fill — positional UNION would silently
    misalign.  The CDC schema-evolution primitive."""
    e = table(spark, sf_dir, "events")
    v1 = e.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "event_type", "value", F.lit("v1").alias("source_gen")
    )
    # the "old producer" batch lacks the value column entirely
    v2 = e.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "event_type", F.lit("v2").alias("source_gen")
    )
    return v1.unionByName(v2, allowMissingColumns=True)


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    tok4 AS (SELECT doc_id, tok FROM tok WHERE length(tok) >= 4),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok4 GROUP BY 1, 2),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             CAST(floor(CAST(tf AS DOUBLE)
                        * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                        * 100.0 + 0.5) AS BIGINT) AS tfidf_fp
      FROM tf JOIN dfreq USING (tok), n
      WHERE tf.doc_id % 20 = 0
    )
    SELECT doc_id, tok AS term, tfidf_fp FROM (
      SELECT doc_id, tok, tfidf_fp,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf_fp DESC, tok ASC) AS rn
      FROM scored)
    WHERE rn <= 3
    """,
    tags=("llm", "text", "tfidf"),
)
def text_tfidf_top_terms(spark, sf_dir):
    """Corpus-wide TF-IDF, top-3 terms per (sampled) document — the
    canonical training-data signal for keyword extraction / quality
    filtering.  Document frequency aggregates over the FULL corpus
    (map-side partial counts); only the sampled docs rank terms, so
    the window is small.  The idf ln() is quantized to scale-2 fixed
    point BEFORE ranking (transcendentals are not correctly-rounded
    across engines; ranking on the quantized bigint keeps the order
    engine-independent — see registry.fixed_point notes)."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.length("tok") >= 4)
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") % 20 == 0)
        .join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.floor(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
                * 100.0
                + 0.5
            )
            .cast("bigint")
            .alias("tfidf_fp"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_fp"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", F.col("tok").alias("term"), "tfidf_fp")
    )


@register(
    "dedup_lsh_verified",
    oracle=f"""
    WITH {_SH_CTE},
    sig AS (SELECT doc_id,
             {_MINS}
            FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id,
             {_BANDS}
            FROM sig),
    cand AS (
{_BAND_UNION}
    )
    -- similarity as EXACT integer ppm and an exact rational filter:
    -- round(1 - d/L, 6) ties at the 6th decimal (tie probe found one
    -- at sf0.01) and could even flip the >= 0.6 gate across engines
    SELECT da, db, edit_dist, sim_ppm FROM (
      SELECT cand.da, cand.db,
             levenshtein(a.text, b.text) AS edit_dist,
             CAST((greatest(length(a.text), length(b.text), 1)
                   - levenshtein(a.text, b.text)) * 1000000
                  // greatest(length(a.text), length(b.text), 1)
                  AS BIGINT) AS sim_ppm,
             greatest(length(a.text), length(b.text), 1) AS len_l
      FROM cand
      JOIN documents a ON a.doc_id = cand.da
      JOIN documents b ON b.doc_id = cand.db
    ) WHERE (len_l - edit_dist) * 5 >= len_l * 3
    """,
    tags=("llm", "dedup", "lsh", "verify"),
)
def dedup_lsh_verified(spark, sf_dir):
    """The full two-stage fuzzy-dedup pipeline: MinHash+LSH proposes
    candidate pairs (bucket joins, never all-pairs), then an exact
    edit-distance verification confirms them (normalized Levenshtein
    similarity >= 0.6).  The expensive O(len^2) distance runs ONLY on
    the candidate set — |candidates| pairs, not |docs|^2 — which is
    the standard verify-after-LSH contract at 100 TB."""
    d = table(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, k=8)
    cand = lsh_candidate_pairs(
        sigs, bands=4, rows_per_band=2, max_bucket_size=_LSH_MAX_BUCKET
    )
    a = d.select(F.col("doc_id").alias("da"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("db"), F.col("text").alias("tb"))
    dist = F.levenshtein(F.col("ta"), F.col("tb"))
    len_l = F.greatest(F.length("ta"), F.length("tb"), F.lit(1)).cast("bigint")
    return (
        cand.join(a, "da")
        .join(b, "db")
        .select(
            "da",
            "db",
            dist.cast("bigint").alias("edit_dist"),
            len_l.alias("len_l"),
        )
        # exact rational gate: (L - d)/L >= 3/5, no float compare
        .filter((F.col("len_l") - F.col("edit_dist")) * 5 >= F.col("len_l") * 3)
        .select(
            "da",
            "db",
            "edit_dist",
            F.expr("(len_l - edit_dist) * 1000000 div len_l").alias("sim_ppm"),
        )
    )


_BLOOM_Q_BITS = 65536  # benchmark-bloom width (2^16 bits)
_BLOOM_Q_K = 3  # hash functions (md5 hex slices)


def _bloom_pos_sql(h: str, s: int) -> str:
    """Bit position s of hash column ``h``: an 8-hex-digit slice of
    the md5, mod the filter width — both engines parse hex the same
    way (the cdclog oracle's proven '0x'||substr idiom)."""
    return (
        f"CAST('0x' || substr({h}, {1 + 8 * s}, 8) AS BIGINT)"
        f" % {_BLOOM_Q_BITS}"
    )


@register(
    "dedup_bloom_prefilter",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             md5(lower(array_to_string(
               string_split_regex(trim(text), '\\s+')[1:8], ' '))) AS h
      FROM documents
    ),
    bench AS (SELECT doc_id, h FROM d WHERE doc_id % 20 = 0),
    corpus AS (
      SELECT doc_id, h,
             {_bloom_pos_sql('h', 0)} AS p0,
             {_bloom_pos_sql('h', 1)} AS p1,
             {_bloom_pos_sql('h', 2)} AS p2
      FROM d WHERE doc_id % 20 <> 0
    ),
    bits AS (
      SELECT DISTINCT bit FROM (
        SELECT {_bloom_pos_sql('h', 0)} AS bit FROM bench
        UNION ALL SELECT {_bloom_pos_sql('h', 1)} FROM bench
        UNION ALL SELECT {_bloom_pos_sql('h', 2)} FROM bench
      )
    ),
    flagged AS (
      SELECT doc_id,
             CAST(p0 IN (SELECT bit FROM bits)
              AND p1 IN (SELECT bit FROM bits)
              AND p2 IN (SELECT bit FROM bits) AS INT) AS is_cand,
             CAST(h IN (SELECT h FROM bench) AS INT) AS is_exact
      FROM corpus
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
           (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) FROM bench)
             AS n_bench_distinct,
           CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
           CAST(SUM(is_exact) AS BIGINT) AS n_exact,
           CAST(SUM(is_cand) - SUM(is_exact) AS BIGINT) AS n_false_pos,
           CAST((SUM(is_cand) - SUM(is_exact)) * 1000000
                // GREATEST(COUNT(*) - SUM(is_exact), 1) AS BIGINT)
             AS fp_ppm,
           bit_xor(CASE WHEN is_exact = 1 THEN doc_id ELSE 0 END)
             AS exact_ids_xor
    FROM flagged
    """,
    tags=("llm", "dedup", "bloom", "decontamination", "O-scale"),
)
def dedup_bloom_prefilter(spark, sf_dir):
    """Cross-dataset decontamination by BLOOM PREFILTER — the shape a
    100 TB crawl uses to drop benchmark/eval-set leakage without ever
    joining corpus×benchmark: the held-out set (doc_id % 20 = 0 here)
    folds its opening-8-token fingerprints into one fixed-width bloom
    (2^16 bits, k=3 md5-slice hashes — a CONSTANT-size broadcast no
    matter how large the benchmark grows), every corpus document
    probes the broadcast bitset map-side, and only the bloom's
    candidates pay the exact-hash verification join.  The output
    audits the filter itself: candidate/exact counts, the
    false-positive count and ppm rate (bloom guarantees zero false
    NEGATIVES — n_exact ≤ n_candidates by construction, which the
    hash match proves on both engines), and an XOR digest pinning the
    exact contaminated id set.  Mirrors the manifest bloom filters
    the snapshot sink maintains per bucket (streaming/pipeline.py),
    but as a pure declarative plan: three broadcast semi-probes + one
    aggregation, no shuffle wider than |bits|."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.lower(F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 8)))
        ).alias("h"),
    )

    def pos(s):
        return (
            F.conv(F.substring("h", 1 + 8 * s, 8), 16, 10).cast("bigint")
            % _BLOOM_Q_BITS
        )

    bench = d.filter(F.col("doc_id") % 20 == 0)
    corpus = d.filter(F.col("doc_id") % 20 != 0).select(
        "doc_id",
        "h",
        *[pos(s).alias(f"p{s}") for s in range(_BLOOM_Q_K)],
    )
    bits = (
        bench.select(
            F.explode(F.array(*[pos(s) for s in range(_BLOOM_Q_K)])).alias(
                "bit"
            )
        )
        .distinct()
    )
    bench_hashes = bench.select("h").distinct()
    n_bench = bench_hashes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bench_distinct")
    )
    flagged = corpus
    for s in range(_BLOOM_Q_K):
        flagged = flagged.join(
            F.broadcast(bits.select(F.col("bit").alias(f"__b{s}"))),
            F.col(f"p{s}") == F.col(f"__b{s}"),
            "left",
        )
    flagged = flagged.join(
        F.broadcast(bench_hashes.select(F.col("h").alias("__bh"))),
        F.col("h") == F.col("__bh"),
        "left",
    ).select(
        "doc_id",
        F.when(
            F.col("__b0").isNotNull()
            & F.col("__b1").isNotNull()
            & F.col("__b2").isNotNull(),
            1,
        )
        .otherwise(0)
        .alias("is_cand"),
        F.when(F.col("__bh").isNotNull(), 1).otherwise(0).alias("is_exact"),
    )
    return (
        flagged.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_corpus"),
            F.sum("is_cand").cast("bigint").alias("n_candidates"),
            F.sum("is_exact").cast("bigint").alias("n_exact"),
            F.expr(
                "bit_xor(CASE WHEN is_exact = 1 THEN doc_id ELSE 0 END)"
            ).alias("exact_ids_xor"),
        )
        .crossJoin(F.broadcast(n_bench))
        .select(
            "n_corpus",
            "n_bench_distinct",
            "n_candidates",
            "n_exact",
            (F.col("n_candidates") - F.col("n_exact"))
            .cast("bigint")
            .alias("n_false_pos"),
            # DECIMAL(38,0) multiply: candidate counts * 1e6 pass
            # int64 around 1e13 corpus rows (the oracle side is
            # HUGEINT-exact already)
            F.expr(
                "CAST(CAST(n_candidates - n_exact AS DECIMAL(38,0))"
                " * 1000000 div greatest(n_corpus - n_exact, 1)"
                " AS BIGINT)"
            ).alias("fp_ppm"),
            "exact_ids_xor",
        )
    )


def _kmeans_iter_sql(n_cte: str, cin: str, tag: str) -> str:
    """One Lloyd iteration in DuckDB CTEs: assign vectors to ``cin``
    centroids, then exact fixed-point per-dimension means → ``m{tag}``
    (cid, cemb, cnorm).  Mirrors llm/similarity.py:kmeans_refine."""
    return f"""
    s{tag} AS (
      SELECT e.vec_id, c.cid,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> CAST(e.embedding[i] AS DOUBLE) * c.cemb[i]))
                   / (sqrt(e.norm_sq) * sqrt(c.cnorm)), 6) AS cs
      FROM {n_cte} e, {cin} c),
    a{tag} AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid ASC) AS rn
        FROM s{tag}) WHERE rn = 1),
    ex{tag} AS (
      SELECT a.cluster, e.embedding,
             unnest(generate_series(1, 64)) AS pos
      FROM a{tag} a JOIN {n_cte} e ON a.vec_id = e.vec_id),
    mv{tag} AS (
      SELECT cluster, pos,
             CAST(SUM(CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1000000.0 + 0.5)
                           AS BIGINT)) AS DOUBLE) / 1000000.0
               / CAST(COUNT(*) AS DOUBLE) AS mval
      FROM ex{tag} GROUP BY 1, 2),
    m{tag} AS (
      SELECT cluster AS cid,
             list(mval ORDER BY pos) AS cemb,
             list_sum(list_transform(list(mval ORDER BY pos), x -> x * x)) AS cnorm
      FROM mv{tag} GROUP BY cluster)
    """


@register(
    "emb_kmeans_refine",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQ} AS norm_sq FROM embeddings),
    c0 AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb,
             norm_sq AS cnorm
      FROM n WHERE vec_id < 8),
    {_kmeans_iter_sql('n', 'c0', '1')},
    {_kmeans_iter_sql('n', 'm1', '2')},
    sF AS (
      SELECT e.vec_id, c.cid,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> CAST(e.embedding[i] AS DOUBLE) * c.cemb[i]))
                   / (sqrt(e.norm_sq) * sqrt(c.cnorm)), 6) AS cs
      FROM n e, m2 c),
    aF AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid ASC) AS rn
        FROM sF) WHERE rn = 1)
    SELECT a.cluster,
           COUNT(*) AS n_assigned,
           CAST(floor(m.cnorm * 10000.0 + 0.5) AS BIGINT) AS norm_fp
    FROM aF a JOIN m2 m ON a.cluster = m.cid
    GROUP BY a.cluster, m.cnorm
    """,
    tags=("llm", "similarity", "kmeans", "iterative"),
)
def emb_kmeans_refine(spark, sf_dir):
    """TWO Lloyd iterations of k-means over the embedding corpus
    (seeds: vec_id < 8), then final bucket sizes + quantized centroid
    norms.  Iterative algorithms are usually excluded from exact
    oracles; this one is oracle-checked bit-for-bit because every
    per-dimension mean is an exact bigint fixed-point sum (order- and
    partition-independent) divided as doubles — the same determinism
    contract as the engine's dsum/davg aggregates."""
    from lakehouse_cdc_spark.llm.similarity import kmeans_refine, l2_norm_sq

    emb = table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    cents = kmeans_refine(emb, seeds, iterations=2)
    norms = cents.select(
        F.col("cid").alias("cluster"),
        F.floor(l2_norm_sq(F.col("cemb")) * 10000.0 + 0.5)
        .cast("bigint")
        .alias("norm_fp"),
    )
    return (
        ivf_assign(emb, cents)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
        .join(norms, "cluster")
    )


@register(
    "text_chunk_windows",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE doc_id % 50 = 0
    ),
    sized AS (
      SELECT doc_id, t,
             greatest(CAST(ceil((len(t) - 50) / 25.0) AS INT) + 1, 1) AS n_chunks
      FROM toks
    ),
    idx AS (
      SELECT doc_id, t,
             unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM sized
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(t[chunk_idx * 25 + 1 : chunk_idx * 25 + 50]) AS INT)
             AS n_chunk_tokens,
           md5(array_to_string(t[chunk_idx * 25 + 1 : chunk_idx * 25 + 50], ' '))
             AS chunk_md5
    FROM idx
    """,
    tags=("llm", "text", "chunking"),
)
def text_chunk_windows(spark, sf_dir):
    """Context-window chunking (sampled docs): 50-token windows with
    stride 25 — the step that turns documents into training sequences.
    Chunk construction is pure higher-order expressions
    (sequence→slice→array_join) fanned out by posexplode on the
    executors; chunk identity is the md5 of the chunk text, so the
    oracle proves the exact window boundaries, not just counts."""
    from lakehouse_cdc_spark.llm.text import chunk_windows

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    chunks = d.select(
        "doc_id",
        F.posexplode(chunk_windows(F.col("text"), size=50, stride=25)).alias(
            "chunk_idx", "chunk"
        ),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int"),
        F.size(F.split(F.col("chunk"), r"\s+")).cast("int").alias("n_chunk_tokens"),
        F.md5("chunk").alias("chunk_md5"),
    )


@register(
    "text_chunk_udtf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE doc_id % 50 = 0
    ),
    sized AS (
      SELECT doc_id, t,
             greatest(CAST(ceil((len(t) - 50) / 25.0) AS INT) + 1, 1) AS n_chunks
      FROM toks
    ),
    idx AS (
      SELECT doc_id, t,
             unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM sized
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(t[chunk_idx * 25 + 1 : chunk_idx * 25 + 50]) AS INT)
             AS n_chunk_tokens,
           md5(array_to_string(t[chunk_idx * 25 + 1 : chunk_idx * 25 + 50], ' '))
             AS chunk_md5
    FROM idx
    """,
    tags=("llm", "text", "chunking", "udtf", "python"),
)
def text_chunk_udtf(spark, sf_dir):
    """The SAME chunking contract as text_chunk_windows, served
    through Spark 4's Python **user-defined table function** surface:
    one text row in, n chunk rows out via SQL ``LATERAL``,
    Arrow-optimized (plan shows ArrowEvalPythonUDTF — batched
    transfer, not row-at-a-time).  Identical oracle as
    text_chunk_windows, so the two implementations are proven
    interchangeable — the expression path stays the default (JVM-side,
    codegen), and this is the measured escape hatch a tokenizer-aware
    or sentence-boundary chunker would extend (swap the eval body,
    keep the query shape).  Completes the Python API surface next to
    the custom data source (source_python_cdclog_*) and the Pandas-UDF
    kernels (multimodal/ANN)."""
    from lakehouse_cdc_spark.llm.udtf_chunker import register_chunker

    name = register_chunker(spark)
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    d.select("doc_id", "text").createOrReplaceTempView("__udtf_chunk_docs")
    chunks = spark.sql(
        f"SELECT t.doc_id, c.chunk_idx, c.chunk "
        f"FROM __udtf_chunk_docs t, LATERAL {name}(t.text, 50, 25) c"
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int"),
        F.size(F.split(F.col("chunk"), r"\s+")).cast("int").alias("n_chunk_tokens"),
        F.md5("chunk").alias("chunk_md5"),
    )


@register(
    "multimodal_decode_fake",
    oracle="""
    SELECT doc_id,
           CAST(16 + octet_length(encode(text)) % 64 AS INT) AS width,
           CAST(16 + (octet_length(encode(text)) // 64) % 64 AS INT) AS height,
           CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 1
                     ELSE 1 + CAST('0x' || substr(hex(encode(text)), 1, 2) AS INT) % 3
                END AS INT) AS channels
    FROM documents WHERE doc_id % 25 = 0
    """,
    tags=("llm", "multimodal", "pandas-udf"),
)
def multimodal_decode_fake(spark, sf_dir):
    """The Arrow mapInPandas boundary ON the oracle surface: the
    deterministic test kernel (dimensions derived from payload bytes —
    llm/multimodal.py:decode_image_meta) runs as a real Pandas batch
    stage, and DuckDB reproduces it from the same bytes.  Proves the
    Python boundary end-to-end: schema, Arrow round-trip, batch
    semantics — not just 'it runs'.  In production the kernel body is
    the codec call; everything this query checks stays identical."""
    d = attach_binary(
        table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    )
    from lakehouse_cdc_spark.llm.multimodal import decode_image_meta

    return decode_image_meta(d, fake=True)


@register(
    "multimodal_decode_real",
    oracle="""
    SELECT d.doc_id,
           CAST(4 + d.doc_id % 13 AS INT) AS width,
           CAST(4 + (d.doc_id * 7) % 11 AS INT) AS height,
           CAST(CASE WHEN d.doc_id % 4 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
           CAST(SUM((d.doc_id + 3 * x.x + 5 * y.y + 11 * c.c) % 256) AS BIGINT)
             AS px_sum,
           CAST(SUM((1 + x.x) * (1 + 2 * y.y)
                    * ((d.doc_id + 3 * x.x + 5 * y.y + 11 * c.c) % 256)) AS BIGINT)
             AS px_wsum
    FROM documents d, range(0, 16) x(x), range(0, 14) y(y), range(0, 3) c(c)
    WHERE x.x < 4 + d.doc_id % 13
      AND y.y < 4 + (d.doc_id * 7) % 11
      AND c.c < CASE WHEN d.doc_id % 4 = 0 THEN 1 ELSE 3 END
    GROUP BY d.doc_id
    """,
    tags=("llm", "multimodal", "pandas-udf"),
)
def multimodal_decode_real(spark, sf_dir):
    """REAL image decode on the oracle surface, zero external deps:
    every document gets an actual BMP file (proper headers, palette,
    4-byte row padding, bottom-up rows — llm/multimodal.py:bmp_bytes),
    and decode_bmp_stats parses the bytes back with numpy and reduces
    them to exact integer pixel statistics.  The fixture pixels are
    closed-form, so DuckDB reproduces the DECODED output without any
    codec — but the Spark stage only ever sees honest bytes: get the
    padding, row order, palette, or header offsets wrong and px_wsum
    (orientation-weighted) breaks the hash.  Replaces round-2's
    NotImplementedError production stub."""
    from lakehouse_cdc_spark.llm.multimodal import (
        decode_bmp_stats,
        encode_bmp_fixture,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return decode_bmp_stats(encode_bmp_fixture(docs))


@register(
    "multimodal_decode_wav",
    oracle="""
    SELECT d.doc_id,
           CAST(64 + d.doc_id % 129 AS INT) AS n_frames,
           CAST(1 + d.doc_id % 2 AS INT) AS channels,
           CAST(8000 + (d.doc_id % 3) * 4000 AS INT) AS sample_rate,
           CAST(SUM(abs((d.doc_id * 31 + i.i * 17 + c.c * 101) % 4096 - 2048))
                AS BIGINT) AS amp_sum_abs,
           CAST(SUM(((d.doc_id * 31 + i.i * 17 + c.c * 101) % 4096 - 2048)
                    * ((d.doc_id * 31 + i.i * 17 + c.c * 101) % 4096 - 2048))
                AS BIGINT) AS amp_sumsq,
           CAST(MAX((d.doc_id * 31 + i.i * 17 + c.c * 101) % 4096 - 2048)
                AS INT) AS amp_max
    FROM documents d, range(0, 193) i(i), range(0, 2) c(c)
    WHERE i.i < 64 + d.doc_id % 129
      AND c.c < 1 + d.doc_id % 2
    GROUP BY d.doc_id
    """,
    tags=("llm", "multimodal", "audio", "pandas-udf"),
)
def multimodal_decode_wav(spark, sf_dir):
    """REAL audio decode on the oracle surface, zero external deps —
    the WAV twin of multimodal_decode_real: every document gets an
    actual RIFF/WAVE PCM16 file (canonical fmt chunk, interleaved
    little-endian frames — llm/multimodal.py:wav_bytes) and
    decode_wav_stats walks the chunk list back with numpy, reducing
    each clip to exact integer amplitude statistics.  The fixture
    samples are closed-form, so DuckDB reproduces the DECODED output
    with no audio library — while the Spark stage only sees honest
    bytes: a wrong chunk offset, endianness, or channel interleave
    breaks amp_sumsq.  Same 100 TB shape as the image path: encode and
    decode are both Arrow-batched mapInPandas, partition-parallel, no
    driver involvement."""
    from lakehouse_cdc_spark.llm.multimodal import (
        decode_wav_stats,
        encode_wav_fixture,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return decode_wav_stats(encode_wav_fixture(docs))


@register(
    "multimodal_resize_thumbnail",
    oracle="""
    SELECT d.doc_id,
           CAST(4 AS INT) AS out_w, CAST(4 AS INT) AS out_h,
           CAST(SUM((d.doc_id + 3 * ((x.x * (4 + d.doc_id % 13)) // 4)
                     + 5 * ((y.y * (4 + (d.doc_id * 7) % 11)) // 4)) % 256)
                AS BIGINT) AS px_sum_resized,
           CAST(d.doc_id % 256 AS INT) AS top_left,
           CAST((d.doc_id + 3 * ((3 * (4 + d.doc_id % 13)) // 4)
                 + 5 * ((3 * (4 + (d.doc_id * 7) % 11)) // 4)) % 256
                AS INT) AS bottom_right
    FROM documents d, range(0, 4) x(x), range(0, 4) y(y)
    GROUP BY d.doc_id
    """,
    tags=("llm", "multimodal", "resize", "pandas-udf"),
)
def multimodal_resize_thumbnail(spark, sf_dir):
    """REAL image resize on the oracle surface: every document's BMP
    is decoded and nearest-neighbor-downscaled to a 4x4 channel-0
    thumbnail inside mapInPandas (llm/multimodal.py:resize_bmp_stats)
    — integer source-coordinate selection, so the thumbnail is exact
    and DuckDB reproduces it from the closed-form pixel function with
    no codec.  Wrong floor math in the gather shifts which pixels
    survive and breaks px_sum_resized.  Same 100 TB shape as decode:
    Arrow-batched, partition-parallel, payload bytes never leave the
    executor."""
    from lakehouse_cdc_spark.llm.multimodal import (
        encode_bmp_fixture,
        resize_bmp_stats,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return resize_bmp_stats(encode_bmp_fixture(docs))


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH seeds AS (
      SELECT d.doc_id, 6 + d.doc_id % 5 AS n, f.f,
             d.doc_id * 31 + f.f AS s
      FROM documents d, range(0, 10) f(f)
      WHERE f.f < 6 + d.doc_id % 5 AND f.f % 2 = 0
    ),
    frame_sums AS (
      SELECT sd.doc_id, sd.n, sd.f,
             SUM((sd.s + 3 * x.x + 5 * y.y + 11 * c.c) % 256) AS fsum
      FROM seeds sd, range(0, 16) x(x), range(0, 14) y(y), range(0, 3) c(c)
      WHERE x.x < 4 + sd.s % 13
        AND y.y < 4 + (sd.s * 7) % 11
        AND c.c < CASE WHEN sd.s % 4 = 0 THEN 1 ELSE 3 END
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, CAST(MAX(n) AS INT) AS n_frames,
           CAST(COUNT(*) AS INT) AS n_sampled,
           CAST(SUM(fsum) AS BIGINT) AS sampled_px_sum
    FROM frame_sums
    GROUP BY doc_id
    """,
    tags=("llm", "multimodal", "video", "frame-sample", "pandas-udf"),
)
def multimodal_frame_sample(spark, sf_dir):
    """REAL frame sampling over a multi-frame container: each document
    gets a length-prefixed video of 6-10 real BMP frames
    (llm/multimodal.py:video_bytes) and the sampler walks the frame
    index decoding ONLY every 2nd frame — the skip is structural
    (skipped frames' bytes are never parsed), which is the whole cost
    model of video-pipeline frame sampling.  Frame seeds are
    closed-form, so the oracle reproduces the sampled-frame pixel sums
    with no codec; a mis-stepped frame offset or a decode of the wrong
    frame subset breaks sampled_px_sum.  Arrow-batched mapInPandas,
    no driver involvement."""
    from lakehouse_cdc_spark.llm.multimodal import (
        encode_video_fixture,
        sample_video_frames,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return sample_video_frames(encode_video_fixture(docs))


@register(
    "multimodal_ahash_signatures",
    bench=True,
    oracle="""
    WITH cells AS (
      SELECT d.doc_id, y.y, x.x,
             (d.doc_id + 3 * ((x.x * (4 + d.doc_id % 13)) // 8)
              + 5 * ((y.y * (4 + (d.doc_id * 7) % 11)) // 8)) % 256 AS v
      FROM documents d, range(0, 8) x(x), range(0, 8) y(y)
    ),
    means AS (
      SELECT doc_id, SUM(v) // 64 AS mean_floor FROM cells GROUP BY doc_id
    ),
    sigs AS (
      SELECT c.doc_id,
             bit_or(CASE WHEN c.v <= m.mean_floor THEN 0
                         -- bit 63 is the sign bit: DuckDB rejects the
                         -- overflowing shift, so state it as min-bigint
                         WHEN c.y * 8 + c.x = 63
                           THEN CAST(-9223372036854775808 AS BIGINT)
                         ELSE CAST(1 AS BIGINT) << CAST(c.y * 8 + c.x AS INT)
                         END) AS ahash
      FROM cells c JOIN means m ON c.doc_id = m.doc_id
      GROUP BY c.doc_id
    )
    SELECT doc_id, ahash FROM sigs ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "dedup", "phash", "pandas-udf"),
)
def multimodal_ahash_signatures(spark, sf_dir):
    """Perceptual image signatures (average hash): every document's
    BMP decodes, downsamples to 8x8, and thresholds against the
    integer floor-mean into a packed 64-bit signature — the
    content-based image-dedup primitive (equal or near-equal hashes =
    visually duplicate candidates), connecting the multimodal family
    to the dedup family.  Bit packing uses two's-complement bigint
    semantics both engines share; the oracle rebuilds every cell from
    the closed-form pixels, so one wrong gather coordinate or a
    mean-rounding difference flips bits and breaks the hash.  Same
    Arrow-batched shape as the other decode stages; at 100 TB the
    64-bit signature REPLACES the image in every downstream dedup
    shuffle."""
    from lakehouse_cdc_spark.llm.multimodal import (
        ahash_bmp,
        encode_bmp_fixture,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return ahash_bmp(encode_bmp_fixture(docs)).orderBy("doc_id")


@register(
    "multimodal_audio_fingerprint",
    oracle="""
    WITH frames AS (
      -- channel-0 sample i of doc: ((doc*31 + i*17) % 4096) - 2048
      SELECT d.doc_id,
             (64 + d.doc_id % 129) // 16 AS nb,
             i.i // 16 AS block,
             ((d.doc_id * 31 + i.i * 17) % 4096 - 2048) AS s
      FROM documents d, range(0, 193) i(i)
      WHERE i.i < ((64 + d.doc_id % 129) // 16) * 16
    ),
    energy AS (
      SELECT doc_id, nb, block, SUM(s * s) AS e
      FROM frames GROUP BY doc_id, nb, block
    ),
    deltas AS (
      SELECT doc_id, nb, block,
             e > LAG(e) OVER (PARTITION BY doc_id ORDER BY block) AS up
      FROM energy
    )
    SELECT doc_id, CAST(MAX(nb) AS INT) AS n_blocks,
           CAST(COALESCE(SUM(CASE WHEN up THEN
                 CAST(1 AS BIGINT) << CAST(block - 1 AS INT) ELSE 0 END), 0)
                AS BIGINT) AS audio_fp
    FROM deltas
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "audio", "fingerprint", "pandas-udf"),
)
def multimodal_audio_fingerprint(spark, sf_dir):
    """Audio perceptual fingerprints — the WAV twin of the image
    aHash: real RIFF decode, channel-0 energy per 16-frame block, one
    signature bit per consecutive-block energy INCREASE
    (loudness-invariant, like every production audio fingerprint).
    The oracle rebuilds block energies from the closed-form samples
    and replays the delta bits with a lag() window — a wrong channel
    de-interleave or block boundary breaks the signature.  With <= 12
    blocks per fixture clip the signature fits well under the sign
    bit.  Arrow-batched mapInPandas; at 100 TB the fingerprint
    replaces the clip in dedup/retrieval shuffles exactly as the
    image hash does."""
    from lakehouse_cdc_spark.llm.multimodal import (
        audio_fingerprint,
        encode_wav_fixture,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return audio_fingerprint(encode_wav_fixture(docs)).orderBy("doc_id")


@register(
    "multimodal_scene_cuts",
    oracle="""
    WITH grids AS (
      -- 8x8 channel-0 grid cell of frame f (seed s = doc*31 + f):
      -- v = (s + 3*((x*w)//8) + 5*((y*h)//8)) % 256
      SELECT d.doc_id, 6 + d.doc_id % 5 AS n, f.f, y.y, x.x,
             ((d.doc_id * 31 + f.f)
              + 3 * ((x.x * (4 + (d.doc_id * 31 + f.f) % 13)) // 8)
              + 5 * ((y.y * (4 + ((d.doc_id * 31 + f.f) * 7) % 11)) // 8))
               % 256 AS v
      FROM documents d, range(0, 10) f(f), range(0, 8) x(x), range(0, 8) y(y)
      WHERE f.f < 6 + d.doc_id % 5
    ),
    diffs AS (
      SELECT a.doc_id, a.n, a.f,
             SUM(abs(b.v - a.v)) AS d1
      FROM grids a
      JOIN grids b ON b.doc_id = a.doc_id AND b.f = a.f + 1
                  AND b.y = a.y AND b.x = a.x
      GROUP BY a.doc_id, a.n, a.f
    )
    SELECT doc_id, CAST(MAX(n) AS INT) AS n_frames,
           CAST(COUNT(*) FILTER (WHERE d1 > 3000) AS INT) AS n_cuts,
           CAST(MAX(d1) AS BIGINT) AS max_frame_diff
    FROM diffs
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "video", "scene-cut", "pandas-udf"),
)
def multimodal_scene_cuts(spark, sf_dir):
    """Shot-boundary detection over the real multi-frame container:
    consecutive frames reduce to the SAME 8x8 grid the image hash
    uses (making different native geometries comparable) and a cut is
    an L1 grid distance above threshold — the primitive video
    curation uses to pick representative frames before captioning.
    The oracle rebuilds every grid cell closed-form and replays the
    consecutive-frame self-join; decoder-side the cut count breaks if
    any frame offset, gather coordinate, or abs-diff is wrong.
    Arrow-batched mapInPandas, one row out per clip."""
    from lakehouse_cdc_spark.llm.multimodal import (
        detect_scene_cuts,
        encode_video_fixture,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return detect_scene_cuts(encode_video_fixture(docs)).orderBy("doc_id")


@register(
    "llm_curation_pipeline",
    oracle=f"""
    WITH deduped AS (
      SELECT * FROM documents
      QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id ASC) = 1
    ),
    scored AS (
      SELECT doc_id, source, text,
           {_LANG_SCORES},
           {_Q_NTOK} AS ntok,
           round(0.4 * least({_Q_NTOK} / 100.0, 1.0)
               + 0.4 * least(CAST({_Q_STOP} AS DOUBLE)
                             / greatest({_Q_NTOK}, 1.0) * 5.0, 1.0)
               + 0.2 * (1.0 - least(({_Q_PUNCT} / greatest(CAST(length(text) AS DOUBLE), 1.0)
                                    + {_Q_DIGIT} / greatest(CAST(length(text) AS DOUBLE), 1.0))
                                    * 5.0, 1.0)),
               6) AS quality
      FROM deduped
    ),
    kept AS (
      SELECT doc_id, source, ntok FROM scored
      WHERE (CASE WHEN {_ALL_ZERO} THEN 'und'
             {_LANG_CASE_ARMS}
             ELSE 'und' END) = 'en'
        AND quality >= 0.5
        AND ntok BETWEEN 5 AND 10000
    )
    SELECT source,
           COUNT(*) AS n_kept,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           bit_xor(doc_id) AS kept_ids_xor
    FROM kept
    GROUP BY source
    """,
    bench=True,
    tags=("llm", "pipeline", "curation"),
)
def llm_curation_pipeline(spark, sf_dir):
    """The END-TO-END training-set curation pass, composed from the
    individually-proven stages: exact dedup (keep lowest id per
    content hash) → language filter (predicted 'en') → quality gate
    (≥ 0.5) → length gate (5..10k tokens) → per-source manifest with
    an XOR membership digest, so the oracle proves the exact KEPT SET,
    not just its size.  One declarative plan: Catalyst fuses all four
    stages into the scan (no intermediate materialization) — the shape
    a 100 TB curation job should take."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy(F.asc("doc_id"))
    deduped = (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    ntok = token_count(F.col("text"))
    kept = deduped.filter(
        (predicted_lang(F.col("text")) == "en")
        & (quality_score(F.col("text")) >= 0.5)
        & ntok.between(5, 10000)
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(ntok).cast("bigint").alias("total_tokens"),
        F.expr("bit_xor(doc_id)").alias("kept_ids_xor"),
    )


_PACK_CAP = 512  # tokens per packed training example


@register(
    "llm_sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS ntok
      FROM documents
    ),
    packed AS (
      SELECT doc_id, ntok,
             CAST((SUM(ntok) OVER (ORDER BY doc_id) - ntok) // {_PACK_CAP}
               AS BIGINT) AS example_id
      FROM toks
    ),
    examples AS (
      SELECT example_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS tokens,
             CAST(MIN(doc_id) AS BIGINT) AS first_doc,
             CAST(MAX(doc_id) AS BIGINT) AS last_doc
      FROM packed GROUP BY example_id
    )
    -- fill as an EXACT integer permille (tokens*1000 div cap): a
    -- rounded double here ties at the 6th decimal whenever
    -- tokens mod 8 == 4 (cap is a power of two), and DuckDB versions
    -- disagree on half-ties — keep doubles off the oracle surface
    SELECT example_id, n_docs, tokens, first_doc, last_doc,
           CAST(tokens * 1000 // {_PACK_CAP} AS BIGINT) AS fill_permille
    FROM examples
    ORDER BY example_id
    LIMIT 50
    """,
    tags=("llm", "packing", "training-prep", "A4-scale"),
)
def llm_sequence_packing(spark, sf_dir):
    """Sequence packing — the final data-prep step before LLM
    training: documents are concatenated into fixed-capacity examples
    (512 tokens here) so attention compute is never spent on padding.
    A document joins the example its CUMULATIVE token count before it
    falls into, preserving corpus order (which the curation stages
    upstream already made deterministic).  The cumsum is the two-pass
    distributed prefix sum (operators/prefix.py): doc_id range-bucket →
    per-bucket window cumsum → per-bucket totals (one tiny row each)
    combined over strictly-lower buckets by broadcast — NO
    unpartitioned global window, so no SinglePartition straggler at
    any scale (at 100 TB the doc-stats table this runs over is two
    ints per doc and would be materialized once).  Documents longer
    than the capacity overflow their example (fill_permille > 1000) —
    the signal that they need chunking (text_chunk_windows) first.
    Exact integer token counts and an integer permille fill metric;
    example boundaries identical in both engines."""
    from pyspark.sql import Window

    from lakehouse_cdc_spark.llm.text import tokens
    from lakehouse_cdc_spark.operators.prefix import (
        lower_bucket_agg,
        with_range_bucket,
    )

    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("ntok")
    )
    b = with_range_bucket(toks, "doc_id", 64)
    offsets = lower_bucket_agg(
        b.groupBy("__bkt").agg(F.sum("ntok").alias("__tot")),
        "__bkt",
        "__tot",
        "__off",
    )
    w = Window.partitionBy("__bkt").orderBy("doc_id")
    packed = (
        b.join(F.broadcast(offsets), "__bkt")
        .withColumn(
            "example_id",
            (
                (F.sum("ntok").over(w) + F.col("__off") - F.col("ntok"))
                / _PACK_CAP
            ).cast("bigint"),
        )
    )
    return (
        packed.groupBy("example_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            "example_id",
            "n_docs",
            "tokens",
            "first_doc",
            "last_doc",
            F.expr(f"tokens * 1000 div {_PACK_CAP}").alias("fill_permille"),
        )
        .orderBy("example_id")
        .limit(50)
    )


@register(
    "sample_deterministic_shuffle",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
      FROM documents
    ),
    adj AS (
      SELECT source,
             LEAD(source) OVER (ORDER BY pos) AS next_source
      FROM ranked
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (WHERE source = next_source) AS BIGINT)
             AS same_source_adjacent,
           (SELECT bit_xor(doc_id * pos) FROM ranked) AS order_digest
    FROM adj WHERE next_source IS NOT NULL
    """,
    tags=("llm", "shuffle", "training-prep", "O-scale"),
)
def sample_deterministic_shuffle(spark, sf_dir):
    """Deterministic global training shuffle: examples ordered by
    md5(doc_id) — a content-derived permutation that is identical on
    any cluster, any partitioning, any rerun (the reproducibility
    contract training-data orders need; a rand() shuffle is neither
    auditable nor resumable).  The emitted row audits the shuffle:
    the adjacent same-source rate should sit near sum(p_i^2) if
    sources are well interleaved (curriculum clumping shows up here),
    and order_digest = XOR of doc_id*position pins the ENTIRE
    permutation — any engine or partitioning that disagrees about a
    single position breaks it.  Positions come from the two-pass
    distributed rank (operators/prefix.py): the first md5 byte is a
    deterministic 256-way bucket that is a PREFIX of the (md5, doc_id)
    sort order, so pos = within-bucket row_number + broadcast count of
    strictly-lower buckets — no unpartitioned global window, no
    SinglePartition exchange.  Adjacency is a pos+1 equi self-join
    (one hash shuffle) instead of a global lead() window; the audit
    columns are unchanged."""
    from pyspark.sql import Window

    from lakehouse_cdc_spark.operators.prefix import lower_bucket_agg

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("__h")
    ).withColumn(
        "__bkt", F.conv(F.substring("__h", 1, 2), 16, 10).cast("int")
    )
    offsets = lower_bucket_agg(
        d.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__cnt")),
        "__bkt",
        "__cnt",
        "__off",
    )
    ranked = d.join(F.broadcast(offsets), "__bkt").select(
        "doc_id",
        "source",
        (
            F.row_number().over(
                Window.partitionBy("__bkt").orderBy("__h", "doc_id")
            )
            + F.col("__off")
        ).cast("int").alias("pos"),
    )
    nxt = ranked.select(
        (F.col("pos") - 1).alias("__prev_pos"),
        F.col("source").alias("next_source"),
    )
    pairs = ranked.join(nxt, F.col("pos") == F.col("__prev_pos"), "inner")
    digest = ranked.agg(
        F.expr("bit_xor(doc_id * pos)").alias("order_digest")
    )
    return (
        pairs.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count(F.when(F.col("source") == F.col("next_source"), 1)).alias(
                "same_source_adjacent"
            ),
        )
        .crossJoin(F.broadcast(digest))
    )


@register(
    "llm_dataset_card",
    oracle=f"""
    WITH scored AS (
      SELECT source, doc_id, text, n_chars,
             md5(text) AS h,
             {_Q_NTOK} AS ntok,
             {_LANG_SCORES},
             round(0.4 * least({_Q_NTOK} / 100.0, 1.0)
                 + 0.4 * least(CAST({_Q_STOP} AS DOUBLE)
                               / greatest({_Q_NTOK}, 1.0) * 5.0, 1.0)
                 + 0.2 * (1.0 - least(({_Q_PUNCT} / greatest(CAST(length(text) AS DOUBLE), 1.0)
                                      + {_Q_DIGIT} / greatest(CAST(length(text) AS DOUBLE), 1.0))
                                      * 5.0, 1.0)),
                 6) AS quality
      FROM documents
    ),
    langed AS (
      SELECT *,
             CASE WHEN {_ALL_ZERO} THEN 'und'
             {_LANG_CASE_ARMS}
             ELSE 'und' END AS plang
      FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
           CAST(COUNT(*) FILTER (WHERE plang = 'en') AS BIGINT) AS n_english,
           CAST(COUNT(*) FILTER (WHERE quality >= 0.5) AS BIGINT) AS n_quality_ok,
           CAST(SUM(CAST(floor(quality * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS quality_sum_ppm
    FROM langed
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm", "dataset-card", "profiling", "curation"),
)
def llm_dataset_card(spark, sf_dir):
    """The dataset card in one query: per-source doc/token/char
    volumes, exact-duplicate count, English share, quality-gate pass
    count, and the fixed-point quality mass — the governance artifact
    published next to a training corpus, derived from the SAME
    language/quality/dup primitives the curation pipeline filters
    with (so the card can never drift from the pipeline's own
    definitions).  One scan, one source-keyed aggregate; the dup count
    rides count(distinct md5) per source.  Quality is summed as exact
    ppm integers so the cross-engine sum is order-independent."""
    from lakehouse_cdc_spark.llm.text import (
        predicted_lang,
        quality_score,
        token_count,
    )

    d = table(spark, sf_dir, "documents").select(
        "source",
        "n_chars",
        F.md5("text").alias("h"),
        token_count(F.col("text")).alias("ntok"),
        predicted_lang(F.col("text")).alias("plang"),
        quality_score(F.col("text")).alias("quality"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            (F.count(F.lit(1)) - F.countDistinct("h"))
            .cast("bigint")
            .alias("n_exact_dups"),
            F.count(F.when(F.col("plang") == "en", 1)).alias("n_english"),
            F.count(F.when(F.col("quality") >= 0.5, 1)).alias("n_quality_ok"),
            F.sum(
                F.floor(F.col("quality") * 1_000_000 + 0.5).cast("bigint")
            )
            .cast("bigint")
            .alias("quality_sum_ppm"),
        )
        .orderBy("source")
    )


def _sweep_cfg_sql(tag: str, bands: int, rows: int) -> str:
    """CTEs for one (bands, rows_per_band) LSH config over the k=8
    signature table: band hashes + distinct candidate-pair count."""
    band_defs = ",\n             ".join(
        "md5(" + " || '|' || ".join(f"h{rows * b + j}" for j in range(rows))
        + f") AS band{b}"
        for b in range(bands)
    )
    union = "\n      UNION\n".join(
        f"      SELECT a.doc_id AS da, b.doc_id AS db\n"
        f"      FROM bands_{tag} a JOIN bands_{tag} b\n"
        f"        ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(bands)
    )
    return f"""
    bands_{tag} AS (SELECT doc_id,
             {band_defs}
            FROM sig),
    cand_{tag} AS (
{union}
    ),
    cnt_{tag} AS (
      SELECT CAST({bands} AS BIGINT) AS n_bands,
             CAST({rows} AS BIGINT) AS rows_per_band,
             CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM cand_{tag}
    )"""


@register(
    "dedup_lsh_parameter_sweep",
    bench=True,
    oracle=f"""
    WITH {_SH_CTE},
    sig AS (SELECT doc_id,
             {_MINS}
            FROM sh GROUP BY doc_id),
    {_sweep_cfg_sql('a', 8, 1)},
    {_sweep_cfg_sql('b', 4, 2)},
    {_sweep_cfg_sql('c', 2, 4)}
    SELECT * FROM cnt_a
    UNION ALL SELECT * FROM cnt_b
    UNION ALL SELECT * FROM cnt_c
    ORDER BY n_bands DESC
    """,
    tags=("llm", "dedup", "lsh", "tuning"),
)
def dedup_lsh_parameter_sweep(spark, sf_dir):
    """LSH banding-parameter sweep over ONE shared k=8 MinHash
    signature table: candidate-pair volume at (8 bands x 1 row),
    (4 x 2), and (2 x 4) — the recall/precision dial every LSH
    deployment tunes (more bands & shorter rows ≈ catch lower
    similarities but explode candidates; the s-curve threshold
    (1/b)^(1/r) moves from ~0.07 to ~0.5 to ~0.84 across these
    configs).  The expensive part — shingling + signatures — is
    computed ONCE and reused by all three configs; each config costs
    only its band hashing and bucket joins, which is how a real sweep
    amortizes at 100 TB.  Counts are exact; the irrational s-curve
    thresholds stay in the docstring, off the oracle surface.

    ONE job for the whole sweep: every config's band keys come out of
    a single explode over the materialized signature table (one struct
    per (config, band) — 8+4+2 = 14 index rows per document),
    candidate pairs from a single self-join on (config, band,
    band_key), and the per-config counts from one aggregation —
    versus three serial count() actions each paying its own banding
    joins.  The checkpointed signatures are the miniature of the stored
    band index a production sweep reads (llm/dedup.band_table)."""
    from lakehouse_cdc_spark.llm.dedup import band_key, minhash_signatures

    # one signature build per invocation (localCheckpoint, not persist —
    # the sweep's explode + self-join + counts all read these blocks)
    sigs = minhash_signatures(
        table(spark, sf_dir, "documents"), k=8
    ).localCheckpoint()
    structs = [
        F.struct(
            F.lit(bands).cast("long").alias("n_bands"),
            F.lit(rpb).cast("long").alias("rows_per_band"),
            F.lit(b).cast("int").alias("band"),
            band_key(b, rpb).alias("band_key"),
        )
        for bands, rpb in ((8, 1), (4, 2), (2, 4))
        for b in range(bands)
    ]
    idx = sigs.select(
        "doc_id", F.explode(F.array(*structs)).alias("bb")
    ).select("doc_id", "bb.*")
    on = ["n_bands", "rows_per_band", "band", "band_key"]
    left = idx.select(*on, F.col("doc_id").alias("da"))
    right = idx.select(*on, F.col("doc_id").alias("db"))
    counts = (
        left.join(right, on=on)
        .filter(F.col("da") < F.col("db"))
        .select("n_bands", "rows_per_band", "da", "db")
        .distinct()
        .groupBy("n_bands", "rows_per_band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    )
    # a config with ZERO candidate pairs must still report its row
    # (the oracle's per-config COUNT(*) always emits one) — left-join
    # the aggregated counts back onto the literal config table
    cfg = spark.createDataFrame(
        [(8, 1), (4, 2), (2, 4)], "n_bands long, rows_per_band long"
    )
    return (
        cfg.join(counts, ["n_bands", "rows_per_band"], "left")
        .select(
            "n_bands",
            "rows_per_band",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
        )
        .orderBy(F.desc("n_bands"))
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: cluster → within-cluster ε-graph → CC)
# ---------------------------------------------------------------------------


@register(
    "emb_semantic_dedup",
    bench=True,
    oracle=f"""
    WITH RECURSIVE
    n AS (SELECT vec_id, embedding, {_NORM_SQ} AS norm_sq FROM embeddings),
    kk AS (SELECT {_AUTO_K_SQL.format(min_k=AUTO_FIT_MIN_K['dedup'])} AS k FROM n),
    c AS (SELECT vec_id AS cid, embedding AS cemb, norm_sq AS cnorm
          FROM n WHERE vec_id < (SELECT k FROM kk)),
    scored AS (
      SELECT e.vec_id, c.cid,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)))
                   / (sqrt(e.norm_sq) * sqrt(c.cnorm)), 6) AS cs
      FROM n e, c
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid ASC) AS rn
        FROM scored) WHERE rn <= 2
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS ia, y.vec_id AS ib
      FROM assign x JOIN assign y
        ON x.cid = y.cid AND x.vec_id < y.vec_id
    ),
    edges AS (
      SELECT ia, ib FROM (
        SELECT ia, ib,
               round(list_sum(list_transform(generate_series(1, 64),
                       i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                     / (sqrt(a.norm_sq) * sqrt(b.norm_sq)), 6) AS cos_sim
        FROM cand JOIN n a ON a.vec_id = cand.ia
                  JOIN n b ON b.vec_id = cand.ib
      ) WHERE cos_sim >= 0.4
    ),
    sym AS (SELECT ia AS u, ib AS v FROM edges
            UNION SELECT ib, ia FROM edges),
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    walk(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.v, w.label FROM walk w JOIN sym e ON e.u = w.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node)
    SELECT component AS keep_vec_id,
           COUNT(*) AS group_size,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
    FROM comp GROUP BY component
    """,
    tags=("llm", "dedup", "embedding", "semantic", "connected-components"),
)
def emb_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup over EMBEDDINGS —
    cluster the corpus (IVF, 2-probe, 32 centroids), build the
    within-cluster ε-similarity graph (cosine ≥ 0.4 via the blocked
    numpy scorer), close it transitively (min-label connected
    components), and keep one representative per component (min
    vec_id; closest-to-centroid is a drop-in swap).  ``n_dropped``
    per group is the dedup yield a curation run reports.

    This composes the engine's three scale primitives — map-side IVF
    assignment, cluster-keyed blocked pair scoring, O(rounds) label
    propagation — so the pair space is O(Σ bucket²) and the closure
    shuffles |edges| per round, never all-pairs.  The oracle replays
    assignment, scoring, AND the transitive closure (recursive CTE)
    — a green row proves the full decision, not just the pair list.

    K is SCALE-AWARE (``similarity.auto_k``: max(32, ⌊√N+0.5⌋) — the
    demo floor keeps the sf0.01 result identical): fixed K=32 was
    9.3× wall for 10× data at sf1; K ∝ √N keeps buckets constant-size
    and the oracle recomputes the same K from COUNT(*)."""
    emb, centroids, _, blk = _auto_fit(spark, sf_dir, min_k=AUTO_FIT_MIN_K["dedup"])
    pairs = bucketed_cosine_pairs(
        emb, centroids, threshold=0.4, probes=2, block=blk
    )
    from lakehouse_cdc_spark.operators.graph import connected_components

    cc = connected_components(pairs, src="ia", dst="ib")
    return cc.groupBy(F.col("component").alias("keep_vec_id")).agg(
        F.count(F.lit(1)).alias("group_size"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
        F.concat_ws(",", F.sort_array(F.collect_list("node"))).alias("members"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new shard vs existing corpus (wave 20)
# ---------------------------------------------------------------------------

#: stored old-corpus band indexes per sf_dir (parquet artifact paths):
#: the daily-ingest shape reads the existing corpus' LSH index from
#: storage — building it is a one-time (or feed-maintained) cost, not
#: part of any shard's dedup pass.  DECLARED SETUP (r13): a harness
#: that wants the build cost visible runs
#: ``plans.artifacts.prepare_artifacts`` and reports the seconds;
#: a fresh process always rebuilds from parquet (tempdir path, never
#: keyed on the data directory across runs).
_OLD_INDEX_CACHE: dict[str, str] = {}


def _old_shard_band_index(spark, sf_dir):
    """Build-once parquet artifact: the banded LSH index of the
    existing (already-deduped) corpus — ``doc_id % 5 != 0`` — as
    ``(doc_id, band, band_key)`` rows with degenerate buckets dropped
    at write time (``band_table(max_bucket_size=...)``).  In
    production this artifact is maintained incrementally by
    ``streaming/indexing.py:lsh_index_changes``; here it is derived
    from the documents table so the oracle can regenerate it."""
    import tempfile

    from lakehouse_cdc_spark.llm.dedup import band_table

    path = _OLD_INDEX_CACHE.get(sf_dir)
    if path is None:
        old = table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 5 != 0
        )
        idx = band_table(
            minhash_signatures(old, k=8),
            bands=4,
            rows_per_band=2,
            max_bucket_size=_LSH_MAX_BUCKET,
        )
        path = tempfile.mkdtemp(prefix="lsh_old_index_")
        idx.write.mode("overwrite").parquet(path)
        _OLD_INDEX_CACHE[sf_dir] = path
    return read_parquet(spark, path)


@register(
    "dedup_incremental_new_shard",
    bench=True,
    oracle=f"""
    WITH {_SH_CTE},
    sig AS (SELECT doc_id,
             {_MINS}
            FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id,
             {_BANDS}
            FROM sig),
    cross_cand AS (
{_BAND_CROSS_UNION}
    ),
    best AS (
      SELECT new_id,
             COUNT(DISTINCT old_id) AS n_old_candidates,
             MIN(old_id) AS best_old
      FROM cross_cand GROUP BY new_id
    ),
    szs AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT b.new_id, COUNT(*) AS n_inter
      FROM best b
      JOIN sh sa ON sa.doc_id = b.new_id
      JOIN sh sb ON sb.doc_id = b.best_old AND sb.shingle = sa.shingle
      GROUP BY b.new_id
    )
    SELECT b.new_id, b.n_old_candidates, b.best_old,
           CAST((COALESCE(i.n_inter, 0) * 1000000)
                // (sn.n_sh + so.n_sh - COALESCE(i.n_inter, 0)) AS BIGINT)
             AS jac_ppm,
           (COALESCE(i.n_inter, 0) * 2 >= sn.n_sh + so.n_sh
            - COALESCE(i.n_inter, 0)) AS is_dup
    FROM best b
    JOIN szs sn ON sn.doc_id = b.new_id
    JOIN szs so ON so.doc_id = b.best_old
    LEFT JOIN inter i ON i.new_id = b.new_id
    """,
    tags=("llm", "dedup", "incremental", "minhash", "lsh"),
)
def dedup_incremental_new_shard(spark, sf_dir):
    """Incremental dedup — the shape every DAILY ingest runs: a new
    shard (docs with doc_id % 5 = 0, ~20%) is checked against the
    STORED band index of the existing corpus (the other 80%), never
    against itself and never recomputing the corpus side.  Each new
    doc keeps its lowest-id candidate and verifies with the exact
    shingle Jaccard (integer ppm); `is_dup` applies the J >= 0.5
    keep/drop rule (cleared denominators: 2·|∩| >= |∪|).

    This exercises the PRECOMPUTED-INDEX path for real (round-12; the
    round-11 form recomputed the old side per run and was the bench
    set's heaviest row): ``_old_shard_band_index`` materializes the
    old corpus' ``band_table`` ONCE per process as a parquet artifact
    — exactly what ``streaming/indexing.py:lsh_index_changes``
    maintains from the change feed in production — and the per-shard
    cost is O(|shard|·k) signature work + |bands| equi-joins against
    the stored index.  The bucket cap is INDEX-BUILD hygiene (old-side
    buckets dropped at write time; a degenerate template bucket never
    reaches any future shard), which the oracle replays as an
    old-side-only QUALIFY.
    """
    docs = table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old_idx = _old_shard_band_index(spark, sf_dir).select(
        F.col("doc_id").alias("old_id"), "band", "band_key"
    )
    from lakehouse_cdc_spark.llm.dedup import band_table

    new_bands = band_table(
        minhash_signatures(new, k=8), bands=4, rows_per_band=2
    ).select(F.col("doc_id").alias("new_id"), "band", "band_key")
    cross = new_bands.join(old_idx, on=["band", "band_key"]).select(
        "new_id", "old_id"
    )
    # best is O(|shard|) and feeds THREE consumers (the old-side doc
    # prune, the intersection, the final join) — an eager
    # localCheckpoint materializes the shard signatures + index join
    # ONCE PER INVOCATION (every call pays its declared per-shard
    # cost; the blocks are freed by the ContextCleaner when this
    # DataFrame is collected and dropped, so repeated invocations do
    # not stack dead caches)
    best = cross.groupBy("new_id").agg(
        F.count_distinct("old_id").alias("n_old_candidates"),
        F.min("old_id").alias("best_old"),
    ).localCheckpoint()
    from lakehouse_cdc_spark.llm.dedup import shingle_table
    # exact verify touches only the shard and its RETAINED partners:
    # shingle the new shard and the candidate old docs (semi-joined
    # down from the corpus first), never the whole corpus — at 10×
    # data the verify cost follows |shard| + |candidates|, not |docs|
    sh_new = shingle_table(docs.filter(F.col("doc_id") % 5 == 0))
    needed_old = best.select(F.col("best_old").alias("doc_id")).distinct()
    sh_old = shingle_table(
        docs.join(needed_old, "doc_id", "left_semi")
    )
    szs_new = sh_new.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    szs_old = sh_old.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh_new.select(F.col("doc_id").alias("new_id"), "shingle")
    sb = sh_old.select(
        F.col("doc_id").alias("best_old"), F.col("shingle").alias("shingle_b")
    )
    inter = (
        best.select("new_id", "best_old")
        .join(sa, "new_id")
        .join(sb, "best_old")
        .filter(F.col("shingle") == F.col("shingle_b"))
        .groupBy("new_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    n_int = F.coalesce(F.col("n_inter"), F.lit(0))
    union_sz = F.col("sn.n_sh") + F.col("so.n_sh") - n_int
    return (
        best.join(szs_new.alias("sn"), best.new_id == F.col("sn.doc_id"))
        .join(szs_old.alias("so"), best.best_old == F.col("so.doc_id"))
        .join(inter, "new_id", "left")
        .select(
            "new_id",
            "n_old_candidates",
            "best_old",
            F.expr(
                "CAST((coalesce(n_inter, 0) * 1000000)"
                " div (sn.n_sh + so.n_sh - coalesce(n_inter, 0)) AS BIGINT)"
            ).alias("jac_ppm"),
            (n_int * 2 >= union_sz).alias("is_dup"),
        )
    )


@register(
    "dedup_canonical_exact",
    oracle="""
    WITH canon AS (
      SELECT doc_id,
             md5(text) AS raw_hash,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[.,!?;:]', '', 'g'), '\\s+', ' ', 'g'))) AS canon_hash
      FROM documents
    )
    SELECT canon_hash,
           COUNT(*) AS dup_cnt,
           MIN(doc_id) AS keep_doc_id,
           CAST(COUNT(DISTINCT raw_hash) AS BIGINT) AS n_raw_variants
    FROM canon GROUP BY canon_hash
    """,
    tags=("llm", "dedup", "canonicalization"),
)
def dedup_canonical_exact(spark, sf_dir):
    """Canonical-form exact dedup: lowercase, strip punctuation,
    collapse whitespace, THEN hash-group — catches the trivially-
    reformatted duplicates raw-byte hashing misses (the first rule of
    every dedup stack: canonicalize before you hash).
    ``n_raw_variants`` > 1 marks groups that only canonicalization
    merged — the operator's measured yield over dedup_exact_documents.
    Same scale posture as exact dedup: map-side canonicalize+hash,
    one |distinct|-sized shuffle."""
    d = table(spark, sf_dir, "documents")
    canon = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), r"[.,!?;:]", ""),
                r"\s+",
                " ",
            )
        )
    )
    return (
        d.select(
            "doc_id",
            F.md5("text").alias("raw_hash"),
            canon.alias("canon_hash"),
        )
        .groupBy("canon_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_cnt"),
            F.min("doc_id").alias("keep_doc_id"),
            F.count_distinct("raw_hash").alias("n_raw_variants"),
        )
    )


@register(
    "multimodal_ahash_dedup_groups",
    oracle="""
    WITH cells AS (
      SELECT d.doc_id, y.y, x.x,
             (d.doc_id + 3 * ((x.x * (4 + d.doc_id % 13)) // 8)
              + 5 * ((y.y * (4 + (d.doc_id * 7) % 11)) // 8)) % 256 AS v
      FROM documents d, range(0, 8) x(x), range(0, 8) y(y)
    ),
    means AS (
      SELECT doc_id, SUM(v) // 64 AS mean_floor FROM cells GROUP BY doc_id
    ),
    sigs AS (
      SELECT c.doc_id,
             bit_or(CASE WHEN c.v <= m.mean_floor THEN 0
                         WHEN c.y * 8 + c.x = 63
                           THEN CAST(-9223372036854775808 AS BIGINT)
                         ELSE CAST(1 AS BIGINT) << CAST(c.y * 8 + c.x AS INT)
                         END) AS ahash
      FROM cells c JOIN means m ON c.doc_id = m.doc_id
      GROUP BY c.doc_id
    )
    SELECT ahash,
           COUNT(*) AS dup_cnt,
           MIN(doc_id) AS keep_doc_id
    FROM sigs GROUP BY ahash
    """,
    tags=("llm", "multimodal", "dedup", "phash"),
)
def multimodal_ahash_dedup_groups(spark, sf_dir):
    """Perceptual image dedup: hash-groupBy on the 64-bit average-hash
    signature (equal ahash = visually-duplicate candidates), keeping
    the lowest doc_id — `dedup_exact_documents` transplanted to the
    IMAGE modality, with the decode→signature kernel feeding the same
    |distinct-signatures|-sized shuffle.  On the fixture 500 images
    collapse into 181 perceptual groups.  At 100 TB the image bytes
    never shuffle — only the 8-byte signature does, which is the whole
    point of signature-level dedup."""
    from lakehouse_cdc_spark.llm.multimodal import (
        ahash_bmp,
        encode_bmp_fixture,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    sigs = ahash_bmp(encode_bmp_fixture(docs))
    return sigs.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("dup_cnt"),
        F.min("doc_id").alias("keep_doc_id"),
    )


@register(
    "multimodal_audio_vad_segments",
    oracle="""
    WITH frames AS (
      -- channel-0 sample i of doc: ((doc*31 + i*17) % 4096) - 2048
      SELECT d.doc_id,
             (64 + d.doc_id % 129) // 16 AS nb,
             i.i // 16 AS block,
             ((d.doc_id * 31 + i.i * 17) % 4096 - 2048) AS s
      FROM documents d, range(0, 193) i(i)
      WHERE i.i < ((64 + d.doc_id % 129) // 16) * 16
    ),
    energy AS (
      SELECT doc_id, nb, block, SUM(s * s) AS e
      FROM frames GROUP BY doc_id, nb, block
    ),
    thr AS (SELECT doc_id, SUM(e) // MAX(nb) AS t FROM energy GROUP BY doc_id),
    active AS (
      SELECT e.doc_id, e.nb, e.block, e.e > t.t AS act
      FROM energy e JOIN thr t USING (doc_id)
    ),
    seg AS (
      SELECT doc_id, block,
             block - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY block)
               AS grp
      FROM active WHERE act
    ),
    runs AS (SELECT doc_id, grp, COUNT(*) AS len FROM seg GROUP BY 1, 2),
    run_agg AS (
      SELECT doc_id, COUNT(*) AS n_segments, MAX(len) AS max_run
      FROM runs GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(MAX(a.nb) AS INT) AS n_blocks,
           CAST(SUM(CASE WHEN a.act THEN 1 ELSE 0 END) AS INT) AS n_active,
           CAST(COALESCE(MAX(r.n_segments), 0) AS INT) AS n_segments,
           CAST(COALESCE(MAX(r.max_run), 0) AS INT) AS max_run
    FROM active a LEFT JOIN run_agg r ON a.doc_id = r.doc_id
    GROUP BY a.doc_id
    ORDER BY a.doc_id
    """,
    tags=("llm", "multimodal", "audio", "vad", "segmentation", "pandas-udf"),
)
def multimodal_audio_vad_segments(spark, sf_dir):
    """Voice-activity SEGMENTATION over real WAV bytes — the curation
    step between decode and keep/drop for audio corpora: channel-0
    energy per 16-frame block, blocks strictly above the clip's
    floor-mean energy are active, and consecutive active blocks merge
    into segments (llm/multimodal.py:audio_active_segments).  The
    threshold is loudness-RELATIVE (floor-mean of the clip's own block
    energies, exact integer), so uniform gain changes the segmentation
    not at all — same invariance the fingerprint has.  The oracle
    rebuilds block energies from the closed-form fixture samples and
    replays the threshold + gaps-and-islands run algebra in SQL — a
    wrong channel de-interleave, block boundary, or an >= vs >
    threshold slip breaks the hash.  Arrow-batched mapInPandas; at
    100 TB the (doc, segments) summary replaces the clip bytes in
    every downstream keep/drop decision, exactly like the image
    signatures."""
    from lakehouse_cdc_spark.llm.multimodal import (
        audio_active_segments,
        encode_wav_fixture,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return audio_active_segments(encode_wav_fixture(docs)).orderBy("doc_id")


@register(
    "emb_cluster_drift_tv",
    oracle=f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cemb,
                      {_NORM_SQ} AS cnorm
               FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.cid,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> CAST(e.embedding[i] AS DOUBLE)
                          * CAST(c.cemb[i] AS DOUBLE)))
                   / (sqrt({_NORM_SQ.replace('embedding', 'e.embedding')})
                      * sqrt(c.cnorm)), 6) AS cs
      FROM embeddings e, c
    ),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid ASC) AS rn
        FROM scored) WHERE rn = 1
    ),
    per_cluster AS (
      SELECT cid AS cluster,
             SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n_cur
      FROM assigned GROUP BY cid
    ),
    tot AS (SELECT SUM(n_ref) AS na, SUM(n_cur) AS nb FROM per_cluster),
    shifted AS (
      SELECT p.cluster, p.n_ref, p.n_cur, t.na, t.nb,
             abs(p.n_ref * t.nb - p.n_cur * t.na) AS shift_num
      FROM per_cluster p, tot t
    )
    SELECT cluster,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           CAST(n_ref * 1000000 // na AS BIGINT) AS ref_share_ppm,
           CAST(n_cur * 1000000 // nb AS BIGINT) AS cur_share_ppm,
           CAST(shift_num * 1000000 // (na * nb) AS BIGINT) AS shift_ppm,
           CAST((SUM(shift_num) OVER ()) * 1000000 // (2 * na * nb)
                AS BIGINT) AS tv_ppm
    FROM shifted ORDER BY cluster
    """,
    tags=("llm", "embeddings", "drift", "ivf", "monitoring"),
)
def emb_cluster_drift_tv(spark, sf_dir):
    """EMBEDDING-DISTRIBUTION DRIFT over the IVF index — the
    staleness monitor a production vector store runs to decide when
    frozen centroids need retraining: the corpus splits into a
    reference population (even vec_id — "what the centroids were
    trained on") and a current one (odd), both assigned to the same 8
    frozen centroids, and the per-cluster occupancy distributions are
    compared by total-variation distance in EXACT integer ppm (the
    cross-multiplied form ``|n_ref·N_cur − n_cur·N_ref|`` — no float
    shares anywhere, same discipline as the Benford TV audit).  Per
    cluster: both shares and the shift contribution; the scalar
    ``tv_ppm`` rides every row (drift > threshold ⇒ retrain +
    rebucket via maintenance_rebucket_planner).

    Scale shape: ONE broadcast-centroid assignment pass over the
    vectors (identical to emb_ivf_assign — K·dim work per vector, no
    vector ever shuffles), then an 8-row aggregate; the drift math is
    arithmetic on |clusters| rows.  At 100 TB the monitor costs the
    same as one IVF assignment scan, and in the maintained-index
    deployment (cdf_incremental_ann_index) it reads the ASSIGNMENT
    SINK instead and costs O(|clusters|)."""
    from lakehouse_cdc_spark.llm.similarity import ivf_assign

    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    assigned = ivf_assign(emb, centroids)
    per_cluster = assigned.groupBy("cluster").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)).alias("n_cur"),
    )
    tot = per_cluster.agg(
        F.sum("n_ref").alias("na"), F.sum("n_cur").alias("nb")
    )
    shifted = per_cluster.crossJoin(F.broadcast(tot)).withColumn(
        "shift_num",
        F.abs(F.col("n_ref") * F.col("nb") - F.col("n_cur") * F.col("na")),
    )
    total_shift = shifted.agg(F.sum("shift_num").alias("shift_total"))
    # ppm multiplications ride DECIMAL(38,0): shift_num grows as na*nb,
    # so the *1e6 product would pass int64 at large sf while the
    # oracle's HUGEINT stays exact (same guard as the Benford TV audit)
    return (
        shifted.crossJoin(F.broadcast(total_shift))
        .select(
            "cluster",
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            F.expr(
                "CAST(CAST(n_ref AS DECIMAL(38,0)) * 1000000 div na"
                " AS BIGINT)"
            ).alias("ref_share_ppm"),
            F.expr(
                "CAST(CAST(n_cur AS DECIMAL(38,0)) * 1000000 div nb"
                " AS BIGINT)"
            ).alias("cur_share_ppm"),
            F.expr(
                "CAST(CAST(shift_num AS DECIMAL(38,0)) * 1000000"
                " div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
            ).alias("shift_ppm"),
            F.expr(
                "CAST(CAST(shift_total AS DECIMAL(38,0)) * 1000000"
                " div (2 * CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
            ).alias("tv_ppm"),
        )
        .orderBy("cluster")
    )


_RAKE_STOPWORDS = ("a", "the", "and", "of", "to", "in", "is", "on")
_RAKE_TOP = 20


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                  FROM documents),
    pos AS (SELECT doc_id, i, t[i] AS token
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
                  FROM toks)
            WHERE t[i] <> ''),
    content AS (
      SELECT doc_id, i, token,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM pos WHERE token NOT IN {_RAKE_STOPWORDS!r}
    ),
    phrases AS (
      SELECT doc_id, grp,
             string_agg(token, ' ' ORDER BY i) AS phrase,
             COUNT(*) AS plen
      FROM content GROUP BY doc_id, grp
    ),
    word_stats AS (
      SELECT c.token,
             COUNT(*) AS freq,
             SUM(p.plen) AS degree
      FROM content c
      JOIN phrases p ON p.doc_id = c.doc_id AND p.grp = c.grp
      GROUP BY c.token
    ),
    scored AS (
      SELECT p.doc_id, p.grp, p.phrase, p.plen,
             SUM(w.degree * 1000 // w.freq) AS phrase_score
      FROM content c
      JOIN phrases p ON p.doc_id = c.doc_id AND p.grp = c.grp
      JOIN word_stats w ON w.token = c.token
      GROUP BY p.doc_id, p.grp, p.phrase, p.plen
    )
    SELECT phrase,
           CAST(MAX(plen) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MAX(phrase_score) AS BIGINT) AS score_permille
    FROM scored
    GROUP BY phrase
    ORDER BY score_permille DESC, phrase ASC
    LIMIT {_RAKE_TOP}
    """,
    tags=("llm", "text", "keywords", "rake"),
)
def text_rake_keywords(spark, sf_dir):
    """RAKE-style KEYWORD EXTRACTION (Rose et al. 2010) — the
    unsupervised key-phrase miner curation teams run for corpus
    inspection and topic labeling: stopwords DELIMIT candidate
    phrases (maximal stopword-free token runs, recovered with the
    gaps-and-islands trick on token positions), every word scores
    degree/frequency (degree = Σ length of phrases it appears in —
    words living in long phrases beat words living alone), and a
    phrase scores the sum of its member words, all in exact integer
    permille (degree·1000 // freq), so the top-20 ranking is
    bit-identical across engines.  Identical phrase texts share one
    output row with their occurrence count (same word multiset ⇒ same
    score, so MAX is a no-op aggregator there).

    Scale shape: position explosion is map-side; islands need one
    doc-keyed window pass; word stats are a |vocab|-sized shuffle and
    the phrase-score join shuffles on (doc, grp) — phrase-bounded, not
    corpus-quadratic; the final top-20 is TakeOrderedAndProject."""
    d = table(spark, sf_dir, "documents")
    pos = (
        d.select(
            "doc_id", F.posexplode(tokens("text")).alias("i0", "token")
        )
        .filter(F.col("token") != "")
        .select("doc_id", (F.col("i0") + 1).alias("i"), "token")
    )
    content = (
        pos.filter(~F.col("token").isin(*_RAKE_STOPWORDS))
        .withColumn(
            "grp",
            F.col("i")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("i")
            ),
        )
    )
    phrases = content.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("i"), F.col("token")))
                ),
                lambda s: s["token"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    word_stats = (
        content.join(phrases, ["doc_id", "grp"])
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
    )
    scored = (
        content.join(phrases, ["doc_id", "grp"])
        .join(word_stats, "token")
        .groupBy("doc_id", "grp", "phrase", "plen")
        .agg(
            F.sum(F.expr("degree * 1000 div freq")).alias("phrase_score")
        )
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.max("plen").cast("bigint").alias("n_words"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.max("phrase_score").cast("bigint").alias("score_permille"),
        )
        .orderBy(F.desc("score_permille"), F.asc("phrase"))
        .limit(_RAKE_TOP)
    )


@register(
    "sketch_minhash_estimate_error",
    oracle=f"""
    WITH {_SH_CTE},
    sig AS (SELECT doc_id,
             {_MINS}
            FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id,
             {_BANDS}
            FROM sig),
    cand AS (
{_BAND_UNION}
    ),
    est AS (
      SELECT c.da, c.db,
             ({' + '.join(f'CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END'
                          for j in range(8))}) AS est_matches
      FROM cand c JOIN sig a ON a.doc_id = c.da
                  JOIN sig b ON b.doc_id = c.db
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.da, c.db, COUNT(*) AS isect
      FROM cand c
      JOIN sh a ON a.doc_id = c.da
      JOIN sh b ON b.doc_id = c.db AND b.shingle = a.shingle
      GROUP BY c.da, c.db
    )
    SELECT e.da, e.db,
           CAST(e.est_matches AS BIGINT) AS est_matches,
           CAST(e.est_matches * 1000 // 8 AS BIGINT) AS est_permille,
           CAST(COALESCE(i.isect, 0) * 1000
                // (sa.n + sb.n - COALESCE(i.isect, 0)) AS BIGINT)
             AS exact_permille,
           CAST(abs(e.est_matches * 1000 // 8
                    - COALESCE(i.isect, 0) * 1000
                      // (sa.n + sb.n - COALESCE(i.isect, 0))) AS BIGINT)
             AS abs_err_permille
    FROM est e
    JOIN sizes sa ON sa.doc_id = e.da
    JOIN sizes sb ON sb.doc_id = e.db
    LEFT JOIN inter i ON i.da = e.da AND i.db = e.db
    ORDER BY e.da, e.db
    """,
    tags=("llm", "dedup", "minhash", "sketch", "accuracy-audit"),
)
def sketch_minhash_estimate_error(spark, sf_dir):
    """MinHash ESTIMATOR-ACCURACY AUDIT — the sketch-quality probe
    (sibling of emb_ivf_recall_probe for ANN): for every LSH candidate
    pair, the k=8 component-match estimate of Jaccard
    (matches·1000 // 8) sits next to the EXACT shingle Jaccard, with
    the absolute error in permille.  This is the measurement that
    justifies (or indicts) a chosen k: E[matches/k] = J exactly, with
    σ = sqrt(J(1−J)/k), and the audit makes the realized spread
    visible on the actual corpus instead of trusting the formula.
    All integer arithmetic — both engines agree bit-for-bit.

    Scale shape: estimates are O(k) per candidate pair; the exact leg
    joins shingle postings THROUGH the candidate pair set (never
    all-pairs — the candidates bound the quadratic term exactly as
    dedup_lsh_verified does); everything downstream of the bounded
    pair set is arithmetic."""
    from lakehouse_cdc_spark.llm.dedup import shingle_table

    docs = table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, k=8)
    cand = lsh_candidate_pairs(
        sigs, bands=4, rows_per_band=2, max_bucket_size=_LSH_MAX_BUCKET
    )
    a = sigs.select(
        F.col("doc_id").alias("da"),
        *[F.col(f"h{j}").alias(f"ha{j}") for j in range(8)],
    )
    b = sigs.select(
        F.col("doc_id").alias("db"),
        *[F.col(f"h{j}").alias(f"hb{j}") for j in range(8)],
    )
    matches = None
    for j in range(8):
        term = F.when(F.col(f"ha{j}") == F.col(f"hb{j}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    est = (
        cand.join(a, "da")
        .join(b, "db")
        .select("da", "db", matches.alias("est_matches"))
    )
    sh = shingle_table(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sh_a = sh.select(F.col("doc_id").alias("da"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("db"), "shingle")
    inter = (
        cand.join(sh_a, "da")
        .join(sh_b, ["db", "shingle"])
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("isect"))
    )
    return (
        est.join(sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb")), "db")
        .join(inter, ["da", "db"], "left")
        .select(
            "da",
            "db",
            F.col("est_matches").cast("bigint").alias("est_matches"),
            F.expr("CAST(est_matches * 1000 div 8 AS BIGINT)").alias(
                "est_permille"
            ),
            F.expr(
                "CAST(COALESCE(isect, 0) * 1000"
                " div (na + nb - COALESCE(isect, 0)) AS BIGINT)"
            ).alias("exact_permille"),
            F.expr(
                "CAST(abs(est_matches * 1000 div 8"
                " - COALESCE(isect, 0) * 1000"
                "   div (na + nb - COALESCE(isect, 0))) AS BIGINT)"
            ).alias("abs_err_permille"),
        )
        .orderBy("da", "db")
    )


@register(
    "multimodal_decode_quarantine",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 17 = 0 THEN 0 ELSE 1 END AS INT) AS ok,
           CASE WHEN doc_id % 17 = 0 THEN 'decode-error' END AS reason,
           CAST(CASE WHEN doc_id % 17 = 0 THEN 0
                ELSE (4 + doc_id % 13) * (4 + (doc_id * 7) % 11)
                     * (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 3 END)
                END AS BIGINT) AS px_count
    FROM documents ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "quarantine", "dlq", "pandas-udf"),
)
def multimodal_decode_quarantine(spark, sf_dir):
    """CORRUPT-MEDIA QUARANTINE — the DLQ pattern applied to the
    decode kernel (the media twin of the reference's poison-message
    skip, src/processor/spark_exactly_once.py's malformed-JSON guard):
    every 17th document's BMP payload is TRUNCATED to its first 10
    bytes (a real corrupt-crawl artifact), and the decode kernel
    (llm/multimodal.py:decode_bmp_quarantine) catches per-row instead
    of throwing — good rows carry their exact pixel count, bad rows
    land in the ok=0 lane with a reason, and the BATCH NEVER FAILS.
    The oracle derives both lanes from the corruption modulus and the
    closed-form geometry — a hash match proves the kernel decodes
    exactly the uncorrupted set (no false quarantines, no crashes
    leaking through).

    Scale shape: identical to every decode stage — Arrow-batched
    mapInPandas, payload bytes never shuffle; the quarantine lane is
    what makes the whole-corpus decode RESTARTABLE (a task retry
    re-quarantines deterministically instead of dying on the same
    byte)."""
    from lakehouse_cdc_spark.llm.multimodal import (
        decode_bmp_quarantine,
        encode_bmp_fixture,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    corrupted = encode_bmp_fixture(docs).withColumn(
        "payload",
        F.when(
            F.col("doc_id") % 17 == 0,
            F.expr("substring(payload, 1, 10)"),
        ).otherwise(F.col("payload")),
    )
    return decode_bmp_quarantine(corrupted).orderBy("doc_id")


@register(
    "multimodal_dhash_signatures",
    oracle="""
    WITH geo AS (
      SELECT doc_id,
             4 + doc_id % 13 AS w,
             4 + (doc_id * 7) % 11 AS h
      FROM documents
    ),
    cells AS (
      SELECT g.doc_id, y.y, x.x,
             (g.doc_id + 3 * ((x.x * g.w) // 9)
              + 5 * ((y.y * g.h) // 8)) % 256 AS v
      FROM geo g, range(0, 9) x(x), range(0, 8) y(y)
    ),
    pairs AS (
      SELECT l.doc_id, l.y, l.x,
             CASE WHEN l.v > r.v THEN 1 ELSE 0 END AS bit
      FROM cells l
      JOIN cells r ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1
      WHERE l.x < 8
    ),
    sigs AS (
      SELECT doc_id,
             bit_or(CASE WHEN bit = 0 THEN 0
                         -- bit 63 is the sign bit: DuckDB rejects the
                         -- overflowing shift, so state it as min-bigint
                         WHEN y * 8 + x = 63
                           THEN CAST(-9223372036854775808 AS BIGINT)
                         ELSE CAST(1 AS BIGINT) << CAST(y * 8 + x AS INT)
                         END) AS dhash
      FROM pairs GROUP BY doc_id
    )
    SELECT doc_id, dhash FROM sigs ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "dedup", "phash", "pandas-udf"),
)
def multimodal_dhash_signatures(spark, sf_dir):
    """GRADIENT perceptual signatures (difference hash): every
    document's BMP decodes, downsamples to 9x8, and each bit records
    whether a cell out-brightens its right neighbor — packed 64-bit
    two's-complement, the brightness-shift-robust partner of
    multimodal_ahash_signatures (a re-exposed copy keeps its gradient
    signs while its aHash bits flip; production image dedup runs BOTH
    and candidates on either).  The oracle rebuilds all 72 gathered
    cells per image from the closed-form fixture pixels and replays
    the 64 comparisons — one wrong gather coordinate (the 9-wide x
    grid is the easy off-by-one) breaks the hash.  Arrow-batched
    mapInPandas; at scale the signature replaces the image in every
    downstream shuffle, same as the aHash path."""
    from lakehouse_cdc_spark.llm.multimodal import (
        dhash_bmp,
        encode_bmp_fixture,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return dhash_bmp(encode_bmp_fixture(docs)).orderBy("doc_id")


@register(
    "dedup_threshold_yield_curve",
    oracle=f"""
    WITH {_SH_CTE},
    capped AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM sh) WHERE df <= {_JACCARD_MAX_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT da, db,
             inter * 1000000 // (sa.n + sb.n - inter) AS j_ppm
      FROM pairs
      JOIN sizes sa ON pairs.da = sa.doc_id
      JOIN sizes sb ON pairs.db = sb.doc_id
    ),
    t AS (SELECT unnest([300000, 500000, 700000, 900000]) AS thr)
    SELECT t.thr AS threshold_ppm,
           CAST(COUNT(CASE WHEN s.j_ppm >= t.thr THEN 1 END) AS BIGINT)
             AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN s.j_ppm >= t.thr THEN s.db END)
                AS BIGINT) AS n_docs_dropped
    FROM t LEFT JOIN scored s ON TRUE
    GROUP BY t.thr ORDER BY t.thr
    """,
    tags=("llm", "dedup", "economics", "threshold"),
)
def dedup_threshold_yield_curve(spark, sf_dir):
    """DEDUP THRESHOLD ECONOMICS — the yield curve a curation team
    reads before pinning the Jaccard cutoff: for thresholds 0.3 / 0.5
    / 0.7 / 0.9, how many candidate pairs qualify and how many
    documents the drop-higher-id rule would remove.  ONE pass builds
    the exact capped-shingle pair table (same DF-capped inverted-index
    join as dedup_ngram_jaccard, scores as exact integer ppm — no
    float threshold ambiguity at any cutoff); the four thresholds are
    conditional aggregates over it, so exploring the whole curve costs
    exactly one dedup run instead of four (the banding analog is
    dedup_lsh_parameter_sweep — that varies RECALL via banding, this
    varies PRECISION via the verify cutoff).  At 100 TB this table is
    how you justify a cutoff to whoever owns the training data: pairs
    and removed-doc counts per candidate policy, from one job."""
    d = table(spark, sf_dir, "documents")
    from lakehouse_cdc_spark.llm.dedup import shingle_table

    sh = shingle_table(d, "doc_id", "text", 3)
    freq_w = Window.partitionBy("shingle")
    capped = (
        sh.withColumn("__df", F.count(F.lit(1)).over(freq_w))
        .filter(F.col("__df") <= _JACCARD_MAX_DF)
        .drop("__df")
    )
    sized = capped.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    a = sized.select(
        F.col("doc_id").alias("da"), "shingle", F.col("__n").alias("na")
    )
    b = sized.select(
        F.col("doc_id").alias("db"), "shingle", F.col("__n").alias("nb")
    )
    scored = (
        a.join(b, "shingle")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            "da",
            "db",
            F.expr("inter * 1000000 div (na + nb - inter)").alias("j_ppm"),
        )
    )
    rows = None
    for thr in (300000, 500000, 700000, 900000):
        r = scored.agg(
            F.lit(thr).cast("bigint").alias("threshold_ppm"),
            F.count(F.when(F.col("j_ppm") >= thr, 1))
            .cast("bigint")
            .alias("n_pairs"),
            F.countDistinct(
                F.when(F.col("j_ppm") >= thr, F.col("db"))
            )
            .cast("bigint")
            .alias("n_docs_dropped"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("threshold_ppm")


_SWEEP_PROBES = (1, 2, 4)


def _sweep_block(p: int) -> str:
    """One probe-count arm of the sweep: candidates at rn <= p, IVF
    top-10 re-rank, hits against the exact top-10."""
    return f"""
      SELECT {p} AS probes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{p}) AS n_cand_total,
             CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit_total,
             CAST(COUNT(i.vec_id) * 2 AS BIGINT) AS recall_pct
      FROM exact e LEFT JOIN ivf_{p} i
        ON e.qid = i.qid AND e.vec_id = i.vec_id"""


def _sweep_ctes(p: int, dot_eq_eq: str) -> str:
    return f"""
    cand_{p} AS (
      SELECT DISTINCT pr.qid, a.vec_id
      FROM assign a JOIN probe_ranked pr ON a.cluster = pr.cluster
      WHERE pr.rn <= {p}),
    ivf_{p} AS (
      SELECT qid, vec_id FROM (
        SELECT c.qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
                 round({dot_eq_eq} / (sqrt(e.norm_sq) * sqrt(q.qnorm)), 6)
                   DESC, c.vec_id ASC) AS rn
        FROM cand_{p} c JOIN n e ON e.vec_id = c.vec_id
                        JOIN q ON q.qid = c.qid) WHERE rn <= 10)"""


@register(
    "emb_ivf_probe_sweep",
    oracle=(
        f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQ} AS norm_sq FROM embeddings),
    c AS (SELECT vec_id AS cid, embedding AS cemb, norm_sq AS cnorm
          FROM n WHERE vec_id < 8),
    q AS (SELECT vec_id AS qid, embedding AS qemb, norm_sq AS qnorm
          FROM n WHERE vec_id BETWEEN 3 AND 7),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 round({{dot_eq_eq}} / (sqrt(e.norm_sq) * sqrt(q.qnorm)), 6)
                   DESC, e.vec_id ASC) AS rn
        FROM n e, q) WHERE rn <= 10),
    assign AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cid AS cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 round({{dot_ec}} / (sqrt(e.norm_sq) * sqrt(c.cnorm)), 6)
                   DESC, c.cid ASC) AS rn
        FROM n e, c) WHERE rn = 1),
    probe_ranked AS (
      SELECT q.qid, c.cid AS cluster,
             ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
               round({{dot_cq}} / (sqrt(c.cnorm) * sqrt(q.qnorm)), 6)
                 DESC, c.cid ASC) AS rn
      FROM c, q),"""
        + ",".join(_sweep_ctes(p, "{dot_eq_eq}") for p in _SWEEP_PROBES)
        + """
    """
        + "\n      UNION ALL\n".join(_sweep_block(p) for p in _SWEEP_PROBES)
        + """
    ORDER BY probes
    """
    ).format(
        dot_eq_eq=_DOT_EQ.format(a="e.embedding", b="q.qemb"),
        dot_ec=_DOT_EQ.format(a="e.embedding", b="c.cemb"),
        dot_cq=_DOT_EQ.format(a="c.cemb", b="q.qemb"),
    ),
    tags=("llm", "similarity", "ann", "ivf", "evaluation", "tuning"),
)
def emb_ivf_probe_sweep(spark, sf_dir):
    """THE nprobe TUNING CURVE — recall@10 and candidate volume at
    probes = 1 / 2 / 4 through the same 8-centroid IVF funnel, from
    ONE pass: assignment and the full query→centroid ranking are
    computed once, the three probe counts are filters over the ranked
    table, and each arm re-ranks only its own candidates.  This is
    the table an ANN deployment pins its latency/recall trade with
    (emb_ivf_recall_probe evaluates the single shipped setting; this
    produces the CURVE that justified it).  Totals over the 5-query
    probe set: 50 possible hits, so recall_pct = 2·hits.  All
    rankings use the rounded cosine with id tie-breaks — the oracle
    replays every arm bit-for-bit.

    Scale shape: centroids and queries broadcast; the corpus is
    scored map-side once for assignment; candidate scoring per arm
    touches only probed buckets — the sweep costs one assignment pass
    plus the union of the arms' candidate sets, NOT three index
    builds (``_ivf_recall``).  Every probe count has a row, with zero
    totals when no query has candidates."""
    totals = _ivf_recall(spark, sf_dir, _SWEEP_PROBES).groupBy("probes").agg(
        F.sum("n_cand").alias("n_cand"), F.sum("n_hit").alias("n_hit")
    )
    arms = spark.createDataFrame([(p,) for p in _SWEEP_PROBES], "probes bigint")
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint")
    return (
        arms.join(totals, "probes", "left")
        .select(
            "probes",
            F.coalesce(F.col("n_cand"), F.lit(0)).cast("bigint").alias("n_cand_total"),
            n_hit.alias("n_hit_total"),
            (n_hit * 2).alias("recall_pct"),
        )
        .orderBy("probes")
    )


# ---------------------------------------------------------------------------
# Power-iteration step: the spectral operator (round 9)
# ---------------------------------------------------------------------------

#: deterministic start direction for the power-iteration step:
#: alternating ±1/8 (exactly representable; any fixed non-degenerate
#: vector works — a production run would pass the previous iterate)
_PI_V0 = "transform(sequence(0, 63), k -> IF(k % 2 = 0, 0.125D, -0.125D))"
_PI_V0_DUCK = "CASE WHEN (i - 1) % 2 = 0 THEN 0.125 ELSE -0.125 END"


@register(
    "emb_power_iteration_step",
    oracle=f"""
    WITH dots AS (
      SELECT vec_id, embedding,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(embedding[i] AS DOUBLE) * {_PI_V0_DUCK}))
               AS dot_v0
      FROM embeddings
    ),
    contrib AS (
      SELECT j.j,
             CAST(round(d.dot_v0 * CAST(d.embedding[j.j] AS DOUBLE)
                        * 1000000) AS HUGEINT) AS y_micro
      FROM dots d CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) j
    )
    SELECT CAST(j - 1 AS BIGINT) AS dim,
           CAST(SUM(y_micro) AS BIGINT) AS y_micro
    FROM contrib GROUP BY j ORDER BY dim
    """,
    tags=("llm", "embeddings", "spectral", "pca"),
)
def emb_power_iteration_step(spark, sf_dir):
    """ONE POWER-ITERATION STEP toward the corpus's top principal
    direction — y = Σ_docs (x·v₀)·x, i.e. one (XᵀX)·v matrix-vector
    multiply WITHOUT materializing the 64×64 Gram matrix: the spectral
    primitive under PCA whitening, spectral clustering, and the
    top-eigenvector drift monitors an embedding pipeline runs.  Each
    document contributes (dot·x_j) rounded to integer micro-units
    per dimension, and the reduce is an INTEGER sum — order-free, so
    the result is deterministic under any partitioning (the MaxSim
    discipline applied to a spectral reduce).  Iterating = feeding y
    back as v₀; the fixed ±1/8 start vector stands in for the prior
    iterate so both engines see identical inputs.

    Scale shape: one map-side pass (per-row fold + 64 contributions)
    into a 64-row aggregate — mergeable partials, no shuffle of
    vectors, no driver-side linear algebra.  At 100 TB a full PCA via
    repeated steps costs k scans, each this cheap."""
    emb = table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("x")
    )
    from lakehouse_cdc_spark.llm.similarity import dot

    dots = emb.select(
        "x", dot(F.col("x"), F.expr(_PI_V0)).alias("dot_v0")
    )
    contrib = dots.select(
        F.posexplode(
            F.expr(
                "transform(x, xj -> CAST(round(dot_v0 * xj * 1000000)"
                " AS DECIMAL(38,0)))"
            )
        ).alias("dim", "y_micro")
    )
    return (
        contrib.groupBy(F.col("dim").cast("bigint").alias("dim"))
        .agg(F.sum("y_micro").cast("bigint").alias("y_micro"))
        .orderBy("dim")
    )


@register(
    "emb_cluster_label_purity",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, label, {_NORM_SQ} AS norm_sq
               FROM embeddings),
    c AS (SELECT vec_id AS cid, embedding AS cemb, norm_sq AS cnorm
          FROM n WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, label, cluster FROM (
        SELECT t.vec_id, t.label, c.cid AS cluster,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
                 round({_DOT_EQ.format(a='t.embedding', b='c.cemb')}
                       / (sqrt(t.norm_sq) * sqrt(c.cnorm)), 6) DESC,
                 c.cid ASC) AS rn
        FROM n t, c) WHERE rn = 1
    ),
    cl AS (
      SELECT cluster, label, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM assign GROUP BY cluster, label
    ),
    best AS (
      SELECT cluster, label AS majority_label, cnt AS n_majority FROM (
        SELECT cluster, label, cnt,
               ROW_NUMBER() OVER (PARTITION BY cluster
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM cl) WHERE rn = 1
    ),
    sz AS (SELECT cluster, CAST(SUM(cnt) AS BIGINT) AS n_members,
                  CAST(COUNT(*) AS BIGINT) AS n_labels
           FROM cl GROUP BY cluster)
    SELECT CAST(s.cluster AS BIGINT) AS cluster,
           s.n_members, s.n_labels,
           CAST(b.majority_label AS BIGINT) AS majority_label,
           b.n_majority,
           CAST(CAST(b.n_majority AS HUGEINT) * 1000000 // s.n_members
                AS BIGINT) AS purity_ppm
    FROM sz s JOIN best b USING (cluster) ORDER BY cluster
    """,
    tags=("llm", "embeddings", "clustering", "evaluation", "ivf"),
)
def emb_cluster_label_purity(spark, sf_dir):
    """CLUSTER-LABEL PURITY — the clustering-evaluation readout (how
    well do the IVF cells align with the ground-truth labels?) every
    embedding-quality monitor reports alongside drift: all vectors
    assign to the 8 fixed centroids (the deterministic max-cosine
    assignment the ANN family shares), each cluster reports its size,
    distinct-label count, majority label (ties broken by lowest label
    — engine-neutral) and purity in exact integer ppm.  Purity needs
    no logarithm (unlike NMI), so the whole evaluation is integer
    arithmetic over one assignment pass.

    Scale shape: the assignment is one broadcast-centroid map-side
    pass (budget-enforced like every centroid closure here), then two
    |clusters×labels|-row aggregates — evaluation cost is the
    assignment scan, exactly the posture of emb_cluster_drift_tv."""
    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    assign = ivf_assign(emb, centroids).select("vec_id", "cluster")
    labeled = assign.join(emb.select("vec_id", "label"), "vec_id")
    cl = labeled.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("cnt"), F.asc("label")
    )
    best = (
        cl.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("label").cast("bigint").alias("majority_label"),
            F.col("cnt").alias("n_majority"),
        )
    )
    sz = cl.groupBy("cluster").agg(
        F.sum("cnt").cast("bigint").alias("n_members"),
        F.count(F.lit(1)).cast("bigint").alias("n_labels"),
    )
    return (
        sz.join(best, "cluster")
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_members",
            "n_labels",
            "majority_label",
            "n_majority",
            (
                F.col("n_majority").cast("decimal(38,0)")
                * F.lit(1000000).cast("decimal(38,0)")
                / F.col("n_members").cast("decimal(38,0)")
            )
            .cast("bigint")
            .alias("purity_ppm"),
        )
        .orderBy("cluster")
    )
