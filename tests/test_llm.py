"""Unit tests for the LLM-pipeline extension operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_cdc_spark.llm.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash16,
)
from lakehouse_cdc_spark.llm.multimodal import (
    attach_binary,
    decode_image_meta,
    frame_sample_plan,
)
from lakehouse_cdc_spark.llm.similarity import cosine_pairs, cosine_topk
from lakehouse_cdc_spark.llm.text import predicted_lang, quality_score
from lakehouse_cdc_spark.plans.registry import table


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),  # near-dup of 1
        (3, "completely different content about database systems design"),
        (4, "el perro come la comida de la casa"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_jaccard_pairs_finds_neardup(spark):
    pairs = jaccard_pairs(_docs(spark), threshold=0.5).collect()
    assert [(p.da, p.db) for p in pairs] == [(1, 2)]
    assert 0.5 <= pairs[0].jaccard < 1.0


def test_jaccard_identical_docs_is_one(spark):
    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id bigint, text string"
    )
    pairs = jaccard_pairs(d, threshold=0.99).collect()
    assert len(pairs) == 1 and pairs[0].jaccard == 1.0


def test_jaccard_cap_bounds_boilerplate_blowup(spark):
    """Boilerplate-heavy corpus: 40 docs share an identical legal
    footer (its shingles have DF=40), and 2 docs are genuine
    near-dups.  Uncapped, the footer alone makes every doc pair a
    join candidate (~40²/2 pairs through the inverted index); with
    the DF cap the footer shingles are dropped, the true near-dup
    pair survives, and no boilerplate-only pair is emitted."""
    footer = "this document is confidential and subject to the terms of service"
    rows = [
        (i, f"unique content number {i} about topic {i * 7} entirely. " + footer)
        for i in range(40)
    ]
    # a genuine near-dup pair with distinctive shared content
    dup = "the quick brown fox jumps over the lazy dog again and again tonight"
    rows += [(100, dup + " alpha"), (101, dup + " bravo")]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")

    capped = jaccard_pairs(d, threshold=0.5, max_shingle_freq=5).collect()
    got = {(r.da, r.db) for r in capped}
    assert (100, 101) in got
    # boilerplate-only pairs must NOT clear the threshold post-cap
    assert all(p == (100, 101) for p in got)

    # and the candidate join itself is bounded: post-cap the inverted
    # index contains no shingle with DF > 5
    from lakehouse_cdc_spark.llm.dedup import shingle_table

    sh = shingle_table(d)
    df_max = (
        sh.groupBy("shingle").count().agg(F.max("count").alias("m")).collect()[0].m
    )
    assert df_max >= 40  # uncapped index really is degenerate


def test_lsh_bucket_cap_drops_degenerate_bucket(spark):
    """1000 byte-identical documents collapse into one LSH bucket per
    band — uncapped that is ~500k candidate pairs from exact dupes LSH
    was never meant to find (hash-groupBy exact dedup owns them).  The
    cap removes the degenerate bucket entirely while distinct
    near-dup signatures keep flowing."""
    from lakehouse_cdc_spark.llm.dedup import minhash_signatures

    rows = [(i, "identical template text repeated verbatim in every document") for i in range(1000)]
    rows += [(2000, "rare document one about astrophysics and telescopes"),
             (2001, "rare document one about astrophysics and telescopes plus edits")]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    sigs = minhash_signatures(d, k=8)
    capped = lsh_candidate_pairs(sigs, max_bucket_size=10).collect()
    pairs = {(r.da, r.db) for r in capped}
    # the 1000-doc degenerate bucket contributes nothing
    assert all(da >= 2000 for da, _ in pairs)
    # the genuine near-dup pair (high minhash agreement) survives
    assert (2000, 2001) in pairs


def test_minhash_lsh_catches_what_jaccard_confirms(spark, sf_dir):
    """LSH candidates ⊇ very-high-jaccard pairs (recall sanity):
    every J≥0.9 pair shares at least one full band w.h.p."""
    docs = table(spark, sf_dir, "documents")
    sure_dups = {
        (r.da, r.db)
        for r in jaccard_pairs(docs, threshold=0.9).collect()
    }
    cands = {
        (r.da, r.db)
        for r in lsh_candidate_pairs(minhash_signatures(docs, k=8)).collect()
    }
    assert sure_dups <= cands
    # and LSH must not blow up to all-pairs
    n = docs.count()
    assert len(cands) < n * (n - 1) / 20


def test_simhash_similar_docs_close(spark):
    out = {r.doc_id: r.simhash16 for r in simhash16(_docs(spark)).collect()}
    ham_near = bin(out[1] ^ out[2]).count("1")
    ham_far = bin(out[1] ^ out[3]).count("1")
    assert ham_near < ham_far
    assert all(0 <= v < 2**16 for v in out.values())


def test_cosine_topk_self_is_first(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("q_embedding")
    )
    top = cosine_topk(emb, q, k=5).collect()
    assert top[0].vec_id == 7 and abs(top[0].cos_sim - 1.0) < 1e-6
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_cosine_pairs_symmetric_threshold(spark):
    d = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    pairs = {(r.ia, r.ib) for r in cosine_pairs(d, threshold=0.9).collect()}
    assert pairs == {(1, 2)}


def test_bucketed_neardup_recovers_high_sim_pairs(spark, sf_dir):
    """Soundness on the real fixture: every pair the bucketed operator
    emits is a pair the exact all-pairs baseline emits, with
    bit-identical cos_sim.  (Recall is asserted on the planted-corpus
    test below — the fixture's embeddings are random, so its 0.4-sim
    pairs are not near-dups and may legitimately straddle buckets.)"""
    from lakehouse_cdc_spark.llm.similarity import bucketed_cosine_pairs

    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    exact = {
        (r.ia, r.ib): r.cos_sim
        for r in cosine_pairs(emb, threshold=0.4).collect()
    }
    bucketed = {
        (r.ia, r.ib): r.cos_sim
        for r in bucketed_cosine_pairs(
            emb, centroids, threshold=0.4, probes=2
        ).collect()
    }
    # subset of exact, with bit-identical similarities
    assert bucketed, "bucketed operator found no pairs at all"
    for pair, sim in bucketed.items():
        assert pair in exact and exact[pair] == sim


def test_bucketed_neardup_planted_pairs_recall(spark):
    """On a corpus with planted near-duplicates (clustered vectors +
    tiny perturbations), the bucketed operator recovers EVERY pair the
    exact all-pairs baseline finds at the near-dup threshold."""
    import math

    from lakehouse_cdc_spark.llm.similarity import bucketed_cosine_pairs

    # 4 well-separated base directions in 8-d; 10 vectors per cluster,
    # each a slightly-perturbed copy of its base → dense near-dup pairs
    rows = []
    for c in range(4):
        base = [0.0] * 8
        base[2 * c] = 1.0
        base[2 * c + 1] = 0.3
        for j in range(10):
            eps = 0.01 * j
            vec = [v + eps * math.sin(i + c + j) for i, v in enumerate(base)]
            rows.append((c * 10 + j, vec))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    centroids = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    exact = {
        (r.ia, r.ib): r.cos_sim
        for r in cosine_pairs(emb, threshold=0.95).collect()
    }
    bucketed = {
        (r.ia, r.ib): r.cos_sim
        for r in bucketed_cosine_pairs(
            emb, centroids, threshold=0.95, probes=2
        ).collect()
    }
    assert len(exact) >= 4 * 45 * 0.8  # clusters are genuinely dense
    assert set(bucketed) == set(exact)  # full recall, no extras
    assert all(bucketed[p] == exact[p] for p in exact)  # identical sims


def test_predicted_lang_heuristic(spark):
    d = _docs(spark).withColumn("p", predicted_lang(F.col("text")))
    got = {r.doc_id: r.p for r in d.collect()}
    assert got[1] == "en" and got[2] == "en"
    assert got[4] == "es"  # 'la', 'de', 'el' hits


def test_quality_score_bounds(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select(
        quality_score(F.col("text")).alias("q")
    )
    stats = d.agg(F.min("q").alias("lo"), F.max("q").alias("hi")).collect()[0]
    assert 0.0 <= stats.lo <= stats.hi <= 1.0


def test_multimodal_attach_and_fake_decode(spark, sf_dir):
    d = attach_binary(table(spark, sf_dir, "documents").limit(50))
    row = d.select("meta.byte_len", "n_chars").collect()[0]
    assert row.byte_len == row.n_chars  # ascii text → 1 byte/char
    meta = decode_image_meta(d, fake=True)
    rows = meta.collect()
    assert len(rows) == 50
    assert all(16 <= r.width < 80 and 16 <= r.height < 80 for r in rows)
    assert all(1 <= r.channels <= 3 for r in rows)
    # deterministic: same input → same output
    again = decode_image_meta(d, fake=True).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_multimodal_real_decode_roundtrip(spark, sf_dir):
    """The real BMP decoder parses honest bytes back to the fixture's
    closed-form geometry; non-image payloads fail with a clear error."""
    from lakehouse_cdc_spark.llm.multimodal import (
        _bmp_geometry,
        decode_bmp_stats,
        encode_bmp_fixture,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id").limit(40)
    rows = decode_bmp_stats(encode_bmp_fixture(docs)).collect()
    assert len(rows) == 40
    for r in rows:
        w, h, ch = _bmp_geometry(r.doc_id)
        assert (r.width, r.height, r.channels) == (w, h, ch)
        assert 0 <= r.px_sum <= 255 * w * h * ch
    # text payloads are not BMPs: the decoder must say so, not garble
    d = attach_binary(table(spark, sf_dir, "documents").limit(5))
    with pytest.raises(Exception) as exc_info:
        decode_image_meta(d, fake=False).collect()
    assert "BM" in str(exc_info.value) or "ValueError" in str(exc_info.value)


def test_bmp_decoder_handles_topdown_rows():
    """A negative height BMP stores rows top-down; px_wsum is y-weighted
    so a decoder that ignores the sign flips the answer."""
    import struct

    import numpy as np

    from lakehouse_cdc_spark.llm.multimodal import _parse_bmp, bmp_bytes

    doc_id = 5  # 24-bit variant
    b = bytearray(bmp_bytes(doc_id))
    h_raw = struct.unpack_from("<i", b, 22)[0]
    assert h_raw > 0
    # rebuild as top-down: negate height, reverse the row order
    data_off = struct.unpack_from("<I", b, 10)[0]
    w = struct.unpack_from("<i", b, 18)[0]
    stride = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(bytes(b[data_off:]), np.uint8).reshape(h_raw, stride)
    struct.pack_into("<i", b, 22, -h_raw)
    b[data_off:] = rows[::-1].tobytes()
    assert (_parse_bmp(bytes(b)) == _parse_bmp(bmp_bytes(doc_id))).all()


def test_frame_sample_plan_fanout(spark, sf_dir):
    d = attach_binary(table(spark, sf_dir, "documents").limit(10))
    frames = frame_sample_plan(d, every_nth=10)
    per_doc = frames.groupBy("doc_id").count().collect()
    assert len(per_doc) == 10
    assert all(r["count"] >= 1 for r in per_doc)


def test_round_half_up_matches_spark_round(spark):
    """The blocked-assignment rounding kernel must be bit-identical to
    F.round (ADVICE r2: np.round ties-to-even flips probe ranking)."""
    import numpy as np

    from lakehouse_cdc_spark.llm.similarity import _round_half_up

    # exact .5-at-6-digits boundaries (1/128 = 0.0078125 -> 7812.5),
    # their negatives (HALF_UP = away from zero), plus a dense sweep
    vals = [1.0 / 128, -1.0 / 128, 3.0 / 128, 0.0000005, -0.0000015]
    rng = np.random.default_rng(7)
    vals += list(rng.uniform(-1, 1, 500))
    arr = np.array(vals, dtype=np.float64)
    ours = _round_half_up(arr, 6)
    theirs = [
        r.r
        for r in spark.createDataFrame(
            [(float(v),) for v in vals], "x double"
        ).select(F.round("x", 6).alias("r")).collect()
    ]
    assert [repr(a) for a in ours] == [repr(b) for b in theirs]


def test_bucketed_neardup_probe_guard(spark):
    """probes > K must degrade to K probes, and an empty centroid
    table finds no pairs (DuckDB's answer for an empty fit)."""
    from lakehouse_cdc_spark.llm.similarity import bucketed_cosine_pairs

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    cen = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cid bigint, cemb array<double>"
    )
    pairs = bucketed_cosine_pairs(emb, cen, threshold=0.9, probes=5)
    got = {(r.ia, r.ib) for r in pairs.collect()}
    assert got == {(1, 2)}
    empty = spark.createDataFrame([], "cid bigint, cemb array<double>")
    assert bucketed_cosine_pairs(emb, empty).collect() == []


@pytest.mark.parametrize("probes", [1, 2])
def test_empty_centroid_table_gives_empty_results(spark, probes):
    """An empty fit — collected here or passed as a pre-collected
    block — is a valid index that assigns nothing: both IVF functions
    return an empty frame with their declared schema, never raise."""
    from lakehouse_cdc_spark.llm.similarity import (
        _centroid_block,
        bucketed_cosine_pairs,
        ivf_assign,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    empty = spark.createDataFrame([], "cid bigint, cemb array<double>")
    block = _centroid_block(empty)
    for df in (
        ivf_assign(emb, empty, probes=probes),
        ivf_assign(emb, empty, probes=probes, block=block),
    ):
        assert df.schema.simpleString() == (
            "struct<vec_id:bigint,cluster:bigint,cs:double>"
        )
        assert df.collect() == []
    for df in (
        bucketed_cosine_pairs(emb, empty, probes=probes),
        bucketed_cosine_pairs(emb, empty, probes=probes, block=block),
    ):
        assert df.schema.simpleString() == (
            "struct<ia:bigint,ib:bigint,cos_sim:double>"
        )
        assert df.collect() == []


def test_centroid_broadcast_budget_is_enforced(spark, monkeypatch):
    """The 'tiny by contract' K ≈ √N centroid sizing is enforced, not
    assumed: a centroid table over the element budget must be refused
    at driver time with coarsening guidance — never silently shipped
    to every executor (at N=1e12 the un-guarded closure would carry
    ~4 GB per task)."""
    import pytest as _pytest

    from lakehouse_cdc_spark.llm import similarity

    monkeypatch.setattr(similarity, "_CENTROID_ELEM_BUDGET", 8)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    cen = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "cid bigint, cemb array<double>",
    )  # 3 x 3 = 9 elements > 8
    with _pytest.raises(ValueError, match="Coarsen K"):
        similarity.bucketed_cosine_pairs(emb, cen)


def test_winnowing_guarantee_shared_span_yields_common_fingerprint(spark):
    """Schleimer et al.'s guarantee: documents sharing a token run of
    length >= w + k - 1 must select at least one identical fingerprint
    (checked on planted data, independent of the testdata fixture)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_cdc_spark.plans.span_queries import (
        _WIN_H_SPARK,
        _WIN_K,
        _WIN_W,
    )

    shared = "alpha beta gamma delta epsilon zeta eta"  # w + k - 1 = 7 tokens
    docs = spark.createDataFrame(
        [
            (1, f"one two three four five {shared} six seven eight nine ten"),
            (2, f"red orange yellow green blue {shared} indigo violet pink gray teal"),
        ],
        "doc_id long, text string",
    )
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    pos = toks.select(
        "doc_id",
        (F.size("t") - (_WIN_K - 1)).alias("np"),
        F.explode(F.sequence(F.lit(1), F.size("t") - (_WIN_K - 1))).alias("p"),
        "t",
    )
    grams = pos.select("doc_id", "p", "np", F.expr(_WIN_H_SPARK).alias("h"))
    w_min = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, _WIN_W - 1)
    fps = (
        grams.select("doc_id", "p", "np", F.min("h").over(w_min).alias("fp"))
        .filter(F.col("p") <= F.col("np") - (_WIN_W - 1))
        .select("doc_id", "fp")
        .distinct()
    )
    by_doc = {r.doc_id: set() for r in fps.collect()}
    for r in fps.collect():
        by_doc[r.doc_id].add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 7-token span must share a fingerprint"


def test_pq_rerank_is_exact_over_the_coarse_list(spark):
    """The re-ranked top-10 must be exactly the 10 smallest exact
    distances WITHIN the 50-candidate ADC short list."""
    from pyspark.sql import functions as F

    from lakehouse_cdc_spark.plans import REGISTRY
    from lakehouse_cdc_spark.plans.quant_queries import (
        _PQ_COARSE,
        _pq_adc_exact,
    )

    sf = "/root/testdata/sf0.001"
    out = REGISTRY["emb_pq_rerank"].fn(spark, sf).collect()
    assert len(out) == 10
    assert all(1 <= r.coarse_rank <= _PQ_COARSE for r in out)
    assert [r.exact_dist for r in out] == sorted(r.exact_dist for r in out)

    both = _pq_adc_exact(spark, sf)
    coarse_ids = {
        r.vec_id
        for r in both.filter(F.col("vec_id") != 0)
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(_PQ_COARSE)
        .collect()
    }
    truth = sorted(
        (
            (r.exact_dist, r.vec_id)
            for r in both.collect()
            if r.vec_id in coarse_ids
        ),
    )[:10]
    assert [(r.exact_dist, r.vec_id) for r in out] == truth


def test_wav_roundtrip_and_chunk_walk():
    """wav_bytes must produce a file the stdlib wave module agrees
    with, and _parse_wav must survive a leading non-fmt chunk and odd
    chunk padding."""
    import io
    import struct
    import wave as wave_mod

    import numpy as np

    from lakehouse_cdc_spark.llm.multimodal import (
        _parse_wav,
        _wav_geometry,
        wav_bytes,
    )

    for doc_id in (0, 1, 7, 128, 255):
        b = wav_bytes(doc_id)
        n, sr, ch = _wav_geometry(doc_id)
        with wave_mod.open(io.BytesIO(b)) as w:
            assert w.getframerate() == sr
            assert w.getnchannels() == ch
            assert w.getnframes() == n
            assert w.getsampwidth() == 2
        got_sr, s = _parse_wav(b)
        assert got_sr == sr and s.shape == (n, ch)
        i = np.arange(n)[:, None]
        c = np.arange(ch)[None, :]
        expect = ((doc_id * 31 + i * 17 + c * 101) % 4096) - 2048
        assert (s == expect).all()

    # chunk walk: inject an odd-sized LIST chunk before fmt
    b = wav_bytes(5)
    odd = struct.pack("<4sI", b"LIST", 3) + b"abc" + b"\x00"  # pad byte
    patched = b[:12] + odd + b[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    sr0, s0 = _parse_wav(b)
    sr1, s1 = _parse_wav(patched)
    assert sr0 == sr1 and (s0 == s1).all()


def test_resize_gather_matches_manual_numpy():
    import numpy as np

    from lakehouse_cdc_spark.llm.multimodal import _parse_bmp, bmp_bytes

    for doc_id in (3, 4, 17):  # 24-bit and paletted variants
        pix = _parse_bmp(bmp_bytes(doc_id)).astype(np.int64)
        h, w, _ = pix.shape
        ys = (np.arange(4) * h) // 4
        xs = (np.arange(4) * w) // 4
        thumb = pix[np.ix_(ys, xs)][:, :, 0]
        # closed form the oracle uses, channel 0
        exp = np.array(
            [
                [(doc_id + 3 * ((x * w) // 4) + 5 * ((y * h) // 4)) % 256
                 for x in range(4)]
                for y in range(4)
            ]
        )
        assert (thumb == exp).all()


def test_frame_sampler_stride_one_equals_sum_of_all_frames(spark):
    from pyspark.sql import functions as F

    from lakehouse_cdc_spark.llm.multimodal import (
        encode_video_fixture,
        sample_video_frames,
    )

    docs = spark.range(0, 20).select(F.col("id").alias("doc_id"))
    vids = encode_video_fixture(docs)
    all_frames = {
        r.doc_id: (r.n_frames, r.n_sampled, r.sampled_px_sum)
        for r in sample_video_frames(vids, stride=1).collect()
    }
    every_other = {
        r.doc_id: (r.n_frames, r.n_sampled, r.sampled_px_sum)
        for r in sample_video_frames(vids, stride=2).collect()
    }
    for doc_id, (n, ns, s) in all_frames.items():
        assert ns == n  # stride 1 decodes everything
        n2, ns2, s2 = every_other[doc_id]
        assert n2 == n and ns2 == (n + 1) // 2
        assert 0 < s2 < s  # a strict subset of the pixel mass


def test_multimodal_parsers_reject_malformed_payloads():
    """Negative paths: every parser must fail loudly (ValueError with
    the offending field) on junk, truncation, and unsupported
    variants — never return garbage stats silently."""
    import struct

    import pytest as _pytest

    from lakehouse_cdc_spark.llm.multimodal import (
        _parse_bmp,
        _parse_wav,
        bmp_bytes,
        wav_bytes,
    )

    with _pytest.raises(ValueError, match="BM"):
        _parse_bmp(b"NOTABMP" * 10)
    with _pytest.raises(ValueError, match="RIFF"):
        _parse_wav(b"JUNK" * 10)

    # unsupported bit depth: patch a valid header to 16 bpp
    b = bytearray(bmp_bytes(3))
    struct.pack_into("<H", b, 28, 16)
    with _pytest.raises(ValueError, match="bpp"):
        _parse_bmp(bytes(b))

    # non-PCM audio format code
    w = bytearray(wav_bytes(3))
    struct.pack_into("<H", w, 20, 3)  # IEEE float fmt
    with _pytest.raises(ValueError, match="fmt"):
        _parse_wav(bytes(w))

    # WAV with fmt but truncated before the data chunk
    w2 = wav_bytes(3)
    with _pytest.raises(ValueError, match="data"):
        _parse_wav(w2[:36])


def test_incremental_shard_dedup_only_cross_pairs(spark, sf_dir):
    """Every reported candidate is new-vs-old (never old-old/new-new),
    jac_ppm is consistent with is_dup at the J>=0.5 rule, and the
    best_old partner is the minimum old candidate."""
    from lakehouse_cdc_spark.plans import REGISTRY

    rows = REGISTRY["dedup_incremental_new_shard"].fn(spark, sf_dir).collect()
    assert rows, "fixture produced no cross candidates"
    for r in rows:
        assert r.new_id % 5 == 0 and r.best_old % 5 != 0
        assert r.n_old_candidates >= 1
        assert (r.jac_ppm >= 500_000) == bool(r.is_dup)


def test_band_table_matches_pair_generator_and_caps_buckets(spark, sf_dir):
    """band_table (the stored-index shape) must induce EXACTLY the
    pairs lsh_candidate_pairs generates for the same parameters, and
    its write-time bucket cap must drop the same degenerate buckets."""
    from lakehouse_cdc_spark.llm.dedup import (
        band_table,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from lakehouse_cdc_spark.plans.registry import table

    import pyspark.sql.functions as F

    sigs = minhash_signatures(table(spark, sf_dir, "documents"), k=8)
    direct = {
        (r.da, r.db)
        for r in lsh_candidate_pairs(
            sigs, bands=4, rows_per_band=2, max_bucket_size=10
        ).collect()
    }
    idx = band_table(sigs, bands=4, rows_per_band=2, max_bucket_size=10)
    a = idx.select(F.col("doc_id").alias("da"), "band", "band_key")
    b = idx.select(F.col("doc_id").alias("db"), "band", "band_key")
    via_index = {
        (r.da, r.db)
        for r in a.join(b, on=["band", "band_key"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
        .collect()
    }
    assert via_index == direct and direct  # nonempty equivalence
    # the cap acts per (band, band_key)
    sizes = idx.groupBy("band", "band_key").count().agg(F.max("count")).first()[0]
    assert sizes <= 10


def test_simhash_hamming_blocked_equals_brute_force(spark, sf_dir):
    """Pigeonhole exactness: with blocks > max_distance, the blocked
    Hamming join must equal the all-pairs scan EXACTLY — flipping <=3
    of 60 bits leaves one of 4 blocks untouched, so no recall loss
    (unlike probabilistic MinHash banding)."""
    import pyspark.sql.functions as F

    from lakehouse_cdc_spark.llm.dedup import (
        simhash_bits,
        simhash_hamming_pairs,
    )
    from lakehouse_cdc_spark.plans.registry import table

    docs = table(spark, sf_dir, "documents")
    blocked = {
        (r.da, r.db, r.hamming)
        for r in simhash_hamming_pairs(
            docs, bits=60, blocks=4, max_distance=3
        ).collect()
    }
    sigs = simhash_bits(docs, bits=60)
    a = sigs.select(F.col("doc_id").alias("da"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("db"), F.col("simhash").alias("sb"))
    brute = {
        (r.da, r.db, r.hamming)
        for r in a.join(b, F.col("da") < F.col("db"))
        .select(
            "da", "db", F.expr("bit_count(sa ^ sb)").cast("int").alias("hamming")
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert blocked == brute and brute  # exact, and fixture has pairs
    # exact duplicates sit at distance 0
    assert min(h for _, _, h in brute) == 0


def test_simhash_hamming_rejects_bad_block_split(spark):
    import pytest as _pytest

    from lakehouse_cdc_spark.llm.dedup import simhash_hamming_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_hamming_pairs(df, bits=60, blocks=3, max_distance=3)
    with _pytest.raises(ValueError, match="divisible"):
        simhash_hamming_pairs(df, bits=60, blocks=7, max_distance=3)


def test_canonical_dedup_merges_reformatted_docs(spark, tmp_path):
    from lakehouse_cdc_spark.plans import REGISTRY

    rows = [
        (1, "Hello, World!  this IS   a test.", "en", "s", 30),
        (2, "hello world this is a test", "en", "s", 26),  # canonical twin
        (3, "entirely different content", "en", "s", 26),
    ]
    spark.createDataFrame(
        rows, "doc_id int, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.keep_doc_id: (r.dup_cnt, r.n_raw_variants)
        for r in REGISTRY["dedup_canonical_exact"].fn(spark, str(tmp_path)).collect()
    }
    assert got[1] == (2, 2)  # merged ONLY by canonicalization
    assert got[3] == (1, 1)


def test_parse_bmp_v4_header_palette_offset():
    """Regression (review finding): an 8-bit BMP with a 108-byte
    BITMAPV4HEADER passes the header guard, so the palette must be
    read at 14 + dib_size — not hardcoded offset 54 (which reads
    header bytes as palette and silently decodes garbage)."""
    import struct

    import numpy as np

    from lakehouse_cdc_spark.llm.multimodal import _parse_bmp

    w = h = 4
    dib = 108  # BITMAPV4HEADER
    palette = b"".join(struct.pack("<BBBB", i, 0, 0, 0) for i in range(256))
    stride = (w + 3) // 4 * 4
    pixels = bytes(range(h * stride))
    data_off = 14 + dib + 1024
    header = b"BM" + struct.pack("<IHHI", data_off + len(pixels), 0, 0, data_off)
    dib_hdr = struct.pack("<IiiHHII", dib, w, -h, 1, 8, 0, len(pixels))
    dib_hdr += b"\x00" * (dib - len(dib_hdr))
    img = _parse_bmp(header + dib_hdr + palette + pixels)
    assert img.shape == (h, w, 1)
    # identity palette: pixel value == palette index
    want = np.frombuffer(pixels, np.uint8).reshape(h, stride)[:, :w]
    assert (img[:, :, 0] == want).all()


def test_prefix_filter_join_equals_naive_jaccard(spark):
    """Prefix filtering must return the IDENTICAL pair set as the
    naive all-shingle join (exactness is the operator's contract) —
    exercised on a corpus crafted to stress the pruning: near-dup
    pairs, a boilerplate shingle shared by everything, docs whose only
    common shingles are globally frequent, and sub-threshold pairs."""
    from lakehouse_cdc_spark.llm.dedup import (
        jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the common tail alpha beta gamma delta"),
            (2, "the common tail alpha beta gamma DELTA"),  # near-dup of 1
            (3, "the common tail zeta eta theta iota"),
            (4, "the common tail zeta eta theta iota"),  # exact dup of 3
            (5, "unrelated words entirely different text here"),
            (6, "the common tail only shares boilerplate prefix"),
            (7, "x y z w v u t s r q"),
            (8, "x y z w v u t s r Q"),  # near-dup of 7
        ],
        "doc_id long, text string",
    )
    naive = {
        (r.da, r.db, r.jaccard)
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    pruned = {
        (r.da, r.db, r.jaccard)
        for r in prefix_filter_jaccard_pairs(docs).collect()
    }
    assert pruned == naive and naive  # identical, and non-trivial


def test_audio_vad_segments_hand_checkable(spark):
    """VAD segmentation on hand-built PCM: one loud region in a quiet
    clip yields exactly one segment covering the loud blocks; a
    constant-energy clip has NO block strictly above its own mean."""
    import struct

    import pyspark.sql.functions as F

    from lakehouse_cdc_spark.llm.multimodal import audio_active_segments

    def wav(samples):
        data = b"".join(struct.pack("<h", s) for s in samples)
        hdr = (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", len(data))
        )
        return hdr + data

    quiet = [10] * 16 * 6
    loud_mid = [10] * 16 * 2 + [1500] * 16 * 2 + [10] * 16 * 2
    constant = [700] * 16 * 6
    short = [900] * 7  # < one 16-frame block: nb == 0, must not raise
    df = spark.createDataFrame(
        [
            (1, bytearray(wav(loud_mid))),
            (2, bytearray(wav(constant))),
            (3, bytearray(wav(short))),
        ],
        "doc_id long, payload binary",
    )
    got = {
        r.doc_id: r
        for r in audio_active_segments(df).orderBy("doc_id").collect()
    }
    m = got[1]
    assert m.n_blocks == 6
    assert m.n_active == 2  # the two loud blocks
    assert m.n_segments == 1
    assert m.max_run == 2
    c = got[2]
    # every block equals the mean -> none STRICTLY above it
    assert (c.n_active, c.n_segments, c.max_run) == (0, 0, 0)
    s = got[3]
    # sub-block clip: the all-zero row, not a ZeroDivisionError
    assert (s.n_blocks, s.n_active, s.n_segments, s.max_run) == (0, 0, 0, 0)


def test_auto_k_policy_arithmetic():
    """auto_k = max(min_k, floor(sqrt(N)+0.5)) clamped by the centroid
    broadcast budget — the exact arithmetic the DuckDB oracles
    recompute from COUNT(*), so these pins are cross-engine pins."""
    from lakehouse_cdc_spark.llm.similarity import (
        _CENTROID_ELEM_BUDGET,
        auto_k,
    )

    assert auto_k(500, 64) == 22       # sf0.01 embeddings
    assert auto_k(2000, 64) == 45      # sf0.1
    assert auto_k(20000, 64) == 141    # sf1
    assert auto_k(10, 64) == 8         # min_k floor
    assert auto_k(0, 64) == 8
    assert auto_k(16, 64, min_k=32) == 32
    # byte-budget clamp: K*dim never exceeds the broadcast budget
    huge = auto_k(10**18, 64)
    assert huge * 64 <= _CENTROID_ELEM_BUDGET


def test_auto_k_clustered_recall_parity(spark):
    """On a corpus with planted near-duplicate clusters, the
    √N-appropriate auto-K bucketing recovers EVERY pair the exact
    all-pairs baseline finds — the recall-parity claim behind making
    K scale-aware (emb_ivf_auto_k is the oracle-checked twin of this
    on the shared testdata)."""
    import math

    from lakehouse_cdc_spark.llm.similarity import (
        auto_k,
        bucketed_cosine_pairs,
    )

    # 16 well-separated base directions in 16-d; 16 vectors per
    # cluster with tiny perturbations -> dense within-cluster pairs
    rows = []
    for c in range(16):
        base = [0.0] * 16
        base[c] = 1.0
        base[(c + 1) % 16] = 0.25
        for j in range(16):
            eps = 0.005 * j
            vec = [v + eps * math.sin(i + 3 * c + j) for i, v in enumerate(base)]
            rows.append((c * 16 + j, vec))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    k = auto_k(emb.count(), 16)
    assert k == 16  # sqrt(256)
    centroids = emb.filter(F.col("vec_id") % 16 == 0).limit(k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    exact = {
        (r.ia, r.ib): r.cos_sim
        for r in cosine_pairs(emb, threshold=0.95).collect()
    }
    auto = {
        (r.ia, r.ib): r.cos_sim
        for r in bucketed_cosine_pairs(
            emb, centroids, threshold=0.95, probes=2
        ).collect()
    }
    assert len(exact) >= 16 * 120 * 0.8  # clusters genuinely dense
    assert set(auto) == set(exact)       # full recall, no extras
    assert all(auto[p] == exact[p] for p in exact)


def test_emb_ivf_auto_k_row_invariants(spark, sf_dir):
    """The declared recall-parity row: every probe finds at least
    itself under BOTH parameterizations, k_auto follows the policy,
    and hit counts are bounded by the truth size (10)."""
    from lakehouse_cdc_spark.llm.similarity import auto_k
    from lakehouse_cdc_spark.plans import REGISTRY

    rows = REGISTRY["emb_ivf_auto_k"].fn(spark, sf_dir).collect()
    assert len(rows) >= 4
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    expect_k = auto_k(n, 64, min_k=8)
    for r in rows:
        assert r.k_auto == expect_k
        assert 1 <= r.hits_fixed <= 10  # self is always recovered
        assert 1 <= r.hits_auto <= 10


def test_lsh_sweep_emits_zero_count_configs(spark, tmp_path):
    """A sweep config with ZERO candidate pairs must still report its
    row (the DuckDB oracle's per-config COUNT(*) always emits all
    three) — two totally dissimilar documents share no band anywhere,
    so every config reports 0 instead of vanishing from the groupBy."""
    from lakehouse_cdc_spark.plans.llm_queries import (
        dedup_lsh_parameter_sweep,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "s1"),
            (2, "one two three four five six seven", "s1"),
        ],
        "doc_id long, text string, source string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = {
        (r.n_bands, r.rows_per_band): r.n_candidates
        for r in dedup_lsh_parameter_sweep(spark, str(tmp_path)).collect()
    }
    assert rows == {(8, 1): 0, (4, 2): 0, (2, 4): 0}


def test_maxsim_blocked_equals_expression_form(spark):
    """The blocked MaxSim kernel must reproduce the JVM expression form
    (broadcast cross-join + HOF cosine + groupBy max) bit-exactly —
    fold-left dots, HALF_UP micro rounding, int64 max composition."""
    import numpy as np

    from lakehouse_cdc_spark.llm.similarity import (
        cosine_sim,
        maxsim_partials_blocked,
    )

    rng = np.random.default_rng(11)
    dim = 16
    rows = [
        (int(i), int(i // 7), [float(x) for x in rng.uniform(-1, 1, dim)])
        for i in range(140)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, grp bigint, embedding array<double>"
    )
    q = emb.filter(F.col("grp") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    cand = emb.filter(F.col("grp") != 0)

    naive = {
        (r.grp, r.qid): r.max_sim
        for r in cand.join(F.broadcast(q))
        .select(
            "qid",
            "grp",
            F.round(
                cosine_sim(
                    F.col("qemb").cast("array<double>"),
                    F.col("embedding").cast("array<double>"),
                )
                * 1000000
            )
            .cast("bigint")
            .alias("sim_micro"),
        )
        .groupBy("qid", "grp")
        .agg(F.max("sim_micro").alias("max_sim"))
        .collect()
    }
    blocked = {
        (r.grp, r.qid): r.max_sim
        for r in maxsim_partials_blocked(cand, q).collect()
    }
    assert blocked == naive


@pytest.mark.parametrize("probes", [1, 2, 6])
def test_ivf_assign_equals_expression_form_on_ties(spark, probes):
    """The map-side IVF kernel must rank centroids exactly as the
    crossJoin + ``row_number`` form the oracles replay — rounded cosine
    desc, centroid id asc — on vectors with planted EXACT cosine ties:
    a duplicated centroid under two ids, and vectors equidistant from
    two or four basis centroids.  Also the one-row query frame with a
    literal id that ``ivf_topk`` probes with."""
    import numpy as np
    from pyspark.sql import Window

    from lakehouse_cdc_spark.llm.similarity import cosine_sim, ivf_assign

    dim = 8
    basis = np.eye(dim)
    # cid 9 duplicates cid 2, so every vector ties on that pair
    cvecs = {9: basis[0], 2: basis[0], 7: basis[1], 4: basis[2],
             5: basis[3], 1: np.linspace(-1, 1, dim)}
    cents = spark.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in cvecs.items()],
        "cid bigint, cemb array<double>",
    )
    rng = np.random.default_rng(7)
    planted = [basis[0] + basis[1], basis[0] + basis[1] + basis[2] + basis[3],
               basis[0], 3 * basis[1] + 3 * basis[2]]
    vecs = planted + list(rng.uniform(-1, 1, (40, dim)))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )

    def expression_form(df, id_col, vec_col):
        cs = F.round(
            cosine_sim(
                F.col(vec_col).cast("array<double>"),
                F.col("cemb").cast("array<double>"),
            ),
            6,
        )
        w = Window.partitionBy(id_col).orderBy(F.desc("cs"), F.asc("cluster"))
        return sorted(
            tuple(r)
            for r in df.crossJoin(F.broadcast(cents))
            .select(id_col, F.col("cid").alias("cluster"), cs.alias("cs"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= probes)
            .select(id_col, "cluster", "cs")
            .collect()
        )

    def kernel(df, id_col, vec_col):
        out = ivf_assign(df, cents, id_col=id_col, vec_col=vec_col, probes=probes)
        return sorted(tuple(r) for r in out.collect())

    want = expression_form(emb, "vec_id", "embedding")
    assert kernel(emb, "vec_id", "embedding") == want
    if probes < len(cvecs):  # the planted ties are real and break by cid
        tied = {0: [2, 7, 9], 1: [2, 4, 5, 7, 9], 2: [2, 9]}
        for v, cids in tied.items():
            assert sorted(c for u, c, _ in want if u == v) == cids[:probes]

    query = emb.filter(F.col("vec_id") == 1).select(
        F.lit(0).cast("bigint").alias("qid"), F.col("embedding").alias("q_embedding")
    )
    assert kernel(query, "qid", "q_embedding") == expression_form(
        query, "qid", "q_embedding"
    )


def test_containment_pairs_mirror_is_complete_and_symmetric(spark):
    """The halved-join form must still emit BOTH directions of every
    co-shingled pair, with direction-correct sizes: A embedded in B
    scores ~1000 permille for (A->B) while (B->A) only passes when B
    is small enough — and inter must be identical both ways."""
    from lakehouse_cdc_spark.llm.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon"
    long = short + " zeta eta theta iota kappa lambda mu nu xi omicron"
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "unrelated words about other topics entirely")],
        "doc_id bigint, text string",
    )
    # threshold 0: every co-shingled pair must appear in both directions
    rows = {
        (r.da, r.db): (r.n_a, r.inter, r.containment_permille)
        for r in containment_pairs(docs, threshold_permille=0).collect()
    }
    assert set(rows) == {(1, 2), (2, 1)}
    n_a12, inter12, cp12 = rows[(1, 2)]
    n_a21, inter21, cp21 = rows[(2, 1)]
    assert inter12 == inter21  # symmetric intersection
    assert cp12 == 1000  # short doc fully contained in long
    assert cp12 > cp21  # directionality preserved
    assert n_a12 < n_a21  # each direction carries ITS da's size


def test_word_shingles_zipwith_equals_transform_form(spark):
    """The zip_with shingle build (split evaluated O(n) per ROW) must be
    element-identical to the round-2 transform form (split re-evaluated
    per SHINGLE — the 16x pathology this replaced), including the
    short-document single-shingle rule, NULL text ([NULL]), empty text,
    and non-space whitespace."""
    from lakehouse_cdc_spark.llm.text import tokens, word_shingles

    def transform_form(text, n):
        toks = tokens(text)
        cnt = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(cnt - (n - 1), F.lit(1)))
        return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "one"),
        (3, ""),
        (4, None),
        (5, "  padded   with    runs  of spaces "),
        (6, " \t tab\tsep \n newline mix "),
        (7, "a b"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    for n in (1, 2, 3, 5, 8):
        bad = (
            d.select(
                transform_form(F.col("text"), n).alias("o"),
                word_shingles(F.col("text"), n).alias("w"),
            )
            .filter(~F.col("o").eqNullSafe(F.col("w")))
            .count()
        )
        assert bad == 0, f"shingle divergence at n={n}"


def test_chunk_windows_bound_equals_captured_form(spark):
    """The outer-transform binding build (tokenizer evaluated once per
    ROW) must be element-identical to the captured-lambda form it
    replaced (tokenizer re-evaluated per WINDOW — the same pathology as
    the shingle 16x), across empty/NULL/short/boundary lengths and both
    default and custom (size, stride)."""
    from lakehouse_cdc_spark.llm.text import chunk_windows, tokens

    def captured_form(text, size, stride):
        toks = tokens(text)
        n = F.size(toks)
        n_chunks = F.greatest(
            F.ceil((n - F.lit(size)) / F.lit(stride)).cast("int") + F.lit(1),
            F.lit(1),
        )
        starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
        return F.transform(
            starts, lambda s: F.array_join(F.slice(toks, s + 1, size), " ")
        )

    rows = [(1, ""), (2, None), (3, "one two"), (4, "  a   b  c ")] + [
        (10 + k, " ".join(f"t{i}" for i in range(m)))
        for k, m in enumerate((49, 50, 51, 75, 76, 120))
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    for size, stride in ((50, 25), (10, 10), (8, 3)):
        bad = (
            d.select(
                captured_form(F.col("text"), size, stride).alias("o"),
                chunk_windows(F.col("text"), size=size, stride=stride).alias("w"),
            )
            .filter(~F.col("o").eqNullSafe(F.col("w")))
            .count()
        )
        assert bad == 0, f"chunk divergence at size={size} stride={stride}"


def test_word_shingles_rejects_nonpositive_n():
    from lakehouse_cdc_spark.llm.text import word_shingles

    import pytest as _pytest

    for n in (0, -1):
        with _pytest.raises(ValueError, match="n must be >= 1"):
            word_shingles("text", n)
