"""Properties for the LLM-pipeline extensions: LSH candidate sets are
subsets of (and near-complete against) exact brute-force results, the
Arrow featurizer is deterministic with the right shape, and the stub
decode fails loudly."""

from __future__ import annotations

import pytest

from hq_master_data_warehouse_spark.operators.dedup import (
    dedup_embedding_cosine,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
)
from hq_master_data_warehouse_spark.operators.multimodal import (
    FEATURE_BINS,
    decode_image,
    multimodal_feature_extract,
)
from hq_master_data_warehouse_spark.operators.similarity import (
    ANN_THRESHOLD,
    similarity_ann_lsh,
)

SF = "/root/testdata/sf0.001"


def _pairs(df):
    return {(r[0], r[1]) for r in df.collect()}


def test_minhash_lsh_subset_of_exact(spark):
    exact = _pairs(dedup_ngram_jaccard(spark, SF))
    lsh = _pairs(dedup_minhash_lsh(spark, SF))
    # verification step guarantees precision 1.0
    assert lsh <= exact
    # banded minhash at j>=0.3 should recover a decent share when any
    # exact pairs exist
    if exact:
        assert len(lsh) / len(exact) >= 0.2


def test_ann_lsh_subset_of_exact_cosine(spark):
    # brute-force ground truth at the ANN threshold (numpy, tiny sf)
    import duckdb
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    con.close()
    ids = [r[0] for r in rows]
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    brute = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if sims[i, j] >= ANN_THRESHOLD - 1e-9
    }
    ann = _pairs(similarity_ann_lsh(spark, SF))
    # exact verification step => precision 1.0
    assert ann <= brute
    # banded hyperplane LSH should recover a meaningful share
    if brute:
        assert len(ann) / len(brute) >= 0.2


def test_feature_extract_shape_and_determinism(spark):
    out1 = multimodal_feature_extract(spark, SF).orderBy("doc_id").collect()
    out2 = multimodal_feature_extract(spark, SF).orderBy("doc_id").collect()
    assert out1 == out2
    for row in out1[:10]:
        # feature is a comma-joined fixed-scale string (list cells
        # crash the gate's canonicalizer)
        vals = [float(x) for x in row.feature.split(",")]
        assert len(vals) == FEATURE_BINS
        # 16 bins x 5e-7 per-element formatting error headroom
        assert abs(sum(vals) - 1.0) < 1e-4


def test_decode_unsupported_format_raises():
    with pytest.raises(NotImplementedError):
        decode_image(b"GIF89a\x01\x00\x01\x00")


def test_decode_png_all_filters_roundtrip():
    """encode_png -> decode_image round-trips RGB pixels through every
    scanline filter type (0-4), via real zlib compression."""
    from hq_master_data_warehouse_spark.operators.multimodal import (
        encode_png,
    )

    w, h = 4, 5
    pixels = bytes((i * 37 + 11) % 256 for i in range(w * h * 3))
    png = encode_png(pixels, w, h, "RGB", row_filters=[0, 1, 2, 3, 4])
    img = decode_image(png)
    assert (img["width"], img["height"], img["mode"]) == (w, h, "RGB")
    assert img["pixels"] == pixels


def test_decode_png_rgba_and_crc_guard():
    from hq_master_data_warehouse_spark.operators.multimodal import (
        encode_png,
    )

    w, h = 3, 2
    pixels = bytes((i * 53 + 7) % 256 for i in range(w * h * 4))
    png = encode_png(pixels, w, h, "RGBA", row_filters=[4, 2])
    img = decode_image(png)
    assert img["mode"] == "RGBA" and img["pixels"] == pixels
    # corrupt one IDAT byte: the chunk CRC must catch it
    corrupt = bytearray(png)
    corrupt[len(png) // 2] ^= 0xFF
    with pytest.raises((ValueError, Exception)):
        decode_image(bytes(corrupt))


def test_decode_png_rejects_exotic_variants():
    """Palette/16-bit/interlaced PNGs raise NotImplementedError (format
    breadth, not plumbing); a signature with no chunks is truncated."""
    import struct
    import zlib

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    with pytest.raises(ValueError):
        decode_image(sig)  # no IHDR/IDAT
    pal_ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)  # palette
    with pytest.raises(NotImplementedError):
        decode_image(
            sig
            + chunk(b"IHDR", pal_ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 6))
        )


def test_decode_ppm_with_comment():
    pixels = bytes(range(2 * 2 * 3))
    img = decode_image(b"P6\n# comment line\n2 2\n255\n" + pixels)
    assert (img["width"], img["height"], img["mode"]) == (2, 2, "RGB")
    assert img["pixels"] == pixels


def test_decode_bmp_bottom_up_with_padding():
    import struct

    # 2x2 24-bit BMP, bottom-up, rows padded 6 -> 8 bytes.  Rows in
    # file order: bottom row first, pixels stored BGR.
    top = [(255, 0, 0), (0, 255, 0)]  # RGB of the TOP row
    bottom = [(0, 0, 255), (10, 20, 30)]
    def row_bytes(px):
        return b"".join(bytes((b, g, r)) for (r, g, b) in px) + b"\x00\x00"
    data = row_bytes(bottom) + row_bytes(top)
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(data), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(data), 0, 0, 0, 0
    )
    img = decode_image(header + data)
    assert (img["width"], img["height"]) == (2, 2)
    want = b"".join(
        bytes(px) for px in top + bottom
    )  # decoded top-down RGB
    assert img["pixels"] == want


def test_decode_wav_pcm_roundtrip():
    import struct

    from hq_master_data_warehouse_spark.operators.multimodal import (
        decode_audio,
    )

    samples = [0, 100, -100, 32767, -32768, 7]
    data = struct.pack(f"<{len(samples)}h", *samples)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    out = decode_audio(wav)
    assert out["sample_rate"] == 44100
    assert out["n_channels"] == 2
    assert out["samples"] == samples


def test_decode_audio_unsupported_raises():
    from hq_master_data_warehouse_spark.operators.multimodal import (
        decode_audio,
    )

    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04rest-of-an-mp3")


def test_decode_audio_query_runs_on_real_wavs(spark):
    from hq_master_data_warehouse_spark.operators.multimodal import (
        AUDIO_BYTES,
        AUDIO_RATE,
        multimodal_decode_audio,
    )

    rows = multimodal_decode_audio(spark, SF).collect()
    assert rows
    for r in rows[:20]:
        assert r.sample_rate == AUDIO_RATE
        assert r.n_channels == 1
        assert r.n_samples == AUDIO_BYTES // 2
        assert 0.0 <= r.mean_abs_amplitude <= 32768.0


def test_decode_image_query_runs_on_real_ppms(spark):
    from hq_master_data_warehouse_spark.operators.multimodal import (
        DECODE_H,
        DECODE_W,
        multimodal_decode_image,
    )

    rows = multimodal_decode_image(spark, SF).collect()
    assert rows
    for r in rows[:20]:
        assert (r.width, r.height) == (DECODE_W, DECODE_H)
        assert r.n_pixels == DECODE_W * DECODE_H
        assert 0.0 <= r.mean_byte <= 255.0


def test_decode_png_query_matches_ppm_twin(spark):
    """multimodal_decode_png frames the SAME payload bytes as the PPM
    twin (different container, real zlib deflate + all five filters),
    so per-doc stats must be identical."""
    from hq_master_data_warehouse_spark.operators.multimodal import (
        multimodal_decode_image,
        multimodal_decode_png,
    )

    ppm = {
        r.doc_id: (r.width, r.height, r.n_pixels, round(r.mean_byte, 9))
        for r in multimodal_decode_image(spark, SF).collect()
    }
    png = {
        r.doc_id: (r.width, r.height, r.n_pixels, round(r.mean_byte, 9))
        for r in multimodal_decode_png(spark, SF).collect()
    }
    assert png == ppm and png


@pytest.mark.parametrize("block_rows", [None, 64])
def test_embedding_cosine_blocked_matches_naive_and_no_cartesian(
    spark, monkeypatch, block_rows
):
    """The blocked-GEMM exact plan must (a) produce exactly the naive
    all-pairs result and (b) contain no cartesian/nested-loop join --
    the r2->r3 re-plan's contract.  block_rows=64 forces an 8-chunk /
    36-cell grid so the multi-cell path (diagonal-cell upper-triangle
    dedupe, off-diagonal pair orientation) is exercised -- at the
    fixture SFs the default block size yields a single cell."""
    from hq_master_data_warehouse_spark.operators import dedup as dd
    from hq_master_data_warehouse_spark.operators.dedup import (
        COSINE_DUP_THRESHOLD,
        dedup_embedding_cosine,
    )

    if block_rows is not None:
        monkeypatch.setattr(dd, "EMB_BLOCK_ROWS", block_rows)
    from pyspark.sql import functions as F

    from hq_master_data_warehouse_spark.operators.similarity import (
        cosine_expr,
    )
    from hq_master_data_warehouse_spark.sources.loaders import load_table

    got = {
        (r.vec_a, r.vec_b, round(r.cosine, 6))
        for r in dedup_embedding_cosine(spark, SF).collect()
    }
    emb = load_table(spark, SF, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    naive = (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine_expr(F.col("ea"), F.col("eb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )
    want = {(r.vec_a, r.vec_b, round(r.cosine, 6)) for r in naive.collect()}
    assert got == want
    plan = dedup_embedding_cosine(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_cosine_zero_norm_guard():
    """gemm_block gives an all-zero embedding cosine 0 to everything
    (dropped by the threshold) instead of NaN rows -- NaN comparison
    semantics could diverge between numpy and the SQL oracle."""
    import numpy as np

    na = np.linalg.norm(np.zeros((2, 4)), axis=1, keepdims=True)
    guarded = np.zeros((2, 4)) / np.where(na == 0, 1.0, na)
    assert not np.isnan(guarded).any()
    assert (guarded == 0).all()


def test_embedding_cosine_refuses_beyond_chunk_cap(spark, monkeypatch):
    """The exact O(n^2) anchor is bounded: beyond EMB_MAX_CHUNKS it
    must refuse with a pointer to the sub-quadratic ANN family rather
    than build an unbounded driver-side chunk grid."""
    from hq_master_data_warehouse_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "EMB_BLOCK_ROWS", 2)
    monkeypatch.setattr(dd, "EMB_MAX_CHUNKS", 4)
    with pytest.raises(ValueError, match="similarity_ann_lsh"):
        dd.dedup_embedding_cosine(spark, SF)


def test_ivf_topk_recall_vs_brute_force(spark):
    from hq_master_data_warehouse_spark.operators.similarity import (
        IVF_TOPK,
        similarity_cosine_topk,
        similarity_ivf_topk,
    )

    exact = [(r.vec_id, r.cosine) for r in similarity_cosine_topk(spark, SF).collect()]
    ivf = [(r.vec_id, r.cosine) for r in similarity_ivf_topk(spark, SF).collect()]
    # every IVF hit carries the exact cosine (verification is exact)
    exact_all = dict(exact)
    for vid, cos in ivf:
        if vid in exact_all:
            assert abs(cos - exact_all[vid]) < 1e-9
    # probing 3 of 8 lists must recover a meaningful share of the
    # true top-k
    recall = len({v for v, _ in ivf} & {v for v, _ in exact}) / len(exact)
    assert recall >= 0.3
    assert len(ivf) == IVF_TOPK


def test_source_mix_fractions_and_determinism(spark):
    from hq_master_data_warehouse_spark.operators.sampling import (
        MIX_WEIGHTS,
        sample_source_mix,
        source_mix_sample,
    )
    from hq_master_data_warehouse_spark.sources.loaders import load_table

    sf = "/root/testdata/sf0.01"
    mixed = source_mix_sample(spark, sf)
    got = {
        r.source: r.n for r in
        mixed.groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    base = {
        r.source: r.n for r in
        load_table(spark, sf, "documents")
        .groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    for src, total in base.items():
        want = MIX_WEIGHTS.get(src, 1.0)
        achieved = got.get(src, 0) / total
        # Bernoulli sampling tolerance on 25-doc strata
        assert abs(achieved - want) <= 0.35, (src, achieved, want)
    # seeded: same plan, same rows
    again = {r.doc_id for r in source_mix_sample(spark, sf).select("doc_id").collect()}
    first = {r.doc_id for r in mixed.select("doc_id").collect()}
    assert first == again
    # the registered AUDIT query (r10 oracle conversion): every
    # stratum present, every achieved count inside its binomial band
    audit = sample_source_mix(spark, sf).collect()
    assert len(audit) == len(base)
    assert all(r.within_tol for r in audit)
    # the tolerance is TIGHT enough to catch a weight mix-up: a 25%
    # stratum sampled at 100% overshoots expected_n by ~3x its band
    for r in audit:
        if MIX_WEIGHTS.get(r.source, 1.0) == 0.25:
            assert base[r.source] - r.expected_n > r.tolerance


def test_approx_sketches_within_error_bounds(spark):
    from hq_master_data_warehouse_spark.operators.relational_ext import (
        agg_approx_sketches,
    )

    for r in agg_approx_sketches(spark, "/root/testdata/sf0.01").collect():
        # the op itself asserts HLL within 3x rsd and each GK
        # estimate inside its rank band (r10 oracle conversion);
        # here pin the audited booleans and the band's sanity
        assert r.hll_in_rse and r.q50_in_band and r.q90_in_band
        assert r.lo50_cents <= r.hi50_cents <= r.hi90_cents
        assert r.lo50_cents <= r.lo90_cents <= r.hi90_cents
        assert r.exact_parts > 0


def test_simhash_pairs_deterministic_and_bounded(spark):
    from hq_master_data_warehouse_spark.operators.dedup import (
        MAX_HAMMING,
        dedup_simhash,
    )

    first = {(r.doc_a, r.doc_b, r.hamming) for r in dedup_simhash(spark, SF).collect()}
    again = {(r.doc_a, r.doc_b, r.hamming) for r in dedup_simhash(spark, SF).collect()}
    assert first == again
    for a, b, h in first:
        assert a < b
        assert 0 <= h <= MAX_HAMMING


def test_resize_fixed_shape_and_determinism(spark):
    from hq_master_data_warehouse_spark.operators.multimodal import (
        THUMB_BYTES,
        multimodal_resize,
    )

    rows = multimodal_resize(spark, SF).collect()
    assert rows
    for r in rows:
        # hex-encoded since the r10 oracle conversion: 2 chars/byte
        assert len(r.thumb_hex) == 2 * THUMB_BYTES
        assert r.orig_len >= 0
    again = {(r.doc_id, r.thumb_hex) for r in multimodal_resize(spark, SF).collect()}
    assert {(r.doc_id, r.thumb_hex) for r in rows} == again


def test_connected_components_chain_and_forest(spark, monkeypatch):
    """A 40-node chain (worst-case diameter) plus a separate triangle:
    every node must land in the component of its minimum reachable id,
    well within CC_MAX_ITERS thanks to pointer jumping -- and a loop
    cut short of convergence must raise, not return its labels."""
    from hq_master_data_warehouse_spark.operators import dedup
    from hq_master_data_warehouse_spark.operators.dedup import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(100, 140)]
    triangle = [(7, 9), (9, 11), (7, 11)]
    edges = spark.createDataFrame(
        chain + triangle, schema="src long, dst long"
    )
    got = {
        (r.node, r.comp) for r in connected_components(edges).collect()
    }
    want = {(n, 100) for n in range(100, 141)} | {(n, 7) for n in (7, 9, 11)}
    assert got == want

    monkeypatch.setattr(dedup, "CC_MAX_ITERS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges)


def test_quantize_codes_bounded_and_reconstructable(spark):
    from hq_master_data_warehouse_spark.operators.similarity import (
        embedding_quantize_int8,
    )

    rows = embedding_quantize_int8(spark, SF).collect()
    assert rows
    for r in rows:
        codes = [int(c) for c in r.codes.split(",")]
        assert all(0 <= c <= 255 for c in codes)
        assert r.recon_ok, f"vec {r.vec_id} outside half-step bound"


def test_semantic_dedup_dup_implies_lower_neighbor(spark):
    from hq_master_data_warehouse_spark.operators.dedup import (
        SEMDEDUP_K,
        dedup_semantic_clusters,
    )

    rows = dedup_semantic_clusters(spark, SF).collect()
    assert rows
    assert {r.cluster_id for r in rows} <= set(range(SEMDEDUP_K))
    # seeds can never be duplicates of a lower id in another cluster
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        ids = sorted(m.vec_id for m in members)
        for m in members:
            if m.is_dup:
                assert m.vec_id > ids[0]


def test_zorder_interleave_matches_python_model(spark):
    from hq_master_data_warehouse_spark.operators.layout import (
        ZORDER_BITS,
        layout_zorder_index,
    )

    def model(a, b):
        z = 0
        for i in range(ZORDER_BITS):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    rows = layout_zorder_index(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.zval == model(r.a, r.b)
        assert r.zfile == r.zval >> (2 * ZORDER_BITS - 6)


def test_mmr_diversify_invariants(spark):
    """MMR re-ranking: k distinct picks, the first pick is the pure
    top-relevance hit, every pick's relevance comes from the candidate
    head, and the diversity penalty actually reorders vs pure top-k."""
    from hq_master_data_warehouse_spark.operators.similarity import (
        MMR_K,
        similarity_cosine_topk,
        similarity_mmr_diversify,
    )

    rows = similarity_mmr_diversify(spark, SF).collect()
    assert len(rows) == MMR_K
    assert len({r.vec_id for r in rows}) == MMR_K
    assert [r.rank for r in rows] == list(range(1, MMR_K + 1))
    topk = similarity_cosine_topk(spark, SF).collect()
    # first MMR pick == most relevant candidate
    assert rows[0].vec_id == topk[0].vec_id
    assert abs(rows[0].rel - topk[0].cosine) < 1e-9
    # the penalty reorders: the MMR sequence is not simply the top-k
    assert [r.vec_id for r in rows] != [r.vec_id for r in topk]
    # mmr_score is rel for the seed and <= rel afterwards
    for r in rows[1:]:
        assert r.mmr_score <= r.rel + 1e-9


def test_pagerank_mass_and_teleport_floor(spark):
    """PageRank invariants on the co-purchase graph: every rank is at
    least the teleport floor, total mass is <= 1 (dangling nodes leak
    mass in the simple variant, matching the oracle), and the rank
    vector is non-constant (the graph actually redistributes mass)."""
    from hq_master_data_warehouse_spark.operators.graph import (
        PR_DAMPING,
        graph_pagerank_copurchase,
    )

    rows = graph_pagerank_copurchase(spark, SF).collect()
    n = len(rows)
    assert n > 0
    floor_ppm = (1 - PR_DAMPING) / n * 1e6
    total = sum(r.rank_ppm for r in rows) / 1e6
    assert all(r.rank_ppm >= floor_ppm - 1e-6 for r in rows)
    assert total <= 1.0 + 1e-6
    assert len({r.rank_ppm for r in rows}) > 1


def test_ses_seed_and_smoothing_bounds(spark):
    """SES invariants: the first month's level equals its revenue
    (seed), and every level lies within the min/max of revenues seen
    so far (convexity of exponential smoothing)."""
    from hq_master_data_warehouse_spark.operators.analytics import (
        orders_forecast_ses,
    )

    rows = sorted(
        orders_forecast_ses(spark, SF).collect(), key=lambda r: r.mo
    )
    assert rows
    assert abs(rows[0].ses_level - rows[0].revenue) < 0.01
    lo = hi = rows[0].revenue
    for r in rows:
        lo, hi = min(lo, r.revenue), max(hi, r.revenue)
        assert lo - 0.01 <= r.ses_level <= hi + 0.01


def test_ann_recall_eval_matches_registered_queries(spark):
    """The oracle-backed similarity_ann_recall_eval uses a 6-dp-rounded
    cosine for rankings (cross-engine determinism); this bridges it to
    the ACTUAL registered rows-only ANN queries: the recall numbers it
    reports must equal recall computed directly from
    similarity_ann_lsh / similarity_ivf_topk / the exact baselines."""
    from hq_master_data_warehouse_spark.operators.dedup import (
        exact_cosine_pairs,
    )
    from hq_master_data_warehouse_spark.operators.similarity import (
        ANN_THRESHOLD,
        IVF_TOPK,
        similarity_ann_recall_eval,
        similarity_cosine_topk,
        similarity_ivf_topk,
    )

    rows = {
        r.method: r for r in similarity_ann_recall_eval(spark, SF).collect()
    }
    assert set(rows) == {"ivf_top10", "lsh_pairs"}

    lsh = len(_pairs(similarity_ann_lsh(spark, SF)))
    exact_pairs = exact_cosine_pairs(spark, SF, ANN_THRESHOLD).count()
    assert rows["lsh_pairs"].hits == lsh
    assert rows["lsh_pairs"].denom == exact_pairs
    assert rows["lsh_pairs"].recall == round(lsh / exact_pairs, 4)

    exact_ids = {
        r.vec_id for r in similarity_cosine_topk(spark, SF).collect()
    }
    ivf_ids = {r.vec_id for r in similarity_ivf_topk(spark, SF).collect()}
    assert rows["ivf_top10"].hits == len(ivf_ids & exact_ids)
    assert rows["ivf_top10"].denom == IVF_TOPK


def test_incremental_lsh_pairs_are_cross_side_and_within_exact(spark):
    """dedup_incremental_lsh: every reported pair is batch-vs-corpus
    (never corpus-internal), clears the ppm threshold exactly, and is
    a subset of the exact ngram-Jaccard pair set (the banding can
    only MISS true pairs, never invent them -- the verify phase is
    exact)."""
    from hq_master_data_warehouse_spark.operators.dedup import (
        INCR_BATCH_MOD,
        JACCARD_THRESHOLD_PPM,
        dedup_incremental_lsh,
        dedup_ngram_jaccard,
    )

    rows = dedup_incremental_lsh(spark, SF).collect()
    assert rows, "fixture contains no batch-vs-corpus near-dups"
    exact = _pairs(dedup_ngram_jaccard(spark, SF))
    for r in rows:
        assert r.batch_doc % INCR_BATCH_MOD == 0
        assert r.corpus_doc % INCR_BATCH_MOD != 0
        assert (
            r.inter_cnt * 1_000_000
            >= JACCARD_THRESHOLD_PPM * r.union_cnt
        )
        assert r.jaccard_ppm == r.inter_cnt * 1_000_000 // r.union_cnt
        key = (
            min(r.batch_doc, r.corpus_doc),
            max(r.batch_doc, r.corpus_doc),
        )
        assert key in exact


def test_leakage_safe_split_never_separates_near_dups(spark):
    """split_leakage_safe: the contamination contract -- no
    ngram-Jaccard near-dup pair may span train/holdout, every doc is
    assigned exactly once, and singleton docs fall back to the plain
    per-doc hash split (same SPLIT_CUT convention)."""
    from hq_master_data_warehouse_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )
    from hq_master_data_warehouse_spark.operators.sampling import (
        SPLIT_CUT,
        split_leakage_safe,
    )
    import hashlib

    out = {
        r.doc_id: (r.rep_id, r.split)
        for r in split_leakage_safe(spark, SF).collect()
    }
    docs = {
        r.doc_id
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id")
        .collect()
    }
    assert set(out) == docs  # total assignment, once per doc
    paired = set()
    for a, b in _pairs(dedup_ngram_jaccard(spark, SF)):
        assert out[a][1] == out[b][1], (a, b, out[a], out[b])
        assert out[a][0] == out[b][0]  # same representative
        paired |= {a, b}
    for d, (rep, split) in out.items():
        if d not in paired:
            assert rep == d  # singleton represents itself
        expect = (
            "train"
            if hashlib.md5(str(rep).encode()).hexdigest()[:2]
            < SPLIT_CUT
            else "holdout"
        )
        assert split == expect
