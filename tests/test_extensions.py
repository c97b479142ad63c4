"""Recall / property checks for the approximate extension operators
(SURVEY §5.5): LSH forms are excluded from the DuckDB hash oracle, so
their quality is asserted here against exact ground truth at sf0.001
(small enough for O(n²) comparison).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_market_etl_spark.io import load_table
from stock_market_etl_spark.operators import dedup, multimodal, similarity


def test_minhash_lsh_recall(spark, sf_smoke):
    """MinHash LSH must recover most truly-similar pairs (Jaccard on
    word 3-grams ≥ 0.7 ground truth computed exactly)."""
    docs = load_table(spark, sf_smoke, "documents")
    approx = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    # exact ground truth on the same feature space: word 3-gram Jaccard
    grams = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.size(F.split(F.trim("text"), r"\s+")) - 2, F.lit(0)
                    ),
                ),
                lambda i: F.concat_ws(
                    " ",
                    F.slice(F.split(F.trim("text"), r"\s+"), i, 3),
                ),
            )
        ).alias("grams"),
    ).filter(F.size("grams") > 0)
    a = grams.select(
        F.col("doc_id").alias("id_a"), F.col("grams").alias("ga")
    )
    b = grams.select(
        F.col("doc_id").alias("id_b"), F.col("grams").alias("gb")
    )
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    union = F.size("ga") + F.size("gb") - F.size(F.array_intersect("ga", "gb"))
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (inter / union).alias("j"))
        .filter(F.col("j") >= 0.7)
        .collect()
    }
    if not truth:
        # corpus has no high-similarity pairs at this sf — vacuous pass
        return
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, f"MinHash LSH recall {recall:.2f} < 0.8"


def test_ann_lsh_recall(spark, sf_smoke):
    """Hyperplane-LSH ANN results must overlap the exact cosine top-k."""
    emb = load_table(spark, sf_smoke, "embeddings")
    exact = [
        r.vec_id
        for r in similarity.cosine_topk(emb, query_id=0, k=10).collect()
    ]
    approx_rows = similarity.ann_lsh(
        emb, query_id=0, dim=64, k=10, n_planes=8
    ).collect()
    approx = {r.vec_id for r in approx_rows}
    # every ANN result must be a real vector, ordered by true similarity
    assert len(approx_rows) > 0
    sims = [r.cosine_sim for r in approx_rows]
    assert sims == sorted(sims, reverse=True)
    # recall@10 against exact: LSH with 8 planes on random vectors is
    # probabilistic — require non-trivial overlap, not perfection
    overlap = len(set(exact) & approx)
    assert overlap >= 2, f"ANN overlap with exact top-10 = {overlap}"


def test_simhash_properties(spark, sf_smoke):
    """SimHash: identical texts get identical signatures; signature is
    a stable 64-bit value."""
    docs = load_table(spark, sf_smoke, "documents")
    sigs = dedup.simhash(docs)
    joined = (
        docs.select("doc_id", F.sha2("text", 256).alias("h"))
        .join(sigs, "doc_id")
        .groupBy("h")
        .agg(F.count_distinct("simhash").alias("n_sigs"))
    )
    assert joined.filter(F.col("n_sigs") > 1).count() == 0


def test_simhash_matches_aggregate_form(spark, sf_smoke):
    """Differential: the Arrow-batched vote must reproduce, bit for
    bit, the signatures of the reference 64-sum-aggregate form it
    replaced (explode tokens → xxhash64 → per-bit ±1 sums)."""
    docs = load_table(spark, sf_smoke, "documents")
    fast = {
        r.doc_id: r.simhash for r in dedup.simhash(docs).collect()
    }
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.col("h").bitwiseAND(
                        F.shiftleft(F.lit(1).cast("long"), i)
                    )
                    != 0,
                    1,
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sig = None
    for i in range(64):
        bit = F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    slow = {
        r.doc_id: r.simhash
        for r in votes.select("doc_id", sig.alias("simhash")).collect()
    }
    assert fast == slow


def test_minhash_signature_matches_matrix_form(spark, sf_smoke):
    """Differential: the per-hash reduceat signature kernel (r15 —
    cache-resident slices instead of a (total x num_hashes) matrix of
    temporaries) must reproduce, bit for bit, the band values of the
    straightforward matrix form it replaced, recomputed here from the
    same persisted shingle table with the same hash family."""
    import random

    import numpy as np

    docs = load_table(spark, sf_smoke, "documents")
    num_hashes, rows_per_band, seed = 32, 2, 42
    n_bands = num_hashes // rows_per_band
    sh, bands = dedup.minhash_tables(
        docs, num_hashes=num_hashes, seed=seed, rows_per_band=rows_per_band
    )
    fast = {
        (r["doc_id"], r["band_idx"]): r["band_val"]
        for r in bands.collect()
    }
    rng = random.Random(seed)
    prime = 4294967311
    a_coef = np.array(
        [rng.randrange(1, 1 << 30) for _ in range(num_hashes)],
        dtype=np.int64,
    )
    b_coef = np.array(
        [rng.randrange(0, 1 << 30) for _ in range(num_hashes)],
        dtype=np.int64,
    )
    slow = {}
    for r in sh.collect():
        flat = np.asarray(r["__shingles"], dtype=np.int64) & 0xFFFFFFFF
        mins = (flat[:, None] * a_coef[None, :] + b_coef[None, :]) % prime
        mins = mins.min(axis=0)  # (num_hashes,)
        bvals = mins.view(np.uint64).reshape(n_bands, rows_per_band)
        vals = bvals[:, 0].copy()
        for t in range(1, rows_per_band):
            vals = vals * np.uint64(1099511628211) + bvals[:, t]
        for bi, bv in enumerate(vals.view(np.int64)):
            slow[(r["doc_id"], bi)] = int(bv)
    # unpersist BEFORE asserting so a failing differential cannot
    # leak the cached tables into the shared session (review r15)
    sh.unpersist()
    bands.unpersist()
    assert fast == slow


def test_winnow_wide_gram_path_matches_reference(spark):
    """The k > 8 winnowing key path (raw k-byte void keys — the
    uint64 packing only covers k <= 8) must equal the per-position
    md5 reference; the fuzz in test_properties.py covers k in {2, 3}
    so this pins the other branch."""
    import hashlib
    import re

    k, w = 10, 4
    rows = [
        (1, "the quick brown fox jumps over the lazy dog repeatedly"),
        (2, "the quick brown fox leaps over the lazy dog repeatedly"),
        (3, "abcdefghijk"),  # 2 grams: clipped window
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got: dict = {}
    for r in dedup.winnow_fingerprints(docs, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["fp_pos"], r["fp_hash"]))

    def signed(x: int) -> int:
        return x - (1 << 64) if x >= (1 << 63) else x

    want: dict = {}
    for i, text in rows:
        t = re.sub(r"[^a-z0-9]", "", text.lower())
        if len(t) < k:
            continue
        data = t.encode("utf-8")
        n = len(data) - k + 1
        h = [
            signed(
                int.from_bytes(
                    hashlib.md5(data[j : j + k]).digest()[:8], "little"
                )
            )
            for j in range(n)
        ]
        ww = min(w, n)
        sel = set()
        for s in range(n - ww + 1):
            window = h[s : s + ww]
            m = min(window)
            # rightmost minimum
            off = ww - 1 - window[::-1].index(m)
            sel.add((s + off + 1, m))
        want[i] = sel
    assert got == want


def test_simhash_near_pairs_verified(spark, sf_smoke):
    """Every banded candidate pair that survives must truly be within
    the Hamming bound (the verify step is exact)."""
    docs = load_table(spark, sf_smoke, "documents")
    pairs = dedup.simhash_near_pairs(docs, max_hamming=3)
    assert pairs.filter(F.col("hamming") > 3).count() == 0


def test_exact_dedup_partition_invariance(spark, sf_smoke):
    """Dedup survivor choice must not depend on physical partitioning."""
    docs = load_table(spark, sf_smoke, "documents")
    base = {
        r.doc_id for r in dedup.exact_dedup(docs).select("doc_id").collect()
    }
    shuffled = {
        r.doc_id
        for r in dedup.exact_dedup(docs.repartition(7))
        .select("doc_id")
        .collect()
    }
    assert base == shuffled


def test_multimodal_feature_plumbing(spark, sf_smoke):
    """mapInPandas feature extraction: declared schema, full coverage,
    deterministic output."""
    docs = load_table(spark, sf_smoke, "documents")
    assets = multimodal.assets_from_documents(docs)
    feats = multimodal.extract_features(assets, dim=8)
    n_docs = docs.count()
    rows = feats.collect()
    assert len(rows) == n_docs
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic: fake_feature on the driver agrees with the cluster
    one = docs.filter(F.col("doc_id") == rows[0].asset_id).collect()[0]
    expected = multimodal.fake_feature(one.text.encode("utf-8"), 8)
    assert rows[0].feature == expected
    assert rows[0].byte_len == len(one.text.encode("utf-8"))


def test_decode_unsupported_codec_raises():
    import pytest

    # compressed formats stay out of scope for the pure-Python decoder
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\x89PNG\r\n\x1a\n")


def test_ivf_topk_recall(spark, sf_smoke):
    """IVF with a quarter of the cells probed must recover most of the
    exact top-k (and its scores must be true cosine values)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    exact = [
        r.vec_id
        for r in similarity.cosine_topk(emb, query_id=0, k=10).collect()
    ]
    rows = similarity.ivf_topk(
        emb, query_id=0, k=10, n_lists=16, n_probe=8
    ).collect()
    assert len(rows) == 10
    sims = [r.cosine_sim for r in rows]
    assert sims == sorted(sims, reverse=True)
    overlap = len(set(exact) & {r.vec_id for r in rows})
    assert overlap >= 5, f"IVF overlap with exact top-10 = {overlap}"


def test_embedding_near_dup_lsh_recall(spark, sf_smoke):
    """LSH-blocked embedding near-dedup must recover nearly all exact
    cosine-threshold pairs, and every pair it emits must be a true pair
    (the exact cosine filter runs inside the candidate set, so
    precision is 1.0 by construction)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_lsh(
            emb, dim=64, threshold=0.4
        ).collect()
    }
    assert exact, "fixture must contain pairs above the threshold"
    assert approx <= exact, "LSH blocking must not invent pairs"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"embedding LSH recall {recall:.2f} < 0.8"


def test_multimodal_resize_plumbing(spark, sf_smoke):
    """resize_images: 1 row in → 1 row out, fixed-size binary out,
    deterministic across runs (same nearest-neighbour sample)."""
    docs = load_table(spark, sf_smoke, "documents")
    assets = multimodal.assets_from_documents(docs)
    resized = multimodal.resize_images(assets, width=8, height=4)
    rows = {r.asset_id: bytes(r.pixels) for r in resized.collect()}
    assert len(rows) == assets.count()
    assert all(len(p) == 32 for p in rows.values())
    again = {
        r.asset_id: bytes(r.pixels)
        for r in multimodal.resize_images(assets, width=8, height=4).collect()
    }
    assert rows == again


def test_frame_sampling_fanout(spark, sf_smoke):
    """sample_frames: 1 row in → N rows out; sampled indices follow the
    stride; reassembled sampled bytes match the payload slices."""
    docs = load_table(spark, sf_smoke, "documents").limit(20)
    assets = multimodal.assets_from_documents(docs)
    payloads = {r.asset_id: bytes(r.payload) for r in assets.collect()}
    frames = multimodal.sample_frames(assets, frame_size=64, every_n=2)
    seen = {}
    for r in frames.collect():
        assert r.frame_idx % 2 == 0
        b = payloads[r.asset_id]
        assert bytes(r.frame) == b[r.frame_idx * 64 : (r.frame_idx + 1) * 64]
        assert r.frame_len == len(bytes(r.frame))
        seen.setdefault(r.asset_id, 0)
        seen[r.asset_id] += 1
    for aid, b in payloads.items():
        n_frames = (len(b) + 63) // 64
        expect = (n_frames + 1) // 2
        assert seen.get(aid, 0) == expect, aid


def test_pq_topk_recall(spark, sf_smoke):
    """PQ+ADC with exact re-rank must overlap the exact cosine top-k
    strongly (the shortlist is 5x k, so ADC only has to rank true
    neighbours into the top-50 of 1000)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    exact = [
        r.vec_id
        for r in similarity.cosine_topk(emb, query_id=0, k=10).collect()
    ]
    rows = similarity.pq_topk(emb, query_id=0, k=10, rerank=50).collect()
    assert len(rows) == 10
    sims = [r.cosine_sim for r in rows]
    assert sims == sorted(sims, reverse=True)
    overlap = len(set(exact) & {r.vec_id for r in rows})
    assert overlap >= 5, f"PQ overlap with exact top-10 = {overlap}"


def test_contamination_self_overlap_is_total(spark, sf_smoke):
    """A corpus audited against itself is 100% contaminated; against a
    disjoint vocabulary it is 0% — the two fixed points of the n-gram
    overlap audit."""
    from stock_market_etl_spark.operators import text as text_ops

    docs = load_table(spark, sf_smoke, "documents").limit(50)
    full = text_ops.contamination_check(docs, docs, n=4)
    assert full.filter(F.col("contamination") < 1.0).count() == 0
    other = docs.withColumn(
        "text", F.regexp_replace(F.col("text"), r"\S", "ζ")
    )  # rewrite every token -> no shared 4-gram
    none = text_ops.contamination_check(other, docs, n=4)
    assert none.filter(F.col("contamination") > 0.0).count() == 0


def test_pii_redaction_on_injected_rows(spark):
    """The fixture corpus is PII-free, so redaction behavior is proven
    on injected rows: emails and phone-shaped runs become typed
    placeholders, counts match, clean text is untouched."""
    from stock_market_etl_spark.operators import text as text_ops

    rows = [
        (1, "contact bob.smith+x@ex-ample.co.uk for details"),
        (2, "call +1 555-123 4567 or 555 987 6543 now"),
        (3, "no personal data here at all"),
        (4, "mix: a@b.io and 12345678901 together"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        text_ops.pii_redact(F.col("text")).alias("red"),
        text_ops.pii_count(F.col("text")).alias("n"),
    )
    got = {r["doc_id"]: (r["red"], r["n"]) for r in df.collect()}
    assert got[1] == ("contact <EMAIL> for details", 1)
    assert got[2] == ("call <PHONE> or <PHONE> now", 2)
    assert got[3] == ("no personal data here at all", 0)
    assert got[4] == ("mix: <EMAIL> and <PHONE> together", 2)


# --- real image decode (BMP/PPM) behind resize_images --------------------


def _checker_rgb(w, h):
    """Deterministic 2-colour checkerboard RGB24."""
    out = bytearray()
    for y in range(h):
        for x in range(w):
            out += b"\xff\x00\x00" if (x + y) % 2 == 0 else b"\x00\x00\xff"
    return bytes(out)


def test_decode_bmp_roundtrip():
    from stock_market_etl_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
    )

    rgb = _checker_rgb(5, 3)  # odd width exercises BMP row padding
    w, h, back = decode_image(encode_bmp(5, 3, rgb))
    assert (w, h) == (5, 3)
    assert back == rgb


def test_decode_ppm_roundtrip_and_comments():
    from stock_market_etl_spark.operators.multimodal import (
        decode_image,
        encode_ppm,
    )

    rgb = _checker_rgb(4, 4)
    w, h, back = decode_image(encode_ppm(4, 4, rgb))
    assert (w, h, back) == (4, 4, rgb)
    # comment lines in the header are legal PPM
    commented = b"P6\n# fixture\n4 4\n255\n" + rgb
    assert decode_image(commented) == (4, 4, rgb)


def test_decode_rejects_non_images():
    import pytest as _pytest

    from stock_market_etl_spark.operators.multimodal import decode_image

    for junk in (b"", b"hello world", b"BMnot-a-real-header"):
        with _pytest.raises(ValueError):
            decode_image(junk)


def test_resize_rgb_geometry():
    from stock_market_etl_spark.operators.multimodal import resize_rgb

    rgb = _checker_rgb(8, 8)
    out = resize_rgb((8, 8, rgb), 4, 4)
    assert len(out) == 4 * 4 * 3
    # nearest-neighbour of an even checkerboard at stride 2 samples
    # only (even, even) source pixels → solid red
    assert out == b"\xff\x00\x00" * 16


def test_resize_images_decodes_real_pixels(spark):
    """Mixed-media asset table through the Spark mapInPandas path:
    BMP and PPM rows get a real RGB24 resample (w*h*3 bytes), opaque
    rows fall back to the byte-sample (w*h bytes)."""
    from pyspark.sql import functions as F

    from stock_market_etl_spark.operators import multimodal as mm

    bmp = mm.encode_bmp(6, 6, _checker_rgb(6, 6))
    ppm = mm.encode_ppm(3, 5, _checker_rgb(3, 5))
    rows = [
        (1, "image/bmp", bytearray(bmp)),
        (2, "image/x-portable-pixmap", bytearray(ppm)),
        (3, "text/plain", bytearray(b"just some opaque bytes")),
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary"
    )
    out = {
        r["asset_id"]: r
        for r in mm.resize_images(assets, width=4, height=4).collect()
    }
    assert len(out[1]["pixels"]) == 4 * 4 * 3
    assert len(out[2]["pixels"]) == 4 * 4 * 3
    assert len(out[3]["pixels"]) == 4 * 4
    # decoded path is deterministic: same image twice → same pixels
    expect = mm.resize_rgb(mm.decode_image(bmp), 4, 4)
    assert bytes(out[1]["pixels"]) == expect


# --- near-dup clustering (connected components) --------------------------


def test_connected_components_chain(spark):
    """A 6-node chain (diameter 5) plus an isolated pair must converge
    to two clusters, each labeled by its minimum id — exercises
    multi-round label propagation, not just one hop."""
    from stock_market_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["cluster_rep"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}


def test_connected_components_diameter_cap(spark):
    import pytest

    from stock_market_etl_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2)


def test_near_dup_clusters_keep_one(spark, sf_smoke):
    """End-to-end dedup decision: one kept doc per cluster, and kept +
    dropped partitions the clustered docs."""
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.dedup import near_dup_clusters

    docs = load_table(spark, sf_smoke, "documents")
    clusters = near_dup_clusters(docs, threshold=0.6)
    n_docs = clusters.count()
    n_clusters = clusters.select("cluster_rep").distinct().count()
    kept = clusters.filter("doc_id = cluster_rep")
    assert kept.count() == n_clusters
    assert 0 < n_clusters < n_docs  # real merging happened
    # every cluster_rep is a member of its own cluster
    assert clusters.filter("cluster_rep = doc_id").count() == n_clusters


# --- real audio decode (RIFF/WAVE PCM16) ---------------------------------


def test_wav_roundtrip_mono_and_stereo():
    import numpy as np

    sig = (np.sin(np.linspace(0, 40 * np.pi, 1600)) * 12000).astype("<i2")
    rate, ch, back = multimodal.decode_audio(multimodal.encode_wav(8000, 1, sig))
    assert (rate, ch) == (8000, 1)
    assert np.array_equal(back, sig)
    stereo = np.stack([sig, -sig], axis=1).reshape(-1)
    rate, ch, back = multimodal.decode_audio(
        multimodal.encode_wav(44100, 2, stereo)
    )
    assert (rate, ch) == (44100, 2)
    assert np.array_equal(back, stereo)


def test_wav_decode_skips_extra_chunks():
    """RIFF files in the wild carry LIST/fact chunks before data —
    the chunk walker must skip them."""
    import struct

    import numpy as np

    sig = np.arange(-50, 50, dtype="<i2")
    wav = multimodal.encode_wav(8000, 1, sig)
    # splice a LIST chunk between fmt and data
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 6) + b"INFOab"
    patched = wav[:fmt_end] + extra + wav[fmt_end:]
    rate, ch, back = multimodal.decode_audio(patched)
    assert (rate, ch) == (8000, 1)
    assert np.array_equal(back, sig)


def test_audio_features_against_numpy(spark):
    """Spark-path audio features must equal numpy computed on the
    driver from the same samples; non-WAV rows are skipped."""
    import numpy as np

    rng = np.random.default_rng(7)
    sig = rng.integers(-20000, 20000, size=4001, dtype=np.int64).astype("<i2")
    wav = multimodal.encode_wav(16000, 1, sig)
    rows = [
        (1, "audio/wav", bytearray(wav)),
        (2, "text/plain", bytearray(b"not audio at all")),
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary"
    )
    out = multimodal.audio_features(assets).collect()
    assert [r["asset_id"] for r in out] == [1]
    r = out[0]
    x = sig.astype(np.float64)
    assert r["sample_rate"] == 16000
    assert r["n_channels"] == 1
    assert r["n_samples"] == 4001
    assert r["duration_ms"] == 4001 * 1000 // 16000
    assert r["rms"] == round(float(np.sqrt(np.mean(x * x))), 6)
    assert r["peak"] == int(np.max(np.abs(x)))


def test_dup_clusters_lsh_invariants(spark, sf_smoke):
    """LSH-sourced clustering (the 100 TB path): deterministic across
    runs, reps are self-members and per-cluster minima, and real
    merging happens. Pair-level recall of the MinHash source itself is
    covered by test_minhash_lsh_recall."""
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.dedup import near_dup_clusters

    docs = load_table(spark, sf_smoke, "documents")
    c1 = {
        (r["doc_id"], r["cluster_rep"])
        for r in near_dup_clusters(docs, threshold=0.5, source="lsh").collect()
    }
    c2 = {
        (r["doc_id"], r["cluster_rep"])
        for r in near_dup_clusters(docs, threshold=0.5, source="lsh").collect()
    }
    assert c1 == c2  # deterministic (no rand() anywhere in the path)
    reps = {rep for _, rep in c1}
    members = {d for d, _ in c1}
    assert reps <= members  # every rep is a clustered doc itself
    by_rep = {}
    for d, rep in c1:
        by_rep.setdefault(rep, []).append(d)
    assert all(min(v) == rep for rep, v in by_rep.items())
    assert any(len(v) > 1 for v in by_rep.values())  # real merging


def test_chunk_documents_overlap_semantics(spark):
    """Chunks must tile the document with the declared overlap:
    consecutive chunks share exactly `overlap` tokens, every token is
    covered, and no chunk is a strict subset of its predecessor (the
    redundant-tail rule: a doc ending on a chunk boundary emits no
    duplicate-text tail chunk)."""
    from stock_market_etl_spark.operators.text import chunk_documents

    words = [f"w{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    out = sorted(
        chunk_documents(docs, chunk_tokens=4, overlap=2).collect(),
        key=lambda r: r["chunk_idx"],
    )
    chunks = [r["chunk_text"].split(" ") for r in out]
    # stride 2 over 10 tokens, starts capped at n-overlap=8 → 1,3,5,7:
    # the would-be start at 9 yields (w8,w9) ⊂ (w6..w9) and is dropped
    assert len(chunks) == 4
    assert chunks[0] == ["w0", "w1", "w2", "w3"]
    for prev, nxt in zip(chunks, chunks[1:]):
        assert prev[2:] == nxt[: len(prev[2:])]  # 2-token overlap
    assert chunks[-1] == ["w6", "w7", "w8", "w9"]  # reaches the end
    covered = {w for c in chunks for w in c}
    assert covered == set(words)  # full coverage, no token lost

    # a genuinely short tail (doc NOT on a boundary) is still kept
    out11 = sorted(
        chunk_documents(
            spark.createDataFrame(
                [(1, " ".join(f"w{i}" for i in range(11)))],
                "doc_id long, text string",
            ),
            chunk_tokens=4,
            overlap=2,
        ).collect(),
        key=lambda r: r["chunk_idx"],
    )
    last = out11[-1]["chunk_text"].split(" ")
    assert last == ["w8", "w9", "w10"]  # short tail with new content

    import pytest

    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_bigram_lm_score_prefers_common_phrasing(spark):
    """In a corpus where one phrase dominates, documents made of the
    common phrase must out-score a document of rare phrasing, and
    sub-2-token documents are excluded."""
    from stock_market_etl_spark.operators.text import bigram_lm_score

    rows = [(i, "the quick brown fox jumps") for i in range(9)]
    rows += [(100, "zebra quantum pickle walrus drum"), (200, "solo")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["avg_logprob"] for r in bigram_lm_score(docs).collect()}
    assert 200 not in out  # single-token doc has no bigrams
    assert out[0] == out[8]  # identical docs, identical score
    assert out[0] > out[100]  # common phrasing beats rare phrasing


def test_incremental_dedup_contract(spark):
    """Batch-vs-corpus semantics: exact corpus dup dropped, near corpus
    dup dropped, unique batch doc kept, batch-INTERNAL dup kept (by
    contract — batch self-dedup is a separate chained step)."""
    from stock_market_etl_spark.operators.dedup import incremental_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta"
    near = "alpha beta gamma delta epsilon zeta eta iota"
    schema = "doc_id long, text string, lang string, n_chars long"
    corpus = spark.createDataFrame(
        [(0, base, "en", len(base))], schema
    )
    batch = spark.createDataFrame(
        [
            (1, base, "en", len(base)),        # exact dup of corpus
            (3, near, "en", len(near)),        # near dup of corpus
            (5, "totally different words here unlike any others", "en", 47),
            (7, "totally different words here unlike any others", "en", 47),
        ],
        schema,
    )
    kept = {
        r["doc_id"]
        for r in incremental_dedup(corpus, batch, threshold=0.5).collect()
    }
    assert kept == {5, 7}


def test_decode_audio_truncated_fmt_is_valueerror():
    """Malformed fmt chunk must raise ValueError (audio_features'
    skip-row contract), never struct.error."""
    import struct

    import pytest as _pytest

    bad = (
        b"RIFF" + struct.pack("<I", 24) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00"
        + b"data" + struct.pack("<I", 0)
    )
    with _pytest.raises(ValueError):
        multimodal.decode_audio(bad)


def test_resize_rgb_degenerate_source_keeps_geometry():
    """Zero-width decodable images must still produce the declared
    w*h*3 output, not a silently shrunken buffer."""
    out = multimodal.resize_rgb((0, 4, b""), 4, 4)
    assert out == bytes(4 * 4 * 3)
    ppm_degenerate = b"P6\n0 4\n255\n"
    img = multimodal.decode_image(ppm_degenerate)
    assert len(multimodal.resize_rgb(img, 4, 4)) == 48


def test_incremental_dedup_lsh_recall(spark, sf_smoke):
    """The LSH near side of incremental_dedup must drop most batch docs
    that truly near-duplicate a corpus doc (word-3-gram Jaccard >= 0.5
    ground truth computed exhaustively — the LSH path's own feature
    space), while never touching the exact content-hash tier."""
    from stock_market_etl_spark.operators.dedup import (
        incremental_dedup,
        word_ngram_hashes,
        word_tokens,
    )

    docs = load_table(spark, sf_smoke, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    kept_lsh = {
        r.doc_id
        for r in incremental_dedup(
            corpus, batch, threshold=0.5, source="lsh"
        ).select("doc_id").collect()
    }
    dropped_lsh = {
        r.doc_id for r in batch.select("doc_id").collect()
    } - kept_lsh

    def grams(df, alias):
        return df.select(
            F.col("doc_id").alias(f"{alias}_id"),
            word_tokens(F.col("text")).alias("__t"),
        ).select(
            f"{alias}_id", word_ngram_hashes(F.col("__t")).alias(f"{alias}_g")
        )

    exact_hash_dupes = {
        r.b_id
        for r in grams(batch, "b")  # reuse alias frame for the hash join
        .join(
            batch.select(
                F.col("doc_id").alias("b_id"),
                F.sha2("text", 256).alias("__h"),
            ),
            "b_id",
        )
        .join(
            corpus.select(F.sha2("text", 256).alias("__h")).distinct(), "__h"
        )
        .select("b_id")
        .collect()
    }
    inter = F.size(F.array_intersect("b_g", "c_g"))
    union = F.size("b_g") + F.size("c_g") - inter
    truth_near = {
        r.b_id
        for r in grams(batch, "b")
        .join(grams(corpus, "c"), F.lit(True))
        .filter((inter.cast("double") / union) >= 0.5)
        .select("b_id")
        .distinct()
        .collect()
    } - exact_hash_dupes
    truth_dropped = truth_near | exact_hash_dupes
    assert exact_hash_dupes <= dropped_lsh  # exact tier is not approximate
    if truth_near:
        recall = len(truth_near & dropped_lsh) / len(truth_near)
        assert recall >= 0.8, f"incremental LSH recall {recall:.2f} < 0.8"
    # precision guard: everything dropped beyond the exact tier must at
    # least be a candidate-verified near-dup (Jaccard filter is exact),
    # so no kept/dropped outside truth beyond the s-curve's false
    # negatives: dropped is a subset of the exhaustive truth set
    assert dropped_lsh <= truth_dropped


def test_connected_components_releases_superseded_checkpoints(spark):
    """Each CC round localCheckpoints new labels; superseded rounds'
    cached blocks (and the edges table on return) must be released
    eagerly, not left to GC — a storage leak over 25 rounds at scale.
    Only the returned labels snapshot may stay cached."""
    jvm_sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = jvm_sc.getPersistentRDDs().size()
    # a 17-node path graph: diameter forces several propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long"
    )
    out = dedup.connected_components(pairs)
    assert {r.cluster_rep for r in out.collect()} == {0}
    after = jvm_sc.getPersistentRDDs().size()
    assert after - before <= 1, (
        f"{after - before} cached RDDs retained — superseded CC "
        "checkpoints are leaking"
    )


def test_incremental_dedup_materialized_signatures(spark, sf_smoke, tmp_path):
    """The materialized-signature path (corpus_signatures written to
    parquet, read back, fed via corpus_sigs=) must keep EXACTLY the
    same batch documents as the inline LSH path — the 100 TB corpus-
    version artifact is a pure caching decision, never a semantic one."""
    import pytest

    docs = load_table(spark, sf_smoke, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    inline = {
        r.doc_id
        for r in dedup.incremental_dedup(
            corpus, batch, threshold=0.5, source="lsh"
        )
        .select("doc_id")
        .collect()
    }

    sig_path = str(tmp_path / "corpus_sigs")
    dedup.write_corpus_signatures(corpus, sig_path)
    sigs = dedup.read_corpus_signatures(spark, sig_path)
    # corpus=None: the materialized path never touches corpus text
    materialized = {
        r.doc_id
        for r in dedup.incremental_dedup(
            None, batch, threshold=0.5, source="lsh", corpus_sigs=sigs
        )
        .select("doc_id")
        .collect()
    }
    assert materialized == inline

    # the exact blocked-Jaccard source needs raw corpus text; with only
    # signatures on hand that is a loud error, not a silent no-op
    with pytest.raises(ValueError, match="corpus text"):
        dedup.incremental_dedup(
            None, batch, threshold=0.5, source="exact", corpus_sigs=sigs
        )
    with pytest.raises(ValueError, match="corpus or corpus_sigs"):
        dedup.incremental_dedup(None, batch, threshold=0.5, source="lsh")


def test_ivf_lake_probe_matches_inline(spark, sf_smoke):
    """x40 (probe over the materialized, cell-partitioned index) must
    return exactly x15's inline result — the lake round-trip is a
    storage decision, never a semantic one (same seed ⇒ same k-means ⇒
    same cells ⇒ same candidates)."""
    from stock_market_etl_spark.catalog import all_queries

    qs = all_queries()
    inline = qs["x15_ivf_topk"](spark, sf_smoke).collect()
    lake = qs["x40_ivf_topk_lake"](spark, sf_smoke).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, lake))


def test_leakage_safe_split_keeps_pairs_together(spark, sf_smoke):
    """No near-dup pair may straddle splits (the leakage the operator
    exists to prevent), and documents outside any cluster must keep
    exactly the doc-grain x22 split (same weights, same salt ⇒ the two
    operators agree wherever leakage safety doesn't force a move)."""
    from stock_market_etl_spark.operators import sampling

    docs = load_table(spark, sf_smoke, "documents")
    clusters = dedup.near_dup_clusters(docs, threshold=0.6)
    out = sampling.leakage_safe_split(
        docs, {"train": 0.90, "val": 0.05, "test": 0.05}, clusters,
        salt="split-v1",
    )
    split_of = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    rep_of = {r["doc_id"]: r["cluster_rep"] for r in clusters.collect()}
    assert rep_of, "fixture has no near-dup clusters; test is vacuous"
    for doc, rep in rep_of.items():
        assert split_of[doc] == split_of[rep], (doc, rep)

    doc_grain = sampling.deterministic_split(
        docs, {"train": 0.90, "val": 0.05, "test": 0.05}, salt="split-v1"
    )
    base = {r["doc_id"]: r["split"] for r in doc_grain.select("doc_id", "split").collect()}
    singletons = set(split_of) - set(rep_of)
    assert singletons
    for doc in singletons:
        assert split_of[doc] == base[doc]


def test_temperature_sample_rates_and_limits(spark, sf_smoke):
    """alpha=1 must keep everything (identity); at alpha<1 the smallest
    source keeps everything and every source's kept fraction tracks
    (n_s/n_min)^(alpha-1) within hash-binomial noise; kept sets are
    monotone in alpha (raising alpha only adds documents)."""
    from stock_market_etl_spark.operators import sampling

    docs = load_table(spark, sf_smoke, "documents")
    n_total = docs.count()
    assert sampling.temperature_sample(docs, alpha=1.0).count() == n_total

    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    n_min = min(counts.values())
    half = sampling.temperature_sample(docs, alpha=0.5, salt="t-v1")
    kept = {
        r["source"]: r["n"]
        for r in half.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for src, n in counts.items():
        want = (n / n_min) ** -0.5
        got = kept.get(src, 0) / n
        if n == n_min:
            assert got == 1.0, src
        else:
            # 4σ binomial tolerance on the hash draw
            tol = 4 * (want * (1 - want) / n) ** 0.5 + 1 / n
            assert abs(got - want) <= tol, (src, got, want, tol)

    ids_half = {r["doc_id"] for r in half.select("doc_id").collect()}
    ids_hot = {
        r["doc_id"]
        for r in sampling.temperature_sample(docs, alpha=0.8, salt="t-v1")
        .select("doc_id")
        .collect()
    }
    assert ids_half <= ids_hot


def test_pq_lake_probe_matches_inline(spark, sf_smoke):
    """x43 (probe over the materialized code+codebook artifact) must
    return exactly x21's inline result — like the IVF lake round-trip,
    persistence is a storage decision, never a semantic one."""
    from stock_market_etl_spark.catalog import all_queries

    qs = all_queries()
    inline = qs["x21_pq_topk"](spark, sf_smoke).collect()
    lake = qs["x43_pq_topk_lake"](spark, sf_smoke).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, lake))


def test_write_shards_layout_and_roundtrip(spark, sf_smoke, tmp_path):
    """write_shards must land one directory per shard with exactly
    rows_per_shard docs each (except the tail), rows inside a shard
    sorted by shuffle position, and the read-back content must equal
    the input with the shard_assignment columns attached."""
    import os

    from stock_market_etl_spark.operators import sampling

    docs = load_table(spark, sf_smoke, "documents")
    n = docs.count()
    path = str(tmp_path / "shards")
    sampling.write_shards(docs, path, rows_per_shard=128, salt="epoch-t")

    back = spark.read.parquet(path)
    assert back.count() == n
    sizes = {
        r["shard_id"]: r["n"]
        for r in back.groupBy("shard_id").agg(F.count("*").alias("n")).collect()
    }
    last = max(sizes)
    for sid, sz in sizes.items():
        assert sz == 128 or (sid == last and sz == n - 128 * last), (sid, sz)

    want = sampling.shard_assignment(docs, 128, salt="epoch-t")
    assert sorted(
        map(tuple, back.select("doc_id", "shuffle_pos", "shard_id").collect())
    ) == sorted(
        map(tuple, want.select("doc_id", "shuffle_pos", "shard_id").collect())
    )
    # one sorted data file per shard directory (repartition co-located it)
    shard0 = os.path.join(path, "shard_id=0")
    files = [f for f in os.listdir(shard0) if f.endswith(".parquet")]
    assert len(files) == 1, files
    pos = [
        r["shuffle_pos"]
        for r in spark.read.parquet(os.path.join(shard0, files[0])).collect()
    ]
    assert pos == sorted(pos)


def test_assign_cells_empty_batch(spark, sf_smoke):
    """assign_cells over an empty frame must return an empty frame with
    the __cell column attached (the streaming sink's isEmpty guard makes
    this unreachable in n10, but the operator is public API)."""
    from stock_market_etl_spark.io import load_table as _lt

    emb = _lt(spark, sf_smoke, "embeddings")
    _, centers = similarity.ivf_index(emb, n_lists=4)
    out = similarity.assign_cells(emb.filter(F.lit(False)), centers)
    assert out.count() == 0 and "__cell" in out.columns


def test_corpus_diff_invariants(spark, sf_smoke):
    """corpus_diff sanity: identical corpora diff to all-kept; an
    append-only release shows added + kept and zero removed; counts
    reconcile with each side's distinct content count."""
    docs = load_table(spark, sf_smoke, "documents")
    same = dedup.corpus_diff(docs, docs)
    assert same.filter(F.col("status") != "kept").count() == 0

    old = docs.filter(F.col("doc_id") % 2 == 0)
    d = dedup.corpus_diff(old, docs)
    assert d.filter(F.col("status") == "removed").count() == 0
    n_old = old.select(F.sha2("text", 256)).distinct().count()
    n_all = docs.select(F.sha2("text", 256)).distinct().count()
    assert d.filter(F.col("status") == "kept").count() == n_old
    assert d.filter(F.col("status") == "added").count() == n_all - n_old

def test_curation_pipeline_lsh_invariants(spark, sf_smoke):
    """x48 (the benched 100 TB form of x46): swapping the pair source
    to LSH must not change WHICH docs survive (dedup is upstream of
    the split), must keep every LSH cluster split-cohesive (the
    leakage-safety contract), and must agree with the exact twin on
    the overwhelming share of docs (LSH recall only perturbs cluster
    membership at the margin)."""
    from stock_market_etl_spark.catalog.extensions import QUERIES
    from stock_market_etl_spark.operators import sampling

    exact = {
        r["doc_id"]: r["split"]
        for r in QUERIES["x46_curation_pipeline"](spark, sf_smoke).collect()
    }
    lsh = {
        r["doc_id"]: r["split"]
        for r in QUERIES["x48_curation_pipeline_lsh"](spark, sf_smoke).collect()
    }
    assert set(exact) == set(lsh)  # identical survivor set
    agree = sum(exact[d] == lsh[d] for d in exact) / len(exact)
    assert agree >= 0.9, f"exact-vs-LSH split agreement {agree:.2f} < 0.9"

    # leakage safety: every LSH cluster lands wholly in one split
    docs = load_table(spark, sf_smoke, "documents")
    uniq = dedup.exact_dedup(
        sampling.temperature_sample(
            docs.filter(F.col("n_chars") >= 200),
            alpha=0.5, strata_col="source", salt="mix-temp-v1",
        )
    )
    clusters = dedup.near_dup_clusters(uniq, threshold=0.6, source="lsh")
    for rep, members in _group(clusters.collect()).items():
        splits = {lsh[d] for d in members if d in lsh}
        assert len(splits) <= 1, f"cluster {rep} straddles splits {splits}"


def _group(cluster_rows):
    by_rep: dict = {}
    for r in cluster_rows:
        by_rep.setdefault(r["cluster_rep"], []).append(r["doc_id"])
    return by_rep

def test_paragraph_dedup_semantics(spark):
    """First global occurrence of each 20-token block wins (ordered by
    doc_id, idx); docs reassemble from surviving blocks in order; a doc
    whose every block already appeared survives as ('', 0)."""
    from stock_market_etl_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d x y"), (3, "a b c d e f")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["kept_text"], r["n_kept"], r["n_total"])
        for r in paragraph_dedup(df, para_tokens=2).collect()
    }
    assert out[1] == ("a b c d e f", 3, 3)  # first doc keeps all
    assert out[2] == ("x y", 1, 3)  # 'a b'/'c d' seen; order kept
    assert out[3] == ("", 0, 3)  # fully duplicate doc -> empty

    # deterministic under physical layout changes
    again = {
        r["doc_id"]: (r["kept_text"], r["n_kept"], r["n_total"])
        for r in paragraph_dedup(
            df.repartition(7), para_tokens=2
        ).collect()
    }
    assert again == out


def test_boilerplate_prune_semantics(spark):
    """A block occurring in >= min_docs DISTINCT docs is dropped from
    EVERY doc (no first-occurrence survivor, unlike paragraph_dedup);
    within-doc repeats alone never ban a block; a fully-boilerplate
    doc survives as ('', 0)."""
    from stock_market_etl_spark.operators.dedup import boilerplate_prune

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),  # 'a b' shared with 2 and 3
            (2, "a b x y"),
            (3, "a b a b"),  # within-doc repeat of a banned block
            (4, "p q p q"),  # within-doc repeat only -> NOT banned
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["kept_text"], r["n_kept"], r["n_total"])
        for r in boilerplate_prune(df, para_tokens=2, min_docs=3).collect()
    }
    assert out[1] == ("c d e f", 2, 3)  # no survivor copy of 'a b'
    assert out[2] == ("x y", 1, 2)
    assert out[3] == ("", 0, 2)  # fully boilerplate -> empty
    assert out[4] == ("p q p q", 2, 2)  # 1 distinct doc < min_docs

    # min_docs=2 bans the pairwise block too
    out2 = {
        r["doc_id"]: r["n_kept"]
        for r in boilerplate_prune(df, para_tokens=2, min_docs=2).collect()
    }
    assert out2 == {1: 2, 2: 1, 3: 0, 4: 2}

    # deterministic under physical layout changes
    again = {
        r["doc_id"]: (r["kept_text"], r["n_kept"], r["n_total"])
        for r in boilerplate_prune(
            df.repartition(7), para_tokens=2, min_docs=3
        ).collect()
    }
    assert again == out


def test_session_transcripts_order_and_gaps(spark):
    """Transcript order must follow (ts, event_id) regardless of input
    layout, and a >30-min gap starts a new session/transcript."""
    import datetime

    from stock_market_etl_spark.operators.sessions import (
        session_transcripts,
    )

    t0 = datetime.datetime(2024, 1, 1, 9, 0, 0)

    def ev(eid, mins, typ):
        return (eid, t0 + datetime.timedelta(minutes=mins), 1, typ)

    rows = [ev(3, 2, "c"), ev(1, 0, "a"), ev(2, 1, "b"),
            ev(4, 45, "d"), ev(5, 46, "e")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).repartition(5)
    out = sorted(
        (r["sess_id"], r["n_turns"], r["transcript"])
        for r in session_transcripts(df, gap_minutes=30).collect()
    )
    assert out == [(1, 3, "a b c"), (2, 2, "d e")]


def test_semdedup_invariants_and_x16_agreement(spark, sf_smoke):
    """semdedup's drop rule, recomputed independently with numpy:
    (a) survivors are a subset of the input; (b) no two survivors in
    the same k-means cluster have cosine >= threshold (the SemDeDup
    guarantee); (c) for every exact x16-style near-dup pair that is
    CO-CLUSTERED, the higher id is dropped — cluster-scoped agreement
    with the all-pairs ground truth."""
    import numpy as np

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import similarity

    emb = load_table(spark, sf_smoke, "embeddings")
    thr = 0.4
    survivors = {
        r["vec_id"]
        for r in similarity.semdedup(
            emb, n_clusters=8, threshold=thr
        ).select("vec_id").collect()
    }
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert survivors <= all_ids and survivors

    # identical seeded k-means on identical input → identical cells
    assigned, _ = similarity.ivf_index(emb, n_lists=8, seed=42)
    rows = assigned.select("vec_id", "__cell", "embedding").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    cell = {r["vec_id"]: r["__cell"] for r in rows}

    def cos(a, b):
        return round(
            float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 6
        )

    by_cell: dict[int, list[int]] = {}
    for vid, c in cell.items():
        by_cell.setdefault(c, []).append(vid)
    dropped_expect = set()
    for ids in by_cell.values():
        for i, vb in enumerate(sorted(ids)):
            for va in sorted(ids)[:i]:
                if cos(vecs[va], vecs[vb]) >= thr:
                    dropped_expect.add(vb)
                    break
    assert survivors == all_ids - dropped_expect
    # (b) and (c) follow from the set equality, but assert (b) directly
    # so a future rule change can't silently weaken the guarantee
    for ids in by_cell.values():
        surv = sorted(set(ids) & survivors)
        for i, vb in enumerate(surv):
            for va in surv[:i]:
                assert cos(vecs[va], vecs[vb]) < thr, (va, vb)


def test_repetition_metrics_synthetic(spark):
    """repetition_metrics on hand-built docs: a heavily repeated
    phrase must trip the Gopher thresholds (keep=false), a clean doc
    must pass, and a too-short doc scores 0.0 everywhere. Expected
    values computed by hand from the coverage definition
    count * len(gram) / len(normalized_text)."""
    from stock_market_etl_spark.operators.text import repetition_metrics

    docs = spark.createDataFrame(
        [
            # "ab cd " x 8 -> top bigram "ab cd" count 8 (overlapping
            # "cd ab" count 7); base = 47 chars
            (1, " ".join(["ab cd"] * 8)),
            # long enough that no single 2-/3-gram covers 20%/18% of
            # chars (Gopher's coverage rules presume long documents)
            (2, " ".join(f"w{i:02d}" for i in range(30))),
            (3, "tiny"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
    r1 = out[1]
    # 16 tokens -> base = len("ab cd "*8) - 1 = 47; top 2-gram covers
    # 8 * 5 = 40 chars
    assert r1["top2_frac"] == round(40 / 47, 6)
    assert r1["keep"] is False
    assert r1["dup5_frac"] > 0.15
    r2 = out[2]
    assert r2["keep"] is True and r2["dup5_frac"] == 0.0
    r3 = out[3]
    assert (
        r3["top2_frac"] == 0.0
        and r3["top3_frac"] == 0.0
        and r3["dup5_frac"] == 0.0
        and r3["keep"] is True
    )


def test_salted_join_row_identical_on_skew(spark):
    """salted_join on a pathologically skewed key distribution (one
    key holds 90% of the heavy side) must return exactly the plain
    join's rows, for inner and left (including unmatched-left nulls),
    and must reject replication-unsafe join types."""
    import pytest as _pytest

    from stock_market_etl_spark.operators.skew import salted_join

    heavy = spark.createDataFrame(
        [(1, i) for i in range(900)]
        + [(k, 1000 + k) for k in range(2, 102)]
        + [(999, -1)],  # key absent from light
        "k long, payload long",
    )
    light = spark.createDataFrame(
        [(1, "hot")] + [(k, f"v{k}") for k in range(2, 102)],
        "k long, tag string",
    )
    for how in ("inner", "left"):
        got = sorted(
            (r["k"], r["payload"], r["tag"])
            for r in salted_join(heavy, light, on="k", how=how).collect()
        )
        exp = sorted(
            (r["k"], r["payload"], r["tag"])
            for r in heavy.join(light, "k", how).collect()
        )
        assert got == exp, how
    with _pytest.raises(ValueError):
        salted_join(heavy, light, on="k", how="full")


def test_dsir_weights_prefer_target_like_docs(spark):
    """x58's core property (DSIR): raw documents sharing the target
    domain's bigrams must score strictly higher than raw documents
    that share none — the log-likelihood-ratio ordering the resampler
    depends on. Also pins the support rule: only raw docs with ≥ 2
    tokens are scored."""
    from stock_market_etl_spark.operators.importance import dsir_weights

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta alpha beta") for i in range(4)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),       # target-like
            (1, "alpha beta alpha beta"),        # target-like
            (2, "zig zag quux corge grault"),    # off-domain
            (3, "quux corge zig zag plugh"),     # off-domain
            (4, "solo"),                         # < 2 tokens: unscored
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r.log_weight
        for r in dsir_weights(target, raw, n_buckets=4096).collect()
    }
    assert set(rows) == {0, 1, 2, 3}
    assert min(rows[0], rows[1]) > max(rows[2], rows[3])


def test_dsir_weights_string_ids_and_bucket_validation(spark):
    """ADVICE r09: the discarded target-side id literal must cast to
    the RAW corpus's id type (a hard-coded long cast broke string-keyed
    corpora at analysis time), and an unsupported n_buckets raises a
    ValueError naming the supported values, not a bare KeyError."""
    import pytest as _pytest

    from stock_market_etl_spark.operators.importance import dsir_weights

    target = spark.createDataFrame(
        [("t1", "alpha beta gamma")], "doc_id string, text string"
    )
    raw = spark.createDataFrame(
        [("r1", "alpha beta gamma"), ("r2", "zig zag quux")],
        "doc_id string, text string",
    )
    rows = {
        r.doc_id: r.log_weight
        for r in dsir_weights(target, raw, n_buckets=256).collect()
    }
    assert set(rows) == {"r1", "r2"} and rows["r1"] > rows["r2"]

    with _pytest.raises(ValueError, match="n_buckets"):
        dsir_weights(target, raw, n_buckets=1000)


def test_perplexity_buckets_balanced_and_ordered(spark, sf_smoke):
    """x59's CCNet invariants per language: equal-frequency tiers
    (sizes differ by ≤ 1), labels consistent with tier numbers, and
    score ordering head ≥ middle ≥ tail (on the rounded scores the
    ranking is defined over)."""
    from stock_market_etl_spark.operators.text import perplexity_buckets

    docs = load_table(spark, sf_smoke, "documents")
    out = perplexity_buckets(docs, n_buckets=3).collect()
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    assert by_lang
    for lang, rows in by_lang.items():
        sizes = [sum(1 for r in rows if r.tier == t) for t in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        for r in rows:
            want = {1: "head", 3: "tail"}.get(r.tier, "middle")
            assert r.bucket == want
        lo = {t: min(r.avg_logprob for r in rows if r.tier == t) for t in (1, 2)}
        hi = {t: max(r.avg_logprob for r in rows if r.tier == t) for t in (2, 3)}
        assert lo[1] >= hi[2] and lo[2] >= hi[3], lang


def test_image_ahash_matches_numpy_reference(spark):
    """The DataFrame hash column must equal an independent numpy
    recomputation (nearest-neighbour grid -> brightness -> mean
    threshold -> MSB-first packing) for real decoded BMPs."""
    import numpy as np

    from stock_market_etl_spark.operators import multimodal as mm

    def np_ahash(w, h, rgb, hs=8):
        px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        ys = (np.arange(hs) * h) // hs
        xs = (np.arange(hs) * w) // hs
        grid = px[np.ix_(ys, xs)].astype(np.int64).sum(axis=2)
        bits = (grid > grid.mean()).astype(np.uint64).ravel()
        v = 0
        for b in bits:
            v = (v << 1) | int(b)
        return v - (1 << 64) if v >= (1 << 63) else v

    rng = np.random.RandomState(7)
    rows = []
    expect = {}
    for aid, (w, h) in enumerate([(16, 16), (9, 5), (32, 8)]):
        rgb = rng.randint(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
        rows.append((aid, "image/bmp", bytearray(mm.encode_bmp(w, h, rgb))))
        expect[aid] = np_ahash(w, h, rgb)
    df = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary"
    )
    got = {
        r["asset_id"]: r["ahash"] for r in mm.image_ahash(df).collect()
    }
    assert got == expect


def test_image_near_dup_banded_equals_bruteforce(spark):
    """4x16-bit banded blocking must reproduce the brute-force pair set
    exactly for Hamming <= 3 (pigeonhole), including pairs created by
    controlled small perturbations; max_hamming > 3 must be refused."""
    import itertools

    import numpy as np
    import pytest

    from stock_market_etl_spark.operators import multimodal as mm

    rng = np.random.RandomState(11)
    rows = []
    aid = 0
    for _ in range(12):
        rgb = np.frombuffer(
            rng.randint(0, 256, size=16 * 16 * 3, dtype=np.uint8).tobytes(),
            dtype=np.uint8,
        ).copy()
        rows.append((aid, "image/bmp", bytearray(mm.encode_bmp(16, 16, rgb.tobytes()))))
        aid += 1
        # a near-variant: saturate a couple of 2x2 cells -> few hash bits flip
        var = rgb.reshape(16, 16, 3).copy()
        var[0:2, 0:2, :] = 255
        var[4:6, 8:10, :] = 0
        rows.append(
            (aid, "image/bmp", bytearray(mm.encode_bmp(16, 16, var.tobytes())))
        )
        aid += 1
    df = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary"
    )
    hashes = {
        r["asset_id"]: r["ahash"] for r in mm.image_ahash(df).collect()
    }
    mask = (1 << 64) - 1

    def ham(a, b):
        # hashes are SIGNED 64-bit; mask before popcount (Python ints
        # sign-extend infinitely, bin() of a negative counts magnitude)
        return bin((hashes[a] ^ hashes[b]) & mask).count("1")

    brute = {
        (a, b, ham(a, b))
        for a, b in itertools.combinations(sorted(hashes), 2)
        if ham(a, b) <= 3
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in mm.image_near_dup(df, max_hamming=3).collect()
    }
    assert got == brute
    assert brute  # the perturbations must actually create pairs
    with pytest.raises(ValueError, match="pigeonhole"):
        mm.image_near_dup(df, max_hamming=4)


def test_image_near_dup_fixture_dup_carryover(spark, sf_smoke):
    """Duplicate document texts must surface as Hamming-0 image pairs:
    bmp_assets_from_documents is a pure function of text, so injecting
    an exact-dup copy of fixture docs (offset ids) must yield a
    Hamming-0 pair per copied doc through the real BMP decode path."""
    from pyspark.sql import functions as F

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import multimodal as mm

    docs = (
        load_table(spark, sf_smoke, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(40)
    )
    offset = 1_000_000
    dupes = docs.select(
        (F.col("doc_id") + offset).alias("doc_id"), "text"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.image_near_dup(
            mm.bmp_assets_from_documents(docs.unionAll(dupes)),
            max_hamming=3,
        ).collect()
    }
    for r in docs.select("doc_id").collect():
        assert pairs.get((r["doc_id"], r["doc_id"] + offset)) == 0


def test_bmp_ahash_fused_equals_two_stage(spark, sf_smoke):
    """x61's fused fixture stage (bmp_ahash_from_documents — encode,
    decode, and hash in ONE Arrow map) must produce bit-identical
    hashes to the chained bmp_assets_from_documents ∘ image_ahash
    form it replaced (r10 VERDICT fuse), at both the query's 8×8
    geometry and the default 16×16."""
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import multimodal as mm

    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "text"
    )
    for w, h in ((8, 8), (16, 16)):
        fused = {
            r["asset_id"]: r["ahash"]
            for r in mm.bmp_ahash_from_documents(
                docs, width=w, height=h
            ).collect()
        }
        chained = {
            r["asset_id"]: r["ahash"]
            for r in mm.image_ahash(
                mm.bmp_assets_from_documents(docs, width=w, height=h)
            ).collect()
        }
        assert fused == chained and fused


def test_knn_label_lsh_evidence(spark, sf_correct):
    """Three-fold evidence for the LSH kNN labeler (x63):
    1. identity seam — the shared vote tail fed the FULL query×labeled
       candidate set reproduces the exact form EXACTLY (validates the
       reattach-by-id joins and the whole tail);
    2. strong-neighbour candidate recall — exact top-5 neighbours with
       cosine >= 0.4 (the fixture's planted structure, same bar as
       x17) appear in the LSH candidate set with recall >= 0.9;
    3. agreement floor — whole-set prediction agreement with the
       exact form stays above an anti-regression floor. Full
       agreement is NOT the bar: the background vectors are random,
       so top-5 margins are thin and any candidate subset reshuffles
       low-margin votes (observed ~0.78 at 4 planes / 16 tables).
    """
    from stock_market_etl_spark.catalog import all_queries
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import similarity
    from stock_market_etl_spark.operators.similarity import (
        cosine,
        _as_double,
        knn_from_candidates,
        hyperplane_lsh_buckets,
    )

    emb = load_table(spark, sf_correct, "embeddings")
    cond = F.col("vec_id") % 5 == 0
    exact_rows = {
        tuple(r)
        for r in all_queries()["x62_knn_label_propagation"](
            spark, sf_correct
        ).collect()
    }
    exact = {r[0]: r[1] for r in exact_rows}

    # 1. identity seam: full candidates -> bit-identical output
    full_cand = (
        emb.filter(cond)
        .select(F.col("vec_id").alias("__qid"))
        .crossJoin(emb.filter(~cond).select(F.col("vec_id").alias("__lid")))
    )
    seam_rows = {
        tuple(r)
        for r in knn_from_candidates(emb, full_cand, cond, k=5).collect()
    }
    assert seam_rows == exact_rows

    # 2. strong-neighbour recall: planted pairs must be in candidates
    b = hyperplane_lsh_buckets(emb, dim=64, n_planes=4, n_tables=16)
    qb = b.filter(cond).select(
        F.col("vec_id").alias("__qid"), "lsh_table", "lsh_bucket"
    )
    lb = b.filter(~cond).select(
        F.col("vec_id").alias("__lid"),
        F.col("lsh_table").alias("__t"),
        F.col("lsh_bucket").alias("__b"),
    )
    cand = {
        (r["__qid"], r["__lid"])
        for r in qb.join(
            lb,
            (F.col("lsh_table") == F.col("__t"))
            & (F.col("lsh_bucket") == F.col("__b")),
        )
        .select("__qid", "__lid")
        .distinct()
        .collect()
    }
    q = emb.filter(cond).select(
        F.col("vec_id").alias("__qid"), F.col("embedding").alias("__qv")
    )
    lab = emb.filter(~cond).select(
        F.col("vec_id").alias("__lid"), F.col("embedding").alias("__lv")
    )
    strong = {
        (r["__qid"], r["__lid"])
        for r in lab.crossJoin(F.broadcast(q))
        .select(
            "__qid",
            "__lid",
            cosine(
                _as_double(F.col("__qv")), _as_double(F.col("__lv"))
            ).alias("s"),
        )
        .filter(F.col("s") >= 0.4)
        .collect()
    }
    assert strong  # planted structure must exist
    recall = len(strong & cand) / len(strong)
    assert recall >= 0.9, (len(strong & cand), len(strong))

    # 3. agreement anti-regression floor
    approx = {
        r["vec_id"]: r["predicted_label"]
        for r in all_queries()["x63_knn_label_propagation_lsh"](
            spark, sf_correct
        ).collect()
    }
    assert set(exact) == set(approx)  # every query predicted
    agree = sum(1 for k, v in exact.items() if approx[k] == v)
    assert agree / len(exact) >= 0.55, (agree, len(exact))


def test_winnow_guarantee_and_edges(spark):
    """Winnowing contract (Schleimer et al. SIGMOD'03): any shared
    normalized substring of length >= k + w - 1 yields at least one
    shared fingerprint; docs shorter than k normalized chars emit
    nothing; a doc with fewer than w grams still winnows (one clipped
    window). Plus the stop-fingerprint cap: a hash present in more
    than max_docs_per_fp documents must pair nobody through it."""
    from stock_market_etl_spark.operators import dedup as dd

    shared = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, "AAA unrelated prefix " + shared + " suffix one 111"),
        (2, "totally different opening " + shared + " closer 222"),
        (3, "no overlap here at all just filler words repeated"),
        (4, "xy"),  # < k normalized chars -> no grams
        (5, "abcdefghij"),  # 3 grams at k=8 -> one clipped window
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = dd.winnow_fingerprints(docs, k=8, w=16)
    by_doc = {
        r["doc_id"]: r["n"]
        for r in fps.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert 4 not in by_doc  # too short: absent
    assert by_doc[5] == 1  # clipped single window
    # guarantee: shared span (len >= 23 normalized) -> shared fp
    f1 = {r["fp_hash"] for r in fps.filter(F.col("doc_id") == 1).collect()}
    f2 = {r["fp_hash"] for r in fps.filter(F.col("doc_id") == 2).collect()}
    f3 = {r["fp_hash"] for r in fps.filter(F.col("doc_id") == 3).collect()}
    assert f1 & f2
    assert not (f1 & f3) and not (f2 & f3)

    pairs = dd.winnow_near_dup(docs, k=8, w=16, min_shared=1)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got

    # stop-fingerprint cap: the same boilerplate in every doc pairs
    # everyone at cap=50 but nobody at cap=2 (3 docs > cap).
    boiler = [(i, "identical boilerplate line shared by every doc")
              for i in range(1, 4)]
    bdocs = spark.createDataFrame(boiler, ["doc_id", "text"])
    assert dd.winnow_near_dup(bdocs, k=8, w=16, min_shared=1).count() == 3
    assert (
        dd.winnow_near_dup(
            bdocs, k=8, w=16, min_shared=1, max_docs_per_fp=2
        ).count()
        == 0
    )


def test_keep_best_dedup_survivor_and_singletons(spark):
    """x66's rule: within a near-dup cluster the HIGHEST-quality member
    survives (not the lowest id — the x6/x31 keep-first rule this
    deliberately replaces); singletons pass through with size 1. The
    fixture plants a 2-doc cluster whose better-scoring member has the
    HIGHER id, and self-validates the quality ordering first."""
    from stock_market_etl_spark.operators import dedup as dd
    from stock_market_etl_spark.operators import text as text_ops

    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "the dog sleeps near the fire"
    )
    rows = [
        (1, base, "en", len(base)),
        # near-dup of doc 1 (same block, |Δchars| ≤ 20, Jaccard ≥ 0.6)
        # with extra stopwords → strictly higher x3 quality
        (2, base + " on it with it", "en", len(base) + 14),
        (3, "completely unrelated filler content 12345", "en", 41),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "n_chars"])
    q = {
        r["doc_id"]: r["q"]
        for r in docs.select(
            "doc_id", text_ops.quality_score(F.col("text")).alias("q")
        ).collect()
    }
    assert q[2] > q[1]  # the planted ordering the rule must honor

    out = dd.keep_best_dedup(
        docs, text_ops.quality_score(F.col("text")), threshold=0.6
    )
    got = {r["doc_id"]: r["cluster_size"] for r in out.collect()}
    assert got == {2: 2, 3: 1}  # doc 2 beats doc 1; doc 3 singleton


def test_keep_best_dedup_lsh_conservation_and_argmax(spark, sf_smoke):
    """x67 (keep-best over LSH candidates): survivor cluster sizes must
    sum to the corpus count (every doc is exactly one survivor's
    member — dropped or double-kept docs break this for ANY pair
    source), each survivor must be its own cluster's quality argmax
    (ties to lowest id) against an independently recomputed
    clustering, and the path is deterministic."""
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.dedup import (
        keep_best_dedup,
        near_dup_clusters,
    )
    from stock_market_etl_spark.operators.text import quality_score

    docs = load_table(spark, sf_smoke, "documents")
    out = keep_best_dedup(
        docs, quality_score(F.col("text")), threshold=0.5, source="lsh"
    )
    rows = {(r["doc_id"], r["cluster_size"]) for r in out.collect()}
    n_docs = docs.count()
    assert sum(s for _, s in rows) == n_docs
    rows2 = {
        (r["doc_id"], r["cluster_size"])
        for r in keep_best_dedup(
            docs, quality_score(F.col("text")), threshold=0.5, source="lsh"
        ).collect()
    }
    assert rows == rows2  # deterministic

    clusters = {
        r["doc_id"]: r["cluster_rep"]
        for r in near_dup_clusters(
            docs, threshold=0.5, source="lsh"
        ).collect()
    }
    q = {
        r["doc_id"]: r["q"]
        for r in docs.select(
            "doc_id", quality_score(F.col("text")).alias("q")
        ).collect()
    }
    by_rep = {}
    for d, rep in clusters.items():
        by_rep.setdefault(rep, []).append(d)
    survivors = {d for d, _ in rows}
    for rep, members in by_rep.items():
        best = sorted(members, key=lambda d: (-q[d], d))[0]
        assert best in survivors
        assert not (set(members) - {best}) & survivors


def test_weighted_sample_properties(spark):
    """x68's A-ES draw: a row whose weight dominates the total is
    effectively always included, uniform weights reduce to a plain
    deterministic k-subset, the draw is salt-sensitive but
    re-run-stable, and exactly k rows return."""
    from stock_market_etl_spark.operators.sampling import weighted_sample

    rows = [(i, 1.0 if i != 7 else 1e7) for i in range(1, 101)]
    docs = spark.createDataFrame(rows, ["doc_id", "w"])
    got = {r["doc_id"] for r in weighted_sample(docs, "w", k=10).collect()}
    assert len(got) == 10
    assert 7 in got  # the dominating weight is drawn
    # deterministic across re-runs
    again = {r["doc_id"] for r in weighted_sample(docs, "w", k=10).collect()}
    assert got == again
    # a different salt draws a different subset (same machinery)
    other = {
        r["doc_id"]
        for r in weighted_sample(docs, "w", k=10, salt="v2").collect()
    }
    assert other != got


def test_fuzzy_pairs_blocking_is_complete(spark):
    """x69's SymSpell guarantee, property-tested: for random string
    pairs at planted edit distance 1 and 2 (substitutions, insertions,
    deletions — lengths differ), the deletion-neighborhood candidates
    must contain EVERY true pair (blocking is complete, the exact
    filter only ever removes); far strings must not pair."""
    import random

    from stock_market_etl_spark.operators.text import (
        deletion_neighborhood_pairs,
    )

    rnd = random.Random(11)
    alpha = "abcdefghij"
    rows, want = [], set()
    nid = 0
    for trial in range(12):
        base = "".join(rnd.choices(alpha, k=rnd.randint(6, 14)))
        rows.append((nid, base))
        bid = nid
        nid += 1
        s = list(base)
        for _ in range(rnd.choice([1, 2])):
            op = rnd.choice(["sub", "ins", "del"])
            p = rnd.randrange(len(s))
            if op == "sub":
                s[p] = rnd.choice(alpha.upper())  # always a real change
            elif op == "ins":
                s.insert(p, rnd.choice(alpha.upper()))
            elif len(s) > 3:
                del s[p]
        rows.append((nid, "".join(s)))
        want.add((bid, nid))
        nid += 1
    # far background strings (distinct length band + alphabet)
    for _ in range(10):
        rows.append((nid, "".join(rnd.choices("wxyz", k=25))))
        nid += 1

    docs = spark.createDataFrame(rows, ["id", "name"])
    got = {
        (r["id_a"], r["id_b"])
        for r in deletion_neighborhood_pairs(
            docs, name_col="name", id_col="id", max_edits=2
        ).collect()
    }
    assert want <= got  # every planted pair found (completeness)
    # the 25-char wxyz background can never pair with a ≤16-char
    # planted string (length gap alone exceeds max_edits)
    background = {i for i, name in rows if len(name) == 25}
    planted = {i for i, name in rows if len(name) != 25}
    assert not {
        p for p in got if (p[0] in background) != (p[1] in background)
    }
    # precision floor: any surviving pair really is within distance 2
    by_name = dict(rows)
    import math

    def lev(a, b):
        m, n2 = len(a), len(b)
        d = list(range(n2 + 1))
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n2 + 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1,
                    prev + (a[i - 1] != b[j - 1]),
                )
        return d[n2]

    assert all(lev(by_name[a], by_name[b]) <= 2 for a, b in got)


def test_fuzzy_pairs_density_guard_and_ban(spark):
    """deletion_neighborhood_pairs' density guard (single-action form,
    r11): a key space whose unbanned buckets exceed the pair budget
    refuses with the measured density BEFORE any pair materializes;
    stop variants (buckets over max_ids_per_variant) are banned and
    generate no pairs; and the guard never alters results — guard-on
    equals guard-off on a passing input."""
    import pytest

    from stock_market_etl_spark.operators.text import (
        deletion_neighborhood_pairs,
    )

    # 40 identical names: every variant bucket holds 40 ids
    dense = spark.createDataFrame(
        [(i, "abcdefgh") for i in range(40)], ["id", "name"]
    )
    with pytest.raises(ValueError, match="candidate pairs"):
        deletion_neighborhood_pairs(
            dense, "name", "id", max_edits=1, max_candidate_pairs=100
        )

    # same input with the buckets BANNED (cap 2 < 40): nothing pairs,
    # the bound is 0, and the guard passes
    assert (
        deletion_neighborhood_pairs(
            dense,
            "name",
            "id",
            max_edits=1,
            max_ids_per_variant=2,
            max_candidate_pairs=100,
        ).count()
        == 0
    )

    # sparse input: guard-on ≡ guard-off (the guard never alters
    # results), planted distance-1 pair found either way
    sparse = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abcdefg"), (3, "zzzzyyyyxxxx")],
        ["id", "name"],
    )
    def run(budget):
        return sorted(
            (r["id_a"], r["id_b"], r["dist"])
            for r in deletion_neighborhood_pairs(
                sparse, "name", "id",
                max_edits=1, max_candidate_pairs=budget,
            ).collect()
        )
    assert run(1_000) == run(None) == [(1, 2, 1)]


def test_exact_substring_spans_semantics(spark):
    """x71's operator contract on planted structure: a shared >= k
    run is caught at ANY alignment and merges into one maximal span
    on each side; two disjoint shared runs give two spans; shared
    runs shorter than k are invisible; a repeat confined to ONE
    document does not flag (min_docs=2 is cross-document)."""
    from stock_market_etl_spark.operators.dedup import (
        exact_substring_spans,
    )

    shared = "s1 s2 s3 s4"  # k=4 run, planted at different offsets
    other = "o1 o2 o3 o4"   # second disjoint shared run
    docs = spark.createDataFrame(
        [
            # run at positions 3-6; second run at 9-12
            (1, f"a1 a2 {shared} a3 a4 {other} a5"),
            # same runs at different alignments (1-4 and 7-10)
            (2, f"{shared} b1 b2 {other} b3"),
            # shares only a 3-token (sub-k) prefix of the run
            (3, "s1 s2 s3 c1 c2 c3 c4 c5"),
            # internal repeat only — no other doc has this content
            (4, "z1 z2 z3 z4 z1 z2 z3 z4"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in exact_substring_spans(
            docs, k=4, min_docs=2, text_col="text", id_col="doc_id"
        ).collect()
    }
    assert spans == {
        (1, 3, 6), (1, 9, 12),
        (2, 1, 4), (2, 7, 10),
    }


def test_exact_substring_spans_merge_long_run(spark):
    """A shared run LONGER than k (covered by several overlapping
    windows) must merge back into exactly one span spanning the whole
    run — the alignment-free property block dedup lacks."""
    from stock_market_etl_spark.operators.dedup import (
        exact_substring_spans,
    )

    run = " ".join(f"r{i}" for i in range(10))  # 10-token shared run
    docs = spark.createDataFrame(
        [(1, f"x1 x2 {run} x3"), (2, f"{run} y1 y2 y3")],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in exact_substring_spans(
            docs, k=4, min_docs=2
        ).collect()
    }
    assert spans == {(1, 3, 12), (2, 1, 10)}


def test_cut_spans_semantics(spark):
    """x72's operator contract on planted structure (VERDICT r09 task
    3): flagged spans are excised token-exactly at any alignment,
    unflagged docs pass through whitespace-normalized, a doc outside
    the span table passes through whole, explicit spans cut exactly
    their positions, and a fully-covered doc becomes ''."""
    from stock_market_etl_spark.operators.dedup import cut_spans

    docs = spark.createDataFrame(
        [
            (1, "a1 a2 s1 s2 s3 s4 a3"),
            (2, "s1  s2\ts3 s4 b1"),  # messy whitespace, span at 1-4
            (3, "c1 c2 c3"),          # no spans — untouched
            (4, "d1 d2 d3 d4"),       # fully covered
        ],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 3, 6), (2, 1, 4), (4, 1, 4)],
        "doc_id long, span_start long, span_end long",
    )
    got = {
        r["doc_id"]: r["clean_text"]
        for r in cut_spans(docs, spans).collect()
    }
    assert got == {
        1: "a1 a2 a3",
        2: "b1",       # whitespace normalized, span cut at 1-4
        3: "c1 c2 c3",
        4: "",
    }


def test_cut_spans_composes_with_flagger(spark):
    """End-to-end x72 shape: the flagger's spans, cut — the shared run
    disappears from BOTH docs (every-copy stance), the private tokens
    survive in order, and re-running the flagger on the cut corpus
    finds nothing (the fixed point Lee et al.'s pipeline iterates
    to)."""
    from stock_market_etl_spark.operators.dedup import (
        cut_spans,
        exact_substring_spans,
    )

    run = " ".join(f"r{i}" for i in range(6))
    docs = spark.createDataFrame(
        [(1, f"x1 x2 {run} x3"), (2, f"{run} y1 y2")],
        "doc_id long, text string",
    )
    spans = exact_substring_spans(docs, k=4, min_docs=2)
    clean = cut_spans(docs, spans)
    got = {r["doc_id"]: r["clean_text"] for r in clean.collect()}
    assert got == {1: "x1 x2 x3", 2: "y1 y2"}
    again = exact_substring_spans(
        clean.withColumnRenamed("clean_text", "text"), k=4, min_docs=2
    )
    assert again.count() == 0


def test_incremental_substring_spans_identities(spark, sf_smoke):
    """x74's two load-bearing identities on the real fixture: (1) the
    incremental form equals the batch form over corpus ∪ batch
    restricted to batch docs; (2) flagging against a PREBUILT
    corpus_window_hashes index equals deriving it inline — the
    materialized-index seam the production shape depends on."""
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.dedup import (
        corpus_window_hashes,
        exact_substring_spans,
        exact_substring_spans_incremental,
    )

    docs = load_table(spark, sf_smoke, "documents")
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)

    def rows(df):
        return sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in df.collect()
        )

    inc = rows(exact_substring_spans_incremental(corpus, batch, k=8))
    full = rows(
        exact_substring_spans(docs, k=8, min_docs=2).filter(
            F.col("doc_id") % 4 == 0
        )
    )
    assert inc == full and inc  # identity, and non-trivially so
    idx = corpus_window_hashes(corpus, k=8)
    via_index = rows(
        exact_substring_spans_incremental(
            None, batch, k=8, corpus_index=idx, built_k=8
        )
    )
    assert via_index == inc


def test_window_index_write_read_roundtrip(spark, sf_smoke, tmp_path):
    """b25's artifact seam: probing a WRITTEN-AND-READ-BACK window
    index equals the inline derivation bit-for-bit; the recorded k
    round-trips; and probing at a different window width is a loud
    refusal (digests would silently never match)."""
    import pytest

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.dedup import (
        exact_substring_spans_incremental,
        read_window_index,
        write_window_index,
    )

    docs = load_table(spark, sf_smoke, "documents")
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    path = str(tmp_path / "substring_index")
    write_window_index(corpus, path, k=8)
    idx, built_k = read_window_index(spark, path, k=8)
    assert built_k == 8

    def rows(df):
        return sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in df.collect()
        )

    via_artifact = rows(
        exact_substring_spans_incremental(
            None, batch, k=built_k, corpus_index=idx, built_k=built_k
        )
    )
    inline = rows(exact_substring_spans_incremental(corpus, batch, k=8))
    assert via_artifact == inline and via_artifact

    with pytest.raises(ValueError, match="k=8"):
        read_window_index(spark, path, k=6)

    # the probe itself refuses too (review r13 — the sibling of the
    # contaminated_spans guard): a prebuilt index without its
    # recorded width, or probed at a different width, silently flags
    # NOTHING, so both are loud errors
    with pytest.raises(ValueError, match="built_k"):
        exact_substring_spans_incremental(
            None, batch, k=8, corpus_index=idx
        )
    with pytest.raises(ValueError, match="k=8"):
        exact_substring_spans_incremental(
            None, batch, k=6, corpus_index=idx, built_k=8
        )

    # a partially-written artifact (ADVICE r13: the case a crashed
    # write_window_index leaves behind — here an emptied meta table)
    # is a loud descriptive refusal, not an opaque IndexError
    spark.createDataFrame([], "k int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="incomplete or corrupt"):
        read_window_index(spark, path)
    spark.createDataFrame([(None,)], "k int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="incomplete or corrupt"):
        read_window_index(spark, path)


def test_incremental_substring_spans_min_docs(spark):
    """min_docs counts DISTINCT docs across corpus ∪ batch: a run
    held by two corpus docs + the batch doc flags at min_docs=3; a
    run held by one corpus doc + the batch doc does not."""
    from stock_market_etl_spark.operators.dedup import (
        exact_substring_spans_incremental,
    )

    hot = "h1 h2 h3 h4"   # in 2 corpus docs
    cold = "c1 c2 c3 c4"  # in 1 corpus doc
    corpus = spark.createDataFrame(
        [
            (10, f"{hot} p1 p2"),
            (11, f"q1 {hot} q2"),
            (12, f"{cold} r1 r2"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, f"a1 {hot} a2 {cold}")],
        "doc_id long, text string",
    )
    spans3 = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in exact_substring_spans_incremental(
            corpus, batch, k=4, min_docs=3
        ).collect()
    }
    assert spans3 == {(1, 2, 5)}  # hot only
    spans2 = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in exact_substring_spans_incremental(
            corpus, batch, k=4, min_docs=2
        ).collect()
    }
    assert spans2 == {(1, 2, 5), (1, 7, 10)}  # hot and cold


def test_embedding_contamination_evidence(spark, sf_correct):
    """x85/x86 evidence — planted semantics + the x63/x67 trio:
    1. planted: a training vector IDENTICAL to an eval vector flags
       at max_cosine 1.0 with the right nearest id; an orthogonal
       training vector reports its (low) max and does not flag;
    2. identity seam — the complete train×eval pair table through
       the shared tail `contamination_from_pairs` ≡ x85 bit-for-bit;
    3. flagged-set recall — training ids x85 flags (the planted
       structure, cos ≥ 0.4 — same bar as x17) appear flagged in the
       LSH tier with recall ≥ 0.9;
    4. verdict agreement floor over the ids both forms report."""
    from pyspark.sql import functions as SF

    from stock_market_etl_spark.catalog import all_queries
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.similarity import (
        _normed_vectors,
        _pair_cos,
        _pair_side,
        contamination_from_pairs,
        embedding_contamination,
    )

    # 1. planted geometry
    planted = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),   # train, = eval 5 → flags at 1.0
            (2, [0.0, 1.0, 0.0]),   # train, orthogonal to eval → calm
            (5, [1.0, 0.0, 0.0]),   # eval
            (10, [0.0, 0.0, 1.0]),  # eval
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (
            r["nearest_eval_id"], r["max_cosine"], r["contaminated"]
        )
        for r in embedding_contamination(
            planted, SF.col("vec_id") % 5 == 0, threshold=0.4
        ).collect()
    }
    assert got[1] == (5, 1.0, True)
    assert got[2][2] is False and got[2][1] == 0.0

    # 2. identity seam on the fixture
    emb = load_table(spark, sf_correct, "embeddings")
    is_eval = SF.col("vec_id") % 5 == 0
    exact_rows = {
        tuple(r)
        for r in all_queries()["x85_embedding_contamination"](
            spark, sf_correct
        ).collect()
    }
    v = _normed_vectors(emb, "vec_id", "embedding", is_eval.alias("__e"))
    full_pairs = (
        _pair_side(v.filter(~SF.col("__e")), "vec_id", "t")
        .crossJoin(_pair_side(v.filter(SF.col("__e")), "vec_id", "e"))
        .select("id_t", "id_e", _pair_cos("t", "e").alias("cos"))
    )
    seam_rows = {
        tuple(r)
        for r in contamination_from_pairs(full_pairs, 0.4).collect()
    }
    assert seam_rows == exact_rows and seam_rows

    # 3 + 4. recall of the flagged set + verdict agreement
    exact = {r[0]: (r[1], r[3]) for r in exact_rows}
    approx = {
        r["vec_id"]: (r["nearest_eval_id"], r["contaminated"])
        for r in all_queries()["x86_embedding_contamination_lsh"](
            spark, sf_correct
        ).collect()
    }
    flagged_exact = {i for i, (_, c) in exact.items() if c}
    assert flagged_exact  # planted structure must exist
    flagged_lsh = {i for i, (_, c) in approx.items() if c}
    recall = len(flagged_exact & flagged_lsh) / len(flagged_exact)
    assert recall >= 0.9, (len(flagged_exact & flagged_lsh),
                           len(flagged_exact))
    shared = set(exact) & set(approx)
    agree = sum(1 for i in shared if exact[i][1] == approx[i][1])
    assert agree / len(shared) >= 0.9, (agree, len(shared))

    # 5. cross-side id collision (review r13): when the train and
    # eval sides carry INDEPENDENT id sequences (the same vec_id on
    # both sides), the side-scoped re-attach must score the train
    # vector against eval vectors only — the bare-id join attached
    # whichever side's row it hit and scored cross-side garbage.
    from stock_market_etl_spark.operators.similarity import (
        embedding_contamination_ann,
    )

    collide = spark.createDataFrame(
        [
            (7, [1.0, 0.0, 0.0], False),  # train
            (7, [0.0, 1.0, 0.0], True),   # eval, SAME id
            (9, [1.0, 0.0, 0.0], True),   # eval, = train 7's vector
        ],
        "vec_id long, embedding array<double>, is_ev boolean",
    )
    got_c = {
        r["vec_id"]: (
            r["nearest_eval_id"], r["max_cosine"], r["contaminated"]
        )
        for r in embedding_contamination_ann(
            collide, SF.col("is_ev"), dim=3, n_planes=2, n_tables=16
        ).collect()
    }
    assert got_c == {7: (9, 1.0, True)}


def test_bloom_decontamination_evidence(spark, sf_correct):
    """x88 evidence — the bloom tier of the decontamination rung:
    1. planted: an eval-leaked run is cut, clean docs pass through;
    2. conservativeness on the fixture — every exact (x84) span lies
       INSIDE some bloom span for the same doc, and per doc the
       bloom-cut text is a subsequence of the exact-cut text (the
       bloom form can only cut MORE, never less — zero false
       negatives by the shared xxhash64 bit family);
    3. measured window-level FPR: bloom-flagged train windows that
       the exact flag set does NOT contain stay ≤ 3× the configured
       1% of all train windows;
    4. an empty reference flags nothing."""
    from pyspark.sql import functions as SF

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.dedup import (
        _window_hash_stream,
        bloom_contaminated_spans,
        build_window_bloom,
        contaminated_spans,
        corpus_window_hashes,
        cut_spans,
    )

    # 1. planted semantics
    leak = "l1 l2 l3 l4"
    ref_p = spark.createDataFrame(
        [(100, f"e1 {leak} e2")], ["doc_id", "text"]
    )
    batch_p = spark.createDataFrame(
        [(1, f"a1 {leak} a2"), (2, "b1 b2 b3 b4 b5")],
        ["doc_id", "text"],
    )
    bloom_p = build_window_bloom(ref_p, k=4, fpp=0.01)
    got_p = {
        r["doc_id"]: r["clean_text"]
        for r in cut_spans(
            batch_p, bloom_contaminated_spans(bloom_p, batch_p, k=4)
        ).collect()
    }
    assert got_p[1] == "a1 a2" and got_p[2] == "b1 b2 b3 b4 b5"

    # 4. empty reference → no cuts
    empty = build_window_bloom(
        spark.createDataFrame([], "doc_id long, text string"), k=4
    )
    assert bloom_contaminated_spans(empty, batch_p, k=4).count() == 0

    # width guard (ADVICE r13): the filter records its built k and a
    # probe at any other width is a loud refusal, never a random-bit
    # probe — including against the empty-reference tuple.
    import pytest as _pytest

    assert bloom_p[-1] == 4 and empty[-1] == 4
    with _pytest.raises(ValueError, match="built with k=4"):
        bloom_contaminated_spans(bloom_p, batch_p, k=5)
    with _pytest.raises(ValueError, match="built with k=4"):
        bloom_contaminated_spans(empty, batch_p, k=8)

    # the empty-reference tuple keeps the bloom_sizing floors (m a
    # positive multiple of 64, bitmap m/8 bytes) so every consumer
    # sees one uniform invariant (review r14)
    assert empty[1] % 64 == 0 and empty[1] >= 64
    assert len(empty[0]) == empty[1] // 8

    # broadcast reuse (review r14): repeated probes of the SAME
    # filter reuse one cached Broadcast handle instead of pinning a
    # fresh bitmap copy in the driver's block manager per call
    from stock_market_etl_spark.operators import dedup as _dedup

    _dedup.release_bloom_broadcasts()
    bloom_contaminated_spans(bloom_p, batch_p, k=4).count()
    assert len(_dedup._BLOOM_BC_CACHE) == 1
    first_bc = next(iter(_dedup._BLOOM_BC_CACHE.values()))
    bloom_contaminated_spans(bloom_p, batch_p, k=4).count()
    assert len(_dedup._BLOOM_BC_CACHE) == 1
    assert next(iter(_dedup._BLOOM_BC_CACHE.values())) is first_bc

    # 2 + 3. fixture conservativeness + FPR bound (x84's split)
    docs = load_table(spark, sf_correct, "documents")
    train = docs.filter(SF.col("doc_id") % 10 < 8)
    ref = docs.filter(SF.col("doc_id") % 10 >= 8)
    exact_spans = [
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in contaminated_spans(ref, train, k=8).collect()
    ]
    bloom = build_window_bloom(ref, k=8, fpp=0.01)
    bloom_spans = [
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in bloom_contaminated_spans(bloom, train, k=8).collect()
    ]
    by_doc: dict = {}
    for d, s, e in bloom_spans:
        by_doc.setdefault(d, []).append((s, e))
    for d, s, e in exact_spans:
        assert any(
            s2 <= s and e <= e2 for s2, e2 in by_doc.get(d, [])
        ), (d, s, e)

    # window-level FPR at distinct-hash grain: bloom-flagged minus
    # exact-flagged. Bit positions compute SPARK-side (the operator's
    # own xxhash64 family); membership evaluates in local numpy over
    # the collected position rows (small: distinct train windows).
    import numpy as np

    bm, m, j, _, _bk = bloom
    arr = np.frombuffer(bm, dtype=np.uint8)
    gb = _window_hash_stream(train, 8, "text", "doc_id")
    distinct_h = gb.select("__h").distinct().persist()
    total = distinct_h.count()
    exact_flags = distinct_h.join(
        corpus_window_hashes(ref, k=8).select("__h"), "__h", "left_semi"
    ).count()
    bits = SF.array(
        *[
            SF.pmod(SF.xxhash64(SF.col("__h"), SF.lit(i)), SF.lit(m))
            for i in range(j)
        ]
    )
    pos = np.array(
        [r["__b"] for r in distinct_h.select(bits.alias("__b")).collect()]
    )
    distinct_h.unpersist()
    hits_mask = (
        (arr[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    ).all(axis=1)
    bloom_flags = int(hits_mask.sum())
    assert bloom_flags >= exact_flags  # zero false negatives
    fpr = (bloom_flags - exact_flags) / max(1, total - exact_flags)
    assert fpr <= 0.03, (bloom_flags, exact_flags, total)


def test_contaminated_spans_semantics(spark):
    """x84's flag condition on planted structure — contamination is
    presence-in-reference, NOT combined duplication:
    1. a train run copied from an eval doc is cut (even though it
       appears once on each side — one train + one eval IS
       contamination);
    2. a run duplicated across TWO train docs but absent from the
       reference is NOT cut (train-side duplication is dedup's
       business, not decontamination's — the deliberate divergence
       from exact_substring_spans_incremental's min_docs counting);
    3. unflagged docs pass through whitespace-normalized;
    4. a prebuilt `corpus_window_hashes` reference index reproduces
       the inline derivation bit-for-bit (the write-once eval-index
       production shape)."""
    from stock_market_etl_spark.operators.dedup import (
        contaminated_spans,
        corpus_window_hashes,
        cut_spans,
    )

    leak = "l1 l2 l3 l4"      # in eval + one train doc → cut
    traindup = "t1 t2 t3 t4"  # in TWO train docs, not in eval → kept
    ref = spark.createDataFrame(
        [(100, f"e1 {leak} e2")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, f"a1 {leak} a2 {traindup}"),
            (2, f"{traindup} b1 b2"),
            (3, "c1  c2   c3"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in contaminated_spans(ref, batch, k=4).collect()
    }
    assert spans == {(1, 2, 5)}  # the leak only, neither traindup copy
    cleaned = {
        r["doc_id"]: r["clean_text"]
        for r in cut_spans(batch, contaminated_spans(ref, batch, k=4))
        .collect()
    }
    assert cleaned[1] == f"a1 a2 {traindup}"
    assert cleaned[2] == f"{traindup} b1 b2"
    assert cleaned[3] == "c1 c2 c3"  # whitespace-normalized passthrough

    idx = corpus_window_hashes(ref, k=4)
    via_index = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in contaminated_spans(
            None, batch, k=4, reference_index=idx, built_k=4
        ).collect()
    }
    assert via_index == spans

    import pytest

    with pytest.raises(ValueError, match="reference"):
        contaminated_spans(None, batch, k=4)
    # a prebuilt index without its recorded width, or at the wrong
    # width, must refuse loudly — a silent k mismatch flags nothing,
    # which here means eval leakage passes unflagged (review r13)
    with pytest.raises(ValueError, match="built_k"):
        contaminated_spans(None, batch, k=4, reference_index=idx)
    with pytest.raises(ValueError, match="k=4"):
        contaminated_spans(
            None, batch, k=8, reference_index=idx, built_k=4
        )


def test_source_reputation_gate_semantics(spark):
    """x73's planted-structure contract: a source of duplicated junk
    (dup_rate 0.75 > 0.5) is dropped regardless of rank; a
    high-quality distinct source keeps; with 3 sources the top
    ceil(3/2)=2 by mean quality pass the rank gate, so the
    mid-quality distinct source keeps and the junk source is the one
    dropped; volumes and dup rates are exact."""
    from stock_market_etl_spark.operators.text import source_reputation

    good = "the market value is on a steady rise and the volume is in line with it"
    mid = "prices move for reasons"
    junk = "!!! ### !!!"
    rows = (
        [(i, good + f" extra{i}", "good_src") for i in range(4)]
        + [(10 + i, mid + f" w{i}", "mid_src") for i in range(4)]
        + [(20, junk, "junk_src")]
        + [(21 + i, junk, "junk_src") for i in range(3)]  # 4 docs, 1 distinct
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    rep = {
        r["source"]: r
        for r in source_reputation(docs).collect()
    }
    assert rep["good_src"]["n_docs"] == 4
    assert rep["junk_src"]["dup_rate"] == 0.75
    assert rep["good_src"]["keep"] is True
    assert rep["mid_src"]["keep"] is True
    assert rep["junk_src"]["keep"] is False
    assert rep["good_src"]["mean_quality"] > rep["junk_src"]["mean_quality"]


def test_curation_v4_stage_ordering(spark, monkeypatch):
    """x75's composition contract on planted structure: the source
    gate drops the junk source's docs BEFORE span work; cutting the
    shared run makes the two good docs byte-identical, so the exact
    dedup AFTER the cut keeps exactly one — the stage ordering the
    flagship's docstring claims (dedup before cut would keep both)."""
    from stock_market_etl_spark.operators import text as text_ops
    from stock_market_etl_spark.operators.dedup import (
        cut_spans,
        exact_substring_spans,
    )

    run = " ".join(f"r{i}" for i in range(8))
    private = "alpha beta"
    good = (
        "the market value is on a steady rise and the volume is in line"
    )
    rows = (
        # two docs identical AFTER the shared run is cut
        [(1, f"{private} {run}", "src_a"), (2, f"{run} {private}", "src_a")]
        # quality ballast so src_a ranks above the junk source
        + [(3 + i, good + f" w{i}", "src_a") for i in range(3)]
        + [(10 + i, "!!! ###", "src_junk") for i in range(4)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    rep = {r["source"]: r["keep"] for r in
           text_ops.source_reputation(docs).collect()}
    assert rep == {"src_a": True, "src_junk": False}
    gated = docs.filter(F.col("source") == "src_a")
    spans = exact_substring_spans(gated, k=8, min_docs=2)
    clean = cut_spans(gated, spans)
    got = {r["doc_id"]: r["clean_text"] for r in clean.collect()}
    assert got[1] == private and got[2] == private  # identical post-cut
    # the dedup stage must therefore keep exactly one of doc 1/2:
    # replicate the flagship's keep-first rule
    from pyspark.sql import Window

    ne = clean.filter(F.col("clean_text") != "")
    keep_id = F.min("doc_id").over(
        Window.partitionBy(F.sha2(F.col("clean_text"), 256))
    )
    survivors = {
        r["doc_id"]
        for r in ne.select("doc_id", keep_id.alias("k"))
        .filter(F.col("doc_id") == F.col("k"))
        .collect()
    }
    assert 1 in survivors and 2 not in survivors
    assert {3, 4, 5} <= survivors


def test_merge_window_index_equals_rebuild(spark, sf_smoke):
    """The window index's append-mergeable claim, pinned:
    merge_window_index(index(corpus), batch) must equal
    corpus_window_hashes(corpus ∪ batch) exactly (disjoint id spaces
    — the incremental contract)."""
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.dedup import (
        corpus_window_hashes,
        merge_window_index,
    )

    docs = load_table(spark, sf_smoke, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)

    def rows(df):
        return sorted(
            (bytes(r["__h"]), r["__nd"]) for r in df.collect()
        )

    merged = rows(
        merge_window_index(
            corpus_window_hashes(corpus, k=8), batch, built_k=8, k=8
        )
    )
    rebuilt = rows(corpus_window_hashes(docs, k=8))
    assert merged == rebuilt and merged


def test_merge_window_index_refuses_k_mismatch(spark, tmp_path):
    """ADVICE r11: merging at a width other than the index's BUILT k
    would silently produce a mixed-width index that under-flags on
    later probes — the (index, built_k) pair from read_window_index
    must trip the same loud ValueError the read seam raises, and the
    guard must not fire when the widths agree."""
    import pytest

    from stock_market_etl_spark.operators.dedup import (
        merge_window_index,
        read_window_index,
        write_window_index,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d x y")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    write_window_index(docs, path, k=4)
    idx, built_k = read_window_index(spark, path)
    batch = spark.createDataFrame(
        [(10, "a b c d z w")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="built with k=4"):
        merge_window_index(idx, batch, built_k, k=8)
    ok = merge_window_index(idx, batch, built_k, k=built_k)
    assert ok.count() > 0
    # built_k is REQUIRED — the guard cannot be skipped by omission
    with pytest.raises(TypeError):
        merge_window_index(idx, batch)


def test_substring_keep_one_semantics(spark):
    """x76's keeper contract on planted structure: the min-doc_id
    holder of a duplicated run keeps its text verbatim while every
    other holder is cut; an exact-duplicate document pair resolves to
    first-keeps / second-empties; clean docs pass through."""
    from stock_market_etl_spark.operators.dedup import (
        cut_spans,
        exact_substring_spans_keep_one,
    )

    dup = "R1 R2 R3 R4"
    docs = spark.createDataFrame(
        [
            (1, f"p1 p2 {dup} p3"),   # keeper of the shared run
            (2, f"z1 {dup} z2"),      # cut
            (10, "e1 e2 e3 e4 e5"),   # exact-dup pair: keeper
            (11, "e1 e2 e3 e4 e5"),   # exact-dup pair: fully covered
            (20, "c1 c2 c3"),         # clean, short
        ],
        ["doc_id", "text"],
    )
    spans = exact_substring_spans_keep_one(docs, k=4, min_docs=2)
    got = {
        r["doc_id"]: r["clean_text"]
        for r in cut_spans(docs, spans).collect()
    }
    assert got[1] == f"p1 p2 {dup} p3"
    assert got[2] == "z1 z2"
    assert got[10] == "e1 e2 e3 e4 e5"
    assert got[11] == ""
    assert got[20] == "c1 c2 c3"


def test_containment_pairs_semantics(spark):
    """x77's asymmetry contract on planted structure: a short doc
    fully quoted inside a long one scores containment 1.0 even though
    their Jaccard is tiny; disjoint docs produce no pair; the stop-
    gram ban suppresses pairs whose ONLY shared content is
    boilerplate held by > max_ids_per_gram docs."""
    from stock_market_etl_spark.operators.dedup import containment_pairs

    quote = "q1 q2 q3 q4 q5 q6"  # 2 distinct 5-grams
    filler = " ".join(f"f{i}" for i in range(40))
    boiler = "b1 b2 b3 b4 b5"
    rows = [
        (1, quote),                     # short doc
        (2, f"{filler} {quote}"),       # long doc quoting it verbatim
        (3, "z1 z2 z3 z4 z5 z6 z7"),    # unrelated
    ]
    # boilerplate gram shared by many docs → banned at cap 3
    rows += [(100 + i, f"{boiler} u{i} v{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(
            docs, ngram=5, threshold=0.5, max_ids_per_gram=3
        ).collect()
    }
    assert got[(1, 2)] == 1.0  # full inclusion despite length skew
    assert not any(3 in p for p in got)
    # boilerplate-only overlap: banned gram generates no candidates
    assert not any(a >= 100 and b >= 100 for a, b in got)


def test_hard_negatives_semantics(spark):
    """x78's contract on planted structure: positives never appear,
    ranking follows BM25 (a doc with more query-term hits outranks a
    lighter one at equal length), rank is 1..k dense per query, and
    the two-phase chunked top-k equals the single-window form
    bit-for-bit (the identity seam — phase 1 must never cut a global
    top-k survivor)."""
    from pyspark.sql import Window

    from stock_market_etl_spark.operators.text import (
        bm25_hard_negatives,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha alpha alpha pad pad pad"),   # heavy hitter
            (2, "alpha alpha beta pad pad pad"),    # mid
            (3, "alpha pad pad pad pad pad"),       # light
            (4, "pad pad pad pad pad pad"),         # no match
            (5, "alpha alpha alpha alpha pad pad"), # heaviest → positive
        ],
        "doc_id long, text string",
    )
    positives = spark.createDataFrame(
        [("q1", 5)], "query_id string, doc_id long"
    )
    out = bm25_hard_negatives(
        docs, {"q1": ["alpha", "beta"]}, positives, k=3
    ).collect()
    got = [(r["query_id"], r["doc_id"], r["rank"]) for r in out]
    # positive 5 excluded; 4 never scored; 2 outranks 3 (beta hit),
    # 1 vs 2: doc 1 has 3×alpha, doc 2 has 2×alpha+1×beta — beta is
    # rarer (df 1 vs 4) so its idf dominates and doc 2 wins
    assert ("q1", 5, 1) not in [(q, d, 1) for q, d, _ in got]
    assert all(d != 5 and d != 4 for _, d, _ in got)
    assert sorted(r for _, _, r in got) == [1, 2, 3]
    by_rank = {r: d for _, d, r in got}
    assert by_rank[1] == 2 and by_rank[2] == 1 and by_rank[3] == 3

    # identity seam: chunked two-phase ≡ single global window, on a
    # corpus large enough that chunks actually split the candidates
    big = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha "),
            F.when(F.col("id") % 3 == 0, F.lit("beta ")).otherwise(
                F.lit("pad ")
            ),
            F.lit("pad pad"),
        ).alias("text"),
    )
    nopos = spark.createDataFrame(
        [], "query_id string, doc_id long"
    )
    two_phase = bm25_hard_negatives(
        big, {"q1": ["alpha", "beta"]}, nopos, k=7, n_chunks=16
    )
    one_chunk = bm25_hard_negatives(
        big, {"q1": ["alpha", "beta"]}, nopos, k=7, n_chunks=1
    )
    key = lambda df: sorted(
        (r["query_id"], r["doc_id"], r["bm25"], r["rank"])
        for r in df.collect()
    )
    assert key(two_phase) == key(one_chunk) and len(key(two_phase)) == 7


def test_curation_lineage_semantics(spark):
    """x79's verdict precedence and the sequential-gate subtlety on
    planted docs: first-match rule wins, dedup keepers are chosen
    among gate SURVIVORS only (a doc whose identical twin died at a
    gate is NOT a duplicate), and kept_by names the keeper exactly
    for exact_dup rows."""
    from stock_market_etl_spark.operators.dedup import curation_lineage

    long_txt = "w " * 150
    docs = spark.createDataFrame(
        [
            (1, long_txt, "en", 300),        # kept (keeper of 1/2)
            (2, long_txt, "en", 300),        # exact_dup of 1
            (3, long_txt, "zh", 300),        # lang_blocked (same text!)
            (4, "tiny", "en", 4),            # too_short
            (5, "tiny", "zh", 4),            # too_short wins over lang
            (6, "unique body " * 30, "fr", 360),  # kept
            (7, "orphan twin", "en", 250),   # kept — its only twin (8)
            (8, "orphan twin", "en", 100),   # too_short → 7 not a dup
        ],
        "doc_id long, text string, lang string, n_chars long",
    )
    # NOTE: n_chars is the fixture's stored audit column; planted
    # values are authoritative (rule reads the column, not length()).
    rows = {
        r["doc_id"]: (r["verdict"], r["kept_by"])
        for r in curation_lineage(docs, min_chars=200).collect()
    }
    assert rows[1] == ("kept", None)
    assert rows[2] == ("exact_dup", 1)
    assert rows[3] == ("lang_blocked", None)  # gate fires before dup
    assert rows[4] == ("too_short", None)
    assert rows[5] == ("too_short", None)     # precedence over lang
    assert rows[6] == ("kept", None)
    assert rows[7] == ("kept", None)          # twin died at gate
    assert rows[8] == ("too_short", None)


def test_hard_negatives_null_text_oracle_parity(spark, tmp_path):
    """The NULL-text convention, pinned cross-engine (review r12): a
    NULL document contributes to n_docs but NOT to avgdl (the SQL
    unnest emits no rows for it; with ANSI off Spark's size(split(
    NULL)) is -1 and would poison the average without the null
    guard). Engine and DuckDB must score identically on a corpus
    containing a NULL doc."""
    import duckdb

    from stock_market_etl_spark.operators.text import (
        bm25_hard_negatives,
    )

    rows = [
        (1, "alpha alpha beta pad"),
        (2, "alpha pad pad pad"),
        (3, "beta beta pad pad pad pad"),
        (4, "pad pad"),
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "docs.parquet")
    docs.coalesce(1).write.parquet(path)

    nopos = spark.createDataFrame([], "query_id string, doc_id long")
    got = sorted(
        (r["query_id"], r["doc_id"], r["bm25"], r["rank"])
        for r in bm25_hard_negatives(
            docs, {"q1": ["alpha", "beta"]}, nopos, k=10
        ).collect()
    )

    want = sorted(
        (q, d, b, r)
        for q, d, b, r in duckdb.connect()
        .execute(
            rf"""WITH docs AS (SELECT * FROM '{path}/*.parquet'),
            toks AS (SELECT doc_id,
                     unnest(string_split_regex(trim(text), '\s+')) AS term
                     FROM docs),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
            stats AS (SELECT avg(dl) AS avgdl FROM dl),
            n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM docs),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                   WHERE term IN ('alpha', 'beta') GROUP BY doc_id, term),
            dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            scored AS (
              SELECT 'q1' AS query_id, tf.doc_id,
                     round(sum(
                       ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                     ), 6) AS bm25
              FROM tf JOIN dl USING (doc_id) JOIN dfc USING (term), stats, n
              GROUP BY tf.doc_id)
            SELECT query_id, doc_id, bm25,
                   CAST(row_number() OVER (
                     ORDER BY bm25 DESC, doc_id) AS INT) AS rank
            FROM scored"""
        )
        .fetchall()
    )
    assert got == want and len(got) == 3


def test_psi_drift_semantics(spark):
    """x80's discriminating case on planted shape: a source whose
    score distribution is IDENTICAL across releases reads psi ≈ 0; a
    source whose count AND mean are unchanged but whose shape moved
    (unimodal 0.45 → bimodal 0.05/0.85) must alarm — exactly the
    shift the k6 volume/mean gate is blind to. Empty-side bins clamp
    to eps instead of dividing by zero."""
    from stock_market_etl_spark.operators.importance import psi_drift

    rows = []
    # stable: same 20 scores in both releases
    for i in range(20):
        rows.append(("stable", round(0.05 * (i % 10) + 0.03, 6), 1, 1))
    # shifted: old release all mid-scores; new release bimodal with
    # the SAME count and mean
    for i in range(20):
        rows.append(("shifted", 0.45, 1, 0))
        rows.append(("shifted", 0.05 if i % 2 == 0 else 0.85, 0, 1))
    df = spark.createDataFrame(
        rows, "source string, q double, in_old int, in_new int"
    )
    got = {
        r["source"]: (r["psi"], r["drift_flag"])
        for r in psi_drift(
            df, "q", "source", "in_old", "in_new", bins=10
        ).collect()
    }
    assert got["stable"][0] < 0.01 and got["stable"][1] is False
    assert got["shifted"][0] >= 0.2 and got["shifted"][1] is True
    # the planted shift is mean-invariant — k6's gate would pass it
    from pyspark.sql import functions as SF

    means = (
        df.filter("source = 'shifted'")
        .groupBy()
        .agg(
            (SF.sum(SF.col("q") * SF.col("in_old")) / SF.sum("in_old")).alias("mo"),
            (SF.sum(SF.col("q") * SF.col("in_new")) / SF.sum("in_new")).alias("mn"),
        )
        .collect()[0]
    )
    assert abs(means["mo"] - means["mn"]) < 1e-9


def test_hard_negatives_single_query_equals_bm25_topk(spark, sf_smoke):
    """Identity seam between the batch and single-query forms: x78
    with ONE query and NO positives must score the SAME document set
    as bm25_topk, with every score equal to within double-summation
    noise. Compared over ALL scored docs (k = corpus) and with a
    2e-6 tolerance rather than exact equality of rounded doubles —
    the two forms sum term scores through different plans, so a
    pre-round value landing on a .xxxxxx5 midpoint could round apart
    (the documented round(x, 6) midpoint caveat) without being a
    real divergence."""
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.text import (
        bm25_hard_negatives,
        bm25_topk,
    )

    docs = load_table(spark, sf_smoke, "documents")
    terms = ["vector", "hash", "spark"]
    n = docs.count()
    nopos = spark.createDataFrame([], "query_id string, doc_id long")
    batch = {
        r["doc_id"]: r["bm25"]
        for r in bm25_hard_negatives(
            docs, {"q": terms}, nopos, k=n
        ).collect()
    }
    single = {
        r["doc_id"]: r["bm25"]
        for r in bm25_topk(docs, terms, k=n).collect()
    }
    assert set(batch) == set(single) and len(batch) > 10
    for doc_id, score in single.items():
        assert abs(batch[doc_id] - score) <= 2e-6, (doc_id, score)


def test_fim_transform_semantics(spark):
    """x81's contract: FIM'd docs carry the three sentinels in PSM
    order and reconstruct the ORIGINAL token sequence as
    prefix + middle + suffix (nothing lost, nothing reordered inside
    a segment); passthrough docs are the whitespace-normalized
    original; the transform is deterministic across runs."""
    from stock_market_etl_spark.operators.text import fim_transform

    rows = [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in fim_transform(docs, rate_pct=60).collect()}
    orig = {i: t.split() for i, t in rows}
    n_applied = 0
    for i, toks in orig.items():
        r = out[i]
        assert r["fim_applied"] == ((i * 48271) % 100 < 60)
        if not r["fim_applied"]:
            assert r["text_out"] == " ".join(toks)
            continue
        n_applied += 1
        got = r["text_out"].split()
        assert got[0] == "<PRE>"
        i_suf, i_mid = got.index("<SUF>"), got.index("<MID>")
        assert 0 < i_suf < i_mid
        pre = got[1:i_suf]
        suf = got[i_suf + 1 : i_mid]
        mid = got[i_mid + 1 :]
        assert pre + mid + suf == toks  # exact reconstruction
    assert 0 < n_applied < len(rows)  # both branches exercised
    again = {
        r["doc_id"]: r["text_out"]
        for r in fim_transform(docs, rate_pct=60).collect()
    }
    assert again == {i: out[i]["text_out"] for i in out}


def test_bitext_margin_discounts_hubs(spark):
    """x82's discriminating property on planted geometry: a HUB
    target (moderately close to every source) beats the exclusive
    partner on RAW cosine, but margin divides by the k-NN background
    — the hub's background is its own high cosines everywhere, the
    exclusive partner's is near zero — so margin selects the
    exclusive partner. This is exactly why Artetxe & Schwenk mine
    with margin instead of cosine."""
    from pyspark.sql import functions as SF

    from stock_market_etl_spark.operators.similarity import (
        bitext_margin_pairs,
    )

    s3 = 0.5773502691896258  # 1/sqrt(3)
    rows = [
        # sources (even ids): orthogonal basis vectors
        (0, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        # targets (odd ids): a hub equally close to every source…
        (1, [s3, s3, s3, 0.0]),
        # …and per-source exclusive partners (bulk in dim 4, which no
        # source occupies — low cosine to everyone but their partner)
        (3, [0.5, 0.05, 0.05, 0.86]),
        (5, [0.05, 0.5, 0.05, 0.86]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["id_a"]: (r["id_b"], r["cosine_sim"], r["margin"])
        for r in bitext_margin_pairs(
            df, SF.col("vec_id") % 2 == 0, k=2, threshold=0.0
        ).collect()
    }
    # raw cosine argmax for source 0 is the HUB (0.577 > 0.5)…
    assert out[0][0] == 3 and out[0][1] < s3 + 1e-9
    # …but margin still selects the exclusive partner, for source 2 too
    assert out[2][0] == 5
    assert out[0][2] > 1.0 and out[2][2] > 1.0


def test_bitext_margin_ann_evidence(spark, sf_correct):
    """Three-fold evidence for the ANN bitext tier (x83), the
    x63/x67 convention:
    1. identity seam — the COMPLETE A×B pair table (built with the
       exact form's own helpers) through the shared tail
       `bitext_margin_from_pairs` reproduces x82 BIT-FOR-BIT, so the
       two forms differ only in candidate generation + cosine kernel;
    2. candidate recall — fixture A×B pairs with cosine ≥ 0.4 (the
       planted structure, same bar as x17/x63) appear in the LSH
       candidate set with recall ≥ 0.9, and the Arrow-kernel cosine
       agrees with the fold cosine within one 6th-decimal ulp on
       every candidate pair;
    3. planted-geometry equivalence + agreement floor — on the hub/
       exclusive-partner geometry the ANN form returns exactly the
       exact form's pairs (margin still discounts the hub), and on
       the fixture the surviving source→target map agrees with x82
       above an anti-regression floor (backgrounds estimated over
       candidates shift thin margins; full agreement is not the bar).
    """
    from pyspark.sql import functions as SF

    from stock_market_etl_spark.catalog import all_queries
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.similarity import (
        _normed_vectors,
        _pair_cos,
        _pair_side,
        bitext_margin_from_pairs,
        bitext_margin_pairs_ann,
        hyperplane_lsh_buckets,
    )

    emb = load_table(spark, sf_correct, "embeddings")
    side = SF.col("vec_id") % 2 == 0
    exact_rows = {
        tuple(r)
        for r in all_queries()["x82_bitext_margin_pairs"](
            spark, sf_correct
        ).collect()
    }

    # 1. identity seam: full A×B pairs -> shared tail ≡ x82
    v = _normed_vectors(emb, "vec_id", "embedding", side.alias("__a"))
    full_pairs = (
        _pair_side(v.filter(SF.col("__a")), "vec_id", "a")
        .crossJoin(_pair_side(v.filter(~SF.col("__a")), "vec_id", "b"))
        .select("id_a", "id_b", _pair_cos().alias("cos"))
    )
    seam_rows = {
        tuple(r)
        for r in bitext_margin_from_pairs(
            full_pairs, k=4, threshold=1.15
        ).collect()
    }
    assert seam_rows == exact_rows and seam_rows

    # 2. candidate recall + kernel-vs-fold cosine parity
    b = hyperplane_lsh_buckets(
        emb.select("vec_id", side.alias("__a"), "embedding"),
        dim=64,
        n_planes=4,
        n_tables=16,
    )
    qb = b.filter(SF.col("__a")).select(
        SF.col("vec_id").alias("id_a"), "lsh_table", "lsh_bucket"
    )
    tb = b.filter(~SF.col("__a")).select(
        SF.col("vec_id").alias("id_b"),
        SF.col("lsh_table").alias("__t"),
        SF.col("lsh_bucket").alias("__b"),
    )
    cand = {
        (r["id_a"], r["id_b"])
        for r in qb.join(
            tb,
            (SF.col("lsh_table") == SF.col("__t"))
            & (SF.col("lsh_bucket") == SF.col("__b")),
        )
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    exact_cos = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in full_pairs.collect()
    }
    strong = {p for p, c in exact_cos.items() if c >= 0.4}
    assert strong  # planted structure must exist
    recall = len(strong & cand) / len(strong)
    assert recall >= 0.9, (len(strong & cand), len(strong))

    ann_out = all_queries()["x83_bitext_margin_pairs_ann"](
        spark, sf_correct
    )
    approx = {r["id_a"]: r["id_b"] for r in ann_out.collect()}
    # kernel cosine parity on the pairs the ANN form actually scored
    ann_pairs = bitext_margin_pairs_ann(
        emb, side, dim=64, k=4, threshold=-1.0
    )
    for r in ann_pairs.collect():
        assert abs(r["cosine_sim"] - exact_cos[(r["id_a"], r["id_b"])]) \
            <= 1.01e-6, (r["id_a"], r["id_b"])

    # 3a. planted geometry: ANN ≡ exact on the hub discount
    s3 = 0.5773502691896258
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (1, [s3, s3, s3, 0.0]),
        (3, [0.5, 0.05, 0.05, 0.86]),
        (5, [0.05, 0.5, 0.05, 0.86]),
    ]
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    planted_ann = {
        r["id_a"]: r["id_b"]
        for r in bitext_margin_pairs_ann(
            planted,
            SF.col("vec_id") % 2 == 0,
            dim=4,
            k=2,
            threshold=0.0,
            n_planes=2,
            n_tables=16,
        ).collect()
    }
    assert planted_ann[0] == 3 and planted_ann[2] == 5

    # 3b. fixture agreement floor vs x82 (observed 0.92 at sf0.01,
    # 4 planes / 16 tables; floor leaves noise headroom)
    exact_map = {r[0]: r[1] for r in exact_rows}
    agree = sum(
        1 for s, t in exact_map.items() if approx.get(s) == t
    )
    assert agree / len(exact_map) >= 0.7, (agree, len(exact_map))


def test_bloom_broadcast_cache_thread_safety(spark):
    """The probe-bitmap broadcast cache under CONCURRENT probes
    (review r14's lock): many threads interleaving two distinct
    filters must never crash the eviction iteration, must converge to
    exactly one cached handle per distinct bitmap, and every returned
    handle must carry its own bitmap's bytes (no cross-wiring under
    the race)."""
    from concurrent.futures import ThreadPoolExecutor

    from stock_market_etl_spark.operators import dedup as dd

    sc = spark.sparkContext
    bm1, bm2 = b"\x11" * 64, b"\x22" * 64
    # release (not clear): raw clear would orphan earlier tests'
    # cached broadcasts with their blocks still pinned (review r14)
    dd.release_bloom_broadcasts()

    def probe(i):
        bm = bm1 if i % 2 == 0 else bm2
        bc = dd._bloom_broadcast(sc, bm)
        assert bc.value == bm
        return id(bc)

    with ThreadPoolExecutor(max_workers=8) as ex:
        ids = list(ex.map(probe, range(80)))
    assert len(dd._BLOOM_BC_CACHE) == 2
    # every even call got the same handle, every odd call likewise
    assert len({i for n, i in enumerate(ids) if n % 2 == 0}) == 1
    assert len({i for n, i in enumerate(ids) if n % 2 == 1}) == 1
    assert dd.release_bloom_broadcasts() == 2  # leave nothing pinned


def test_release_bloom_broadcasts(spark, monkeypatch):
    """The bloom cache's housekeeping seam: releasing drops every
    cached handle and the memo (count returned), the next probe
    re-broadcasts cleanly, and the memo is BYTE-bounded — flooding it
    with bitmaps past the budget never pins more than the budget
    (evicted bitmaps still resolve by content digest), while a HIT
    refreshes LRU recency so hot bitmaps survive the churn."""
    from stock_market_etl_spark.operators import dedup as dd

    sc = spark.sparkContext
    dd.release_bloom_broadcasts()
    b1 = dd._bloom_broadcast(sc, b"\x01" * 64)
    dd._bloom_broadcast(sc, b"\x02" * 64)
    assert dd.release_bloom_broadcasts() == 2
    assert not dd._BLOOM_BC_CACHE and not dd._BLOOM_DIGEST_MEMO
    b1b = dd._bloom_broadcast(sc, b"\x01" * 64)
    assert b1b.value == b"\x01" * 64 and b1b is not b1
    dd.release_bloom_broadcasts()

    monkeypatch.setattr(dd, "_BLOOM_MEMO_MAX_BYTES", 64 * 4)
    hot = b"\xaa" * 64
    dd._bloom_broadcast(sc, hot)
    for i in range(10):
        dd._bloom_broadcast(sc, hot)  # LRU refresh keeps it resident
        dd._bloom_broadcast(sc, bytes([i + 1]) * 64)
        held = sum(
            len(v[0]) for v in dd._BLOOM_DIGEST_MEMO.values()
        )
        assert held <= 64 * 4, held
        assert any(
            v[0] is hot for v in dd._BLOOM_DIGEST_MEMO.values()
        )
    dd.release_bloom_broadcasts()


def test_release_bloom_broadcast_targeted(spark):
    """VERDICT r14 task 5: retiring ONE eval release drops only that
    filter's broadcast — the survivor stays cached and live (no
    re-broadcast), the released filter re-broadcasts fresh on its
    next probe, and unknown bytes report False. Memoized and
    non-memoized (sha1) lookups both resolve."""
    from stock_market_etl_spark.operators import dedup as dd

    sc = spark.sparkContext
    dd.release_bloom_broadcasts()
    retired, survivor = b"\x0a" * 64, b"\x0b" * 64
    bc_retired = dd._bloom_broadcast(sc, retired)
    bc_survivor = dd._bloom_broadcast(sc, survivor)
    assert dd.release_bloom_broadcast(retired) is True
    assert len(dd._BLOOM_BC_CACHE) == 1
    # survivor untouched: same handle, blocks still readable
    assert dd._bloom_broadcast(sc, survivor) is bc_survivor
    assert bc_survivor.value == survivor
    # next probe of the retired filter re-broadcasts a NEW handle
    bc_again = dd._bloom_broadcast(sc, retired)
    assert bc_again is not bc_retired and bc_again.value == retired
    # non-memoized path: equal bytes, different object → sha1 lookup
    assert dd.release_bloom_broadcast(b"\x0a" * 64) is True
    assert dd.release_bloom_broadcast(b"\xff" * 64) is False
    assert dd.release_bloom_broadcasts() == 1


def test_bloom_memo_skips_oversized_entry(spark, monkeypatch):
    """A single bitmap LARGER than the whole memo budget is never
    memoized (ADVICE r14: inserting it drove the budget negative,
    evicted every other entry, AND pinned the oversized bytes until
    release — exactly the pin the bound exists to prevent). It still
    gets a content-digest-cached broadcast, so correctness and
    broadcast reuse are unaffected; resident smaller entries
    survive untouched."""
    from stock_market_etl_spark.operators import dedup as dd

    sc = spark.sparkContext
    dd.release_bloom_broadcasts()
    monkeypatch.setattr(dd, "_BLOOM_MEMO_MAX_BYTES", 64 * 4)
    small = [bytes([i + 1]) * 64 for i in range(3)]
    for bm in small:
        dd._bloom_broadcast(sc, bm)
    assert len(dd._BLOOM_DIGEST_MEMO) == 3
    big = b"\xbb" * (64 * 5)  # alone exceeds the 256-byte budget
    bc1 = dd._bloom_broadcast(sc, big)
    # not memoized, nothing evicted, budget invariant holds
    assert len(dd._BLOOM_DIGEST_MEMO) == 3
    assert all(
        v[0] in small for v in dd._BLOOM_DIGEST_MEMO.values()
    )
    held = sum(len(v[0]) for v in dd._BLOOM_DIGEST_MEMO.values())
    assert held <= 64 * 4
    # re-probe pays sha1 (no memo) but reuses the SAME broadcast
    bc2 = dd._bloom_broadcast(sc, big)
    assert bc2 is bc1
    assert dd.release_bloom_broadcasts() == 4


def test_bloom_closure_fallback_warns_above_threshold(monkeypatch):
    """The Spark Connect fallback (no sparkContext → bitmap captured
    in the UDF closure, re-shipped per task) must not degrade
    SILENTLY at the multi-hundred-MB scale the tier targets (ADVICE
    r14): above the threshold it emits a RuntimeWarning pointing at
    classic mode / a file artifact; below it stays quiet; either way
    the fetch closure returns the exact bytes."""
    import warnings as _warnings

    from stock_market_etl_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "_BLOOM_CLOSURE_WARN_BYTES", 64)
    big = b"\x01" * 65
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        fetch = dd._closure_capture_fetch(big)
    assert fetch() == big
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "closure capture" in str(w.message)
        for w in caught
    )
    small = b"\x02" * 64
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        fetch = dd._closure_capture_fetch(small)
    assert fetch() == small and not caught


def test_publish_window_index_meta_failure_cleans_data(
    spark, sf_smoke, tmp_path
):
    """publish_window_index writes data before meta (a crash between
    the two reads as a loud malformed-meta refusal) — but without
    cleanup, every RETRY to the same release path refuses with
    'already exists' (ADVICE r14). A failed meta write now removes
    the half-written window_hashes dir AND any partially-created
    meta dir (a meta job dying after its committer creates the
    output dir — review r15: cleaning only the data dir left the
    retry's mode-'error' meta write refusing forever), re-raises the
    original failure, and a retry to the SAME path succeeds and
    round-trips."""
    import os

    import pytest

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import artifacts, dedup as dd

    docs = load_table(spark, sf_smoke, "documents").limit(20)
    idx = dd.corpus_window_hashes(docs, k=8)
    path = str(tmp_path / "release")

    def boom(spark_, path_, *a, **kw):
        # die AFTER the committer created the meta output dir — the
        # realistic mid-job failure (disk-full, task death)
        os.makedirs(f"{path_}/meta", exist_ok=True)
        raise RuntimeError("meta write died")

    orig = artifacts._write_meta
    artifacts._write_meta = boom
    try:
        with pytest.raises(RuntimeError, match="meta write died"):
            dd.publish_window_index(idx, path, built_k=8)
    finally:
        artifacts._write_meta = orig
    assert not os.path.exists(f"{path}/window_hashes")
    assert not os.path.exists(f"{path}/meta")
    # retry to the SAME path now succeeds (write-once contract holds
    # per successful release, not per failed attempt)
    dd.publish_window_index(idx, path, built_k=8)
    loaded, built_k = dd.read_window_index(spark, path)
    assert built_k == 8
    assert loaded.count() == idx.count()


def test_read_window_index_refuses_absent_meta(spark, tmp_path):
    """A publish whose meta write AND cleanup both failed leaves the
    data dir with no meta dir at all; the reader must refuse with the
    family's ValueError, not Spark's path-not-found AnalysisException."""
    import shutil

    import pytest

    from stock_market_etl_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "over the lazy dog")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "release")
    dd.publish_window_index(dd.corpus_window_hashes(docs, k=4), path, 4)
    shutil.rmtree(tmp_path / "release" / "meta")
    with pytest.raises(ValueError, match="missing or malformed"):
        dd.read_window_index(spark, path)
    # a meta job that died after creating its output dir leaves an
    # empty dir (no data file, no schema to infer): malformed, not
    # absent — also where an absent meta is tolerated
    from stock_market_etl_spark.operators import artifacts

    (tmp_path / "release" / "meta" / "_temporary").mkdir(parents=True)
    with pytest.raises(ValueError, match="missing or malformed"):
        dd.read_window_index(spark, path)
    with pytest.raises(ValueError, match="missing or malformed"):
        artifacts.read_required_meta(
            spark, path, ("k",), "window index", "write_window_index",
            required=False,
        )


def test_bloom_index_release_lifecycle(spark, sf_smoke, tmp_path):
    """b29's evidence chain (rows-only, the x88 stance — the proof
    is identity): write/read of a `build_window_bloom` tuple is
    TUPLE-identical; folding release 2 into the read-back artifact
    equals a filter built over the union at the same geometry
    BIT-FOR-BIT (OR is idempotent, bit positions are pure functions
    of (hash, m, j)); probing through the published merged artifact
    equals probing the rebuilt-at-geometry filter; the over-growth
    warning fires; and every width/geometry/corruption seam refuses
    loudly."""
    import warnings as _warnings

    import pytest

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import dedup as dd

    docs = load_table(spark, sf_smoke, "documents")
    train = docs.filter(F.col("doc_id") % 10 < 8)
    r1 = docs.filter(F.col("doc_id") % 10 == 8)
    r2 = docs.filter(F.col("doc_id") % 10 == 9)

    bloom1 = dd.build_window_bloom(r1, k=8)
    p1 = str(tmp_path / "bloom_r1")
    dd.write_bloom_index(bloom1, spark, p1)
    loaded = dd.read_bloom_index(spark, p1, k=8)
    assert loaded == bloom1

    # merge warns when the filter outgrows its sizing (r2 ≈ r1 in
    # window count → predicted FPR far above the 1% build target)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        merged = dd.merge_window_bloom(loaded, r2, built_k=loaded[4])
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "outgrown" in str(w.message)
        for w in caught
    )
    # merged ≡ rebuilt at the same geometry, bit-for-bit
    union_hashes = (
        dd._window_hash_stream(
            r1.unionByName(r2), 8, "text", "doc_id"
        )
        .select("__h")
        .distinct()
    )
    rebuilt_bits = dd._bloom_bitmap_at(union_hashes, merged[1], merged[2])
    assert merged[0] == rebuilt_bits

    # probe through the re-published artifact ≡ probe in memory
    # (write-once publish — the path a running gate never re-reads)
    p2 = str(tmp_path / "bloom_r2")
    dd.publish_bloom_index(merged, spark, p2)
    bloom2 = dd.read_bloom_index(spark, p2)

    def rows(bloom):
        return sorted(
            map(
                tuple,
                dd.bloom_contaminated_spans(
                    bloom, train, k=bloom[4]
                ).collect(),
            )
        )

    got = rows(bloom2)
    assert got == rows(merged) and got

    # refusals: wrong probe k on read, wrong built_k / k on merge,
    # malformed meta, truncated bitmap
    with pytest.raises(ValueError, match="k=8"):
        dd.read_bloom_index(spark, p1, k=4)
    with pytest.raises(ValueError, match="recorded width"):
        dd.merge_window_bloom(loaded, r2, built_k=4)
    with pytest.raises(ValueError, match="k=8"):
        dd.merge_window_bloom(loaded, r2, built_k=8, k=4)
    spark.createDataFrame(
        [], "m bigint, j int, n bigint, k int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{p1}/meta")
    with pytest.raises(ValueError, match="incomplete or corrupt"):
        dd.read_bloom_index(spark, p1)
    # rebuild meta but truncate the bitmap: length-vs-m refusal
    dd.write_bloom_index(bloom1, spark, p1)
    spark.createDataFrame(
        [(0, b"\x00" * 8)], "chunk_id int, bytes binary"
    ).coalesce(1).write.mode("overwrite").parquet(f"{p1}/bitmap")
    with pytest.raises(ValueError, match="truncated"):
        dd.read_bloom_index(spark, p1)

    # empty-increment merge is a no-op; empty-floor base rebuilds
    empty = docs.filter(F.lit(False))
    assert dd.merge_window_bloom(bloom1, empty, built_k=8) == bloom1
    floor = dd.build_window_bloom(empty, k=8)
    assert floor[1] == 64 and floor[3] == 0
    grown = dd.merge_window_bloom(floor, r1, built_k=8)
    assert grown[3] > 0 and grown[1] > 64
    # the floor rebuild honors a caller's stricter FPR target
    # (review r15 — a hardcoded 1% silently discarded it)
    strict = dd.merge_window_bloom(floor, r1, built_k=8, fpp=0.001)
    assert strict[1] > grown[1]
    dd.release_bloom_broadcasts()


def test_overwrite_rebuild_crash_reads_as_malformed(
    spark, sf_smoke, tmp_path
):
    """The in-place-rebuild crash window (review r15): data-before-
    meta only yields a loud refusal when the crash leaves meta
    ABSENT — a mode-'overwrite' rebuild dying between the data and
    meta writes leaves the NEW data under the STALE meta, silently
    accepted whenever the recorded identity fits (a k=8 meta over a
    k=4 rebuild probes pure noise). Every overwrite seam now EMPTIES
    the sidecar first (`artifacts.invalidate_meta`), so both crash
    windows — during the data write and between data and meta —
    read as the malformed-meta refusal, and a completed retry
    restores the artifact. The score histogram takes the same path:
    a bins=5 rebuild dying before its meta write must not leave the
    stale bins=10 meta over a 5-bin histogram."""
    import pytest

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import artifacts, dedup as dd
    from stock_market_etl_spark.operators.importance import (
        read_score_histogram,
        write_score_histogram,
    )

    ref = load_table(spark, sf_smoke, "documents").limit(20)

    # bloom seam: die DURING the bitmap overwrite
    bloom = dd.build_window_bloom(ref, k=8)
    p = str(tmp_path / "bloom")
    dd.write_bloom_index(bloom, spark, p)

    def boom(*a, **kw):
        raise RuntimeError("bitmap write died")

    orig = artifacts._write_parts
    artifacts._write_parts = boom
    try:
        with pytest.raises(RuntimeError, match="bitmap write died"):
            dd.write_bloom_index(bloom, spark, p)
    finally:
        artifacts._write_parts = orig
    with pytest.raises(ValueError, match="incomplete or corrupt"):
        dd.read_bloom_index(spark, p)
    dd.write_bloom_index(bloom, spark, p)
    assert dd.read_bloom_index(spark, p) == bloom

    # window-index seam: rebuild at a DIFFERENT k dies between data
    # and meta — the stale k=8 meta would have silently no-matched
    # the k=4 hashes
    idx_path = str(tmp_path / "widx")
    dd.write_window_index(ref, idx_path, k=8)

    def boom_meta(*a, **kw):
        raise RuntimeError("meta write died")

    orig_meta = artifacts._write_meta
    artifacts._write_meta = boom_meta
    try:
        with pytest.raises(RuntimeError, match="meta write died"):
            dd.write_window_index(ref, idx_path, k=4)
    finally:
        artifacts._write_meta = orig_meta
    with pytest.raises(ValueError, match="incomplete or corrupt"):
        dd.read_window_index(spark, idx_path)
    dd.write_window_index(ref, idx_path, k=4)
    _, got_k = dd.read_window_index(spark, idx_path)
    assert got_k == 4
    dd.release_bloom_broadcasts()

    # score-histogram seam: a bins=5 rebuild dies between the data and
    # meta writes; the stale bins=10 meta would have been accepted
    scored = ref.select(
        "source", (F.col("doc_id") % 7 / 7.0).alias("__q")
    )
    hist_path = str(tmp_path / "hist")
    write_score_histogram(scored, hist_path, "__q", "source", bins=10)
    artifacts._write_meta = boom_meta
    try:
        with pytest.raises(RuntimeError, match="meta write died"):
            write_score_histogram(
                scored, hist_path, "__q", "source", bins=5
            )
    finally:
        artifacts._write_meta = orig_meta
    with pytest.raises(ValueError, match="incomplete or corrupt"):
        read_score_histogram(spark, hist_path, bins=10)


def test_multi_dir_rebuild_crash_reads_as_malformed(
    spark, sf_smoke, tmp_path
):
    """The multi-dir artifacts (corpus signatures, IVF cells ×
    centroids, PQ codes × codebooks) had NO meta sidecar at all
    (review r15's residual): a rebuild dying between two data dirs
    left mixed-release halves that look complete — band joins under
    a different hash family silently find no candidates, probes
    prune the wrong cells. Each writer now empties an identity meta
    sidecar first and restores it LAST, so the crash state refuses
    loudly; and the signatures' recorded (num_hashes, seed,
    rows_per_band) is validated by `incremental_dedup` against the
    batch-side parameters (a mismatch silently under-dedups). IVF
    alone tolerates an ABSENT meta — the streaming-maintained n10
    layout (`ivf_append_sink` bootstraps cells against a hand-laid
    centroid table; no rebuild, no crash window)."""
    import pytest

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import (
        artifacts,
        dedup as dd,
        similarity as sim,
    )

    docs = load_table(spark, sf_smoke, "documents").limit(40)

    # corpus signatures: roundtrip + crash state + param mismatch
    sig_path = str(tmp_path / "sigs")
    dd.write_corpus_signatures(docs, sig_path)
    sigs = dd.read_corpus_signatures(spark, sig_path)
    assert sigs[3] == (32, 42, 2)
    with pytest.raises(ValueError, match="hash families"):
        dd.incremental_dedup(
            None, docs, source="lsh", corpus_sigs=sigs, seed=7
        )
    # source='exact' uses only the family-independent content hashes
    # — the recorded MinHash family must NOT refuse there (review
    # r15, pass 5)
    dd.incremental_dedup(
        docs, docs.limit(5), source="exact", corpus_sigs=sigs, seed=7
    ).count()
    artifacts.invalidate_meta(
        spark, sig_path, "num_hashes int, seed int, rows_per_band int"
    )
    with pytest.raises(ValueError, match="missing or malformed"):
        dd.read_corpus_signatures(spark, sig_path)
    dd.write_corpus_signatures(docs, sig_path)
    dd.read_corpus_signatures(spark, sig_path)

    # IVF: meta written by the build, crash state refuses, ABSENT
    # meta (the sink-bootstrapped layout) tolerated
    emb = load_table(spark, sf_smoke, "embeddings").limit(64)
    assigned, centers = sim.ivf_index(emb, n_lists=4)
    ivf_path = str(tmp_path / "ivf")
    # a degenerate centroid table refuses BEFORE anything is touched
    with pytest.raises(ValueError, match="no centroids"):
        sim.write_ivf_index(
            assigned, centers.limit(0), str(tmp_path / "ivf_empty")
        )
    import os

    assert not os.path.exists(str(tmp_path / "ivf_empty"))
    sim.write_ivf_index(assigned, centers, ivf_path)
    sim.read_ivf_index(spark, ivf_path)
    artifacts.invalidate_meta(spark, ivf_path, "n_lists int, dim int")
    with pytest.raises(ValueError, match="malformed meta"):
        sim.read_ivf_index(spark, ivf_path)
    import shutil

    shutil.rmtree(f"{ivf_path}/meta")
    a2, c2 = sim.read_ivf_index(spark, ivf_path)
    assert a2.count() > 0 and c2.count() == 4

    # PQ: meta required (no sink-bootstrapped layout exists)
    codes, books = sim.pq_index(emb)
    pq_path = str(tmp_path / "pq")
    sim.write_pq_index(codes, books, pq_path)
    _, books_back = sim.read_pq_index(spark, pq_path)
    assert books_back.shape == books.shape
    artifacts.invalidate_meta(
        spark, pq_path, "m int, n_centroids int, dsub int"
    )
    with pytest.raises(ValueError, match="missing or malformed"):
        sim.read_pq_index(spark, pq_path)


def test_publish_bloom_index_write_once_and_crash_recovery(
    spark, sf_smoke, tmp_path
):
    """`publish_bloom_index`'s release contract (the
    publish_window_index conventions at bitmap grain): (1) publish →
    read round-trips tuple-identical; (2) a re-publish to the SAME
    path refuses at the bitmap write and leaves the existing release
    intact (write-once); (3) a meta write that dies AFTER its
    committer created the output dir cleans BOTH half-written dirs
    so a retry to the same path succeeds (the ADVICE-r14 /
    review-r15 recovery); (4) an incoherent tuple (bitmap length vs
    recorded m) refuses BEFORE any write."""
    import os

    import pytest

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import artifacts, dedup as dd

    ref = load_table(spark, sf_smoke, "documents").limit(20)
    bloom = dd.build_window_bloom(ref, k=8)

    # (1) roundtrip
    path = str(tmp_path / "release")
    dd.publish_bloom_index(bloom, spark, path)
    assert dd.read_bloom_index(spark, path, k=8) == bloom

    # (2) write-once: re-publish refuses, release survives
    with pytest.raises(Exception, match="already exists"):
        dd.publish_bloom_index(bloom, spark, path)
    assert dd.read_bloom_index(spark, path) == bloom

    # (3) meta crash cleans both dirs; retry succeeds
    path2 = str(tmp_path / "release2")

    def boom(spark_, path_, *a, **kw):
        # die AFTER the committer created the meta output dir — the
        # realistic mid-job failure (disk-full, task death)
        os.makedirs(f"{path_}/meta", exist_ok=True)
        raise RuntimeError("meta write died")

    orig = artifacts._write_meta
    artifacts._write_meta = boom
    try:
        with pytest.raises(RuntimeError, match="meta write died"):
            dd.publish_bloom_index(bloom, spark, path2)
    finally:
        artifacts._write_meta = orig
    assert not os.path.exists(f"{path2}/bitmap")
    assert not os.path.exists(f"{path2}/meta")
    dd.publish_bloom_index(bloom, spark, path2)
    assert dd.read_bloom_index(spark, path2) == bloom

    # (4) incoherent tuple refuses before any write
    path3 = str(tmp_path / "release3")
    bad = (bloom[0][:-1], bloom[1], bloom[2], bloom[3], bloom[4])
    with pytest.raises(ValueError, match="malformed bloom tuple"):
        dd.publish_bloom_index(bad, spark, path3)
    assert not os.path.exists(path3)


def test_embedding_index_release_lifecycle(spark, sf_smoke, tmp_path):
    """b27's engine seams (VERDICT r14 task 4 — the embedding sibling
    of b25/b26): write release 1 → read back → merge release 2 at
    increment cost → publish write-once → probe the published
    artifact; the probe equals the inline x85 derivation over the
    union eval set BIT-FOR-BIT (merged ≡ rebuilt), and every
    width/provenance/corruption seam refuses loudly."""
    import os

    import pytest

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import similarity as sim

    emb = load_table(spark, sf_smoke, "embeddings")
    train = emb.filter(F.col("vec_id") % 5 != 0)
    r1 = emb.filter(F.col("vec_id") % 10 == 0)
    r2 = emb.filter(F.col("vec_id") % 10 == 5)
    p1 = str(tmp_path / "emb_r1")
    p2 = str(tmp_path / "emb_r2")

    sim.write_embedding_index(r1, p1, dim=64)
    idx1, built_dim = sim.read_embedding_index(spark, p1)
    assert built_dim == 64

    # single-release probe ≡ inline derivation over train ∪ r1
    def rows(df):
        return sorted(map(tuple, df.collect()))

    single = rows(
        sim.embedding_contamination_incremental(
            idx1, train, threshold=0.4, built_dim=built_dim
        )
    )
    inline1 = rows(
        sim.embedding_contamination(
            train.unionByName(r1),
            F.col("vec_id") % 10 == 0,
            threshold=0.4,
        )
    )
    assert single == inline1 and single

    # merge → publish → probe ≡ inline over the UNION eval set (x85)
    merged = sim.merge_embedding_index(idx1, r2, built_dim, dim=64)
    sim.publish_embedding_index(merged, p2, built_dim)
    idx2, dim2 = sim.read_embedding_index(spark, p2)
    via_releases = rows(
        sim.embedding_contamination_incremental(
            idx2, train, threshold=0.4, built_dim=dim2
        )
    )
    rebuilt = rows(
        sim.embedding_contamination(
            emb, F.col("vec_id") % 5 == 0, threshold=0.4
        )
    )
    assert via_releases == rebuilt and via_releases

    # merged artifact rows ≡ a from-scratch build of r1 ∪ r2
    p_scratch = str(tmp_path / "emb_scratch")
    sim.write_embedding_index(r1.unionByName(r2), p_scratch, dim=64)
    scratch_idx, _ = sim.read_embedding_index(spark, p_scratch)
    assert rows(idx2) == rows(scratch_idx)

    # width seams: read at the wrong dim, merge at the wrong dim,
    # probe without built_dim, publish with contradicting provenance
    with pytest.raises(ValueError, match="dim=64"):
        sim.read_embedding_index(spark, p2, dim=32)
    with pytest.raises(ValueError, match="dim=64"):
        sim.merge_embedding_index(idx1, r2, built_dim, dim=32)
    with pytest.raises(ValueError, match="built_dim"):
        sim.embedding_contamination_incremental(idx2, train)
    tagged = sim.merge_embedding_index(idx1, r2, built_dim, dim=64)
    with pytest.raises(ValueError, match="dim=64"):
        sim.publish_embedding_index(
            tagged, str(tmp_path / "emb_bad"), built_dim=32
        )
    # in-plan width enforcement: claiming the wrong dim fails the
    # executing task loudly (raise_error), never null-cosine silence
    with pytest.raises(Exception, match="expects 32-dimensional"):
        sim.write_embedding_index(
            r1, str(tmp_path / "emb_wrong"), dim=32
        )

    # write-once: re-publishing to an existing release path refuses
    with pytest.raises(Exception, match="already exists|ALREADY_EXISTS"):
        sim.publish_embedding_index(merged, p2, built_dim)

    # malformed meta (crashed write): loud descriptive refusal
    spark.createDataFrame([], "dim int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{p1}/meta")
    with pytest.raises(ValueError, match="incomplete or corrupt"):
        sim.read_embedding_index(spark, p1)


def test_embedding_ann_release_lifecycle(spark, sf_smoke, tmp_path):
    """b28's evidence chain (the x86 stance — rows-only, so the
    proof is identity): probing the published two-release VECTOR +
    BUCKET artifacts through the ANN tier equals the inline
    `embedding_contamination_ann` over the union BIT-FOR-BIT at the
    same parameters (which itself carries the seam ≡ x85 + recall +
    agreement evidence); the bucket merge equals a from-scratch
    bucket build of the union; and every params/corruption seam
    refuses loudly."""
    import pytest

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import similarity as sim

    emb = load_table(spark, sf_smoke, "embeddings")
    train = emb.filter(F.col("vec_id") % 5 != 0)
    r1 = emb.filter(F.col("vec_id") % 10 == 0)
    r2 = emb.filter(F.col("vec_id") % 10 == 5)

    v1 = str(tmp_path / "vec_r1")
    sim.write_embedding_index(r1, v1, dim=64)
    idx1, built_dim = sim.read_embedding_index(spark, v1)
    b1 = str(tmp_path / "bkt_r1")
    sim.write_lsh_buckets(
        idx1, b1, built_dim, n_planes=4, n_tables=16, seed=7
    )
    bk1, params = sim.read_lsh_buckets(spark, b1)
    assert params == (64, 4, 16, 7)

    merged_v = sim.merge_embedding_index(idx1, r2, built_dim)
    v2 = str(tmp_path / "vec_r2")
    sim.publish_embedding_index(merged_v, v2, built_dim)
    idx2, dim2 = sim.read_embedding_index(spark, v2)
    r2_vecs = sim._checked_unit_vectors(r2, dim2)
    merged_b = sim.merge_lsh_buckets(bk1, r2_vecs, params)
    b2 = str(tmp_path / "bkt_r2")
    sim.publish_lsh_buckets(merged_b, b2, params)
    bk2, params2 = sim.read_lsh_buckets(spark, b2)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    got = rows(
        sim.embedding_contamination_ann_incremental(
            idx2, bk2, train, params2, threshold=0.4
        )
    )
    inline = rows(
        sim.embedding_contamination_ann(
            emb,
            F.col("vec_id") % 5 == 0,
            dim=64,
            threshold=0.4,
            n_planes=4,
            n_tables=16,
            seed=7,
        )
    )
    assert got == inline and got

    # merged bucket artifact ≡ a from-scratch build of r1 ∪ r2
    v_scratch = str(tmp_path / "vec_scratch")
    sim.write_embedding_index(r1.unionByName(r2), v_scratch, dim=64)
    idx_s, _ = sim.read_embedding_index(spark, v_scratch)
    b_scratch = str(tmp_path / "bkt_scratch")
    sim.write_lsh_buckets(
        idx_s, b_scratch, 64, n_planes=4, n_tables=16, seed=7
    )
    bk_s, _ = sim.read_lsh_buckets(spark, b_scratch)
    assert rows(bk2) == rows(bk_s)

    # provenance contradiction at publish refuses loudly
    tagged = sim.merge_lsh_buckets(bk1, r2_vecs, params)
    with pytest.raises(ValueError, match="LSH params"):
        sim.publish_lsh_buckets(
            tagged, str(tmp_path / "bkt_bad"), (64, 8, 16, 7)
        )
    # write-once: re-publishing to an existing release path refuses
    with pytest.raises(Exception, match="already exists|ALREADY_EXISTS"):
        sim.publish_lsh_buckets(merged_b, b2, params)
    # malformed meta (crashed write): loud descriptive refusal
    spark.createDataFrame(
        [], "dim int, n_planes int, n_tables int, seed int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{b1}/meta")
    with pytest.raises(ValueError, match="incomplete or corrupt"):
        sim.read_lsh_buckets(spark, b1)


def test_publish_lsh_buckets_meta_failure_cleans_data(
    spark, sf_smoke, tmp_path
):
    """The bucket-artifact publish seam inherits the recovery
    contract (ADVICE r14 + review r15): a failed meta write removes
    the half-written buckets dir AND the partial meta dir, re-raises,
    and a retry to the SAME release path succeeds."""
    import os

    import pytest

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import artifacts, similarity as sim

    emb = load_table(spark, sf_smoke, "embeddings").limit(20)
    idx = sim._checked_unit_vectors(emb, 64)
    bk = sim.merge_lsh_buckets(
        idx.select("vec_id", "__v").limit(0).selectExpr(
            "vec_id", "cast(null as int) lsh_table",
            "cast(null as int) lsh_bucket"
        ),
        idx,
        (64, 4, 16, 42),
    )
    path = str(tmp_path / "bkt_release")

    def boom(spark_, path_, *a, **kw):
        os.makedirs(f"{path_}/meta", exist_ok=True)
        raise RuntimeError("meta write died")

    orig = artifacts._write_meta
    artifacts._write_meta = boom
    try:
        with pytest.raises(RuntimeError, match="meta write died"):
            sim.publish_lsh_buckets(bk, path, (64, 4, 16, 42))
    finally:
        artifacts._write_meta = orig
    assert not os.path.exists(f"{path}/buckets")
    assert not os.path.exists(f"{path}/meta")
    sim.publish_lsh_buckets(bk, path, (64, 4, 16, 42))
    loaded, params = sim.read_lsh_buckets(spark, path)
    assert params == (64, 4, 16, 42)
    assert loaded.count() == bk.count()


def test_publish_embedding_index_meta_failure_cleans_data(
    spark, sf_smoke, tmp_path
):
    """The b27 publish seam inherits the window-index recovery
    contract (ADVICE r14 + review r15): a failed meta write removes
    the half-written vectors dir AND the partially-created meta dir
    best-effort, re-raises, and a retry to the SAME release path
    succeeds."""
    import os

    import pytest

    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators import artifacts, similarity as sim

    emb = load_table(spark, sf_smoke, "embeddings").limit(20)
    idx = sim._checked_unit_vectors(emb, 64)
    path = str(tmp_path / "emb_release")

    def boom(spark_, path_, *a, **kw):
        os.makedirs(f"{path_}/meta", exist_ok=True)
        raise RuntimeError("meta write died")

    orig = artifacts._write_meta
    artifacts._write_meta = boom
    try:
        with pytest.raises(RuntimeError, match="meta write died"):
            sim.publish_embedding_index(idx, path, built_dim=64)
    finally:
        artifacts._write_meta = orig
    assert not os.path.exists(f"{path}/vectors")
    assert not os.path.exists(f"{path}/meta")
    sim.publish_embedding_index(idx, path, built_dim=64)
    loaded, dim = sim.read_embedding_index(spark, path)
    assert dim == 64 and loaded.count() == idx.count()
