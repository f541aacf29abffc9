"""Training-data pipeline ops: dedup, text analysis, similarity,
multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from imcs_spark.pipeline import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog today"),  # near dup
        (3, "completely different content about spark engines and columns"),
        (4, "el gato y el perro en la casa de la abuela"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {0, 2, 3, 4}


def test_minhash_candidates_and_jaccard(docs):
    sigs = dedup.minhash_signatures(docs, num_hashes=16, shingle_n=2)
    assert sigs.count() == 5
    cands = dedup.minhash_lsh_candidates(sigs, num_hashes=16, bands=8)
    pairs = {(r["left_id"], r["right_id"]) for r in cands.collect()}
    assert (0, 1) in pairs  # exact dups always collide
    jac = dedup.jaccard_pairs(docs, cands, shingle_n=2)
    jmap = {(r["left_id"], r["right_id"]): r["jaccard"] for r in jac.collect()}
    assert jmap[(0, 1)] == pytest.approx(1.0)


def test_minhash_dedup(docs):
    out = dedup.minhash_dedup(docs, num_hashes=16, bands=8, shingle_n=2, jaccard_threshold=0.99)
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 not in ids and 0 in ids and 3 in ids


def test_simhash_near_pairs(docs):
    sig = dedup.simhash(docs)
    m = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert m[0] == m[1]  # identical docs, identical signature
    pairs = dedup.simhash_near_pairs(docs, max_hamming=3)
    got = {(r["left_id"], r["right_id"]) for r in pairs.collect()}
    assert (0, 1) in got


def test_simhash_banding_recall_equals_bruteforce(spark):
    """The pigeonhole banding (blocks = max_hamming+1) must find EVERY
    pair within the Hamming budget — including pairs whose differing
    bits land in 4+ distinct 16-bit quarters, which the old fixed
    blocks=4 banding silently dropped at max_hamming > 3."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    ).split()
    import random

    rng = random.Random(5)
    rows = [(0, " ".join(base))]
    for i in range(1, 40):
        words = list(base)
        for _ in range(rng.randint(1, 6)):
            words[rng.randrange(len(words))] = rng.choice(
                ["red", "blue", "green", "cyan", "teal", "plum"]
            )
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    truth = set()
    ids = sorted(sigs)
    for i in ids:
        for j in ids:
            if i < j and bin((sigs[i] ^ sigs[j]) & ((1 << 64) - 1)).count("1") <= 10:
                truth.add((i, j))
    got = {
        (r["left_id"], r["right_id"])
        for r in dedup.simhash_near_pairs(df, max_hamming=10).collect()
    }
    # at least one hard pair (Hamming in 4..10) must exist for the test
    # to mean anything
    hard = [
        (i, j)
        for (i, j) in truth
        if 4 <= bin((sigs[i] ^ sigs[j]) & ((1 << 64) - 1)).count("1") <= 10
    ]
    assert hard, "fixture produced no Hamming-4..10 pairs"
    assert got == truth
    with pytest.raises(ValueError):
        dedup.simhash_near_pairs(df, max_hamming=10, blocks=4)


def test_embedding_near_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.embedding_near_dups(df, threshold=0.95)
    pairs = {(r["left_id"], r["right_id"]) for r in out.collect()}
    assert pairs == {(0, 1)}


def test_lang_id(docs):
    out = docs.withColumn("pred", text.lang_id("text")).collect()
    m = {r["doc_id"]: r["pred"] for r in out}
    assert m[0] == "en" and m[4] == "es"


def test_token_count_and_quality(docs):
    out = docs.withColumn("tc", text.token_count("text")).collect()
    assert {r["doc_id"]: r["tc"] for r in out}[0] == 9
    q = text.quality_score(docs).collect()
    for r in q:
        assert 0.0 <= r["quality"] <= 1.0


def test_fingerprint_deterministic(docs):
    a = docs.withColumn("fp", text.fingerprint("text")).collect()
    b = docs.withColumn("fp", text.fingerprint("text")).collect()
    assert {r["doc_id"]: r["fp"] for r in a} == {r["doc_id"]: r["fp"] for r in b}
    m = {r["doc_id"]: r["fp"] for r in a}
    assert m[0] == m[1]


def test_brute_force_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(emb, queries, k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        best = sorted(rs, key=lambda r: r["rank"])[0]
        assert best["vec_id"] == qid  # self is the top hit
        assert best["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_lsh_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(emb, queries, k=3)
    approx = similarity.lsh_topk(emb, queries, k=3, n_planes=6, multi_probe=3)
    # self-hit must survive LSH (identical vector → identical bucket)
    self_hits = approx.filter(F.col("query_id") == F.col("vec_id")).count()
    assert self_hits == 3
    assert approx.count() >= 3


def test_multimodal_features(spark):
    docs = spark.createDataFrame(
        [(i, "x" * (32 + (i % 5) * 16)) for i in range(30)], "doc_id long, text string"
    )
    media = multimodal.media_from_documents(docs)
    out = multimodal.extract_features(media)
    rows = out.collect()
    assert len(rows) == 30
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in rows)
    again = {r["media_id"]: r["features"] for r in multimodal.extract_features(media).collect()}
    first = {r["media_id"]: r["features"] for r in rows}
    assert again == first  # deterministic

    frames = multimodal.sample_frames(media, every_ms=1000)
    vid = frames.filter(F.col("media_id") == 2).collect()
    assert [r["frame_ts_ms"] for r in vid] == [0, 1000, 2000]


def test_real_decoder_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.real_decode(b"x", "image/png")


def test_ivf_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivf_topk(emb, queries, k=3, n_centroids=8, n_probe=3)
    rows = out.collect()
    assert len(rows) == 9
    self_hits = [r for r in rows if r["query_id"] == r["vec_id"]]
    assert len(self_hits) == 3  # own cell is always probed
    for r in self_hits:
        assert r["rank"] == 1


def test_real_decode_pnm_and_wav():
    import numpy as np

    # gradient image: decode must restore exact pixels
    px = np.arange(48 * 64 * 3, dtype=np.uint8).reshape(48, 64, 3)
    assert (multimodal.decode_pnm(multimodal.encode_ppm(px)) == px).all()
    feats = multimodal.image_features(px)
    assert len(feats) == multimodal.FEATURE_DIM
    assert feats[0] == 48 and feats[1] == 64 and feats[2] == 3

    # pure tone: decoded samples round-trip, RMS ~ A/sqrt(2), and the
    # FFT band holding 1 kHz dominates
    t = np.arange(4000) / 8000.0
    x = 0.5 * np.sin(2 * np.pi * 1000 * t)
    y, sr = multimodal.decode_wav(multimodal.encode_wav(x, 8000))
    assert sr == 8000 and len(y) == 4000
    assert np.abs(y - x).max() < 1e-3
    af = multimodal.audio_features(y, sr)
    assert len(af) == multimodal.FEATURE_DIM
    assert abs(af[4] - 0.5 / np.sqrt(2)) < 1e-3  # rms
    bands = af[8:]
    assert bands.tolist().index(max(bands)) == 2  # 1 kHz in band [1k,1.5k)


def _decodable_media(spark, n):
    """Media table whose every row carries real decodable content:
    image rows binary PPM gradients, audio rows PCM WAV sine tones,
    video rows mp4 containers with deterministic sample payloads."""
    import numpy as np

    from imcs_spark.pipeline.mp4 import encode_mp4

    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            px = np.add.outer(
                np.arange(48, dtype=np.uint16) * 2, np.arange(64, dtype=np.uint16)
            ) % 256
            pixels = np.stack([px, (px + i) % 256, (px * 2 + i) % 256], axis=2)
            content = multimodal.encode_ppm(pixels.astype(np.uint8))
            mime = "image/x-portable-pixmap"
        elif kind == "audio":
            t = np.arange(2400) / 8000.0
            content = multimodal.encode_wav(0.5 * np.sin(2 * np.pi * (200 + 50 * i) * t))
            mime = "audio/x-wav"
        else:
            payloads = [
                bytes(((i + s + j) % 256) for j in range((i + s) % 40 + 10))
                for s in range(i % 6 + 2)
            ]
            content = encode_mp4(payloads, chunk_split=1 if len(payloads) > 2 else None)
            mime = "video/mp4"
        rows.append(
            (
                i, kind, content, mime,
                64 if kind == "image" else None,
                48 if kind == "image" else None,
                3000 if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_extract_features_real_decoder(spark):
    """All three modalities decode for real through the distributed
    Arrow path: PPM pixels, WAV samples, and mp4 containers (box tree
    + sample tables resolved to payload-byte stats)."""
    media = _decodable_media(spark, 30)
    rows = multimodal.extract_features(media, use_real_decoder=True).collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r["features"]) == multimodal.FEATURE_DIM
        if r["kind"] == "image":
            # 3x3 grid means of a mod-256 gradient stay within pixel range
            assert r["features"][0] == 48.0 and r["features"][1] == 64.0
        elif r["kind"] == "audio":
            assert r["features"][1] == 8000.0  # sample rate
        else:
            i = r["media_id"]
            assert r["features"][0] == i % 6 + 2  # n_samples by construction
            assert r["features"][15] == 1.0  # offsets resolve in-bounds


def test_jpeg_progressive_matches_baseline():
    """Progressive (SOF2) streams must decode pixel-IDENTICAL to the
    baseline encode of the same image (same quantized coefficients,
    two different entropy codings), across gray/color, 4:2:0, odd
    dimensions, and qualities — exercising DC successive
    approximation, AC spectral selection, both refinement passes, ZRL
    and multi-bit EOB runs."""
    import numpy as np

    from imcs_spark.pipeline import jpeg

    rng = np.random.RandomState(3)
    for h, w, gray, sub, q in [
        (16, 24, False, False, 85),
        (48, 64, False, True, 75),
        (33, 41, True, False, 92),
        (8, 8, False, False, 50),
        (57, 23, False, True, 95),
        (21, 19, True, False, 70),
    ]:
        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        base = (
            128 + 60 * np.sin(xx / 5.0) + 50 * np.cos(yy / 4.0)
            + rng.randint(-20, 20, (h, w))
        ).clip(0, 255)
        img = (
            base.astype(np.uint8)
            if gray
            else np.stack(
                [base, (base * 0.8 + 30) % 256, (xx * 3 + yy * 2) % 256], axis=-1
            ).astype(np.uint8)
        )
        b_base = jpeg.encode_jpeg(img, quality=q, subsample=sub)
        b_prog = jpeg.encode_jpeg(img, quality=q, subsample=sub, progressive=True)
        d_base = jpeg.decode_jpeg(b_base)
        d_prog = jpeg.decode_jpeg(b_prog)
        assert np.array_equal(d_base, d_prog), (h, w, gray, sub, q)
    # a smooth image drives multi-bit EOB runs (measured up to 48
    # blocks) through EOBn encode AND decode — and stays identical
    yy, xx = np.meshgrid(np.arange(48), np.arange(64), indexing="ij")
    img = (128 + 40 * np.sin(xx / 9.0) + 30 * np.cos(yy / 7.0)).clip(0, 255).astype(np.uint8)
    assert np.array_equal(
        jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=60, progressive=True)),
        jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=60)),
    )
    import pytest

    with pytest.raises(ValueError, match="restart_interval"):
        jpeg.encode_jpeg(img, progressive=True, restart_interval=4)


def test_mp4_container_roundtrip():
    """encode_mp4 -> parse_mp4: sample tables (stsz/stsc/stco/stts)
    resolve to the exact payload byte ranges, across 1- and 2-chunk
    layouts; malformed streams raise descriptive errors."""
    import numpy as np
    import pytest

    from imcs_spark.pipeline import mp4

    payloads = [bytes((i * 3 + j) % 256 for j in range(10 + i * 7)) for i in range(5)]
    for split in (None, 2):
        b = mp4.encode_mp4(
            payloads, sample_delta=1001, timescale=30000,
            width=320, height=240, chunk_split=split,
        )
        info = mp4.parse_mp4(b)
        t = info["tracks"][0]
        assert info["brand"] == "isom" and info["duration_ms"] == 166
        assert t["handler"] == "vide" and t["codec"] == "rawv"
        assert (t["width"], t["height"]) == (320, 240)
        assert t["n_samples"] == 5 and t["n_chunks"] == (2 if split else 1)
        assert list(t["sizes"]) == [len(p) for p in payloads]
        for o, sz, p in zip(t["offsets"], t["sizes"], payloads):
            assert b[int(o) : int(o) + int(sz)] == p
        assert list(t["deltas"]) == [1001] * 5
        f = mp4.video_features(b)
        assert f[0] == 5 and f[2] == 320 and f[3] == 240 and f[15] == 1.0
        assert f[5] == sum(len(p) for p in payloads)
        allb = np.concatenate(
            [np.frombuffer(p, np.uint8) for p in payloads]
        ).astype(float)
        assert abs(f[13] - allb.mean()) < 1e-3
    with pytest.raises(ValueError, match="ftyp"):
        mp4.parse_mp4(b"\x00\x00\x00\x08free")
    with pytest.raises(ValueError, match="moov"):
        mp4.parse_mp4(b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00" + b"\x00\x00\x00\x08mdat"[:8])


def test_ccard_redact_no_substring_corruption(spark):
    """A LONGER digit run containing a valid card as a substring must
    stay untouched (it is its own rejected candidate); the standalone
    card still redacts. The old literal replace rewrote the inner
    span of the 17-digit run."""
    from imcs_spark.pipeline import curate

    df = spark.createDataFrame(
        [(1, "run 94111111111111111 and card 4111111111111111 end")],
        "doc_id long, text string",
    )
    red = df.select(curate.redact_pii("text").alias("r")).collect()[0]["r"]
    assert red == "run 94111111111111111 and card [CCARD] end"
    row = curate.pii_profile(df).collect()[0]
    assert row.n_ccard == 1


def test_approxdc_hll128_type_dispatch(spark):
    """Default hash dispatches by column type: integral -> murmur3
    (reference parity), fractional/string -> xxhash64 (the murmur long
    cast would collapse distinct halves / crash under ANSI); explicit
    murmur3 on a non-integral column raises."""
    import pytest
    from pyspark.sql import functions as F

    from imcs_spark.functions.aggregates import approxdc_hll128

    halves = spark.range(2000).select((F.col("id") / 2.0 + 0.5).alias("v"))
    est = approxdc_hll128(halves, "v").collect()[0]["approxdc"]
    assert abs(est - 2000) <= 0.25 * 2000  # not collapsed to ~1000
    strs = spark.range(500).select(F.concat(F.lit("k"), F.col("id")).alias("v"))
    est_s = approxdc_hll128(strs, "v").collect()[0]["approxdc"]
    assert abs(est_s - 500) <= 0.3 * 500
    with pytest.raises(TypeError, match="integral"):
        approxdc_hll128(halves, "v", hash="murmur3")


def test_mp4_video_features_prefer_vide_track():
    """A file muxed with its audio trak before the video trak must
    still report the VIDEO track's features (the old first-track rule
    silently emitted audio stats as video features)."""
    from imcs_spark.pipeline import mp4

    payloads = [b"0123456789" * 3, b"abcdefghij" * 2]
    vid = mp4.encode_mp4(payloads, width=320, height=240)
    aud = mp4.encode_mp4([b"a" * 7] * 4, width=0, height=0, handler=b"soun")
    # splice: ftyp + mdat from the VIDEO file (so its sample offsets
    # stay valid) + moov carrying the audio trak FIRST
    data_v, data_a = bytes(vid), bytes(aud)
    moov_v = mp4._find(data_v, 0, len(data_v), b"moov")
    moov_a = mp4._find(data_a, 0, len(data_a), b"moov")
    trak_v = mp4._find(data_v, *moov_v, b"trak")
    trak_a = mp4._find(data_a, *moov_a, b"trak")
    mvhd_v = mp4._find(data_v, *moov_v, b"mvhd")
    payload = (
        data_v[mvhd_v[0] - 8 : mvhd_v[1]]
        + data_a[trak_a[0] - 8 : trak_a[1]]
        + data_v[trak_v[0] - 8 : trak_v[1]]
    )
    spliced = data_v[: moov_v[0] - 8] + mp4._box(b"moov", payload)
    info = mp4.parse_mp4(spliced)
    assert [t["handler"] for t in info["tracks"]] == ["soun", "vide"]
    f = mp4.video_features(spliced)
    assert (f[2], f[3]) == (320, 240)  # vide geometry, not the soun track
    assert f[0] == 2 and f[15] == 1.0  # vide samples, offsets valid


def test_codec_allocation_guards():
    """Fuzz-derived guards: corrupted counts/dimensions must fail
    loudly BEFORE materializing — a flipped byte in mp4's stsz/stts
    counts or a JPEG SOF claiming 65535x65535 previously drove numpy
    into multi-gigabyte allocations (apparent hangs)."""
    import struct

    import pytest

    from imcs_spark.pipeline import jpeg, mp4

    blob = bytearray(mp4.encode_mp4([b"x" * 20] * 3))
    i = blob.find(b"stsz")
    # stsz: (ver/flags)(uniform)(count) — corrupt count to 2^31
    struct.pack_into(">I", blob, i + 4 + 4 + 4, 1 << 31)
    with pytest.raises(ValueError, match="declares"):
        mp4.parse_mp4(bytes(blob))
    blob = bytearray(mp4.encode_mp4([b"x" * 20] * 3))
    i = blob.find(b"stts")
    # stts first entry count -> huge
    struct.pack_into(">I", blob, i + 4 + 4 + 4, 1 << 30)
    with pytest.raises(ValueError, match="declares"):
        mp4.parse_mp4(bytes(blob))

    import numpy as np

    enc = bytearray(jpeg.encode_jpeg(np.zeros((8, 8), np.uint8), progressive=True))
    i = enc.find(b"\xff\xc2")
    # SOF2 payload: len(2) precision(1) h(2) w(2): claim 65535x65535
    struct.pack_into(">HH", enc, i + 5, 65535, 65535)
    with pytest.raises(ValueError, match="blocks"):
        jpeg.decode_jpeg(bytes(enc))

    png = bytearray(multimodal.encode_png(np.zeros((8, 8), np.uint8)))
    struct.pack_into(">II", png, 16, 60000, 60000)  # IHDR w/h
    with pytest.raises(ValueError, match="does not match"):
        multimodal.decode_png(bytes(png))


def test_real_decode_rejects_opaque_codecs():
    import pytest

    # garbage claiming to be mp4 fails the container parse loudly
    with pytest.raises(ValueError, match="ftyp"):
        multimodal.real_decode(b"\x00\x01\x02\x03", "video/mp4")
    # genuinely unsupported codecs still route to the stub
    with pytest.raises(NotImplementedError):
        multimodal.real_decode(b"\x00\x01\x02\x03", "video/webm")


def test_lsh_star_mode_and_bucket_cap(spark):
    """Mega-cluster scale controls: star mode pairs each bucket member
    with the bucket's min id only — O(c) edges whose connectivity over
    a near-dup clique equals the all-pairs graph's — and max_bucket
    drops oversized buckets entirely."""
    rows = [(i, "the quick brown fox jumps over the lazy dog wearing boots today") for i in range(6)]
    rows += [(10 + i, f"completely unrelated document number {i} with own words {i*7}") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(df, num_hashes=16)
    allp = dedup.minhash_lsh_candidates(sigs, num_hashes=16, bands=4)
    star = dedup.minhash_lsh_candidates(sigs, num_hashes=16, bands=4, pair_mode="star")
    a = {(r.left_id, r.right_id) for r in allp.collect()}
    s = {(r.left_id, r.right_id) for r in star.collect()}
    # the 6-doc identical clique: all-pairs emits C(6,2)=15 clique
    # edges; star emits exactly the 5 hub edges (0,1)..(0,5)
    assert {(l, r) for l, r in a if l < 6 and r < 6} == {
        (l, r) for l in range(6) for r in range(l + 1, 6)
    }
    assert {(l, r) for l, r in s if l < 6 and r < 6} == {(0, r) for r in range(1, 6)}
    assert s <= a  # star is a subset of the all-pairs graph
    # identical connectivity: components over both edge sets agree
    mk = lambda e: spark.createDataFrame(  # noqa: E731
        list(e) or [(0, 0)], "left_id long, right_id long"
    )
    ca = {r.node: r.comp for r in dedup.connected_components(mk(a)).collect()}
    cs = {r.node: r.comp for r in dedup.connected_components(mk(s)).collect()}
    assert ca == cs
    # cap: the clique's buckets hold 6 members; max_bucket=5 drops them
    capped = dedup.minhash_lsh_candidates(
        sigs, num_hashes=16, bands=4, max_bucket=5
    )
    assert {(r.left_id, r.right_id) for r in capped.collect() if r.left_id < 6 and r.right_id < 6} == set()


def test_fifth_review_batch_guards(spark):
    """Round-5 fifth review pass: NULL/NaN-keyed recurrence groups,
    null-safe histogram densify, NULL-text exact_dedup, exact long
    carries in cum_agg_global, candidate-pair orientation, NULL
    embeddings through the Arrow UDFs, empty-corpus IVF, token_count
    mode validation."""
    import pytest

    from imcs_spark.operators import grouping, windows
    from imcs_spark.pipeline import similarity, text

    # NaN keys are ONE group, not one group per row
    rows = [(None, i, float(i)) for i in range(6)] + [(1, i, float(i)) for i in range(4)]
    df = spark.createDataFrame(rows, "k int, pos long, val double")
    out = windows.ema(df, 3, partition_by=["k"])
    nullg = sorted(
        (r.pos, r.ema) for r in out.collect() if r.k is None
    )
    # a restarted-per-row recurrence would give ema == val everywhere;
    # one smoothed series differs from pos 1 on
    assert nullg[1][1] != 1.0 and nullg[2][1] != 2.0

    # histogram: NULL-keyed group keeps its real counts
    h = spark.createDataFrame(
        [(None, 1.0), (None, 1.5), ("a", 9.0)], "src string, val double"
    )
    got = {
        (r.src, r.pos): r["count"]
        for r in grouping.histogram(h, 0.0, 10.0, 5, "val", ["src"]).collect()
    }
    assert got[(None, 0)] == 2 and got[("a", 4)] == 1

    # NULL-text docs never dedup against each other
    d = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, "same")], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in dedup.exact_dedup(d).collect())
    assert kept == [1, 2, 3]

    # cum_agg_global: long min/max stay exact past 2^53 (a double
    # round-trip would collapse big and big+1), and sums stay exact
    # longs at magnitudes where doubles already lose integer precision
    big = 1 << 60
    g = spark.createDataFrame(
        [(i, big + i) for i in range(100)], "pos long, val long"
    )
    cm = windows.cum_agg_global(g, "min", num_partitions=8)
    got_min = {r.pos: r.cum_min for r in cm.collect()}
    assert got_min[99] == big and all(v == big for v in got_min.values())
    sm = (1 << 53) + 1  # not representable as double
    g2 = spark.createDataFrame(
        [(i, sm) for i in range(100)], "pos long, val long"
    )
    cs = windows.cum_agg_global(g2, "sum", num_partitions=8)
    got_sum = {r.pos: r.cum_sum for r in cs.collect()}
    assert got_sum[99] == 100 * sm and got_sum[0] == sm

    # reversed candidate pairs are normalized, not dropped
    docs = spark.createDataFrame(
        [(3, "alpha beta gamma delta"), (7, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame([(7, 3)], "left_id long, right_id long")
    jp = dedup.jaccard_pairs(docs, cand).collect()
    assert len(jp) == 1 and jp[0].jaccard == 1.0

    # NULL embedding rows: NULL bucket, not an np.stack crash
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "vec_id long, embedding array<double>"
    )
    f = similarity.unit_bucket_udf([[1.0, 0.0], [0.0, 1.0]])
    res = {r.vec_id: r.ub for r in emb.select("vec_id", f("embedding").alias("ub")).collect()}
    assert res[1]["b"] is not None and res[2]["b"] is None

    with pytest.raises(ValueError, match="empty corpus"):
        similarity.train_ivf_centroids(emb.filter(F.lit(False)), 4)
    with pytest.raises(ValueError, match="unknown mode"):
        text.token_count("text", mode="Whitespace")


def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 2)], "left_id long, right_id long"
    )
    expect = {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}
    # driver union-find fast path (default) and the distributed
    # iterative path (driver_cutoff=0) must agree exactly
    comp = {r["node"]: r["comp"] for r in dedup.connected_components(pairs).collect()}
    assert comp == expect
    dist = {
        r["node"]: r["comp"]
        for r in dedup.connected_components(pairs, driver_cutoff=0).collect()
    }
    assert dist == expect


def test_connected_components_paths_agree_random(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    pairs = spark.createDataFrame(edges, "left_id long, right_id long")
    fast = {r["node"]: r["comp"] for r in dedup.connected_components(pairs).collect()}
    dist = {
        r["node"]: r["comp"]
        for r in dedup.connected_components(pairs, driver_cutoff=0).collect()
    }
    assert fast == dist


def test_minhash_dedup_cc_transitive(spark):
    # chain a~b~c where a!~c: greedy keeps {a, c}; CC keeps only {a}
    base = "the quick brown fox jumps over the lazy dog again and again today"
    b = base + " extra"
    c = base + " extra words appended here"
    docs = spark.createDataFrame(
        [(0, base), (1, b), (2, c), (7, "completely different text about ships and harbors at dawn")],
        "doc_id long, text string",
    )
    cc = sorted(
        r["doc_id"]
        for r in dedup.minhash_dedup_cc(docs, jaccard_threshold=0.5).collect()
    )
    greedy = sorted(
        r["doc_id"] for r in dedup.minhash_dedup(docs, jaccard_threshold=0.5).collect()
    )
    assert cc[0] == 0 and 7 in cc and 1 not in cc and 2 not in cc
    assert set(cc) <= set(greedy)


def test_minhash_dedup_cc_repeat_leaves_nothing_cached(spark):
    """minhash_dedup_cc holds its LSH candidates only while it verifies
    them, and jaccard_pairs persists nothing: a second call over the
    same documents runs the same tasks as the first instead of reusing
    frames the first left cached, and no RDD it persisted is left
    behind."""
    from conftest import completed_tasks, persisted_rdd_ids

    base = "a ledger of tides and harbors kept by the lighthouse keeper"
    docs = spark.createDataFrame(
        [
            (10, base),
            (11, base + " at dusk"),
            (12, base + " at dusk and dawn"),
            (13, "an unrelated note on sourdough starters and rye flour"),
        ],
        "doc_id long, text string",
    )
    before = persisted_rdd_ids(spark)
    runs, kept = [], []

    def run():
        out = dedup.minhash_dedup_cc(docs, jaccard_threshold=0.5)
        kept.append(sorted(r["doc_id"] for r in out.collect()))

    for i in range(2):
        runs.append(completed_tasks(spark, run, group=f"dedup-cc-repeat-{i}"))
    assert persisted_rdd_ids(spark) <= before
    assert runs[1] == runs[0], runs
    assert kept[0] == kept[1] == [10, 13]


# --------------------------------------------------------------------------
# curate: decontamination, repetition, split, packing
# --------------------------------------------------------------------------
def test_decontaminate_flag_and_drop(spark):
    from imcs_spark.pipeline import curate

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (1, "one two three four five six seven eight nine ten"),
            (2, "totally novel words nowhere else repeated in anything here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "x alpha beta gamma delta epsilon zeta eta theta y")],
        "doc_id long, text string",
    )
    flagged = {r["doc_id"]: r["contaminated"] for r in
               curate.decontaminate(docs, bench, n=8).collect()}
    assert flagged == {0: True, 1: False, 2: False}
    kept = {r["doc_id"] for r in
            curate.decontaminate(docs, bench, n=8, mode="drop").collect()}
    assert kept == {1, 2}


def test_repetition_profile(spark):
    from imcs_spark.pipeline import curate

    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam"),          # bigrams: 3x "spam spam"
            (1, "all words are unique here"),    # 4 distinct bigrams
            (2, "one"),                          # short doc: whole-stream gram
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curate.repetition_profile(docs, n=2).collect()}
    assert out[0]["dup_gram_frac"] == pytest.approx(2 / 3)
    assert out[0]["top_gram_frac"] == pytest.approx(1.0)
    assert out[1]["dup_gram_frac"] == pytest.approx(0.0)
    assert out[1]["top_gram_frac"] == pytest.approx(0.25)
    assert out[2]["n_grams"] == 1


def test_dataset_split_deterministic_and_weighted(spark):
    import hashlib

    from imcs_spark.pipeline import curate

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(500)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["split"] for r in curate.dataset_split(docs).collect()}
    # membership depends only on the key: recompute with hashlib
    for i in (0, 1, 97, 499):
        bkt = int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16) % 100
        expect = "train" if bkt < 80 else ("val" if bkt < 90 else "test")
        assert out[i] == expect
    from collections import Counter

    c = Counter(out.values())
    assert 0.7 < c["train"] / 500 < 0.9  # weights hold roughly
    # adding rows never reshuffles existing membership
    more = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(600)], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: r["split"] for r in curate.dataset_split(more).collect()}
    assert all(out2[k] == v for k, v in out.items())


def test_pack_sequences(spark):
    from imcs_spark.pipeline import curate

    docs = spark.createDataFrame(
        [
            (0, "a", "w " * 10),   # 11 tokens (trailing space -> extra split)
            (1, "a", "x y z"),
            (2, "a", "q r"),
            (3, "b", "only doc in b"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r["doc_id"]: r for r in
           curate.pack_sequences(docs, budget=12, partition_by="source").collect()}
    # source a: doc0 starts at 0 (cum_before=0), doc1 at cum 11 -> seq 0,
    # doc2 at cum 14 -> seq 1; source b restarts at 0
    assert out[0]["seq_id"] == 0 and out[1]["seq_id"] == 0
    assert out[2]["seq_id"] == 1
    assert out[3]["seq_id"] == 0


def test_embedding_near_dups_lsh_matches_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    exact = {
        (r["left_id"], r["right_id"])
        for r in dedup.embedding_near_dups(emb, threshold=0.9).collect()
    }
    lsh = {
        (r["left_id"], r["right_id"])
        for r in dedup.embedding_near_dups_lsh(
            emb, threshold=0.9, n_planes=8, multi_probe=3
        ).collect()
    }
    # LSH is a subset (no false positives: exact cosine inside buckets)
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.8  # recall at radius 3
    # and the plan must NOT contain a cartesian product
    plan = dedup.embedding_near_dups_lsh(emb, threshold=0.9)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_png_roundtrip_all_filters():
    import numpy as np

    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, (21, 17, 3), dtype=np.uint8)
    gray = rng.randint(0, 256, (9, 13), dtype=np.uint8)
    rgba = rng.randint(0, 256, (7, 5, 4), dtype=np.uint8)
    for f in range(5):
        assert (multimodal.decode_png(multimodal.encode_png(rgb, f)) == rgb).all(), f
        assert (multimodal.decode_png(multimodal.encode_png(gray, f)) == gray).all(), f
        assert (multimodal.decode_png(multimodal.encode_png(rgba, f)) == rgba).all(), f


def test_png_features_match_ppm():
    import numpy as np

    px = np.arange(48 * 64 * 3, dtype=np.uint8).reshape(48, 64, 3)
    via_png = multimodal.real_decode(multimodal.encode_png(px, 4), "image/png")
    via_ppm = multimodal.real_decode(multimodal.encode_ppm(px), "image/x-portable-pixmap")
    assert (via_png == via_ppm).all()


def test_token_count_bpe(spark):
    df = spark.createDataFrame([("Hello, wor4ld x2!",)], "text string")
    n = df.select(text.token_count("text", mode="bpe").alias("n")).collect()[0]["n"]
    # Hello , wor 4 ld x 2 !
    assert n == 8


def _jpeg_test_image(h=37, w=49):
    import numpy as np

    x, y = np.meshgrid(np.arange(w), np.arange(h))
    g = (128 + 60 * np.sin(x / 8.0) + 50 * np.cos(y / 6.0)).clip(0, 255)
    return np.stack([g, np.roll(g, 5, 0), 255 - g], axis=-1).astype(np.uint8)


def test_jpeg_roundtrip_444_420_restart():
    import numpy as np

    from imcs_spark.pipeline import jpeg

    rgb = _jpeg_test_image()
    for kwargs, tol in [
        (dict(quality=90), 3.0),
        (dict(quality=90, subsample=True), 6.0),  # chroma halved
        (dict(quality=90, restart_interval=2), 3.0),
        (dict(quality=90, subsample=True, restart_interval=3), 6.0),
        (dict(quality=50), 8.0),
    ]:
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(rgb, **kwargs))
        assert dec.shape == rgb.shape, kwargs
        err = float(np.abs(dec.astype(float) - rgb.astype(float)).mean())
        assert err < tol, (kwargs, err)


def test_jpeg_grayscale_and_odd_sizes():
    import numpy as np

    from imcs_spark.pipeline import jpeg

    gray = _jpeg_test_image()[:, :, 0]
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(gray, 92))
    assert dec.shape == gray.shape and dec.ndim == 2
    assert float(np.abs(dec.astype(float) - gray.astype(float)).mean()) < 2.0
    # non-multiple-of-16 sizes under 4:2:0 exercise the MCU pad + crop
    tiny = _jpeg_test_image(9, 11)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(tiny, 95, subsample=True))
    assert dec.shape == tiny.shape


def test_jpeg_rejects_non_baseline():
    from imcs_spark.pipeline import jpeg

    enc = bytearray(jpeg.encode_jpeg(_jpeg_test_image()[:, :, 0], 90))
    i = enc.find(b"\xff\xc0")
    # SOF0 flipped to SOF2 over a BASELINE scan header is a malformed
    # progressive stream (its SOS claims Ss=0..Se=63, illegal for a
    # progressive DC scan) — rejected loudly, not decoded to garbage
    enc[i + 1] = 0xC2
    with pytest.raises(ValueError, match="Ss=Se=0"):
        jpeg.decode_jpeg(bytes(enc))
    # genuinely unsupported frame types: extended sequential (SOF1),
    # lossless (SOF3) and arithmetic (SOF9)
    for sof in (0xC1, 0xC3, 0xC9):
        enc[i + 1] = sof
        with pytest.raises(NotImplementedError, match="0xFF%02X" % sof):
            jpeg.decode_jpeg(bytes(enc))
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_jpeg(b"\x00\x01\x02")


def test_jpeg_real_decode_features():
    from imcs_spark.pipeline import jpeg

    rgb = _jpeg_test_image()
    feats = multimodal.real_decode(jpeg.encode_jpeg(rgb, 95), "image/jpeg")
    assert feats.shape == (multimodal.FEATURE_DIM,)
    # features of the decoded JPEG track the lossless PNG features;
    # min/max (indices 5-6) are ringing-sensitive under lossy coding,
    # the dims and the mean-based cells must agree tightly
    ref = multimodal.real_decode(multimodal.encode_png(rgb, 0), "image/png")
    import numpy as np

    assert (feats[:3] == ref[:3]).all()  # h, w, channels exact
    robust = np.r_[feats[3:5], feats[7:]] - np.r_[ref[3:5], ref[7:]]
    assert float(np.abs(robust).max()) < 0.1


def test_redact_pii_categories(spark):
    from imcs_spark.pipeline import curate

    rows = [
        (1, "mail me at jo.doe+x@sub.example.org today"),
        (2, "ssn is 123-45-6789 ok"),
        (3, "call +1-555-0199 or 44-555-0000"),
        (6, "nanp 555-123-4567 and +1-555-123-4567 done"),
        (4, "host 192.168.0.1 responded"),
        (5, "clean text with numbers 1234567 and 12-34"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    red = {
        r.doc_id: r.red
        for r in df.select(
            "doc_id", curate.redact_pii("text").alias("red")
        ).collect()
    }
    assert red[1] == "mail me at [EMAIL] today"
    assert red[2] == "ssn is [SSN] ok"
    assert red[3] == "call [PHONE] or [PHONE]"
    assert red[4] == "host [IP] responded"
    assert red[5] == dict((i, t) for i, t in rows)[5]  # untouched
    # standard 3-3-4 numbers redact FULLY (no leaked leading digits)
    assert red[6] == "nanp [PHONE] and [PHONE] done"
    # idempotent: re-redacting redacted text changes nothing
    df2 = spark.createDataFrame(
        [(k, v) for k, v in red.items()], "doc_id long, text string"
    )
    red2 = {
        r.doc_id: r.red
        for r in df2.select(
            "doc_id", curate.redact_pii("text").alias("red")
        ).collect()
    }
    assert red2 == red


def test_redact_pii_ccard_luhn_and_ipv6(spark):
    """Round-5 categories: Luhn-gated credit cards (valid numbers
    redact, checksum-failing look-alikes are untouched) and the
    documented IPv6 subset (full / compressed / trailing-:: forms with
    a digit in the first group; hex-letter `::` identifiers and times
    are never eaten), plus the symmetric phone boundary (digit-glued
    runs no longer half-redact)."""
    from imcs_spark.pipeline import curate

    rows = [
        (1, "pay 4111-1111-1111-1111 now"),  # Luhn-valid 16-digit
        (2, "num 1234-5678-9012-3456 fake"),  # fails Luhn -> untouched
        (3, "amex 3782 822463 10005 ok"),  # Luhn-valid 15-digit, spaces
        (4, "v6 2001:db8::1 and full 1:2:3:4:5:6:7:8 end"),
        (5, "ll fe80:: up"),
        (6, "code std::vector<int> stays"),  # all-hex-letter :: kept
        (7, "glued 8555-123-4567 stays"),  # no partial phone redaction
        (8, "time 12:30:45 stays"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    red = {
        r.doc_id: r.red
        for r in df.select(
            "doc_id", curate.redact_pii("text").alias("red")
        ).collect()
    }
    keep = dict((i, t) for i, t in rows)
    assert red[1] == "pay [CCARD] now"
    assert red[2] == keep[2]
    assert red[3] == "amex [CCARD] ok"
    assert red[4] == "v6 [IPV6] and full [IPV6] end"
    assert red[5] == "ll [IPV6] up"
    assert red[6] == keep[6]
    assert red[7] == keep[7]
    assert red[8] == keep[8]
    prof = {
        r.doc_id: r
        for r in curate.pii_profile(df).collect()
    }
    assert prof[1].n_ccard == 1 and prof[2].n_ccard == 0
    assert prof[4].n_ipv6 == 2 and prof[5].n_ipv6 == 1
    assert prof[7].n_phone == 0
    # Luhn column itself, directly
    lu = spark.createDataFrame(
        [("4111111111111111",), ("4111111111111112",), ("378282246310005",)],
        "c string",
    ).select(curate.luhn_check("c").alias("ok")).collect()
    assert [r.ok for r in lu] == [True, False, True]


def test_pii_profile_counts(spark):
    from imcs_spark.pipeline import curate

    df = spark.createDataFrame(
        [(1, "a@b.co and c@d.io, ssn 987-65-4321, ip 10.0.0.1")],
        "doc_id long, text string",
    )
    row = curate.pii_profile(df).collect()[0]
    assert (row.n_email, row.n_ssn, row.n_phone, row.n_ipv4) == (2, 1, 0, 1)
    # len("a@b.co")=6 + len("c@d.io")=6 vs 2*len("[EMAIL]")=14 -> -2
    # len("987-65-4321")=11 vs len("[SSN]")=5 -> +6
    # len("10.0.0.1")=8 vs len("[IP]")=4 -> +4
    assert row.len_delta == (6 + 6 - 14) + (11 - 5) + (8 - 4)


def test_jpeg_randomized_roundtrip_properties():
    """Seeded sweep over shapes x qualities x sampling x restart: decode
    must invert encode within quantization error for smooth content,
    exact shape/dtype always. Smoothness is enforced by construction
    (low-frequency mixtures) because JPEG's error bound is only
    meaningful below the Nyquist of its 8x8 DCT."""
    import numpy as np

    from imcs_spark.pipeline import jpeg

    rng = np.random.RandomState(11)
    for trial in range(12):
        h = int(rng.randint(8, 70))
        w = int(rng.randint(8, 70))
        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        fx, fy = rng.uniform(0.02, 0.25, 2)
        base = 128 + 70 * np.sin(xx * fx + rng.uniform(0, 6)) * np.cos(
            yy * fy + rng.uniform(0, 6)
        )
        gray = trial % 3 == 0
        if gray:
            img = base.clip(0, 255).astype(np.uint8)
        else:
            img = np.stack(
                [base, np.roll(base, 3, 0), 255 - base], axis=-1
            ).clip(0, 255).astype(np.uint8)
        quality = int(rng.choice([70, 85, 95]))
        sub = bool(rng.randint(2)) and not gray
        rst = int(rng.choice([0, 1, 3, 7]))
        enc = jpeg.encode_jpeg(img, quality, subsample=sub, restart_interval=rst)
        dec = jpeg.decode_jpeg(enc)
        assert dec.shape == img.shape and dec.dtype == np.uint8
        err = float(np.abs(dec.astype(float) - img.astype(float)).mean())
        budget = (8.0 if quality == 70 else 5.0) + (4.0 if sub else 0.0)
        assert err < budget, (trial, h, w, quality, sub, rst, err)


def test_jpeg_fill_bytes_before_marker():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
    marker; the parser must skip them rather than misparse a segment."""
    import numpy as np

    from imcs_spark.pipeline import jpeg

    img = _jpeg_test_image(25, 33)[:, :, 0]
    enc = jpeg.encode_jpeg(img, 90)
    i = enc.find(b"\xff\xc0")
    patched = enc[:i] + b"\xff\xff\xff" + enc[i:]
    dec = jpeg.decode_jpeg(patched)
    assert dec.shape == img.shape
    assert float(np.abs(dec.astype(float) - img.astype(float)).mean()) < 2.0


def test_jpeg_rejects_cmyk_and_multiscan():
    """Silently-wrong inputs must refuse loudly: 4-component (CMYK)
    frames and multi-scan (non-interleaved) baseline streams."""
    import numpy as np

    from imcs_spark.pipeline import jpeg

    img = _jpeg_test_image(16, 16)
    e = bytearray(jpeg.encode_jpeg(img[:, :, 0], 90))
    i = e.find(b"\xff\xc0")
    e[i + 9] = 4  # SOF0 ncomp byte
    with pytest.raises(NotImplementedError, match="component"):
        jpeg.decode_jpeg(bytes(e))

    e = bytearray(jpeg.encode_jpeg(img, 90))
    i = e.find(b"\xff\xda")
    e[i + 4] = 1  # SOS ns byte: claim 1 scan component of 3
    with pytest.raises(NotImplementedError, match="multi-scan"):
        jpeg.decode_jpeg(bytes(e))

    # larger-than-test-fixture image: the bit accumulators must stay
    # machine-sized (a bignum accumulator made this quadratic)
    x, y = np.meshgrid(np.arange(320), np.arange(240))
    big = np.stack(
        [(128 + 60 * np.sin(x / 9.0) + 50 * np.cos(y / 7.0)).clip(0, 255)] * 3,
        axis=-1,
    ).astype(np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(big, 85, subsample=True))
    assert dec.shape == big.shape


def test_minhash_banding_validation(spark):
    from imcs_spark.pipeline import dedup

    sigs = dedup.minhash_signatures(
        spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string"),
        num_hashes=16,
    )
    with pytest.raises(ValueError, match="divide"):
        dedup.minhash_lsh_candidates(sigs, num_hashes=16, bands=5)
    with pytest.raises(ValueError, match="divide"):
        dedup.minhash_lsh_candidates(sigs, num_hashes=4, bands=8)
    with pytest.raises(ValueError, match="63"):
        dedup.minhash_signatures(
            spark.createDataFrame([(1, "a b")], "doc_id long, text string"),
            num_hashes=64,
        )


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iter with labels still moving must raise, not
    return partially-propagated components."""
    from imcs_spark.pipeline import dedup

    chain = [(i, i + 1) for i in range(6)]  # path graph, diameter 6
    pairs = spark.createDataFrame(chain, "left_id long, right_id long")
    with pytest.raises(RuntimeError, match="converge"):
        dedup.connected_components(pairs, max_iter=2, driver_cutoff=0)
    # and with enough rounds it converges to one component
    labels = dedup.connected_components(pairs, max_iter=20, driver_cutoff=0)
    assert {r["comp"] for r in labels.collect()} == {0}


def test_embedding_dim_probe_guard(spark):
    from imcs_spark.pipeline import dedup, similarity

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="dim"):
        dedup.embedding_near_dups_lsh(empty, threshold=0.9)
    with pytest.raises(ValueError, match="dim"):
        similarity.lsh_index(empty)


def test_split_bucket_large_bucket_counts(spark):
    """48-bit md5 prefix: bucket counts past 65,536 must actually cover
    the space (the 16-bit prefix left them empty)."""
    import hashlib

    from imcs_spark.pipeline import curate

    docs = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    out = docs.select("doc_id", curate.split_bucket("doc_id", 100_000).alias("b")).collect()
    for r in out:
        expect = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:12], 16) % 100_000
        assert r.b == expect
    assert max(r.b for r in out) > 65_536  # the old prefix capped here
    with pytest.raises(ValueError, match="buckets"):
        curate.split_bucket("doc_id", 0)


def test_pii_profile_counts_sequentially(spark):
    """Counts reflect the sequential redaction: a phone-shaped string
    inside an email address is consumed by [EMAIL] and NOT also counted
    as a phone."""
    from imcs_spark.pipeline import curate

    df = spark.createDataFrame(
        [(1, "mail bob@example-555-123-4567.com now")], "doc_id long, text string"
    )
    row = curate.pii_profile(df).collect()[0]
    assert row.n_email == 1 and row.n_phone == 0
    red = df.select(curate.redact_pii("text").alias("r")).collect()[0]["r"]
    assert red == "mail [EMAIL] now"


def test_decode_stub_and_truncated_pnm():
    from imcs_spark.pipeline import multimodal

    feats = multimodal.decode_stub(b"anything", 7)
    assert feats.shape == (multimodal.FEATURE_DIM,)
    with pytest.raises(ValueError, match="truncated PNM"):
        multimodal.decode_pnm(b"P6 4")


def test_sixth_batch_edge_guards(spark):
    """Edge guards from the high-effort review: zero-norm embeddings in
    the exact path, 64-bit simhash band (max_hamming=0), NULL strings
    in str2code, invalid keep/max_iter, money literal validation."""
    import numpy as np

    from imcs_spark import sources
    from imcs_spark.pipeline import dedup

    # zero vector must not crash nor pair with anything
    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r.left_id, r.right_id) for r in dedup.embedding_near_dups(df, threshold=0.9).collect()}
    assert pairs == {(0, 2)}

    # max_hamming=0: exact-duplicate simhash pairs via one 64-bit band
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "x y z")], "doc_id long, text string"
    )
    got = {(r.left_id, r.right_id) for r in dedup.simhash_near_pairs(docs, max_hamming=0).collect()}
    assert got == {(0, 1)}

    # NULL strings keep their rows with NULL codes
    sdf = spark.createDataFrame([("a",), (None,), ("b",), ("a",)], "s string")
    coded = sources.str2code(sdf, "s").collect()
    assert len(coded) == 4
    assert sum(1 for r in coded if r["code"] is None) == 1

    with pytest.raises(ValueError, match="keep"):
        dedup.exact_dedup(docs, keep="mim")
    with pytest.raises(ValueError, match="max_iter"):
        dedup.connected_components(
            spark.createDataFrame([(1, 2)], "left_id long, right_id long"),
            max_iter=0, driver_cutoff=0,
        )
    with pytest.raises(ValueError, match="money"):
        sources.parse(spark, "money:{$1,000.50,$2.00}")
    # quoted grouped amounts still parse
    vals = [r["val"] for r in sources.parse(spark, "money:{\"$1,000.50\",$2.00}").collect()]
    assert [float(v) for v in vals] == [1000.50, 2.00]


def test_lang_id_unsegmented_chinese(spark):
    from imcs_spark.pipeline import text

    rows = [(0, "的是了在和有我不人这的是了在和有我不"),
            (1, "the quick brown fox jumps over the lazy dog")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.lang for r in df.select("doc_id", text.lang_id("text").alias("lang")).collect()}
    assert got[0] == "zh" and got[1] == "en", got


def test_xxh64_sql_kernel_matches_spark(spark):
    """The DuckDB-SQL XXH64 kernel (oracle_xxh64.xxh64_ctes) must be
    bit-identical to Spark's xxhash64 across lengths spanning every
    code path: empty, sub-4/8/32-byte tails, exact stripe multiples,
    multi-stripe, and multi-byte UTF-8."""
    import duckdb

    from pyspark.sql import functions as F

    from registry.oracle_xxh64 import xxh64_ctes

    strs = ["", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
            "hello world", "héllo wörld ünïcode", "x" * 31, "y" * 32,
            "z" * 33, "w" * 39, "v" * 40, "u" * 63, "t" * 64, "s" * 65,
            "日本語テキスト", "mixed 日本 and ascii padding here",
            "the quick brown fox jumps over the lazy dog " * 3]
    want = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(s,) for s in strs], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE src (s VARCHAR)")
    con.executemany("INSERT INTO src VALUES (?)", [(s,) for s in strs])
    sql = (
        "WITH RECURSIVE srcd AS (SELECT DISTINCT s FROM src),"
        + xxh64_ctes("srcd")
        + " SELECT s, h::VARCHAR AS h FROM xxh"
    )
    got = {s: int(h) for s, h in con.execute(sql).fetchall()}
    signed = lambda u: u - (1 << 64) if u >= (1 << 63) else u  # noqa: E731
    for s in strs:
        assert signed(got[s]) == want[s], repr(s)


def test_curation_e2e_plan_shape(spark):
    """The end-to-end curation pipeline's map-only middle (PII,
    quality, split) must fuse with zero extra shuffles: the only
    exchanges allowed are the decontamination gram/hit sides (distinct
    + two broadcasts), ONE dedup window shuffle, the packing window,
    and the final aggregate — and no join may degrade to a cartesian."""
    from registry import queries as Q

    df = Q.QUERIES["curation_e2e"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # 7 exchanges for the six-stage e2e dataflow + 2 for the raw
    # split/pack legs the slot also carries (their own groupBy+window)
    # + 1 for the spread before redaction (fires only at sf0.001,
    # where the 500-row documents table is a single cached partition)
    assert plan.count("Exchange") <= 10, plan
    # exactly one corpus shuffle on the dedup digest (a second one
    # means the decontamination branch re-executes the dedup window)
    assert plan.count("hashpartitioning(_digest") == 1, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_cluster_split_leakage_safe(spark):
    """cluster_split: every member of a near-dup cluster gets the
    split of the cluster's min-id representative (no train/test
    leakage through near-copies); unclustered docs match
    dataset_split exactly; passing both/neither of pairs and
    components raises."""
    import hashlib

    import pytest as _pytest

    from imcs_spark.pipeline import curate

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    # clusters: {3,40,99} (chained edges) and {7,150}
    pairs = spark.createDataFrame(
        [(3, 40), (40, 99), (7, 150)], "left_id long, right_id long"
    )
    out = {r["doc_id"]: r["split"] for r in
           curate.cluster_split(docs, pairs=pairs).collect()}

    def h(k):
        bkt = int(hashlib.md5(str(k).encode()).hexdigest()[:12], 16) % 100
        return "train" if bkt < 80 else ("val" if bkt < 90 else "test")

    # cluster members share their representative's split
    assert out[3] == out[40] == out[99] == h(3)
    assert out[7] == out[150] == h(7)
    # everyone else is identical to the plain per-doc split
    plain = {r["doc_id"]: r["split"] for r in curate.dataset_split(docs).collect()}
    clustered = {3, 40, 99, 7, 150}
    assert all(out[i] == plain[i] for i in range(200) if i not in clustered)
    # precomputed-components path agrees
    from imcs_spark.pipeline import dedup

    comp = dedup.connected_components(pairs)
    out2 = {r["doc_id"]: r["split"] for r in
            curate.cluster_split(docs, components=comp).collect()}
    assert out2 == out
    with _pytest.raises(ValueError, match="exactly one"):
        curate.cluster_split(docs)
    with _pytest.raises(ValueError, match="exactly one"):
        curate.cluster_split(docs, pairs=pairs, components=comp)



def test_deterministic_sampling(spark):
    """pipeline.sample: hash-ordered samples are stable under corpus
    growth (selection changes only by boundary displacement), exact-n,
    stratified per group, and weighted by inclusion dominance; bad
    sizes raise."""
    from imcs_spark.pipeline import sample as S

    docs = spark.createDataFrame(
        [(i, ["web", "book", "code"][i % 3], "x" * (10 + i % 50)) for i in range(300)],
        "doc_id long, source string, text string",
    )
    u1 = {r["doc_id"] for r in S.uniform_sample(docs, "doc_id", 20).collect()}
    assert len(u1) == 20
    # determinism + growth stability: the 20-of-300 winners are exactly
    # the original winners among a 400-doc corpus minus displaced ones
    more = spark.createDataFrame(
        [(i, "web", "t") for i in range(300, 400)], "doc_id long, source string, text string"
    )
    u2 = {r["doc_id"] for r in S.uniform_sample(docs.unionByName(more), "doc_id", 20).collect()}
    assert u2 & set(range(300)) <= u1  # old docs only drop out, never reorder

    st = S.stratified_sample(docs, "source", "doc_id", 5).collect()
    from collections import Counter

    cnt = Counter(r["source"] for r in st)
    assert cnt == {"web": 5, "book": 5, "code": 5}
    # stratum smaller than n: all its rows, no padding
    tiny = spark.createDataFrame(
        [(0, "a", "t"), (1, "a", "t"), (2, "b", "t")],
        "doc_id long, source string, text string",
    )
    cnt = Counter(r["source"] for r in S.stratified_sample(tiny, "source", "doc_id", 5).collect())
    assert cnt == {"a": 2, "b": 1}

    # weighted: a dominant weight always wins; zero/NULL never do
    import pyspark.sql.functions as F

    wdf = docs.withColumn(
        "w",
        F.when(F.col("doc_id") == 7, 1e9)
        .when(F.col("doc_id") % 10 == 0, F.lit(None))
        .when(F.col("doc_id") % 7 == 0, 0.0)
        .otherwise(F.col("doc_id").cast("double") + 1.0),
    )
    wn = {r["doc_id"] for r in S.weighted_sample(wdf, "doc_id", "w", 25).collect()}
    assert 7 in wn and len(wn) == 25
    assert all(i % 10 != 0 or i == 7 for i in wn)  # NULL weight excluded
    assert all(i % 7 != 0 or i == 7 for i in wn)   # zero weight excluded
    # weighted selection is reproducible
    wn2 = {r["doc_id"] for r in S.weighted_sample(wdf, "doc_id", "w", 25).collect()}
    assert wn2 == wn

    import pytest as _pytest

    for fn in (
        lambda: S.uniform_sample(docs, "doc_id", 0),
        lambda: S.stratified_sample(docs, "source", "doc_id", -1),
        lambda: S.weighted_sample(docs, "doc_id", "doc_id", 0),
    ):
        with _pytest.raises(ValueError, match="positive"):
            fn()


def test_quantize_embeddings_roundtrip(spark):
    """int8 embedding quantization: codes bounded to [-127, 127],
    reconstruction error bounded by scale/2 per component, zero
    vectors quantize cleanly, and cosine RANKING over dequantized
    vectors matches the float ranking on well-separated corpora
    (cosine is scale-invariant)."""
    import numpy as np

    from imcs_spark.pipeline import similarity as S

    rng = np.random.RandomState(5)
    vecs = [(i, rng.randn(16).tolist()) for i in range(40)]
    vecs.append((40, [0.0] * 16))  # zero vector
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = S.quantize_embeddings(df)
    rows = {r["vec_id"]: r for r in S.dequantize_embeddings(q).collect()}
    assert q.schema["qvec"].dataType.simpleString() == "array<tinyint>"
    for i, v in vecs:
        r = rows[i]
        s = r["qscale"]
        if i == 40:
            assert s == 0.0 and all(x == 0.0 for x in r["embedding"])
            continue
        assert max(abs(c) for c in r["qvec"]) == 127
        err = max(abs(a - b) for a, b in zip(v, r["embedding"]))
        assert err <= s / 2 + 1e-12, (i, err, s)
    # ranking parity on a separated corpus: top-3 by dequantized
    # cosine == top-3 by exact cosine (quantization error ~0.4% of
    # scale, far below the corpus's cosine gaps)
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in S.brute_force_topk(df, queries, k=3).collect()
    }
    dq = S.dequantize_embeddings(S.quantize_embeddings(df)).select("vec_id", "embedding")
    dqq = dq.filter(F.col("vec_id") < 2).select(F.col("vec_id").alias("query_id"), "embedding")
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in S.brute_force_topk(dq, dqq, k=3).collect()
    }
    assert got == exact


def test_rank_threshold_sampling_matches_topn(spark):
    """For n above topn_merge_max the rank-threshold cut must return
    EXACTLY the same rows as the plain top-n merge (deterministic-hash
    selection is engine-recomputable either way), while keeping every
    TakeOrderedAndProject in its plan far below n — the large-n draw
    never funnels P*n rows through one task."""
    from imcs_spark.pipeline import sample as S

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97 + 1).cast("double").alias("w"),
    )
    n = 1200

    # uniform
    small_path = {r["doc_id"] for r in
                  S.uniform_sample(docs, "doc_id", n).collect()}
    cut = S.uniform_sample(docs, "doc_id", n, topn_merge_max=100)
    cut_ids = {r["doc_id"] for r in cut.collect()}
    assert cut_ids == small_path and len(cut_ids) == n
    plan = cut._jdf.queryExecution().executedPlan().toString()
    import re
    limits = [int(m) for m in re.findall(r"TakeOrderedAndProject\s*\(limit=(\d+)", plan)]
    assert limits and all(l < n / 2 for l in limits), (limits, n)

    # weighted
    wa = {r["doc_id"] for r in S.weighted_sample(docs, "doc_id", "w", n).collect()}
    wcut = S.weighted_sample(docs, "doc_id", "w", n, topn_merge_max=100)
    wb = {r["doc_id"] for r in wcut.collect()}
    assert wa == wb and len(wb) == n
    wplan = wcut._jdf.queryExecution().executedPlan().toString()
    wlimits = [int(m) for m in re.findall(r"TakeOrderedAndProject\s*\(limit=(\d+)", wplan)]
    assert wlimits and all(l < n / 2 for l in wlimits), (wlimits, n)

    # degenerate edges: n >= corpus returns everything; n >= eligible
    # population falls back to the top-n (ineligible -inf rows fill)
    allr = S.uniform_sample(docs, "doc_id", 6000, topn_merge_max=100)
    assert allr.count() == 5000
    few = docs.withColumn("w", F.when(F.col("doc_id") < 50, F.col("w")))
    fw = S.weighted_sample(few, "doc_id", "w", 200, topn_merge_max=100)
    got = [r["doc_id"] for r in fw.collect()]
    assert len(got) == 200 and all(i in got for i in range(50))


def test_uniform_sample_null_keys_paths_agree(spark):
    """NULL keys hash to a NULL rank; ascending orderBy puts nulls
    FIRST, so the small-n path selects them first. The rank-threshold
    path must agree — its body filter treats NULL as below every
    cutoff (plain comparison predicates would silently drop them)."""
    from imcs_spark.pipeline import sample as S

    docs = spark.range(800).select(
        F.when(F.col("id") % 40 != 0, F.col("id")).alias("doc_id")
    )
    n = 200
    small_rows = S.uniform_sample(docs, "doc_id", n).collect()
    cut_rows = S.uniform_sample(docs, "doc_id", n, topn_merge_max=50).collect()
    assert len(small_rows) == n and len(cut_rows) == n
    small = {r["doc_id"] for r in small_rows}
    cut = {r["doc_id"] for r in cut_rows}
    assert small == cut
    # every NULL-keyed row (20 of them) sorts first and must be inside
    assert None in small


def test_redact_pii_batch_equals_column_form(spark, sf_dir):
    """redact_pii_batch (stage-batched Arrow path — the scale path; see
    curate.py round-8 note) is bit-identical to the Column chain on
    every PII vector family, nulls, non-ASCII text, and the corpus."""
    from imcs_spark.pipeline import curate

    rows = [
        (1, "mail me at jo.doe+x@sub.example.org today"),
        (2, "ssn is 123-45-6789 ok"),
        (3, "call +1-555-0199 or 44-555-0000"),
        (4, "host 192.168.0.1 responded"),
        (5, "clean text with numbers 1234567 and 12-34"),
        (6, "nanp 555-123-4567 and +1-555-123-4567 done"),
        (7, "pay 4111-1111-1111-1111 now"),
        (8, "num 1234-5678-9012-3456 fake"),
        (9, "amex 3782 822463 10005 ok"),
        (10, "v6 2001:db8::1 and full 1:2:3:4:5:6:7:8 end"),
        (11, "glued 8555-123-4567 stays"),
        (12, None),
        (13, ""),
        (14, "unicode café ۱۲۳-۴۵-۶۷۸۹ naïve x@y.zz"),  # non-ASCII digits NOT \d
        (15, "two hits a@b.co then 123-45-6789 then 10.0.0.1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.select(
        "doc_id",
        curate.redact_pii("text").alias("col_form"),
        curate.redact_pii_batch("text").alias("batch_form"),
    ).collect()
    for r in got:
        assert r.col_form == r.batch_form, (r.doc_id, r.col_form, r.batch_form)

    # corpus sample: the documents table end-to-end
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_diff = (
        docs.select(
            (
                ~curate.redact_pii("text").eqNullSafe(
                    curate.redact_pii_batch("text")
                )
            ).cast("int").alias("d")
        )
        .agg(F.sum("d").alias("n"))
        .collect()[0]["n"]
    )
    assert n_diff == 0


def test_pii_profile_batch_equals_column_form(spark, sf_dir):
    """pii_profile_batch ≡ pii_profile (counts per category computed on
    the prior-redacted text, len_delta) on PII vectors and the corpus."""
    from imcs_spark.pipeline import curate

    rows = [
        (1, "mail a@b.co and c@d.ee then 123-45-6789 and 10.0.0.1"),
        (2, "pay 4111-1111-1111-1111 and fake 1234-5678-9012-3456"),
        (3, "call 555-123-4567 or +1-555-123-4567"),
        (4, "v6 2001:db8::1 time 12:30:45"),
        (5, None),
        (6, ""),
        (7, "no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r for r in curate.pii_profile(df).collect()}
    b = {r["doc_id"]: r for r in curate.pii_profile_batch(df).collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k].asDict() == b[k].asDict(), (k, a[k], b[k])

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = [f"n_{c}" for c in curate.PII_CATEGORIES] + ["len_delta"]
    agg_a = curate.pii_profile(docs).agg(*[F.sum(c).alias(c) for c in cols]).collect()[0]
    agg_b = curate.pii_profile_batch(docs).agg(*[F.sum(c).alias(c) for c in cols]).collect()[0]
    assert agg_a.asDict() == agg_b.asDict()


def test_brute_force_topk_matrix_matches_column_kernel(spark, sf_dir):
    """brute_force_topk_matrix (per-batch BLAS matmul + partial top-k)
    returns the same ranked neighbor sets as the Column-kernel form on
    the embeddings table (cosines equal to ~1 ULP; ranks identical away
    from degenerate ties, which the asc-id tiebreak resolves equally)."""
    from imcs_spark.pipeline import similarity as S

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = corpus.filter(F.col("vec_id") % 97 == 3).limit(7).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    a = S.brute_force_topk(corpus, queries, k=10).collect()
    b = S.brute_force_topk_matrix(corpus, queries, k=10).collect()
    ka = {(r.query_id, r.vec_id): (r.rank, r.cosine) for r in a}
    kb = {(r.query_id, r.vec_id): (r.rank, r.cosine) for r in b}
    assert set(ka) == set(kb)
    for key in ka:
        assert ka[key][0] == kb[key][0], (key, ka[key], kb[key])
        # float32 inputs + pairwise-vs-fold summation: ~2e-9 observed
        assert abs(ka[key][1] - kb[key][1]) < 1e-7


def _duckdb_embeddings(sf_dir):
    """DuckDB connection over the embeddings table, plus the unit-vector
    CTE prefix ``u(vec_id, u)`` the oracle_ivf / oracle_pq chains
    append to (the ann_recall oracle's normalization)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    return con, """
WITH u AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)
           / CASE WHEN nrm = 0 THEN 1 ELSE nrm END) AS u
  FROM (
    SELECT vec_id, embedding,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x * x AS DOUBLE)))) AS nrm
    FROM embeddings
  )
)"""


def test_ivf_index_and_serve_match_duckdb_twin(spark, sf_dir):
    """ivf_index (numpy argmax per Arrow batch) assigns the same cells,
    and the masked ivf_topk serve returns the same ranked ids, as the
    DuckDB twin (oracle_ivf.ivf_ctes: iv_asg* cell map, iv_cand
    re-rank) for the same bit-identical sequential centroids."""
    from registry.oracle_ivf import ivf_ctes
    from imcs_spark.pipeline import similarity as S

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = S.train_ivf_centroids(
        corpus, n_centroids=8, iters=2, kernel="sequential"
    )
    queries = corpus.filter(F.col("vec_id") < 5).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    idx = S.ivf_index(corpus, centroids=cents)
    try:
        cells = {r.vec_id: r.cell for r in idx[1].collect()}
        top = {
            (r.query_id, r.rank): r.vec_id
            for r in S.ivf_topk(
                corpus, queries, k=5, n_probe=3, index=idx,
                # pin the MASKED serve: a broad union-of-probes would
                # otherwise trip the exact full-coverage fallback
                # (tested separately)
                brute_fallback_coverage=None,
            ).collect()
        }
    finally:
        idx[1].unpersist()

    con, u = _duckdb_embeddings(sf_dir)
    chain = u + ivf_ctes(n_centroids=8, iters=2, n_probe=3, k=5, n_queries=5)
    want_cells = dict(con.execute(chain + "\nSELECT vec_id, cell FROM iv_asg2").fetchall())
    want_top = {
        (q, rn): v
        for q, v, rn in con.execute(
            chain
            + """
SELECT query_id, vec_id,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
FROM iv_cand QUALIFY rn <= 5"""
        ).fetchall()
    }
    assert cells == want_cells  # identical cell map
    assert top == want_top  # identical ranked ids


def test_ivf_sequential_centroids_bit_equal_duckdb(spark, sf_dir):
    """train_ivf_centroids(kernel='sequential') must be BIT-identical
    to the DuckDB recomputation (oracle_ivf.ivf_centroids_sql) — the
    property that makes ann_recall's IVF legs a true cross-engine
    oracle since round 9: every float reduction in both kernels is the
    same fixed-order left fold (id-ordered across members, dim-ordered
    within vectors), which round-9 probes showed DuckDB list_sum,
    Spark aggregate() and Python loops all implement identically."""
    import struct

    import duckdb

    from registry.oracle_ivf import ivf_centroids_sql
    from imcs_spark.pipeline import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.train_ivf_centroids(
        emb, n_centroids=8, iters=2, kernel="sequential"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    rows = con.execute(ivf_centroids_sql(n_centroids=8, iters=2)).fetchall()
    assert len(rows) == len(cents) == 8
    for ci, c in rows:
        assert len(c) == len(cents[ci]) == 64
        for j, (a, b) in enumerate(zip(cents[ci], c)):
            assert struct.pack("<d", a) == struct.pack("<d", b), (ci, j, a, b)


def test_pq_sequential_codebooks_bit_equal_duckdb(spark, sf_dir):
    """train_pq_codebooks(kernel='sequential') must be BIT-identical
    to the DuckDB recomputation (oracle_pq.pq_codebooks_sql) — the
    property that makes ann_recall's PQ legs a true cross-engine
    oracle from day one (the IVF centroid pin's PQ sibling: same
    fixed-order left folds, applied per subspace with plain means)."""
    import struct

    import duckdb

    from registry.oracle_pq import pq_codebooks_sql
    from imcs_spark.pipeline import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = similarity.train_pq_codebooks(
        emb, m=2, n_codes=4, iters=2, kernel="sequential"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    rows = con.execute(pq_codebooks_sql(m=2, n_codes=4, iters=2)).fetchall()
    assert len(rows) == 8  # 2 subs x 4 codes
    for sub, ci, c in rows:
        sc = books[sub][ci]
        assert len(c) == len(sc) == 32
        for j, (a, b) in enumerate(zip(sc, c)):
            assert struct.pack("<d", a) == struct.pack("<d", b), (sub, ci, j, a, b)


def test_pq_encode_matches_duckdb_twin(spark, sf_dir):
    """pq_encode (numpy squared-L2 argmin per Arrow batch) returns the
    same code arrays as the DuckDB twin (oracle_pq.pq_ctes: pq_a*) for
    the same bit-identical sequential codebooks — the ivf_index cell
    map pin applied to PQ."""
    from registry.oracle_pq import pq_ctes
    from imcs_spark.pipeline import similarity as S

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = S.train_pq_codebooks(
        corpus, m=2, n_codes=4, iters=2, kernel="sequential"
    )
    got = {r.vec_id: list(r.codes) for r in S.pq_encode(corpus, books).collect()}
    con, u = _duckdb_embeddings(sf_dir)
    want = dict(
        con.execute(
            u
            + pq_ctes(m=2, n_codes=4, iters=2, n_queries=0)
            + "\nSELECT vec_id, list(code ORDER BY sub) FROM pq_a2 GROUP BY vec_id"
        ).fetchall()
    )
    assert got == want


def test_pq_topk_rerank_recovers_exact_neighbors(spark, sf_dir):
    """ADC top-(k*factor) + exact rerank: each query's own vector must
    come back at rank 1 with cosine ~1, and every returned cosine is a
    TRUE cosine (rerank output), monotone in rank."""
    from imcs_spark.pipeline import similarity as S

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = S.train_pq_codebooks(corpus, m=4, n_codes=8, iters=2)
    enc = S.pq_encode(corpus, books)
    queries = corpus.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.pq_topk(enc, queries, books, k=5, rerank=corpus, rerank_factor=8)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        # exact rerank guarantees descending true cosine
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        # the query's own vector survives quantization + rerank
        # (float32 inputs: self-cosine lands within ~2e-8 of 1.0)
        assert rs[0].vec_id == q and abs(rs[0].cosine - 1.0) < 1e-6


def test_pq_m_must_divide_dim(spark):
    from imcs_spark.pipeline import similarity as S

    with pytest.raises(ValueError, match="must divide"):
        S._pq_slices(64, 5)


def test_pq_topk_matches_duckdb_twin(spark, sf_dir):
    """pq_topk (driver LUT + numpy gather per batch) returns the same
    ranked ids as the DuckDB twin (oracle_pq.pq_ctes) for the same
    codebooks: the ADC top-k without rerank (pq_score), and the
    post-rerank ranking with it (pq_rr)."""
    from registry.oracle_pq import pq_ctes
    from imcs_spark.pipeline import similarity as S

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = S.train_pq_codebooks(
        corpus, m=2, n_codes=4, iters=2, kernel="sequential"
    )
    enc = S.pq_encode(corpus, books).persist()
    queries = corpus.filter(F.col("vec_id") < 4).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    try:
        adc = {
            (r.query_id, r.rank): r.vec_id
            for r in S.pq_topk(enc, queries, books, k=5).collect()
        }
        rr = {
            (r.query_id, r.rank): r.vec_id
            for r in S.pq_topk(
                enc, queries, books, k=5, rerank=corpus, rerank_factor=4,
                # pin the ADC path so a cache-resident corpus (any test
                # caching a plan-identical read) can't swap it to the
                # exact brute fallback
                brute_fallback=False,
            ).collect()
        }
    finally:
        enc.unpersist()

    con, u = _duckdb_embeddings(sf_dir)
    chain = u + pq_ctes(
        m=2, n_codes=4, iters=2, k=5, n_queries=4, rerank_factor=4
    )

    def ranked(cte, col):
        return {
            (q, rn): v
            for q, v, rn in con.execute(
                chain
                + f"""
SELECT query_id, vec_id,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY {col} DESC, vec_id) AS rn
FROM {cte} QUALIFY rn <= 5"""
            ).fetchall()
        }

    assert adc == ranked("pq_score", "score")
    assert rr == ranked("pq_rr", "cos")


def test_pq_dim_mismatch_raises(spark):
    """A corpus/query vector whose dimension does not match the
    codebooks' m*sd must fail LOUDLY (round-10 review: a slice() on a
    short vector silently produced null sub-distances and an arbitrary
    argmin code)."""
    from imcs_spark.pipeline import similarity as S

    # m=2 subspaces x sd=4 -> codebook dim 8; vectors are 6-dim
    books = [
        [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
        [[0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]],
    ]
    short = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="pq_encode.*dim"):
        S.pq_encode(short, books).collect()

    ok = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    enc = S.pq_encode(ok, books)
    short_q = short.selectExpr("vec_id AS query_id", "embedding")
    with pytest.raises(ValueError, match="pq_topk.*dim"):
        S.pq_topk(enc, short_q, books, k=1)

    # corpus-side guard (second review pass): codes whose length does
    # not match the codebook count — LONGER codes would otherwise
    # silently score the first m entries against the wrong codebooks
    ok_q = ok.selectExpr("vec_id AS query_id", "embedding")
    bad_codes = spark.createDataFrame(
        [(1, [0, 1, 0, 1])], "vec_id long, codes array<int>"
    )
    with pytest.raises(Exception, match="codes length"):
        S.pq_topk(bad_codes, ok_q, books, k=1).collect()


def test_matrix_kernels_query_batch_cap(spark, sf_dir):
    """Round-13 verdict item 4: the three matrix serves COLLECT the
    query batch to the driver under a documented bounded-queries
    contract — the docstring used to be the only guard, and a
    corpus-scale query side would OOM the driver instead of raising.
    Now max_query_batch (default MAX_QUERY_BATCH) fails loudly, via
    limit(cap+1) so the guard itself never collects the oversized
    batch; <=0 disables the cap for callers owning the risk."""
    from imcs_spark.pipeline import similarity as S

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = corpus.limit(5).selectExpr("vec_id AS query_id", "embedding")
    cents = [[1.0] + [0.0] * 63, [0.0, 1.0] + [0.0] * 62]
    idx = S.ivf_index(corpus, centroids=cents)
    books = [[[0.0] * 4, [1.0] * 4] for _ in range(16)]
    enc = S.pq_encode(corpus, books)
    try:
        for call in (
            lambda q, cap: S.brute_force_topk_matrix(
                corpus, q, k=3, max_query_batch=cap
            ),
            lambda q, cap: S.ivf_topk(
                corpus, q, k=3, n_probe=1, index=idx, max_query_batch=cap
            ),
            lambda q, cap: S.pq_topk(enc, q, books, k=3, max_query_batch=cap),
        ):
            with pytest.raises(ValueError, match="max_query_batch=3"):
                call(queries, 3)
            # a cap at/above the batch passes; <=0 disables
            assert call(queries, 5).count() > 0
            assert call(queries, 0).count() > 0
    finally:
        idx[1].unpersist()


def test_ann_serves_keep_string_ids(spark):
    """The collected-query kernels keep the callers' id types: string
    corpus and query ids flow through ivf_index/ivf_topk (masked and
    full-coverage fallback), pq_encode/pq_topk and
    brute_force_topk_matrix, and the exact forms rank like
    brute_force_topk."""
    import numpy as np

    from imcs_spark.pipeline import similarity as S

    rng = np.random.RandomState(7)
    X = rng.randn(40, 8)
    corpus = spark.createDataFrame(
        [(f"v{i}", X[i].tolist()) for i in range(40)],
        "vec_id string, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(f"q{i}", X[i].tolist()) for i in range(3)],
        "query_id string, embedding array<double>",
    )

    def ranked(df):
        rows = df.collect()
        assert all(isinstance(r.vec_id, str) for r in rows)
        return {(r.query_id, r.rank): r.vec_id for r in rows}

    exact = ranked(S.brute_force_topk(corpus, queries, k=3))
    assert ranked(S.brute_force_topk_matrix(corpus, queries, k=3)) == exact
    idx = S.ivf_index(corpus, n_centroids=4, iters=1)
    books = S.train_pq_codebooks(corpus, m=2, n_codes=4, iters=1)
    try:
        # 3 queries x 4 probes cover all 4 cells: exact fallback
        assert ranked(S.ivf_topk(corpus, queries, k=3, n_probe=4, index=idx)) == exact
        masked = ranked(
            S.ivf_topk(
                corpus, queries, k=3, n_probe=1, index=idx,
                brute_fallback_coverage=None,
            )
        )
        # each query's own vector sits in its nearest cell
        assert all(masked[(f"q{i}", 1)] == f"v{i}" for i in range(3))
        pq = ranked(
            S.pq_topk(
                S.pq_encode(corpus, books), queries, books, k=3,
                rerank=corpus, rerank_factor=14, brute_fallback=False,
            )
        )
        # 42 candidates >= 40 rows: the rerank sees the whole corpus
        assert pq == exact
    finally:
        idx[1].unpersist()


def test_ivf_full_coverage_brute_fallback(spark, sf_dir, monkeypatch):
    """Round-13 verdict item 2: when a query batch's union-of-probes
    covers every cell, the masked matrix serve decodes the whole corpus
    like brute while paying per-cell grouping overhead (0.74x of brute
    recorded at 10M — BENCH_r12), so the default serve falls back to an
    EXACT full matmul over the cached index. Pin: (a) at full coverage
    the default answer equals exact brute force, and the query batch
    is collected once (the fallback reuses it); (b) a point query
    stays on the masked path (results equal the fallback-disabled
    serve); (c) fallback results are never worse — exact recall."""
    from imcs_spark.pipeline import similarity as S

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = S.ivf_index(corpus, n_centroids=8, iters=2)
    collects = []
    collect = S._collect_query_batch

    def counting_collect(*a, **kw):
        collects.append(a[3])
        return collect(*a, **kw)

    try:
        # 12 queries x 3 probes over 8 cells: union covers all 8
        broad = corpus.limit(12).selectExpr("vec_id AS query_id", "embedding")
        monkeypatch.setattr(S, "_collect_query_batch", counting_collect)
        served = S.ivf_topk(corpus, broad, k=5, n_probe=3, index=idx)
        monkeypatch.undo()
        assert collects == ["ivf_topk"]
        got = {(r.query_id, r.rank): r.vec_id for r in served.collect()}
        exact = {
            (r.query_id, r.rank): r.vec_id
            for r in S.brute_force_topk_matrix(corpus, broad, k=5).collect()
        }
        assert got == exact

        # point query probes 3/8 cells — below the full-coverage
        # threshold, identical to the explicitly-masked serve
        q1 = corpus.limit(1).selectExpr("vec_id AS query_id", "embedding")
        masked = lambda cov: {
            (r.query_id, r.rank): r.vec_id
            for r in S.ivf_topk(
                corpus, q1, k=5, n_probe=3, index=idx,
                brute_fallback_coverage=cov,
            ).collect()
        }
        assert masked(1.0) == masked(None)
    finally:
        idx[1].unpersist()


def test_pq_ram_resident_brute_fallback(spark, sf_dir):
    """Round-13 verdict item 2 (PQ side): ADC's serve economics are a
    byte lever that cannot pay when the exact vectors are RAM-resident
    (0.35x of brute recorded at 10M — BENCH_r12), so pq_topk
    with a memory-cached rerank corpus serves exact brute top-k under
    brute_fallback='auto'. Pin: uncached rerank -> 'auto' stays on the
    real ADC+rerank path; cached rerank -> exact answer;
    brute_fallback=False keeps ADC even when cached. (A plan-identical
    re-read of a cached corpus reports useMemory too — Spark's cache
    manager matches by logical plan — so 'auto' correctly treats it as
    RAM-resident; the uncached leg therefore runs BEFORE any persist.)"""
    from imcs_spark.pipeline import similarity as S

    # the >= -1 filter gives this read a logical plan no other test's
    # cached read shares, so the session cache manager cannot make the
    # "uncached" leg RAM-resident behind our back
    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") >= -1
    )
    books = S.train_pq_codebooks(corpus, m=2, n_codes=4, iters=1)
    enc = S.pq_encode(corpus, books).persist()
    queries = corpus.limit(4).selectExpr("vec_id AS query_id", "embedding")

    def run(**kw):
        return {
            (r.query_id, r.rank): r.vec_id
            for r in S.pq_topk(
                enc, queries, books, k=5, rerank=corpus, rerank_factor=4,
                **kw,
            ).collect()
        }

    try:
        adc_before = run()  # corpus not cached: 'auto' must run ADC
        corpus.persist().count()
        auto_cached = run()  # RAM-resident: 'auto' serves exact
        exact = {
            (r.query_id, r.rank): r.vec_id
            for r in S.brute_force_topk_matrix(corpus, queries, k=5).collect()
        }
        assert auto_cached == exact
        assert run(brute_fallback=False) == adc_before
    finally:
        enc.unpersist()
        corpus.unpersist()


def test_pq_topk_cell_pruned_serve_leaves_nothing_cached(spark, sf_dir):
    """The cell-pruned rerank (codes and rerank corpus both carry
    `cell`) reads its candidates once for the probed-cell list and the
    fetch join's broadcast side. It must not leave them cached: a
    second identical serve would otherwise reuse the first serve's
    candidates instead of scanning the codes again. Pruning is exact,
    so the answer equals the unpruned rerank's."""
    from conftest import completed_tasks, persisted_rdd_ids

    from imcs_spark.pipeline import similarity as S

    # the >= -2 filter gives this read a logical plan no other test's
    # cached read shares
    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") >= -2
    )
    books = S.train_pq_codebooks(corpus, m=2, n_codes=4, iters=1)
    cells = corpus.select("vec_id", (F.col("vec_id") % 5).alias("cell"))
    enc = S.pq_encode(corpus, books).join(cells, "vec_id")
    bycell = corpus.join(cells, "vec_id")
    queries = corpus.limit(3).selectExpr("vec_id AS query_id", "embedding")

    def serve(codes, rerank):
        return {
            (r.query_id, r.rank): r.vec_id
            for r in S.pq_topk(
                codes, queries, books, k=5, rerank=rerank, rerank_factor=2,
                brute_fallback=False,
            ).collect()
        }

    before = persisted_rdd_ids(spark)
    runs, answers = [], []
    for i in range(2):
        runs.append(
            completed_tasks(
                spark, lambda: answers.append(serve(enc, bycell)),
                group=f"pq-pruned-serve-{i}",
            )
        )
    assert persisted_rdd_ids(spark) <= before
    assert runs[1] == runs[0], runs
    assert answers[0] == answers[1] == serve(enc.drop("cell"), bycell)


def test_pii_screens_are_necessary_conditions():
    """The r13 Arrow pre-screens (curate._PII_SCREENS) must be
    NECESSARY conditions of the exact patterns: any text the exact
    pattern matches must pass the screen, or redaction would silently
    skip it. Pure-Python check over representative + adversarial
    matches of every category (including minimal compressed IPv6 and
    fully-spaced card digits, the forms most likely to defeat a naive
    digit-run screen)."""
    import pandas as pd

    from imcs_spark.pipeline import curate

    matches = {
        "email": ["a@b.co", "x.y+z%w-q@sub.domain-x.org"],
        "ssn": ["123-45-6789", "x 999-00-0000 y"],
        "ccard": [
            "4111111111111111",
            "4 1 1 1 1 1 1 1 1 1 1 1 1 1 1 1",
            "4111-1111-1111-1111",
        ],
        "phone": ["555-123-4567", "+1-555-123-4567", "+44-555-4567"],
        "ipv4": ["1.2.3.4", "255.255.255.255"],
        "ipv6": [
            "2001:0db8:85a3:0000:0000:8a2e:0370:7334",
            "2001:db8::1",
            "fe80::",
        ],
    }
    for name, texts in matches.items():
        # every sample really matches its exact pattern...
        if name == "ccard":
            pat = curate._ccard_compiled()
        else:
            pat = next(x for x in curate._pii_compiled() if x[0] == name)[1]
        for t in texts:
            assert pat.search(t) is not None, (name, t)
        # ...and every sample passes the screen (plus null-safety)
        s = pd.Series(texts + [None])
        mask = curate._screen_mask(s, name)
        assert mask[: len(texts)].all(), (name, list(mask))
        assert not mask[len(texts)], name
