"""Deduplication operators for large-scale corpus curation.

Beyond the reference's surface (it has no document ops); designed for
100 TB corpora:
- exact: hash-groupBy on a content digest — one shuffle of (digest, id),
  never the document bodies.
- MinHash + LSH: shingle → K minhashes → B bands → bucket join.
  Candidate generation touches only (doc_id, band, signature) tuples;
  verification re-computes true Jaccard only for bucket collisions.
- SimHash: 64-bit sign fingerprint of token hashes; near-dups differ in
  few bits. Entirely JVM-side (explode + bit arithmetic + groupBy).
- n-gram Jaccard: exact similarity for candidate pairs via shared-token
  inverted-index join.
- embedding cosine: exact pairwise above a threshold via normalized dot
  product — O(n²) in the worst case, so use only behind an LSH/IVF
  candidate filter at scale (see pipeline.similarity).

All hashes are deterministic (xxhash64 with literal salts), so results
are reproducible across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _normalize(text_col) -> F.Column:
    c = text_col if not isinstance(text_col, str) else F.col(text_col)
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def spread(df: DataFrame, key: str | None = None) -> DataFrame:
    """Ensure per-doc heavy work (shingling, token hashing, vote
    aggregation) runs with at least the session's default parallelism.
    A 100 TB corpus scans as thousands of partitions — no-op there; a
    small/benchmark corpus may scan as ONE partition, serializing all
    downstream narrow transforms through a single core. Repartitions
    only in that case, hashed by `key` (or round-robin), shuffling raw
    rows once before the explode multiplies them."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min(target, 16):
        return df
    return df.repartition(target, key) if key else df.repartition(target)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Exact dedup on normalized content digest; keeps the min (or max)
    id per digest. Returns the surviving rows."""
    if keep not in ("min", "max"):
        raise ValueError(f"exact_dedup: keep must be 'min' or 'max', got {keep!r}")
    # NULL text must not dedup: md5(NULL) is NULL and partitionBy
    # groups all NULL digests together, so a corpus of failed scrapes
    # would silently collapse to ONE survivor. A per-doc fallback
    # digest keeps every NULL-text row (consistent with the minhash/
    # simhash paths, which also keep them).
    digest = F.coalesce(
        F.md5(_normalize(text_col)),
        F.concat(F.lit("_null_text:"), F.col(id_col).cast("string")),
    )
    # r13 measured NEGATIVE result: rewriting this as min(id)-per-digest
    # over a (digest, id) projection + id semi-join back ("decide with
    # small rows", guide §8) planned as agg(2 Exchange) + SortMergeJoin
    # that still shuffled the corpus by id — 2M-doc A/B: window 7.4 s
    # noop vs semi-join 16.6 s (count 4.5 vs 8.0), identical survivor
    # sets. At cluster scale both shapes move the payload exactly once,
    # so the window keeps the local win with no scale downside.
    w = Window.partitionBy("_digest").orderBy(
        F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    )
    return (
        df.withColumn("_digest", digest)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_digest", "_rn")
    )


def shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Word n-gram shingle set per document (distinct), as column
    `shingle`. explode-based: narrow, no shuffle."""
    tokens = F.split(_normalize(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n))
    )
    return df.withColumn("shingle", F.explode(F.array_distinct(sh)))


def shingle_hashes(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Hashed shingle set per document as a long column `shingle` —
    the scale path: tokens are hashed ONCE, an n-gram's hash is a
    rotate-XOR combination of its token hashes, so no shingle strings
    are ever materialized (≈3-4× cheaper than string shingling; hash
    collisions are harmless for minhash/Jaccard estimation).

    Tokenization splits on \\s+ directly instead of _normalize's
    regexp_replace(\\s+ -> " ") + split(" ") — identical token arrays
    (both collapse whitespace runs; trim handles the edges; Java's \\s
    class is the same in both) with one less full-text regex pass.
    Measured r14: the pass was ~15% of the 2M-doc shingle kernel."""
    tokens = F.split(F.lower(F.trim(F.col(text_col) if isinstance(text_col, str) else text_col)), r"\s+")
    out = df.withColumn("_tokh", F.transform(tokens, lambda t: F.xxhash64(t)))
    m = F.greatest(F.size(F.col("_tokh")) - (n - 1), F.lit(1))
    # sliding combine via aligned slices + zip_with (vectorized array
    # ops — per-index element_at lambdas de-optimize to interpreted
    # evaluation and are ~10× slower)
    grams = F.slice(F.col("_tokh"), 1, m)
    for j in range(1, n):
        shifted = F.slice(F.col("_tokh"), j + 1, m)
        grams = F.zip_with(
            grams,
            shifted,
            lambda h, nxt: F.shiftleft(h, 13)
            .bitwiseOR(F.shiftrightunsigned(h, 51))
            .bitwiseXOR(F.coalesce(nxt, F.lit(-7046029254386353131))),
        )
    return out.withColumn("shingle", F.explode(F.array_distinct(grams))).drop("_tokh")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """K minhash values per doc. The K permutations are derived from
    TWO base xxhash64 values per shingle via XOR-rotate mixing
    (Kirsch-Mitzenmacher-style double hashing, bit-ops only so ANSI
    overflow checking never fires) — hashing the string K times would
    be K× the scan cost. One explode + one groupBy(doc) with K
    min-aggregates; partial aggregation keeps the shuffle at K longs
    per doc."""
    if num_hashes > 63:
        # rotations repeat past 63 (rotate-by-64 is identity), which
        # would correlate components; 63 independent hashes banded
        # 9x7 already give tighter S-curves than anyone configures
        raise ValueError("minhash_signatures: num_hashes must be <= 63")
    sh = shingle_hashes(df.select(id_col, text_col), text_col, shingle_n)
    h1 = F.col("shingle")
    h2 = F.xxhash64(F.col("shingle"))
    sh = sh.withColumn("_h1", h1).withColumn("_h2", h2)
    aggs = []
    for k in range(num_hashes):
        # 11 is coprime to 63, so every k < 63 gets a DISTINCT rotation
        # (the old (k*7)%63 had period 9: components k and k+9 shared a
        # rotation and almost always picked the same argmin shingle,
        # collapsing 32 configured hashes to ~9 effective ones)
        r = (k * 11) % 63 + 1
        rot = F.shiftleft("_h2", r).bitwiseOR(F.shiftrightunsigned("_h2", 64 - r))
        aggs.append(F.min(F.col("_h1").bitwiseXOR(rot).bitwiseXOR(F.lit(k * 0x9E3779B9))).alias(f"mh_{k}"))
    return sh.groupBy(id_col).agg(*aggs)


def band_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Explode a minhash signature frame to one (id, band, bucket) row
    per band — bucket = xxhash64 of the band's signature rows + the
    band index. The shared first stage of every LSH consumer (pair
    candidates, streaming near-dedup)."""
    if bands <= 0 or num_hashes % bands != 0:
        # same contract as minhash_lsh_candidates: silent truncation
        # would change the configured S-curve
        raise ValueError(
            f"band_buckets: bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows = num_hashes // bands
    band_cols = [
        F.xxhash64(*[F.col(f"mh_{b * rows + r}") for r in range(rows)], F.lit(b)).alias(
            "bucket"
        )
        for b in range(bands)
    ]
    return signatures.select(
        id_col,
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), band_cols[b]) for b in range(bands)])
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    pair_mode: str = "all",
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature (rows = num_hashes // bands) and emit
    candidate pairs (left_id < right_id) sharing any band bucket.
    Bucket join shuffles only (band, bucket_hash, id).

    Scale controls for the quadratic-bucket hazard — a near-duplicate
    MEGA-cluster (site boilerplate, licence text) lands its c members
    in the same bucket in every band, and the self-join then emits
    bands·c²/2 pairs (c = 10⁷ ⇒ 10¹⁴ pairs — the classic LSH blowup
    at corpus scale):

    - ``pair_mode='star'``: per (band, bucket), pair every member with
      the bucket's MINIMUM id only — O(c) edges per bucket instead of
      O(c²), and the candidate graph's CONNECTIVITY over any true
      near-dup cluster is preserved (all members share the hub), so
      connected-components dedup finds identical clusters. What is
      lost: Jaccard is only ever verified against the hub, so greedy
      pairwise filtering may keep a member whose similarity to the hub
      (but not to some other member) is sub-threshold — the standard
      recall trade every production-scale MinHash pipeline makes.
    - ``max_bucket=N``: drop buckets with more than N members before
      pairing (with 'all' mode, caps worst-case pair count at
      bands·N²/2 per bucket). A dropped mega-bucket usually re-pairs
      through its other, finer bands; run exact_dedup first so truly
      identical docs never reach LSH at all.
    """
    if bands <= 0 or num_hashes % bands != 0:
        # silent truncation would change the configured S-curve, and
        # num_hashes < bands would degenerate to ONE bucket per band
        # for the whole corpus (a fully quadratic self-join)
        raise ValueError(
            f"minhash_lsh_candidates: bands ({bands}) must divide"
            f" num_hashes ({num_hashes})"
        )
    if pair_mode not in ("all", "star"):
        raise ValueError(f"minhash_lsh_candidates: unknown pair_mode {pair_mode!r}")
    stacked = band_buckets(signatures, id_col, num_hashes, bands)
    if max_bucket is not None:
        sizes = stacked.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_bsz")
        )
        stacked = stacked.join(
            sizes.filter(F.col("_bsz") <= max_bucket).drop("_bsz"),
            ["band", "bucket"],
            "left_semi",
        )
    if pair_mode == "star":
        hubs = stacked.groupBy("band", "bucket").agg(
            F.min(id_col).alias("left_id")
        )
        return (
            stacked.join(hubs, ["band", "bucket"])
            .filter(F.col(id_col) > F.col("left_id"))
            .select("left_id", F.col(id_col).alias("right_id"))
            .distinct()
        )
    l = stacked.select(F.col(id_col).alias("left_id"), "band", "bucket")
    r = stacked.select(F.col(id_col).alias("right_id"), "band", "bucket")
    return (
        l.join(r, ["band", "bucket"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """True n-gram Jaccard similarity per pair via inverted-index join
    on shared shingles. With `candidates`, restricted to those pairs
    (semi-join pushdown before the heavy join). `candidates` is read
    twice (doc semi-join + pair semi-join) and nothing is persisted
    here: a caller whose candidate lineage is expensive persists it
    and releases it once the result is materialized (as
    minhash_dedup_cc does)."""
    src = df.select(id_col, text_col)
    if candidates is not None:
        # normalize pair orientation FIRST: the intersection below is
        # only ever computed with left_id < right_id, so an externally
        # built candidate given as (7, 3) would silently vanish from
        # the output (read as "not a duplicate") without this
        candidates = candidates.select(
            F.least("left_id", "right_id").alias("left_id"),
            F.greatest("left_id", "right_id").alias("right_id"),
        )
        # restrict to docs that appear in any candidate pair BEFORE
        # shingling — shingle cost and the inverted-index self-join
        # then scale with candidate count, not corpus size (without
        # this, common shingles blow the join up quadratically).
        cand_docs = (
            candidates.select(F.col("left_id").alias(id_col))
            .unionByName(candidates.select(F.col("right_id").alias(id_col)))
            .distinct()
        )
        src = src.join(F.broadcast(cand_docs), id_col, "left_semi")
    sh = shingle_hashes(src, text_col, shingle_n).select(id_col, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_size"))
    l = sh.select(F.col(id_col).alias("left_id"), "shingle")
    r = sh.select(F.col(id_col).alias("right_id"), "shingle")
    inter = (
        l.join(r, "shingle")
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["left_id", "right_id"], "left_semi")
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "left_id").withColumnRenamed("_size", "_ls"), "left_id")
        .join(sizes.withColumnRenamed(id_col, "right_id").withColumnRenamed("_size", "_rs"), "right_id")
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_ls") + F.col("_rs") - F.col("_inter")),
        )
        .select("left_id", "right_id", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Greedy near-dedup: drop any document having a verified duplicate
    (Jaccard ≥ threshold) with a smaller id. Greedy (non-transitive)
    like most production MinHash dedup; full connected components would
    need an iterative min-propagation join."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    cands = minhash_lsh_candidates(sigs, id_col, num_hashes, bands)
    dups = jaccard_pairs(df, cands, text_col, id_col, shingle_n, jaccard_threshold)
    losers = dups.select(F.col("right_id").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "simhash",
    hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over word tokens — JVM-side only: explode tokens,
    per-bit ±1 votes, sign → bit. Near-duplicate docs have small
    Hamming distance (use F.bit_count(a ^ b) to compare).

    vote_i > 0 ⟺ 2·ones_i > total, so only the ones-count per bit is
    aggregated (no ±1 CASE per bit), and the 64 counters are packed
    into 32 longs of 2 thirty-two-bit lanes each — whole-stage codegen
    compile time scales with aggregate count (65 separate sums cost
    ~2.5 s of janino alone). 32-bit lanes hold < 2^31 tokens per doc
    with no lane-to-lane carry and no signed-long overflow (at exactly
    2^31 tokens the upper lane's packed sum reaches 2^63), so the
    aggregation is safe under spark.sql.ansi.enabled too (16-bit
    lanes crashed ANSI mode past 32,767 tokens when the top lane's
    packed sum exceeded Long.MAX). One groupBy(id): a doc's exploded
    tokens stay partition-local, so map-side partial aggregation
    collapses them before the shuffle — only (id, 33 longs) per doc
    moves, and no extra distinct-token pre-shuffle is needed.

    ``hash='md5'`` derives the 64 token-hash bits from md5 (two 32-bit
    hex words; the high word lands in the long's top half via a
    wrapping shiftleft — Java shifts never ANSI-error) — an algorithm
    every engine shares, so the whole signature and its Hamming
    structure are re-derivable in ANSI SQL (the simhash_pairs oracle
    recomputes them brute-force in DuckDB). xxhash64 stays the scale
    default (one JVM hash call vs md5 + two conv parses per token)."""
    if hash == "md5":
        hi = F.conv(F.substring(F.md5("_tok"), 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(F.md5("_tok"), 9, 8), 16, 10).cast("long")
        h = F.shiftleft(hi, 32).bitwiseOR(lo)
    elif hash == "xxhash64":
        h = F.xxhash64("_tok")
    else:
        raise ValueError(f"simhash: unknown hash {hash!r}")
    hashed = spread(df.select(id_col, text_col), id_col).select(
        id_col, F.explode(F.split(_normalize(text_col), " ")).alias("_tok")
    ).select(id_col, h.alias("_h"))
    packed = []
    for g in range(32):
        lanes = None
        for k in range(2):
            bit = F.shiftright("_h", 32 * k + g).bitwiseAND(F.lit(1))
            lane = F.shiftleft(bit, 32 * k)
            lanes = lane if lanes is None else lanes + lane
        packed.append(F.sum(lanes).alias(f"_p{g}"))
    agg = hashed.groupBy(id_col).agg(*packed, F.count(F.lit(1)).alias("_tot"))
    sig = None
    for i in range(64):
        g, k = i % 32, i // 32
        c = F.shiftrightunsigned(F.col(f"_p{g}"), 32 * k).bitwiseAND(F.lit(0xFFFFFFFF))
        pos = c * 2 > F.col("_tot")
        term = F.when(pos, F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return agg.withColumn(out_col, sig).select(id_col, out_col)


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    blocks: int | None = None,
    hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash, complete recall at ≤ max_hamming.

    Two guaranteed-recall strategies, both pigeonhole-based:

    - exact banding (`blocks` given): split the 64-bit sig into
      `blocks` > max_hamming disjoint bands; ≤ max_hamming differing
      bits can dirty at most max_hamming bands, so some band matches
      exactly. Simple, but high max_hamming forces narrow bands that
      filter poorly: real corpus SimHash bits are far from uniform
      (shared boilerplate skews whole bit positions), so a 6-bit band
      can put thousands of docs in one bucket and the candidate join
      goes quadratic in the hottest bucket.
    - 1-error probing (default for max_hamming ≥ 4, HmSearch-style):
      blocks = ceil((max_hamming+1)/2) wider bands; any distribution
      of ≤ max_hamming errors over that many bands leaves some band
      with ≤ 1 error (all ≥ 2 would need ≥ 2·blocks > max_hamming).
      The probe side explodes each chunk into itself + its width
      1-bit flips and joins the exact-chunk index. Wider chunks (11
      bits at max_hamming=10) cut bucket occupancy ~2^5×, which beats
      the (width+1)× probe fan-out wherever the chunk distribution is
      skewed — 3.7× faster end-to-end on the benchmark corpus with a
      bit-identical result set.

    Join per band shuffles only (band, chunk, id, sig); verification
    (bit_count of the sig XOR) and pair dedup are stream expressions
    after the join — a pair can collide in several bands, so only the
    copy joined on the FIRST qualifying band survives, no distinct()
    shuffle needed."""
    probe_errors = 0
    if blocks is None:
        if max_hamming >= 4:
            probe_errors = 1
            blocks = (max_hamming + 2) // 2  # ceil((max_hamming+1)/2)
        else:
            blocks = max_hamming + 1
    if blocks * (probe_errors + 1) <= max_hamming:
        raise ValueError(
            f"simhash_near_pairs: blocks ({blocks}) with {probe_errors} "
            f"tolerated errors per band cannot guarantee recall at "
            f"max_hamming={max_hamming}"
        )
    blocks = min(blocks, 64)
    # sig feeds both join sides; persist so the token explode +
    # vote aggregation runs once (one long per doc — bounded).
    sig = simhash(df, text_col, id_col, hash=hash).persist()
    base, extra = divmod(64, blocks)
    widths = [base + (1 if b < extra else 0) for b in range(blocks)]
    offsets = [sum(widths[:b]) for b in range(blocks)]

    def chunk_expr(b):
        # a 64-bit band (blocks=1, i.e. max_hamming=0) needs the
        # all-ones mask as -1 — the unsigned literal 2^64-1 overflows
        # the long literal and crashes in py4j
        mask = -1 if widths[b] == 64 else (1 << widths[b]) - 1
        return F.shiftrightunsigned("simhash", offsets[b]).bitwiseAND(F.lit(mask))

    exact = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), chunk_expr(b).alias("chunk"))
                    for b in range(blocks)
                ]
            )
        ).alias("bc"),
    ).select(id_col, "simhash", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    if probe_errors:
        probe_structs = []
        for b in range(blocks):
            c = chunk_expr(b)
            probe_structs.append(F.struct(F.lit(b).alias("band"), c.alias("chunk")))
            for j in range(widths[b]):
                probe_structs.append(
                    F.struct(
                        F.lit(b).alias("band"),
                        # bit 63 as a signed-long literal (1<<63
                        # overflows; -(1<<63) is the same bit pattern)
                        c.bitwiseXOR(
                            F.lit((1 << j) if j < 63 else -(1 << 63))
                        ).alias("chunk"),
                    )
                )
        probes = sig.select(
            id_col,
            "simhash",
            F.explode(F.array(*probe_structs)).alias("bc"),
        ).select(
            id_col, "simhash", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk")
        )
    else:
        probes = exact
    l = probes.select(
        F.col(id_col).alias("left_id"), F.col("simhash").alias("_lsig"), "band", "chunk"
    )
    r = exact.select(
        F.col(id_col).alias("right_id"), F.col("simhash").alias("_rsig"), "band", "chunk"
    )
    # Pair dedup without a shuffle: keep only the copy joined on the
    # first band whose per-band Hamming ≤ probe_errors. Within a band
    # the probing join matches exactly one (probe, exact) combination
    # — the exact chunk when the band agrees, the single matching flip
    # when it differs by one bit — so no within-band duplicates either.
    xor = F.col("_lsig").bitwiseXOR(F.col("_rsig"))
    band_ok = [
        F.bit_count(
            F.shiftrightunsigned(xor, offsets[b]).bitwiseAND(
                F.lit(-1 if widths[b] == 64 else (1 << widths[b]) - 1)
            )
        )
        <= probe_errors
        for b in range(blocks)
    ]
    first_band = F.lit(blocks)
    for b in range(blocks - 1, -1, -1):
        first_band = F.when(band_ok[b], F.lit(b)).otherwise(first_band)
    pairs = (
        l.join(r, ["band", "chunk"])
        .filter(F.col("left_id") < F.col("right_id"))
        .filter(F.col("band") == first_band)
        .withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select("left_id", "right_id", "hamming")
    )
    return pairs


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact cosine near-dup pairs above threshold. Normalizes, then
    pairwise dot via join — quadratic; at scale use
    :func:`embedding_near_dups_lsh`, which gates the same exact filter
    behind an LSH bucket join."""
    # normalization (incl. the zero-norm guard) lives ONCE in
    # similarity._unit — an inline copy here had already started to
    # drift from the shared convention
    from .similarity import _unit

    unit = df.select(id_col, _unit(vec_col).alias("_unit"))
    l = unit.select(F.col(id_col).alias("left_id"), F.col("_unit").alias("_lv"))
    r = unit.select(F.col(id_col).alias("right_id"), F.col("_unit").alias("_rv"))
    return (
        l.crossJoin(r)
        .filter(F.col("left_id") < F.col("right_id"))
        .withColumn(
            "cosine",
            F.aggregate(
                F.zip_with("_lv", "_rv", lambda a, b: a * b),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("left_id", "right_id", "cosine")
    )


def embedding_near_dups_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    multi_probe: int = 2,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding cosine near-dup pairs gated behind random-hyperplane
    LSH — the scale path :func:`embedding_near_dups` tells callers to
    use. Both sides carry their sign-bit bucket; the probe side also
    explodes into every bucket within Hamming radius ``multi_probe``,
    the join is an equi-join on bucket, and the exact cosine filter
    runs only inside colliding buckets. Shuffle is (bucket, id, vec) —
    a vanishing fraction of the n² cross product. Each qualifying pair
    matches through exactly ONE probe mask (the XOR of the two bucket
    ids), so no distinct() pass is needed.

    Recall: a pair is seen iff its buckets differ in ≤ multi_probe sign
    bits; P[one plane separates] = angle/π ≈ 0.10 at cosine 0.95, so
    missing >2 of 8 planes is rare (~3%); raise multi_probe or re-run
    with another seed for provable-recall unions."""
    from itertools import combinations

    from .similarity import dot_udf, hyperplanes, unit_bucket_udf

    if dim is None:
        probe = df.select(vec_col).first()
        if probe is None or probe[0] is None:
            raise ValueError(
                "cannot infer embedding dim from an empty frame or NULL"
                " first vector; pass dim= explicitly"
            )
        dim = len(probe[0])
    planes = hyperplanes(dim, n_planes, seed)
    # Arrow-batched normalize+bucket (see similarity.unit_bucket_udf):
    # one numpy matmul per batch instead of n_planes interpreted HOF
    # chains per row and an n_planes×dim-literal plan.
    ub = unit_bucket_udf(planes)
    # Materialize (id, unit, bucket) ONCE: four downstream branches
    # (probe fan-out, build side, two vector fetches) would otherwise
    # each re-run the normalize+bucket pass over the full corpus. Same
    # persist-the-index discipline as lsh_index/ivf_index; size is one
    # vector + two longs per row.
    unit = (
        df.select(id_col, ub(F.col(vec_col)).alias("_ub"))
        .select(id_col, F.col("_ub.u").alias("_u"), F.col("_ub.b").alias("_b"))
        .persist()
    )
    _dot = dot_udf()
    masks = [0]
    for r in range(1, min(multi_probe, n_planes) + 1):
        for bits in combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))
    # Candidate generation moves ONLY (id, bucket) — the probe fan-out
    # would otherwise ship the vector ×(1 + Σ C(n_planes, ≤r)) copies
    # through the shuffle. Vectors are re-attached to the (small)
    # surviving candidate set afterwards; at scale the candidates are a
    # vanishing fraction of corpus × probe width, so two id-joins are
    # far cheaper than a 37×-wide vector explode.
    lk = unit.select(
        F.col(id_col).alias("left_id"),
        F.explode(F.array(*[F.col("_b").bitwiseXOR(F.lit(m)) for m in masks])).alias(
            "bucket"
        ),
    )
    rk = unit.select(F.col(id_col).alias("right_id"), F.col("_b").alias("bucket"))
    cand = (
        lk.join(rk, "bucket")
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
    )
    lv = unit.select(F.col(id_col).alias("left_id"), F.col("_u").alias("_lu"))
    rv = unit.select(F.col(id_col).alias("right_id"), F.col("_u").alias("_ru"))
    return (
        cand.join(lv, "left_id")
        .join(rv, "right_id")
        .withColumn("cosine", _dot("_lu", "_ru"))
        .filter(F.col("cosine") >= threshold)
        .select("left_id", "right_id", "cosine")
    )


def _driver_union_find(rows, spark, node_type: str) -> DataFrame:
    """Union-find with path compression over a collected edge list.
    Roots are kept at the component minimum by always attaching the
    larger root under the smaller, so no relabeling pass is needed."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
        parent.setdefault(a, find(a))
        parent.setdefault(b, find(b))
    out = [(n, find(n)) for n in parent]
    return spark.createDataFrame(out, f"node {node_type}, comp {node_type}")


def connected_components(
    pairs: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
    max_iter: int = 25,
    driver_cutoff: int = 500_000,
) -> DataFrame:
    """Connected components over an undirected pair list by iterative
    min-label propagation: every node starts labeled with its own id;
    each round takes the min of its label and its neighbors' labels;
    at fixpoint the label is the component's minimum node id. Returns
    (node, component) for every node that appears in a pair —
    singletons are trivially their own component and never enter the
    edge list, so callers union them back if needed.

    Scale shape: one equi-join + one groupBy per round, both shuffling
    on node id; rounds = O(component diameter). Near-dup clusters are
    dense and shallow (diameter 2-4), so plain propagation beats the
    round-compressed large-star/small-star variants that pay double
    joins per round to handle long chains. Each round's labels are
    eagerly localCheckpoint()ed: iterative self-joins otherwise chain
    every round's plan into the next (unpersisting round N-1 before
    round N materializes re-executes the whole history — quadratic),
    and checkpointing truncates the lineage so round N reads only
    round N-1's cached blocks. On a real cluster swap localCheckpoint
    for checkpoint(dir) — local blocks aren't fault-tolerant.

    Adaptive small-graph path: the edge list is the *verified
    near-duplicate* set — orders of magnitude smaller than the corpus
    (bucket collisions that survived exact-Jaccard verification). When
    it fits comfortably on the driver (≤ driver_cutoff edges, ~tens of
    MB) a single collect + union-find beats launching 3-4 distributed
    join rounds of cluster-wide barriers — the same small-graph cutoff
    production CC implementations use. Above the cutoff (billions of
    edges at 100 TB) the iterative path runs; pass driver_cutoff=0 to
    force it."""
    e = pairs.select(F.col(left_col).alias("a"), F.col(right_col).alias("b"))
    if driver_cutoff:
        # limit-probe instead of count(): don't pay a full pass over a
        # huge edge list just to learn it is huge.
        probe = e.limit(driver_cutoff + 1).collect()
        if len(probe) <= driver_cutoff:
            node_type = e.schema["a"].dataType.simpleString()
            return _driver_union_find(
                [(r["a"], r["b"]) for r in probe], pairs.sparkSession, node_type
            )
    edges = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("a").alias("node")).distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    if max_iter < 1:
        raise ValueError(f"connected_components: max_iter must be >= 1, got {max_iter}")
    prev = None
    changed = -1  # set by every loop iteration; read by the else branch
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .select(F.col("a").alias("node"), "comp")
            .groupBy("node")
            .agg(F.min("comp").alias("_nmin"))
        )
        merged = (
            labels.withColumnRenamed("comp", "_old")
            .join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("_old"), F.coalesce("_nmin", F.col("_old"))).alias("comp"),
                "_old",
            )
            .localCheckpoint()  # eager: materializes + cuts lineage here
        )
        changed = merged.filter(F.col("comp") != F.col("_old")).count()
        if prev is not None:
            prev.unpersist()
        prev = merged
        labels = merged.select("node", "comp")
        if changed == 0:
            break
    else:
        # exhausting max_iter with labels still moving means some
        # component is only partially collapsed — returning silently
        # would keep multiple "survivors" per component downstream
        edges.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
            f" ({changed} labels still changing); the duplicate graph has"
            " a component with diameter > max_iter — raise max_iter"
        )
    edges.unpersist()
    return labels


def minhash_dedup_cc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Transitive near-dedup: one surviving document per CONNECTED
    COMPONENT of the verified-duplicate graph (minimum id wins) — the
    complete answer where minhash_dedup's greedy pass is order-
    dependent across chains (a~b, b~c, a!~c keeps {a, c} greedily but
    only {a} here).

    The LSH candidate pairs are persisted for the verification join,
    which reads them twice, and released before returning: neither
    connected_components path leaves the result depending on them (the
    driver union-find builds a local frame, the iterative one
    checkpoints its labels)."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    cands = minhash_lsh_candidates(sigs, id_col, num_hashes, bands).persist()
    try:
        dups = jaccard_pairs(df, cands, text_col, id_col, shingle_n, jaccard_threshold)
        comp = connected_components(dups)
    finally:
        cands.unpersist()
    losers = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
