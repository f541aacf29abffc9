"""Text analysis for training-data curation: language ID, quality
scoring, token counting, fingerprinting.

All pure Column expressions (JVM, codegen) — no Python in the hot
path; at 100 TB these run as narrow map stages over the corpus with
zero shuffle.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints (PEP 563 strings)

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal function-word lists for the n-gram/stopword language
# heuristic. Deliberately tiny: the signal is presence of very frequent
# function words; good enough for coarse routing, deterministic.
_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "es", "por"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "une", "est", "pour"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "ein", "eine", "nicht"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "人", "这"],
}

_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def _tokens(text_col) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")


def _ws_token_count(c: Column) -> Column:
    """``size(_tokens(c))`` as one JVM regexp_count: tokens are exactly
    the maximal ``\\S+`` runs (the split+filter array form built the
    array only to take its size; counts are equal by construction —
    empty/whitespace-only/NULL included: no runs -> 0, NULL -> NULL).
    Lower/trim don't change run counts, so the raw column is scanned."""
    return F.regexp_count(c, F.lit(r"\S+"))


def token_count(text_col: str = "text", mode: str = "whitespace") -> Column:
    """Token count: whitespace words, or a BPE-ish regex segmentation
    (letters / digits / single punctuation — a proxy for subword
    tokenizer cost accounting)."""
    if mode == "whitespace":
        c = F.col(text_col) if isinstance(text_col, str) else text_col
        return _ws_token_count(c)
    if mode != "bpe":
        # a typo'd mode silently fell through to the BPE path and
        # returned materially different counts
        raise ValueError(f"token_count: unknown mode {mode!r}")
    # Count matches of _BPE_ISH without materializing them (guide §2.3
    # narrow-the-work): collapse every letter run to 'a' and every
    # digit run to '0' — runs are maximal and the three alternation
    # classes are disjoint, so afterwards EVERY match is exactly one
    # non-space char — then count non-space chars. Equal to
    # size(regexp_extract_all(_BPE_ISH)) by construction (verified 0
    # mismatches over the 2M-doc corpus); 6x faster at 2M docs
    # (16.1 s -> 2.7 s) because no per-match string array is built.
    return F.regexp_count(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), "[A-Za-z]+", "a"),
            "[0-9]+",
            "0",
        ),
        F.lit(r"\S"),
    )


def _lang_counts(text_col) -> Column:
    """Struct of per-language stopword occurrence counts, computed in
    ONE aggregate pass over the token array. One filter+size per
    language reads fine but inlines the tokenization subtree per
    language and allocates an intermediate array each — the bigger
    expression tree also bloats generated code (compile time is a real
    per-query cost). Counts multiplicity, like the filter formulation
    (set-wise array_intersect would not).

    r13 measured NEGATIVE results, both at the 2M-doc soak:
    - a packed-long variant (one literal map lookup per token, 12-bit
      count field per language, plain long sum) times at 3.3 s vs
      4.9 s for this struct aggregate when the packed value is
      referenced ONCE — but unpacking 5 fields references the
      aggregate 5x, and interpreted HOFs get no common-subexpression
      elimination, so the decoded form measured 27 s.
    - five per-language regexp_counts of a complete-token alternation
      (``(^|\\s)(?:w1|...)(?=\\s|$)`` over the lowered text — counts
      proven bit-equal): 8.1 s vs 5.2 s for this single-pass aggregate.
      Interleaving five compiled java.util.regex programs per row
      defeats Pattern.match specialization (the same pathology the
      round-8 PII measurement pinned); regexp_count only beats the
      array forms for RARE single-char classes (punct, CJK), not for
      multi-pattern token counting. Kept the struct aggregate."""
    toks = _tokens(text_col)
    langs = list(_STOPWORDS)
    init = F.struct(*[F.lit(0).alias(lang) for lang in langs])
    counts = F.aggregate(
        toks,
        init,
        lambda acc, t: F.struct(
            *[
                (acc[lang] + t.isin(_STOPWORDS[lang]).cast("int")).alias(lang)
                for lang in langs
            ]
        ),
    )
    return counts


def lang_id(text_col: str = "text", default: str = "unknown", min_score: float = 0.0) -> Column:
    """Argmax language over stopword-hit ratios; `default` when no
    language scores above min_score. Ratios share one denominator, so
    the argmax (score, then language string on ties) is identical to
    the per-ratio formulation."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # CJK script detection must run at the CHARACTER level: real
    # Chinese text has no whitespace between words, so the token-based
    # zh stopword ratio can never fire on unsegmented input. The signal
    # joins the candidate array as a dominating zh entry (score 9 when
    # over a third of the characters are CJK ideographs) rather than an
    # outer when() — wrapping the argmax in another conditional pushed
    # the generated code past the codegen method limit and ran the
    # whole expression interpreted (~4x slower at sf0.1).
    # regexp_count of the class == length after deleting its complement
    # (same char set) without building the stripped string — the same
    # rewrite as punct_ratio (r13), counts bit-equal (and 2.2 -> 0.5 s
    # at the 2M soak: the class is rare there, so count-per-match wins).
    n_chars = F.greatest(F.length(c), F.lit(1))
    cjk_ratio = F.regexp_count(c, F.lit(r"[一-鿿]")).cast("bigint") / n_chars
    zh_entry = F.struct(
        F.when(cjk_ratio > 0.33, F.lit(9.0)).otherwise(F.lit(-1.0)).alias("s"),
        F.lit("zh").alias("l"),
    )
    # The scores/argmax/threshold all run inside the count aggregate's
    # FINISH lambda (r13): the old shape referenced counts[lang] once
    # per language and best twice more, so the token-array aggregate
    # re-evaluated per reference (interpreted HOFs get at best partial
    # subexpression reuse). Measured at the 2M-doc soak: 9.9 s old ->
    # 6.9 s this one-evaluation shape (equality proven per-row over
    # 4 corpora x 3 parameter sets incl. NULL/empty/CJK edges).
    # Inside finish, `acc` is a BOUND value — referencing its fields is
    # free — and the token count rides in the accumulator (`n` field,
    # +1 per non-empty token == size(toks), so ratios are unchanged).
    # The small 6-entry array_max is built twice (once for the
    # threshold test, once for the label) over bound values; only
    # zh_entry's cjk regexp_count is duplicated by that, not the
    # aggregate. Argmax algebra identical -> results identical (NULL
    # text: aggregate(NULL) is NULL before finish -> when() falls to
    # the default, exactly like the old NULL-scores path).
    toks = _tokens(text_col)
    langs = list(_STOPWORDS)
    init = F.struct(*[F.lit(0).alias(lang) for lang in langs], F.lit(0).alias("n"))

    def _entries(acc):
        nn = F.greatest(acc["n"], F.lit(1))
        return F.array_max(
            F.array(
                *[
                    F.struct((acc[lang] / nn).alias("s"), F.lit(lang).alias("l"))
                    for lang in langs
                ],
                zh_entry,
            )
        )

    agg = F.aggregate(
        toks,
        init,
        lambda acc, t: F.struct(
            *[
                (acc[lang] + t.isin(_STOPWORDS[lang]).cast("int")).alias(lang)
                for lang in langs
            ],
            (acc["n"] + 1).alias("n"),
        ),
        lambda acc: F.when(
            _entries(acc)["s"] > min_score, _entries(acc)["l"]
        ).otherwise(F.lit(default)),
    )
    # NULL text: the aggregate is NULL before finish runs, but the old
    # shape scored it as best = (-1.0, 'zh') (all stopword scores NULL,
    # the cjk entry's otherwise(-1.0) the only non-NULL) -> 'zh' only
    # when min_score < -1.0, else the default. min_score is a plain
    # Python float, so that branch folds at build time.
    null_result = "zh" if min_score < -1.0 else default
    c2 = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.when(c2.isNull(), F.lit(null_result)).otherwise(agg)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features: length, word stats, punctuation and
    stopword ratios, uppercase ratio, digit ratio."""
    c = F.col(text_col)
    toks = _tokens(text_col)
    n_chars = F.length(c)
    # n_words as one JVM regexp_count (r13): maximal \S+ runs == the
    # non-empty split tokens, counts proven bit-equal per-row over the
    # 2M corpus + adversarial set; skips one array allocation per row
    # (each HOF consumer below re-tokenizes anyway — interpreted HOFs
    # get no common-subexpression elimination).
    # Measured r13 NEGATIVE results, kept as the array forms below:
    # regexp_count(\S) for the mean_word_len numerator (4.6 s vs 2.0 s
    # at 2M — one regex match PER CHARACTER), a complete-token
    # alternation for stop_en (2.3 vs 2.2 — wash), and
    # regexp_count([0-9]) for digit_ratio (6.6 s vs 1.9 s on the
    # digit-heavy soak corpus — count-per-match only beats
    # replace-and-measure for RARE classes like punct/CJK).
    n_words = _ws_token_count(c)
    stop_en = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS["en"])))
    return (
        df.withColumn("n_chars_q", n_chars)
        .withColumn("n_words", n_words)
        .withColumn(
            "mean_word_len",
            F.when(n_words > 0, (F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)) / n_words).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "punct_ratio",
            # regexp_count of the class == length after deleting its
            # complement (same char set), without building the stripped
            # string: 2.1 s -> 0.35 s at 2M docs (r13)
            F.regexp_count(c, F.lit(r"[\.,;:!\?\"'\(\)]")).cast("bigint")
            / F.greatest(n_chars, F.lit(1)),
        )
        .withColumn("stopword_ratio", stop_en / F.greatest(n_words, F.lit(1)))
        .withColumn(
            "digit_ratio",
            F.length(F.regexp_replace(c, r"[^0-9]", "")) / F.greatest(n_chars, F.lit(1)),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text", out_col: str = "quality") -> DataFrame:
    """Composite [0,1] quality score: length sweet-spot, sane word
    length, some stopwords, low digit/punct noise — a Gopher-rules-like
    linear blend, fully declarative."""
    feats = quality_features(df, text_col)
    len_ok = F.when(
        (F.col("n_words") >= 10) & (F.col("n_words") <= 100000), F.lit(1.0)
    ).otherwise(F.lit(0.3))
    wlen_ok = F.when(
        (F.col("mean_word_len") >= 2) & (F.col("mean_word_len") <= 12), F.lit(1.0)
    ).otherwise(F.lit(0.3))
    stop_ok = F.least(F.col("stopword_ratio") * 5, F.lit(1.0))
    noise = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.col("digit_ratio") * 2 - F.col("punct_ratio")
    )
    return feats.withColumn(
        out_col, (len_ok * 0.3 + wlen_ok * 0.2 + stop_ok * 0.2 + noise * 0.3)
    )


def fingerprint(
    text_col: str = "text",
    window: int = 8,
    hash: str = "xxhash64",
) -> Column:
    """Document fingerprint: minimum of rolling window-gram hashes over
    the token stream (winnowing-style min-sampling, deterministic).
    Equal fingerprints → high overlap candidates.

    ``hash='xxhash64'`` (default, the scale path): tokens are hashed
    ONCE on the JVM (xxhash64 — no window-gram strings are ever
    materialized); the rotate-XOR window combine and the min run as
    ONE Arrow-batched numpy pass per document instead of window-1
    interpreted zip_with layers (higher-order functions never enter
    whole-stage codegen, so at 8×~200 tokens the HOF tree spent ~1M
    interpreted lambda evaluations per 5k docs). uint64 shifts in
    numpy are bit-identical to the JVM's shiftleft /
    shiftrightunsigned / XOR on long, and the min compares the int64
    view, matching array_min over signed longs. Documents shorter than
    one window hash their whole token stream (JVM branch, unchanged).

    ``hash='md5'`` (the cross-engine oracle path): each TOKEN is
    hashed once with the first 48 bits of md5 — an algorithm every
    engine shares bit-for-bit — and windows combine with the same
    rotate-XOR fold (13-bit rotate within 48 bits, overflow-safe in
    BIGINT engines), so the whole fingerprint is re-derivable in ANSI
    SQL: rotation is linear over XOR, hence the fold equals the 8-term
    closed form XOR_j rot^(w-1-j)(h[i+j]) the driver oracle evaluates
    in DuckDB. Same one-numpy-pass shape as the default path."""
    if hash not in ("xxhash64", "md5"):
        raise ValueError(f"fingerprint: unknown hash {hash!r}")
    from pyspark.sql.functions import pandas_udf

    toks = _tokens(text_col)
    size = F.size(toks)
    if hash == "md5":
        tokh = F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long"),
        )
        mask = (1 << 48) - 1
        rot_l, rot_r = 13, 48 - 13
        whole = F.conv(
            F.substring(F.md5(F.concat_ws(" ", toks)), 1, 12), 16, 10
        ).cast("long")
    else:
        tokh = F.transform(toks, lambda t: F.xxhash64(t))
        mask = (1 << 64) - 1
        rot_l, rot_r = 13, 64 - 13
        whole = F.xxhash64(F.concat_ws(" ", toks))

    @pandas_udf("long")
    def gram_min(hashes: pd.Series) -> pd.Series:
        import numpy as np

        w = window
        m = np.uint64(mask)
        rl, rr = np.uint64(rot_l), np.uint64(rot_r)
        out = np.zeros(len(hashes), dtype="int64")
        for i, arr in enumerate(hashes):
            if arr is None:
                continue
            h = np.asarray(arr, dtype="int64").view("uint64")
            if h.size < w:  # short-doc rows use the JVM branch's value
                continue
            g = h
            for k in range(1, w):
                head = g[: h.size - k]
                g = (((head << rl) & m) | (head >> rr)) ^ h[k:]
            out[i] = g.view("int64").min()
        return pd.Series(out)

    return F.when(size >= window, gram_min(tokh)).otherwise(whole)
