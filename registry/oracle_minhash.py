"""The engine's MinHash/LSH machinery (pipeline.dedup) recomputed from
scratch as DuckDB SQL, so the streaming near-dedup's kept-set can be a
TRUE cross-engine oracle instead of a pinned measurement.

What is recomputed, bit-for-bit against the Spark implementation
(pipeline/dedup.py):

- token hashes: Spark ``xxhash64(token)`` == XXH64(utf8, seed 42),
  via the validated SQL kernel in :mod:`registry.oracle_xxh64`;
- word-3-gram shingle hashes: the rotate-13/XOR sliding combine of
  ``shingle_hashes`` (missing neighbours take the same golden-ratio
  constant Spark coalesces to);
- the K=32 signature components of ``minhash_signatures``:
  Kirsch-Mitzenmacher double hashing h1 ^ rotl(h2, (11k % 63)+1)
  ^ k*0x9E3779B9 with h2 = xxhash64(shingle-long) — the LONG input
  form of Spark's xxhash64 (one 8-byte tail round + avalanche),
  expressed here in closed form over UHUGEINT mod-2^64 arithmetic;
- signed-long MIN per component (Spark's ``F.min`` orders longs as
  two's complement, so the u64 accumulators convert to BIGINT before
  aggregation).

LSH band membership is compared on the band's SIGNATURE SLICE rather
than on ``band_buckets``' xxhash64 bucket id: two documents share a
bucket exactly when their slice values are equal (the bucket hash
exists only to give the shuffle a single key; a cross-pair xxhash64
collision would break the equivalence with probability ~n²·B/2^64 —
far below the exact-equality gate's noise floor, and it would FAIL
the gate, not silently pass).

The greedy kept-set rule proved equivalent to the streaming operator
(streaming/__init__.py near_dedup_stream) under id-ordered arrival:
a document is dropped iff some band slice it occupies has a
smaller-id occupant (the hub — the cell's first occupant under
id-ordered micro-batches) whose signature-estimated Jaccard reaches
the threshold. tests/test_streaming_sources.py pins the operator to
this rule across batch boundaries.
"""

from __future__ import annotations

from .oracle_xxh64 import M, P1, P2, P3, P4, P5, _mulmod, _rotl, _u, xxh64_ctes

# golden-ratio fill Spark's shingle_hashes coalesces missing gram
# neighbours to (-7046029254386353131 as u64)
_GRAM_FILL = 0x9E3779B97F4A7C15
_KM_STEP = 0x9E3779B9  # per-component decorrelation constant


def _i64(expr: str) -> str:
    """u64 expression -> its two's-complement BIGINT value."""
    return (
        f"((({expr})::HUGEINT - CASE WHEN ({expr}) >= {_u(1 << 63)} "
        f"THEN {1 << 64}::HUGEINT ELSE 0::HUGEINT END)::BIGINT)"
    )


def _xor(a: str, b: str) -> str:
    return f"xor({a}, {b})"


def minhash_kept_ctes(
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    sim_threshold: float = 0.5,
    src: str = "documents",
) -> str:
    """CTE chain from ``{src}(doc_id, text)`` to ``mh_kept(doc_id)`` —
    the greedy near-dedup survivors under the hub rule (see module
    docstring). Requires the enclosing query to be WITH RECURSIVE
    (the xxh64 kernel folds 32-byte stripes recursively)."""
    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")
    rows = num_hashes // bands
    # matches / num_hashes >= threshold, in exact integer arithmetic
    # (the Spark side compares the same rational; *1000000 keeps any
    # reasonable threshold literal exact)
    min_matches_num = f"{int(round(sim_threshold * 1_000_000))} * {num_hashes}"

    # --- shingle hashes (pipeline/dedup.py shingle_hashes) ---
    toks = f"""
mh_toks AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM {src}
),
mh_dtok AS (
  SELECT DISTINCT ws[i] AS s
  FROM mh_toks, UNNEST(generate_series(1, len(ws))) AS t(i)
),{xxh64_ctes("mh_dtok")},
mh_hl AS (
  SELECT e.doc_id, list(x.h ORDER BY e.i) AS hh, COUNT(*) AS n
  FROM (SELECT doc_id, i, ws[i] AS s
        FROM mh_toks, UNNEST(generate_series(1, len(ws))) AS t(i)) e
  JOIN xxh x ON x.s = e.s
  GROUP BY e.doc_id
)"""
    # sliding rotate-13/XOR combine: g = rot(rot(h_i)^h_{i+1})^h_{i+2}
    g = "hh[i]"
    for j in range(1, shingle_n):
        g = _xor(_rotl(g, 13), f"coalesce(hh[i+{j}], {_u(_GRAM_FILL)})")
    grams = f""",
mh_gr AS (
  SELECT doc_id, g
  FROM (SELECT doc_id,
               list_distinct(list_transform(
                 range(1, greatest(n - {shingle_n - 1}, 1) + 1),
                 i -> {g})) AS gs
        FROM mh_hl),
       UNNEST(gs) AS t(g)
)"""
    # --- h2 = xxhash64(shingle-long, seed 42): Spark's LONG-input
    # xxhash64 is one 8-byte tail round + avalanche (closed form) ---
    acc0 = (42 + P5 + 8) % M
    a1 = _xor(_u(acc0), _mulmod(_rotl(_mulmod("g", _u(P2)), 31), _u(P1)))
    h2 = f""",
mh_dg AS (SELECT DISTINCT g FROM mh_gr),
mh_ga AS (SELECT g, (({_mulmod(_rotl(a1, 27), _u(P1))} + {_u(P4)}) % {_u(M)}) AS a FROM mh_dg),
mh_gb AS (SELECT g, {_mulmod(_xor('a', f'a // {_u(1 << 33)}'), _u(P2))} AS a FROM mh_ga),
mh_gc AS (SELECT g, {_mulmod(_xor('a', f'a // {_u(1 << 29)}'), _u(P3))} AS a FROM mh_gb),
mh_gh AS (SELECT g, {_xor('a', f'a // {_u(1 << 32)}')} AS h2 FROM mh_gc),
mh_sh AS (SELECT r.doc_id, r.g, x.h2 FROM mh_gr r JOIN mh_gh x USING (g))"""

    # --- K signed-min components (minhash_signatures) ---
    comps = []
    for k in range(num_hashes):
        r = (k * 11) % 63 + 1
        v = _xor(_xor("g", _rotl("h2", r)), _u((k * _KM_STEP) % M))
        comps.append(f"MIN({_i64(v)}) AS mh{k}")
    sig = f""",
mh_sig AS (
  SELECT doc_id, {', '.join(comps)}
  FROM mh_sh GROUP BY doc_id
)"""

    # --- band slices, hubs, greedy drops ---
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + ", ".join(f"mh{b * rows + r} AS k{r}" for r in range(rows))
        + " FROM mh_sig"
        for b in range(bands)
    )
    slice_cols = ", ".join(f"k{r}" for r in range(rows))
    sim = (
        f"list_sum(list_transform(range(1, {num_hashes} + 1), "
        f"i -> CASE WHEN sa.sl[i] = sb.sl[i] THEN 1 ELSE 0 END))"
    )
    sl = ", ".join(f"mh{k}" for k in range(num_hashes))
    return (
        toks
        + grams
        + h2
        + sig
        + f""",
mh_cells AS ({band_rows}),
mh_hubs AS (
  SELECT band, {slice_cols}, MIN(doc_id) AS hub
  FROM mh_cells GROUP BY ALL
),
mh_sl AS (SELECT doc_id, [{sl}] AS sl FROM mh_sig),
mh_drops AS (
  SELECT DISTINCT c.doc_id
  FROM mh_cells c
  JOIN mh_hubs h USING (band, {slice_cols})
  JOIN mh_sl sa ON sa.doc_id = c.doc_id
  JOIN mh_sl sb ON sb.doc_id = h.hub
  WHERE c.doc_id > h.hub
    AND {sim} * 1000000 >= {min_matches_num}
),
mh_kept AS (
  SELECT doc_id FROM {src}
  WHERE doc_id NOT IN (SELECT doc_id FROM mh_drops)
)"""
    )
