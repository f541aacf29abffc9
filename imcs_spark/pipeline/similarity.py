"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k — broadcast the (small) query
  set against the corpus, dot products via higher-order functions
  (JVM-side), per-query top-k as a rank-limit. The baseline and the
  verifier for approximate paths; brute_force_topk_matrix is its
  per-Arrow-batch matmul sibling, the exact kernel at scale.
- lsh_topk: random-hyperplane LSH — bucket corpus and queries by sign
  bits (deterministic seeded planes), search only matching buckets
  (optionally multi-probe neighboring buckets), exact re-rank inside.
  At 100 TB the bucket join replaces the full cross product; recall is
  tunable by planes/probes.
- ivf_topk: coarse spherical-k-means cells, each query probes its
  n_probe nearest cells, exact cosine re-rank inside — the
  corpus-fraction scan trade.
- pq_topk over pq_encode/train_pq_codebooks: product quantization —
  the memory trade: m small codes per vector instead of dim floats
  (12.8x smaller on disk at 64-dim/16-sub, measured), ADC scoring +
  exact re-rank of the candidate budget.

Each ANN stage — IVF assignment and serving, PQ encoding and serving —
has ONE kernel: numpy per Arrow batch (mapInPandas), with the bounded
query batch collected to the driver. IVF and PQ training additionally
have an ORACLE-GRADE sequential kernel (fixed-order left folds) that
DuckDB recomputes bit-identically (registry/oracle_ivf.py and
registry/oracle_pq.py), so the ann_recall driver legs are true
cross-engine checks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — resolves pandas_udf type hints (PEP 563 strings)

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _unit(vec_col: str):
    norm = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + (x * x).cast("double")))
    # zero-norm guard: dividing by 0 yields NULL components (and NULL
    # cosines that pad top-k outputs as ranked matches); treating the
    # norm as 1 keeps the vector all-zero → cosine 0, matching the
    # Arrow path's unit_bucket_udf (norms[norms == 0] = 1.0)
    safe = F.when(norm == 0, F.lit(1.0)).otherwise(norm)
    return F.transform(vec_col, lambda x: x.cast("double") / safe)


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


#: default driver-side cap for collected query batches (see
#: _collect_query_batch). 10k queries x 64 float64 ≈ 5 MB — far below
#: any driver heap, far above every recorded serve batch (50).
MAX_QUERY_BATCH = 10_000


def _collect_query_batch(
    queries: DataFrame, query_id_col: str, vec_col: str, caller: str,
    max_query_batch: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Collect the bounded query batch to the driver as (ids, unit
    query matrix), enforcing the bounded-queries contract LOUDLY
    (round-13 verdict item 4): the docstring promise was previously the
    only guard, and a corpus-scale query side would OOM the driver at
    100x instead of raising. collect() goes through limit(cap + 1), so
    the guard itself never materializes an unbounded batch on the
    driver before failing. Pass max_query_batch <= 0 to disable (caller
    explicitly owns the driver-memory risk)."""
    sel = queries.select(query_id_col, vec_col)
    if max_query_batch > 0:
        qrows = sel.limit(max_query_batch + 1).collect()
        if len(qrows) > max_query_batch:
            raise ValueError(
                f"{caller}: query batch exceeds max_query_batch="
                f"{max_query_batch} — the kernel collects the query side"
                " to the driver (bounded-queries contract). Raise"
                " max_query_batch explicitly for a larger bounded batch."
            )
    else:
        qrows = sel.collect()
    if not qrows:
        raise ValueError(f"{caller}: empty query batch")
    q_ids = np.array([r[0] for r in qrows])
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    return q_ids, Q / qn[:, None]


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    rank_decimals: int | None = None,
) -> DataFrame:
    """Exact cosine top-k per query. The query side is broadcast —
    the corpus is never shuffled; per-corpus-partition partial top-k
    then global top-k per query (rank-limit). `rank_decimals` orders
    by the ROUNDED cosine (ties broken by id) instead of the raw
    double: cross-engine comparisons should use it so a 1-ULP
    accumulation difference between engines at a top-k boundary
    cannot flip the ranking — raw doubles stay the default for
    in-engine use."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qv")
    ).withColumn("_qu", _unit("_qv")).drop("_qv")
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cv")).withColumn(
        "_cu", _unit("_cv")
    ).drop("_cv")
    scored = c.join(F.broadcast(q)).withColumn("cosine", _dot("_cu", "_qu"))
    rank_key = (
        F.col("cosine")
        if rank_decimals is None
        else F.round("cosine", rank_decimals)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        rank_key.desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(query_id_col, id_col, "cosine", F.col("_rn").alias("rank"))
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = round(x_i / scale) ∈ [-127, 127] stored as array<tinyint> —
    4-8x smaller than float32/float64 on disk and across shuffles,
    and at 100 TB the embedding column IS the IO bill. Cosine is
    scale-invariant, so similarity ranking over the int8 codes equals
    ranking over the dequantized vectors exactly; the quantization
    error only perturbs the scores themselves (bounded by scale/2 per
    component). Zero vectors quantize to zeros with scale 0. Pure
    Column expressions (transform/array_max) — no UDF, no shuffle.
    The scale is materialized as its own column FIRST and the
    transform lambda references that column: higher-order functions
    are interpreted per element with no subexpression hoisting, so
    embedding the array_max reduction inside the lambda would
    recompute it for every component — O(d^2) per row on exactly the
    column this operator exists to shrink."""
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    out = df.withColumn(scale_col, (amax / F.lit(127.0)).cast("double"))
    s = F.col(scale_col)
    q = F.when(
        s == 0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))
    ).otherwise(
        F.transform(v, lambda x: F.round(x.cast("double") / s).cast("tinyint"))
    )
    return out.withColumn(q_col, q)


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "qvec",
    scale_col: str = "qscale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of quantize_embeddings: x̂_i = q_i * scale (array of
    doubles). round(x/s)*s is the value the oracles recompute, so
    quantized similarity legs stay engine-exact (integer products and
    sums are exact in doubles at this range)."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)
        ),
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def _d(x: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-tripping
    decimal form and both Python and the SQL parser parse it
    correctly-rounded, so the parsed plan carries bit-identical
    doubles to the F.lit() form."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _dot_lit_sql(vec_col: str, values: list[float]) -> str:
    """SQL text of the SAME sequential-fold dot product _dot() builds
    (aggregate over zip_with — identical Catalyst nodes, identical
    accumulation order, so results stay bit-exact with the DuckDB
    oracles that reproduce that fold). Built as ONE parsed string
    because constructing it Column-by-Column costs ~4 py4j round
    trips per literal — ~1.5 s of pure driver time per query at
    8 planes x 64 dims before a single row moves."""
    arr = "array(" + ", ".join(_d(x) for x in values) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> x * y),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def bucket_ids(vec_col: str, planes: list[list[float]]):
    """Sign-bit bucket id from dot products with fixed hyperplanes —
    pure (parsed) Column expression, the planes are literals in the
    plan; semantics identical to the historical Column-built form."""
    bits = " + ".join(
        f"(CASE WHEN {_dot_lit_sql(vec_col, p)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return F.expr(f"CAST({bits} AS BIGINT)")


def unit_bucket_udf(planes: list[list[float]]):
    """Arrow-batched (unit vector, sign-bucket) computation: one numpy
    matmul per batch replaces n_planes interpreted aggregate/zip_with
    chains per row AND the n_planes×dim-literal expression tree that
    Catalyst would otherwise carry through analysis/optimization (the
    pure-Column bucket_ids costs ~1 s of driver time per query at
    8×64 literals before a single row moves). Same documented
    Pandas-UDF escape hatch as train_ivf_centroids — vector math at
    width ≥ ~32 is where Arrow+BLAS beats interpreted HOFs ~100×."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64).T  # dim × n_planes
    weights = (1 << np.arange(P.shape[1])).astype(np.int64)

    @pandas_udf("struct<u: array<double>, b: bigint>")
    def f(v: pd.Series) -> pd.DataFrame:
        if not len(v):
            return pd.DataFrame({"u": [], "b": []})
        # NULL / wrong-length embeddings get a NULL row instead of an
        # opaque np.stack shape crash that fails the whole stage (the
        # Column paths _unit/bucket_ids propagate NULL; the Arrow path
        # must match)
        dim = P.shape[0]
        arrs = [None if x is None else np.asarray(x, dtype=np.float64) for x in v]
        ok = np.array(
            [a is not None and a.ndim == 1 and len(a) == dim for a in arrs]
        )
        u_out = [None] * len(arrs)
        b_out = [None] * len(arrs)
        if ok.any():
            X = np.stack([a for a, good in zip(arrs, ok) if good])
            norms = np.linalg.norm(X, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            U = X / norms
            b = ((U @ P >= 0) * weights).sum(axis=1)
            j = 0
            for i, good in enumerate(ok):
                if good:
                    u_out[i] = U[j]
                    b_out[i] = int(b[j])
                    j += 1
        return pd.DataFrame({"u": u_out, "b": b_out})

    return f


def dot_udf():
    """Arrow-batched pairwise dot product (cosine of unit vectors) —
    the re-rank sibling of unit_bucket_udf for candidate scoring."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype="float64")
        out = np.full(len(a), np.nan)
        pairs = [
            (i, np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64))
            for i, (x, y) in enumerate(zip(a, b))
            if x is not None and y is not None
        ]
        ok = [(i, x, y) for i, x, y in pairs if x.ndim == 1 and x.shape == y.shape]
        if ok:
            A = np.stack([x for _, x, _ in ok])
            B = np.stack([y for _, _, y in ok])
            out[[i for i, _, _ in ok]] = np.einsum("ij,ij->i", A, B)
        # NULL/ragged rows return NULL (NaN here -> comparisons false)
        return pd.Series(out)

    return f


def lsh_index(
    corpus: DataFrame,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    seed: int = 42,
) -> tuple[list[list[float]], DataFrame]:
    """Build the LSH index: (planes, bucketed+normalized corpus,
    persisted). The index is a built-once artifact — at any scale the
    corpus is bucketed one time and then served many queries, so
    callers should hold onto this rather than letting every query
    batch re-bucket the corpus."""
    if dim is None:
        probe = corpus.select(vec_col).first()
        if probe is None or probe[0] is None:
            raise ValueError(
                "cannot infer embedding dim from an empty corpus or NULL"
                " first vector; pass dim= explicitly"
            )
        dim = len(probe[0])
    planes = hyperplanes(dim, n_planes, seed)
    c = (
        corpus.select(id_col, F.col(vec_col).alias("_cv"))
        .withColumn("bucket", bucket_ids("_cv", planes))
        .withColumn("_cu", _unit("_cv"))
        .drop("_cv")
        .persist()
    )
    return planes, c


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int | None = None,
    multi_probe: int = 1,
    seed: int = 42,
    index: tuple[list[list[float]], DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k: equi-join on LSH bucket, probing every bucket
    within Hamming radius `multi_probe` of the query's bucket (sign
    flips are the likeliest LSH errors, so near buckets hold the missed
    neighbors), exact cosine re-rank within candidates. Shuffle is
    (bucket, id, vec) instead of a cross product; the probed fraction
    is Σ_{i≤r} C(n_planes,i) / 2^n_planes of the corpus. Pass a
    prebuilt `index` (lsh_index) to reuse the bucketed corpus across
    query batches instead of re-bucketing per batch."""
    from itertools import combinations

    if index is None:
        index = lsh_index(corpus, n_planes, vec_col, id_col, dim, seed)
    planes, c = index
    masks = [0]
    for r in range(1, min(multi_probe, n_planes) + 1):
        for bits in combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))
    # materialize the base bucket BEFORE fanning out the probe masks:
    # inlining bucket_ids (n_planes × dim literals) into every one of
    # the C(n,≤r) probe expressions bloats the plan ~100×
    q = (
        queries.select(query_id_col, F.col(vec_col).alias("_qv"))
        .withColumn("_b", bucket_ids("_qv", planes))
        .withColumn(
            "bucket",
            # one parsed expression instead of C(n,<=r) Column ops
            F.explode(
                F.expr(
                    "transform(array("
                    + ", ".join(str(m) for m in masks)
                    + "), m -> _b ^ CAST(m AS BIGINT))"
                )
            ),
        )
        .withColumn("_qu", _unit("_qv"))
        .drop("_qv", "_b")
    )
    scored = c.join(q, "bucket").withColumn("cosine", _dot("_cu", "_qu"))
    # no distinct needed: probe masks are distinct, so each corpus row
    # (one bucket) matches at most one probe row per query — the rank
    # output is already unique per (query, rank)
    return _rank_topk(scored, k, "cosine", id_col, query_id_col)


def _sim_cells(unit_col: str, centroids: list[list[float]]):
    """array<struct<s,nc>> of (cosine, -cell) per centroid — sortable so
    the LAST element after array_sort is (max sim, lowest cell on tie),
    matching argmax semantics. Centroid literals are inlined once and
    the array is evaluated once (array_position+array_max would build
    the aggregate array twice). Built as one parsed string for the
    same plan-construction-cost reason as _dot_lit_sql."""
    structs = ", ".join(
        f"named_struct('s', {_dot_lit_sql(unit_col, cvec)}, 'nc', {-i})"
        for i, cvec in enumerate(centroids)
    )
    return F.array_sort(F.expr(f"array({structs})"))


def _assign_expr(unit_col: str, centroids: list[list[float]]):
    """0-based nearest-centroid id by cosine, as a pure Column
    expression (centroid literals inlined into the plan)."""
    last = F.element_at(_sim_cells(unit_col, centroids), -1)
    return (-last["nc"]).cast("int")


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    kernel: str = "column",
) -> list[list[float]]:
    """Spherical k-means on unit vectors, Spark-native Lloyd steps:
    assignment is a broadcast argmax expression over the corpus (no
    shuffle of vectors); the update is a posexplode → (cluster, dim)
    partial-sum aggregate — only K×dim partial states move. Determinis-
    tic: init picks the n_centroids corpus rows with smallest
    xxhash64(id, seed).

    kernel='sequential' (round 9) is the ORACLE-GRADE variant: init by
    the engine's portable md5 hash order (curate.hash48 of
    '{id}#{seed}') and Lloyd sums as id-ordered sequential left folds,
    so the centroids are BIT-reproducible by the DuckDB twin
    (oracle_ivf.py — every float op is a left fold both engines
    implement identically; verified in tests/test_pipeline.py). It
    collects each cell's members into one sorted array per (cell, dim),
    so it is for audit/oracle use on bounded corpora — the default
    kernel (numpy partial sums, arbitrary accumulation order) remains
    the scale path."""
    import numpy as np

    if kernel == "sequential":
        return _train_ivf_sequential(
            corpus, n_centroids, iters, vec_col, id_col, seed
        )
    if kernel != "column":
        raise ValueError(f"train_ivf_centroids: unknown kernel {kernel!r}")

    # Raw vector column read straight off the corpus, normalized inside
    # the numpy kernel (round 11, same change as train_pq_codebooks):
    # the previous shape cached a Catalyst-HOF `_unit` column and
    # re-deserialized the corpus from the block store every Lloyd pass
    # — measured ~3x the parquet-scan + numpy-normalize cost at 1M x 64.
    src = corpus.select(id_col, F.col(vec_col).alias("_v"))
    init_rows = (
        src.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(n_centroids)
        .select("_v")
        .collect()
    )
    if not init_rows:
        raise ValueError(
            "train_ivf_centroids: empty corpus — cannot initialize"
            " centroids (same condition lsh_index reports)"
        )

    def _unit_np(X: "np.ndarray") -> "np.ndarray":
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0] = 1.0
        return X / nrm[:, None]

    centroids = [
        list(u)
        for u in _unit_np(
            np.stack([np.asarray(r["_v"], dtype=np.float64) for r in init_rows])
        )
    ]
    dim = len(centroids[0])
    for _ in range(iters):
        # assignment + partial update in one Arrow pass: argmax(X·Cᵀ)
        # and per-cell (Σx, n) via ONE bincount/scatter-add per batch
        # (the old per-cell boolean-mask loop rescanned each batch
        # n_centroids times and built partials through Python-float
        # extends), partials emitted once per PARTITION. A Column-
        # expression argmax with K×dim inlined literals works but
        # bloats whole-stage codegen (seconds of janino compile per
        # Lloyd step); this is the documented Pandas-UDF escape hatch
        # for exactly that case.
        C = np.asarray(centroids)

        def partials(batches):
            import pandas as pd

            S_acc = np.zeros((n_centroids, dim))
            n_acc = np.zeros(n_centroids, dtype=np.int64)
            seen_any = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen_any = True
                X = _unit_np(
                    np.stack(
                        [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
                    )
                )
                cells = np.argmax(X @ C.T, axis=1)
                np.add.at(S_acc, cells, X)
                n_acc += np.bincount(cells, minlength=n_centroids)
            if not seen_any:
                return
            nz = np.flatnonzero(n_acc)
            if not nz.size:
                return
            yield pd.DataFrame(
                {
                    "_c": np.repeat(nz, dim).astype(np.int32),
                    "_d": np.tile(np.arange(dim, dtype=np.int32), nz.size),
                    "_s": S_acc[nz].ravel(),
                    "_n": np.repeat(n_acc[nz], dim),
                }
            )

        sums = (
            src.select("_v")
            .mapInPandas(partials, "_c int, _d int, _s double, _n long")
            .groupBy("_c", "_d")
            .agg(F.sum("_s").alias("_s"), F.sum("_n").alias("_n"))
            .collect()
        )
        acc = {}
        for r in sums:
            acc.setdefault(r["_c"], np.zeros(dim))[r["_d"]] = r["_s"] / r["_n"]
        new = []
        for ci in range(len(centroids)):
            if ci in acc:
                v = acc[ci]
                norm = float(np.linalg.norm(v)) or 1.0
                new.append((v / norm).tolist())
            else:  # empty cluster: keep previous centroid
                new.append(centroids[ci])
        centroids = new
    return centroids


def _train_ivf_sequential(
    corpus: DataFrame,
    n_centroids: int,
    iters: int,
    vec_col: str,
    id_col: str,
    seed: int,
) -> list[list[float]]:
    """train_ivf_centroids kernel='sequential' (see its docstring).
    Every floating-point reduction is a deterministic left fold in a
    defined order — (id asc) across members, (dim asc) within a
    vector — the one accumulation order DuckDB's list_sum, Spark's
    aggregate() HOF and a plain Python loop all implement bit-
    identically (probed in round 9), which is what lets oracle_ivf.py
    recompute the same centroids from scratch in SQL."""
    import math

    from .curate import hash48

    unit = (
        corpus.select(id_col, F.col(vec_col).alias("_v"))
        .withColumn("_u", _unit("_v"))
        .persist()
    )
    try:
        key = hash48(F.concat(F.col(id_col).cast("string"), F.lit(f"#{seed}")))
        init = (
            unit.withColumn("_rk", key)
            .orderBy("_rk", id_col)
            .limit(n_centroids)
            .select("_u")
            .collect()
        )
        centroids = [list(r["_u"]) for r in init]
        if not centroids:
            raise ValueError(
                "train_ivf_centroids: empty corpus — cannot initialize"
                " centroids (same condition lsh_index reports)"
            )
        dim = len(centroids[0])
        for _ in range(iters):
            assigned = unit.withColumn("cell", _assign_expr("_u", centroids))
            rows = (
                assigned.select(
                    "cell",
                    F.col(id_col).alias("_id"),
                    F.posexplode("_u").alias("_d", "_x"),
                )
                .groupBy("cell", "_d")
                .agg(
                    F.aggregate(
                        F.array_sort(F.collect_list(F.struct("_id", "_x"))),
                        F.lit(0.0),
                        lambda acc, s: acc + s["_x"],
                    ).alias("_s"),
                    F.count(F.lit(1)).alias("_n"),
                )
                .collect()
            )
            acc: dict[int, list[float]] = {}
            for r in rows:
                acc.setdefault(r["cell"], [0.0] * dim)[r["_d"]] = r["_s"] / r["_n"]
            new = []
            for ci in range(len(centroids)):
                if ci in acc:
                    m = acc[ci]
                    ss = 0.0
                    for x in m:  # dim-ordered left fold, like the SQL twin
                        ss += x * x
                    norm = math.sqrt(ss) or 1.0
                    new.append([x / norm for x in m])
                else:  # empty cluster: keep previous centroid
                    new.append(centroids[ci])
            centroids = new
    finally:
        unit.unpersist()
    return centroids


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Build the IVF index: (centroids, cell-assigned normalized
    corpus, persisted). Training and assignment are the expensive
    built-once phase; hold onto the returned index and serve many
    query batches against it (ivf_topk(index=...)).

    Cells are assigned via one numpy matmul per Arrow batch (the
    round-8 batching finding, BENCH_SCALE.md): argmax cosine, ties to
    the lowest cell — the rule oracle_ivf.py's fold-based SQL twin
    applies, so the two can differ only where a ~1-ULP summation-order
    difference straddles an exact cell boundary."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_centroids, iters, vec_col, id_col, seed)
    C = np.asarray(centroids)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            nrm = np.linalg.norm(X, axis=1)
            nrm[nrm == 0] = 1.0
            U = X / nrm[:, None]
            cells = np.argmax(U @ C.T, axis=1)  # ties -> lowest cell
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "_cu": list(U),
                    "cell": cells.astype("int32"),
                }
            )

    # id type follows the caller's schema — string or int ids work
    id_t = corpus.schema[id_col].dataType.simpleString()
    c = _cluster_by_cell(
        corpus.select(id_col, vec_col)
        .mapInPandas(assign, f"{id_col} {id_t}, _cu array<double>, cell int")
    )
    return centroids, c


def _cluster_by_cell(assignment: DataFrame) -> DataFrame:
    """Persist the IVF assignment CLUSTERED by cell (range-partitioned
    + sorted within partitions): Spark's in-memory cache keeps min/max
    stats per cached batch per column, so a serve-time
    ``cell IN (probed)`` filter skips whole batches — including their
    vector-column decode — exactly like parquet row-group pruning.
    This is what makes the IVF 'scan n_probe/n_centroids of the
    corpus' claim PHYSICAL for small query batches (the index-at-rest
    layout any IVF store uses); one build-time shuffle, amortized over
    every query batch served. Unclustered, a cached scan decoded all
    10M x 64 doubles through Arrow regardless of probes — measured
    serve-bound at the transfer, not the matmul (BENCH_SCALE round 12)."""
    sc = assignment.sparkSession.sparkContext
    return (
        assignment.repartitionByRange(sc.defaultParallelism, "cell")
        .sortWithinPartitions("cell")
        .persist()
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    index: tuple[list[list[float]], DataFrame] | None = None,
    max_query_batch: int = MAX_QUERY_BATCH,
    brute_fallback_coverage: float | None = 1.0,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into coarse cells
    (spherical k-means), each query probes its n_probe nearest cells,
    exact cosine re-rank inside. Pass a prebuilt `index` (ivf_index)
    to serve against an existing materialized index; otherwise this
    call builds one.

    The query batch is COLLECTED to the driver (bounded-queries
    contract, shared with brute_force_topk_matrix and pq_topk), capped
    at ``max_query_batch`` rows — exceeding it raises ValueError
    instead of OOMing the driver (<=0 disables). Probe sets are chosen
    on the driver; the serve is a SCAN-ONCE masked matmul (round 12):
    the assigned corpus is read exactly once; each Arrow batch is
    grouped by cell, matmul'd against only the queries probing that
    cell, and reduced to a per-(batch, query) top-k before anything
    shuffles — so the exchange carries batches x queries x k rows,
    never candidate PAIRS. The pair-join serve (corpus ⋈ probes, then
    a fold per pair) materialized corpus x n_probe/n_centroids x
    matching-query rows — 62M pairs at 10M x 50 queries — and measured
    36.5 s.

    brute_fallback_coverage (round 13): a broad query batch's
    union-of-probes can cover (nearly) every cell, at which point the
    masked serve decodes the whole corpus like brute force while still
    paying per-cell grouping + per-(cell, query) partial top-k overhead
    — the recorded 10M x 50-query batch measured 0.74x of brute
    (BENCH_r12). When the probed-cell fraction reaches this threshold,
    serve EXACT instead: one full matmul scan of the cached index
    (brute_force_topk_matrix's kernel over the pre-normalized _cu
    column), which dominates the masked plan at full coverage. The
    fallback returns exact cosine top-k — a superset-quality answer
    (recall vs truth = 1.0 >= the IVF answer's), so results for a batch
    above the threshold differ from the masked IVF answer ONLY by
    being better. Set None to always run the masked IVF serve
    (e.g. when measuring the index itself)."""
    if index is None:
        index = ivf_index(
            corpus, n_centroids, iters, vec_col, id_col, seed, centroids
        )
    centroids, c = index
    q_ids, Q = _collect_query_batch(
        queries, query_id_col, vec_col, "ivf_topk", max_query_batch
    )
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    C = np.asarray(centroids, dtype=np.float64)
    sims = Q @ C.T
    # probe rule: the n_probe highest-cosine cells, ties to the lowest
    # cell id (lexsort: -sim, cell) — oracle_ivf.py's (d DESC, ci ASC)
    order = np.lexsort((np.arange(C.shape[0])[None, :].repeat(len(q_ids), 0), -sims), axis=1)
    probe_sets = order[:, :n_probe]
    cell_to_q: dict[int, list[int]] = {}
    for qi, cells_row in enumerate(probe_sets):
        for cell in cells_row:
            cell_to_q.setdefault(int(cell), []).append(qi)

    if (
        brute_fallback_coverage is not None
        and len(cell_to_q) >= brute_fallback_coverage * C.shape[0]
    ):
        # union-of-probes covers the corpus: the masked serve would
        # decode everything brute does plus grouping overhead — run
        # the exact full matmul over the cached index instead (the
        # _cu vectors are already unit; the renormalize inside is a
        # ~1-ULP no-op), reusing the batch collected above. Never
        # slower than brute, exact results.
        return _brute_topk_matrix(
            c.select(id_col, F.col("_cu").alias(vec_col)), q_ids, Q, qid_t,
            k, vec_col, id_col, query_id_col,
        )

    id_t = c.schema[id_col].dataType.simpleString()

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            outs = []
            for cell, g in pdf.groupby("cell"):
                qidx = cell_to_q.get(int(cell))
                if not qidx:
                    continue
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in g["_cu"]]
                )
                S = X @ Q[qidx].T  # m x g
                ids = g[id_col].to_numpy()
                kk = min(k, S.shape[0])
                for j, qi in enumerate(qidx):
                    col = S[:, j]
                    # partial top-k by the FINAL ordering
                    # (cosine desc, id asc) so the global window
                    # sees every possible top-k row
                    idx = np.lexsort((ids, -col))[:kk]
                    outs.append(
                        pd.DataFrame(
                            {
                                query_id_col: [q_ids[qi]] * len(idx),
                                id_col: ids[idx],
                                "cosine": col[idx],
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    # probed-cell filter BEFORE the scan: with the index cached
    # cell-clustered (_cluster_by_cell), batch min/max stats skip
    # unprobed cells' batches — vector decode included. A broad
    # query batch covers every cell (no-op); a point query touches
    # n_probe/n_centroids of the corpus physically.
    probed = sorted(cell_to_q)
    pooled = (
        c.filter(F.col("cell").isin(probed))
        .select("cell", id_col, "_cu")
        .mapInPandas(
            score, f"{query_id_col} {qid_t}, {id_col} {id_t}, cosine double"
        )
    )
    return _rank_topk(pooled, k, "cosine", id_col, query_id_col)


def _rank_topk(
    scored: DataFrame, k: int, score_col: str, id_col: str, query_id_col: str
) -> DataFrame:
    """Global per-query top-k over partial top-k rows: (score desc,
    id asc) row_number, keep rank <= k."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(query_id_col, id_col, score_col, F.col("_rn").alias("rank"))
    )


def brute_force_topk_matrix(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    max_query_batch: int = MAX_QUERY_BATCH,
) -> DataFrame:
    """Exact cosine top-k via per-batch MATRIX products — the batched
    sibling of :func:`brute_force_topk` and the second application of
    the round-8 batching finding (BENCH_SCALE.md): the Column kernel
    evaluates an interpreted fold per (corpus row x query) pair, while
    this form computes one BLAS matmul per Arrow batch (n_batch x dim
    times dim x n_queries) and keeps only each query's per-batch top-k,
    so the final exact window ranks batches x queries x k rows instead
    of corpus x queries. Measured at 1M x 64 x 50 queries: 47 s -> ~3 s.

    The query batch is collected to the driver and broadcast into the
    scorer (bounded, same assumption the Column form's broadcast join
    makes), capped at ``max_query_batch`` rows — exceeding it raises
    ValueError instead of OOMing the driver (<=0 disables). Output
    contract matches brute_force_topk: (query_id, id, cosine, rank),
    ties broken by ascending id. Summation order is BLAS pairwise
    rather than a left fold, so cosines can differ from the Column
    kernel by ~1 ULP — use rank_decimals there (or this form
    consistently) when comparing engines at a top-k boundary."""
    q_ids, Q = _collect_query_batch(
        queries, query_id_col, vec_col, "brute_force_topk_matrix",
        max_query_batch,
    )
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    return _brute_topk_matrix(
        corpus, q_ids, Q, qid_t, k, vec_col, id_col, query_id_col
    )


def _brute_topk_matrix(
    corpus: DataFrame,
    q_ids: np.ndarray,
    Q: np.ndarray,
    qid_t: str,
    k: int,
    vec_col: str,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """brute_force_topk_matrix over an already-collected unit query
    matrix (``_collect_query_batch`` output) — so a caller that has
    collected the batch for its own use does not collect it again."""
    n_q = len(q_ids)
    # id types follow the callers' schemas — string or int ids work
    cid_t = corpus.schema[id_col].dataType.simpleString()
    schema = f"{query_id_col} {qid_t}, {id_col} {cid_t}, cosine double"

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            mn = np.linalg.norm(M, axis=1)
            mn[mn == 0] = 1.0
            S = (M / mn[:, None]) @ Q.T  # n_batch x n_q
            kb = min(k, S.shape[0])
            # per-query partial top-k within the batch; ties by asc id
            order = np.lexsort((ids[:, None].repeat(n_q, 1), -S), axis=0)[:kb]
            out_q = np.repeat(q_ids, kb)
            sel = order.T.ravel()  # query-major selection of row indices
            yield pd.DataFrame(
                {
                    query_id_col: out_q,
                    id_col: ids[sel],
                    "cosine": S[sel, np.repeat(np.arange(n_q), kb)],
                }
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(gen, schema)
    return _rank_topk(partial, k, "cosine", id_col, query_id_col)


# --------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN scale path: the
# encoded corpus stores m small codes per vector (m bytes at
# n_codes<=256) instead of dim floats, so the similarity scan's IO
# shrinks ~dim*4/m x (32x at 64-dim/8-sub) — at 100 TB the embedding
# column IS the IO bill, and PQ is how an exhaustive candidate scan
# stays affordable. Asymmetric distance (ADC): the QUERY stays exact,
# each corpus vector is approximated by its per-subspace codebook
# entries, cosine ≈ Σ_sub dot(q_sub, codebook[sub][code_sub]).
# Standard serving re-ranks the ADC top-(k*factor) against the exact
# vectors (fetching only those rows).
#
# Like IVF (round 9), training has an ORACLE-GRADE sequential kernel:
# every reduction is a fixed-order left fold, so oracle_pq.py can
# recompute codebooks -> codes -> ADC scores -> recall from scratch in
# DuckDB SQL and the driver compares true cross-engine integers.
# --------------------------------------------------------------------------


def _pq_slices(dim: int, m: int) -> list[tuple[int, int]]:
    """(lo, sub_dim) per subspace; m must divide dim (equal splits —
    the layout both engines index as u[lo + j])."""
    if dim % m:
        raise ValueError(f"pq: m ({m}) must divide dim ({dim})")
    sd = dim // m
    return [(s * sd, sd) for s in range(m)]


def _l2_lit_sql(vec_col: str, lo: int, sd: int, values: list[float]) -> str:
    """SQL text of the dim-ordered squared-L2 fold between the
    [lo+1, lo+sd] slice of vec_col and a literal sub-centroid — the
    same sequential left fold the DuckDB twin spells as
    list_sum(list_transform(...)), so distances are bit-identical.
    One parsed string for the same py4j-economy reason as
    _dot_lit_sql."""
    arr = "array(" + ", ".join(_d(x) for x in values) + ")"
    return (
        f"aggregate(zip_with(slice({vec_col}, {lo + 1}, {sd}), {arr},"
        " (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _pq_assign_expr(unit_col: str, lo: int, sd: int, codebook: list[list[float]]):
    """0-based nearest sub-centroid by squared L2 (ties -> lowest
    code), pure parsed Column expression — the PQ analog of
    _assign_expr."""
    structs = ", ".join(
        f"named_struct('s', {_l2_lit_sql(unit_col, lo, sd, c)}, 'c', {i})"
        for i, c in enumerate(codebook)
    )
    return F.expr(
        f"element_at(array_sort(array({structs})), 1).c"
    ).cast("int")


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    kernel: str = "column",
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks over the UNIT-normalized
    corpus's sub-slices (unit vectors so Σ of sub-dots approximates
    cosine): returns codebooks[sub][code] = sub_dim floats. Lloyd
    assignment is squared-L2 argmin (ties -> lowest code); the update
    is the plain per-(sub, code, dim) mean — no normalization (sub-
    vectors are not unit). Init: the n_codes corpus rows with the
    smallest portable rank, sliced per subspace.

    kernel='column' (default, scale path): one mapInPandas pass per
    Lloyd step computes every subspace's assignments and partial sums
    via numpy — only m*n_codes*dim partial rows leave the executors.
    kernel='sequential' (oracle-grade): init by the engine's md5
    hash-order convention and every float reduction a fixed-order
    left fold — (id asc) across members, (dim asc) within — so
    oracle_pq.py recomputes the same codebooks bit-for-bit in DuckDB
    (the round-9 IVF discipline applied per subspace)."""
    if kernel == "sequential":
        return _train_pq_sequential(corpus, m, n_codes, iters, vec_col, id_col, seed)
    if kernel != "column":
        raise ValueError(f"train_pq_codebooks: unknown kernel {kernel!r}")
    import pandas as pd

    # Read the RAW vector column straight off the corpus and normalize
    # inside the numpy kernel: the previous shape cached a frame with a
    # Catalyst-HOF `_unit` column and re-deserialized 1M array<double>
    # rows from the block store every Lloyd pass — measured ~3x the
    # cost of the parquet scan + numpy normalization the encode pass
    # uses (r10/r11 probes: ~20 s vs ~6 s per pass at 1M x 64).
    src = corpus.select(id_col, F.col(vec_col).alias("_v"))
    init_rows = (
        src.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(n_codes)
        .select("_v")
        .collect()
    )
    if not init_rows:
        raise ValueError("train_pq_codebooks: empty corpus")

    def _unit_np(X: "np.ndarray") -> "np.ndarray":
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0] = 1.0
        return X / nrm[:, None]

    init = _unit_np(
        np.stack([np.asarray(r["_v"], dtype=np.float64) for r in init_rows])
    )
    dim = init.shape[1]
    slices = _pq_slices(dim, m)
    books = [
        [list(u[lo : lo + sd]) for u in init] for lo, sd in slices
    ]
    for _ in range(iters):
        CBs = [np.asarray(b) for b in books]

        def partials(batches):
            # ONE scatter-add per (batch, subspace) — the previous
            # per-cell boolean-mask loop rescanned the batch
            # n_codes times per subspace (256 x 16 = 4096 mask
            # passes per batch at the bench shape) and built the
            # partial rows through Python-float extends; both were
            # the measured build wall (r10: 65.5 s at 1M x 64).
            # Accumulate across the partition's batches and emit
            # ONCE: m*n_codes*dim partial rows per PARTITION, not
            # per Arrow batch.
            S_acc = [np.zeros((n_codes, sd_)) for _, sd_ in slices]
            n_acc = np.zeros((len(slices), n_codes), dtype=np.int64)
            seen_any = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen_any = True
                X = _unit_np(
                    np.stack(
                        [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
                    )
                )
                for si, (lo, sd_) in enumerate(slices):
                    Xs = X[:, lo : lo + sd_]
                    # squared L2 to each code; argmin ties -> lowest
                    d2 = (
                        (Xs * Xs).sum(axis=1)[:, None]
                        - 2.0 * (Xs @ CBs[si].T)
                        + (CBs[si] * CBs[si]).sum(axis=1)[None, :]
                    )
                    cells = np.argmin(d2, axis=1)
                    np.add.at(S_acc[si], cells, Xs)
                    n_acc[si] += np.bincount(cells, minlength=n_codes)
            if not seen_any:
                return
            frames = []
            for si, (lo, sd_) in enumerate(slices):
                nz = np.flatnonzero(n_acc[si])
                if not nz.size:
                    continue
                frames.append(
                    pd.DataFrame(
                        {
                            "_m": np.full(nz.size * sd_, si, dtype=np.int32),
                            "_c": np.repeat(nz, sd_).astype(np.int32),
                            "_d": np.tile(np.arange(sd_, dtype=np.int32), nz.size),
                            "_s": S_acc[si][nz].ravel(),
                            "_n": np.repeat(n_acc[si][nz], sd_),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

        sums = (
            src.select("_v")
            .mapInPandas(partials, "_m int, _c int, _d int, _s double, _n long")
            .groupBy("_m", "_c", "_d")
            .agg(F.sum("_s").alias("_s"), F.sum("_n").alias("_n"))
            .collect()
        )
        acc: dict[tuple[int, int], np.ndarray] = {}
        for r in sums:
            acc.setdefault((r["_m"], r["_c"]), np.zeros(slices[r["_m"]][1]))[
                r["_d"]
            ] = r["_s"] / r["_n"]
        for si in range(m):
            books[si] = [
                acc[(si, ci)].tolist() if (si, ci) in acc else books[si][ci]
                for ci in range(n_codes)
            ]
    return books


def _train_pq_sequential(
    corpus: DataFrame,
    m: int,
    n_codes: int,
    iters: int,
    vec_col: str,
    id_col: str,
    seed: int,
) -> list[list[list[float]]]:
    """train_pq_codebooks kernel='sequential' (see its docstring) —
    the fixed-order-fold twin oracle_pq.py reproduces in SQL."""
    from .curate import hash48

    unit = (
        corpus.select(id_col, F.col(vec_col).alias("_v"))
        .withColumn("_u", _unit("_v"))
        .persist()
    )
    try:
        key = hash48(F.concat(F.col(id_col).cast("string"), F.lit(f"#{seed}")))
        init = (
            unit.withColumn("_rk", key)
            .orderBy("_rk", id_col)
            .limit(n_codes)
            .select("_u")
            .collect()
        )
        if not init:
            raise ValueError("train_pq_codebooks: empty corpus")
        dim = len(init[0]["_u"])
        slices = _pq_slices(dim, m)
        books = [
            [list(r["_u"])[lo : lo + sd] for r in init] for lo, sd in slices
        ]
        for _ in range(iters):
            assigned = unit
            for si, (lo, sd) in enumerate(slices):
                assigned = assigned.withColumn(
                    f"_pc{si}", _pq_assign_expr("_u", lo, sd, books[si])
                )
            new_books = []
            for si, (lo, sd) in enumerate(slices):
                rows = (
                    assigned.select(
                        F.col(f"_pc{si}").alias("cell"),
                        F.col(id_col).alias("_id"),
                        F.posexplode(F.slice("_u", lo + 1, sd)).alias("_d", "_x"),
                    )
                    .groupBy("cell", "_d")
                    .agg(
                        F.aggregate(
                            F.array_sort(F.collect_list(F.struct("_id", "_x"))),
                            F.lit(0.0),
                            lambda acc, s: acc + s["_x"],
                        ).alias("_s"),
                        F.count(F.lit(1)).alias("_n"),
                    )
                    .collect()
                )
                acc: dict[int, list[float]] = {}
                for r in rows:
                    acc.setdefault(r["cell"], [0.0] * sd)[r["_d"]] = (
                        r["_s"] / r["_n"]
                    )
                new_books.append(
                    [acc.get(ci, books[si][ci]) for ci in range(n_codes)]
                )
            books = new_books
        return books
    finally:
        unit.unpersist()


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode the corpus: (id, codes array<int> of length m) — the
    m-byte-per-vector representation the ADC scan reads instead of
    the float column. Encodes via numpy per Arrow batch: per subspace,
    squared-L2 argmin against the codebook, ties to the lowest code —
    the rule oracle_pq.py's fold-based SQL twin applies (~1-ULP
    distance differences possible at exact code boundaries, as for
    ivf_index). A vector whose dim is not the codebooks' m*sd fails
    the encode loudly."""
    m = len(codebooks)
    sd = len(codebooks[0][0])
    slices = _pq_slices(m * sd, m)
    CBs = [np.asarray(b) for b in codebooks]
    id_t = corpus.schema[id_col].dataType.simpleString()

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if X.shape[1] != m * sd:
                raise ValueError(
                    f"pq_encode: corpus vector dim {X.shape[1]} != "
                    f"codebook dim {m * sd} (m={m} x sd={sd})"
                )
            nrm = np.linalg.norm(X, axis=1)
            nrm[nrm == 0] = 1.0
            U = X / nrm[:, None]
            codes = np.empty((len(U), m), dtype=np.int32)
            for si, (lo, ssd) in enumerate(slices):
                Us = U[:, lo : lo + ssd]
                d2 = (
                    (Us * Us).sum(axis=1)[:, None]
                    - 2.0 * (Us @ CBs[si].T)
                    + (CBs[si] * CBs[si]).sum(axis=1)[None, :]
                )
                codes[:, si] = np.argmin(d2, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    return corpus.select(id_col, vec_col).mapInPandas(
        enc, f"{id_col} {id_t}, codes array<int>"
    )


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
    max_query_batch: int = MAX_QUERY_BATCH,
    brute_fallback: bool | str = "auto",
) -> DataFrame:
    """ADC top-k over the PQ-encoded corpus: score ≈ cosine =
    Σ_sub dot(q_sub, codebook[sub][codes[sub]]). The scan reads
    (id, m codes): no float vectors move. This is the LUT form (the
    textbook ADC implementation): per query batch, one (m x n_codes)
    table of sub-dots is precomputed on the driver, and each Arrow
    batch scores via numpy gather+sum over the codes — no per-row
    interpreted folds (the round-8 batching finding applied to PQ).
    oracle_pq.py spells the same scores as sub-ordered folds; the
    summation orders differ by ~1 ULP, so ties at a boundary may
    reorder. The query batch is collected to the driver, capped at
    ``max_query_batch`` rows — exceeding it raises ValueError instead
    of OOMing the driver (<=0 disables).

    With ``rerank`` (the corpus with exact vectors), the ADC
    top-(k*rerank_factor) per query is joined back to the exact
    vectors and re-ranked by true cosine — standard PQ serving: the
    cheap scan bounds the candidate set, the exact fetch touches only
    candidates.

    brute_fallback (with ``rerank`` only, round 13): PQ's serve
    economics are a BYTE lever — scan m codes instead of dim floats —
    which pays only where the exact vectors are expensive to scan
    (disk/object-store-resident state). When ``rerank`` is already
    RAM-resident, ADC + candidate re-rank measured 0.35x of plain brute
    force at 10M x 50 queries (BENCH_r12): the code scan saves nothing
    against a page-cache/Spark-cache-hot vector scan and the rerank
    join is pure overhead. 'auto' (default) serves EXACT cosine top-k
    via brute_force_topk_matrix(rerank, ...) when
    ``rerank.storageLevel.useMemory`` is set — never slower than brute,
    recall 1.0 >= the ADC answer's; True forces the exact path; False
    always runs ADC (e.g. when measuring the index itself, or when the
    storage level doesn't reflect the real scan cost)."""
    if rerank is not None and (
        brute_fallback is True
        or (brute_fallback == "auto" and rerank.storageLevel.useMemory)
    ):
        return brute_force_topk_matrix(
            rerank, queries, k=k, vec_col=vec_col, id_col=id_col,
            query_id_col=query_id_col, max_query_batch=max_query_batch,
        )
    m = len(codebooks)
    sd = len(codebooks[0][0])
    n_cand = k * rerank_factor if rerank is not None else k
    q_ids, Q = _collect_query_batch(
        queries, query_id_col, vec_col, "pq_topk", max_query_batch
    )
    if Q.shape[1] != m * sd:
        raise ValueError(
            f"pq_topk: query vector dim {Q.shape[1]} != codebook dim "
            f"{m * sd} (m={m} x sd={sd})"
        )
    n_q = len(q_ids)
    # LUT[q, s, code] = dot(q_sub, codebooks[s][code])
    LUT = np.stack(
        [
            Q[:, s * sd : (s + 1) * sd] @ np.asarray(codebooks[s]).T
            for s in range(m)
        ],
        axis=1,
    )
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    cid_t = encoded.schema[id_col].dataType.simpleString()
    schema = f"{query_id_col} {qid_t}, {id_col} {cid_t}, score double"

    # Rerank-fetch cell pruning (round 14, r13-verdict item 4):
    # when BOTH the encoded frame and the rerank frame carry an IVF
    # `cell` column (the at-rest cold layout: codes stamped with
    # their vector's cell, rerank corpus partitioned by cell), the
    # exact-vector fetch is restricted to the candidates' OWN cells
    # — a static partition-pruning IN filter, exact by
    # construction (every candidate id lives in its stamped cell).
    # Measured at 10M/64 cells: the ADC top-1500 of a point query
    # landed in ONE cell (61 MB) vs the 2.6 GB full-corpus fetch
    # that made the cold PQ serve SLOWER than brute (0.74-0.81x).
    prune_cells = (
        rerank is not None
        and "cell" in encoded.columns
        and "cell" in rerank.columns
    )

    def gen(batches):
        # running top-n_cand per query across the PARTITION's
        # batches, emitted once: the old per-batch emission shipped
        # n_q*n_cand rows per Arrow batch into the global window
        # (candidate budget x batch count rows through the
        # shuffle), which made large rerank budgets — the recall
        # lever — pay a linear wall tax. The pruning order is the
        # same (score desc, id asc) total order the final window
        # applies, so the global result set is IDENTICAL.
        pool_ids = pool_S = pool_cells = None
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )
            if codes.shape[1] != m:
                # codes LONGER than m would otherwise silently use the
                # first m entries against the wrong codebooks
                raise ValueError(
                    f"pq_topk: encoded codes length "
                    f"{codes.shape[1]} != codebook count m={m}"
                )
            # scores: (n_q, n_batch) = Σ_s LUT[:, s, codes[:, s]]
            S = np.zeros((n_q, len(ids)))
            for s in range(m):
                S += LUT[:, s, codes[:, s]]
            bid = np.broadcast_to(ids, (n_q, len(ids)))
            bcell = (
                np.broadcast_to(pdf["cell"].to_numpy(), (n_q, len(ids)))
                if prune_cells
                else None
            )
            if pool_S is not None:
                S = np.concatenate([pool_S, S], axis=1)
                bid = np.concatenate([pool_ids, bid], axis=1)
                if prune_cells:
                    bcell = np.concatenate([pool_cells, bcell], axis=1)
            kb = min(n_cand, S.shape[1])
            order = np.lexsort((bid, -S), axis=1)[:, :kb]
            pool_S = np.take_along_axis(S, order, axis=1)
            pool_ids = np.take_along_axis(bid, order, axis=1)
            if prune_cells:
                pool_cells = np.take_along_axis(bcell, order, axis=1)
        if pool_S is None:
            return
        kb = pool_S.shape[1]
        out = {
            query_id_col: np.repeat(q_ids, kb),
            id_col: pool_ids.ravel(),
            "score": pool_S.ravel(),
        }
        if prune_cells:
            out["cell"] = pool_cells.ravel()
        yield pd.DataFrame(out)

    scan_cols = ["codes"]
    if prune_cells:
        scan_cols.append("cell")
        cell_t = encoded.schema["cell"].dataType.simpleString()
        schema += f", cell {cell_t}"
    partial = encoded.select(id_col, *scan_cols).mapInPandas(gen, schema)
    if rerank is None:
        return _rank_topk(partial, k, "score", id_col, query_id_col)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    top = partial.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= n_cand
    )
    qu = (
        queries.select(query_id_col, F.col(vec_col).alias("_qv"))
        .withColumn("_qu", _unit("_qv"))
        .drop("_qv")
    )
    if prune_cells:
        # restrict the exact-vector fetch to the candidates' OWN cells:
        # a literal IN on the rerank table's partition column, so a
        # cell-partitioned at-rest corpus scans only the probed cells'
        # files instead of all of them. The candidates are collected
        # once (bounded: n_queries * n_cand rows), and both the cell
        # list and the fetch join's broadcast side come from those
        # rows — one ADC scan, and nothing left cached. Candidate ids
        # cannot escape the filter: each id's stamped cell IS the cell
        # its vector lives in, so the fetch is exact.
        top = top.select(query_id_col, id_col, "cell")
        rows = top.collect()
        rerank = rerank.filter(
            F.col("cell").isin(sorted({r["cell"] for r in rows}))
        )
        top = encoded.sparkSession.createDataFrame(rows, top.schema)
    top = top.join(F.broadcast(qu), query_id_col)
    # the candidate set is query-batch-bounded (n_queries * k * factor)
    # while `rerank` is the corpus: BROADCAST the candidates so the
    # exact-vector fetch is one corpus scan with no shuffle, and
    # normalize AFTER the join inside the vectorized cosine below
    cand = rerank.select(id_col, F.col(vec_col).alias("_cv")).join(
        F.broadcast(top.select(query_id_col, id_col, "_qu")), id_col
    )
    # vectorized exact cosine in ONE Arrow pass: an interpreted per-row
    # _unit HOF + fold made the rerank scale linearly with the
    # candidate budget (r11 probe: +4.5 s going 3000 -> 5000
    # candidates at 1M), which defeated the budget-as-recall-lever.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cosine(cv: pd.Series, qu: pd.Series) -> pd.Series:
        if not len(cv):
            return pd.Series([], dtype="float64")
        C = np.stack([np.asarray(v, dtype=np.float64) for v in cv])
        Qs = np.stack([np.asarray(v, dtype=np.float64) for v in qu])
        nrm = np.linalg.norm(C, axis=1)
        nrm[nrm == 0] = 1.0
        return pd.Series((C * Qs).sum(axis=1) / nrm)

    rr = cand.withColumn("cosine", _cosine("_cv", "_qu"))
    return _rank_topk(rr, k, "cosine", id_col, query_id_col)
