"""Seeded input generator for the benchmark.

Everything a workload feeds the engine is made here from the seed and
written as Parquet; the engine only ever sees the files. Generated sets
are cached per (kind, scale, seed) under the benchmark's work directory
(ignored by git), so generation time is paid once per seed and is kept
out of every set-up measurement.

Shapes follow the reference's published Quote workload: 2200 symbols x
2728 trading days (6,001,600 rows) of daily bars over 2003-2013.
"""

from __future__ import annotations

import os
import pickle
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# How many generated sets to keep on disk; older ones are evicted.
KEEP_SETS = 4


@dataclass(frozen=True)
class Scale:
    n_symbols: int
    n_days: int
    n_trade_symbols: int  # symbols that get a trade stream (as-of joins)
    trades_per_symbol: int
    ingest_symbols: int
    ingest_base_days: int
    n_docs: int  # corpus documents, clusters included
    n_clusters: int  # planted near-duplicate clusters
    n_vectors: int
    dim: int
    n_query_batches: int
    queries_per_batch: int


SCALES = {
    "full": Scale(2200, 2728, 40, 400, 2200, 250, 1000, 100, 8000, 16, 2, 32),
    "toy": Scale(40, 300, 4, 50, 40, 20, 300, 30, 2000, 16, 2, 16),
}

EPOCH = np.datetime64("2003-01-01", "D")
# ingest batches generated per seed; a run appends at most this many
INGEST_BATCHES = 200
INGEST_EPOCH = np.datetime64("2014-01-01", "D")


def quote_days(n_days: int) -> np.ndarray:
    """Trading-day calendar: n_days samples spread over 2003-2013."""
    d = np.arange(n_days, dtype=np.int64)
    return EPOCH + (d * 4015 // 2728).astype("timedelta64[D]")


def symbols(n: int) -> list[str]:
    return [f"S{i:04d}" for i in range(n)]


def _bars(rng: np.random.Generator, n_sym: int, n_days: int) -> dict:
    """Daily OHLCV random walks, one row of the matrix per symbol."""
    start = rng.uniform(10.0, 300.0, size=(n_sym, 1))
    ret = rng.normal(0.0, 0.02, size=(n_sym, n_days))
    close = (start * np.exp(np.cumsum(ret, axis=1))).astype(np.float32)
    gap = rng.normal(0.0, 0.03, size=(n_sym, n_days)).astype(np.float32)
    open_ = (close * (1.0 + gap)).astype(np.float32)
    hi = np.maximum(open_, close) * (1.0 + 0.02 * rng.random((n_sym, n_days), dtype=np.float32))
    lo = np.minimum(open_, close) * (1.0 - 0.02 * rng.random((n_sym, n_days), dtype=np.float32))
    vol = rng.integers(1_000, 1_000_000, size=(n_sym, n_days), dtype=np.int32)
    return {
        "open": open_,
        "high": hi.astype(np.float32),
        "low": lo.astype(np.float32),
        "close": close,
        "volume": vol,
    }


def _quote_table(syms: list[str], days: np.ndarray, bars: dict, lo: int, hi: int) -> pa.Table:
    """Rows of symbols [lo, hi) in (symbol, day) order."""
    n_days = len(days)
    k = hi - lo
    sym = pa.DictionaryArray.from_arrays(
        pa.array(np.repeat(np.arange(k, dtype=np.int32), n_days)),
        pa.array(syms[lo:hi]),
    ).cast(pa.string())
    cols = {
        "symbol": sym,
        "day": pa.array(np.tile(days, k)),
    }
    for c in ("open", "high", "low", "close", "volume"):
        cols[c] = pa.array(bars[c][lo:hi].ravel())
    return pa.table(cols)


def _write_parts(table_fn, n_rows_groups: list[tuple[int, int]], out_dir: str, rg: int) -> None:
    os.makedirs(out_dir, exist_ok=True)

    def one(i_span):
        i, (lo, hi) = i_span
        pq.write_table(table_fn(lo, hi), os.path.join(out_dir, f"part-{i:03d}.parquet"), row_group_size=rg)

    with ThreadPoolExecutor(max_workers=min(4, len(n_rows_groups))) as ex:
        list(ex.map(one, enumerate(n_rows_groups)))


def _spans(n: int, parts: int) -> list[tuple[int, int]]:
    edges = np.linspace(0, n, parts + 1).astype(int)
    return [(int(a), int(b)) for a, b in zip(edges[:-1], edges[1:]) if b > a]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class DataCache:
    """Generated inputs for one seed, cached on disk under ``root``."""

    def __init__(self, root: str, seed: int, scale: str):
        self.root = root
        self.seed = seed
        self.scale_name = scale
        self.scale = SCALES[scale]
        self.gen_s = 0.0  # generation time paid in this process

    def _ensure(self, kind: str, build) -> str:
        path = os.path.join(self.root, f"{kind}-{self.scale_name}-s{self.seed}")
        if os.path.exists(os.path.join(path, "_DONE")):
            os.utime(path)
            return path
        t0 = time.perf_counter()
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        open(os.path.join(path, "_DONE"), "w").close()
        self.gen_s += time.perf_counter() - t0
        self._evict()
        return path

    def memo(self, path: str, name: str, compute):
        """``compute()``, kept as a pickle in the generated set at ``path``:
        values that depend only on the seed are computed once, like the
        data."""
        f = os.path.join(path, name + ".pkl")
        if os.path.exists(f):
            with open(f, "rb") as fh:
                return pickle.load(fh)
        value = compute()
        with open(f + ".tmp", "wb") as fh:
            pickle.dump(value, fh)
        os.rename(f + ".tmp", f)
        return value

    def _evict(self) -> None:
        sets = [os.path.join(self.root, d) for d in os.listdir(self.root)]
        sets.sort(key=os.path.getmtime, reverse=True)
        for old in sets[KEEP_SETS:]:
            shutil.rmtree(old, ignore_errors=True)

    def _rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    # --- quote store ---------------------------------------------------
    def quotes(self) -> str:
        """Quote(symbol, day, open, high, low, close, volume) Parquet dir,
        symbol-contiguous, row groups of 25 symbols."""
        s = self.scale

        def build(path):
            bars = _bars(self._rng(1), s.n_symbols, s.n_days)
            syms = symbols(s.n_symbols)
            days = quote_days(s.n_days)
            _write_parts(
                lambda lo, hi: _quote_table(syms, days, bars, lo, hi),
                _spans(s.n_symbols, 4),
                os.path.join(path, "quote"),
                rg=25 * s.n_days,
            )
            trades = self._trades_table()
            os.makedirs(os.path.join(path, "trades"))
            pq.write_table(trades, os.path.join(path, "trades", "part-000.parquet"))

        return self._ensure("quotes", build)

    def _trades_table(self) -> pa.Table:
        """A trade stream on the first n_trade_symbols symbols: random
        calendar days inside the quote history, random price and size."""
        s = self.scale
        rng = self._rng(2)
        days = quote_days(s.n_days)
        span = int((days[-1] - days[0]).astype(int))
        rows_sym, rows_day, rows_px, rows_qty = [], [], [], []
        for i in range(s.n_trade_symbols):
            d = np.sort(rng.integers(0, span + 1, size=s.trades_per_symbol))
            rows_sym.extend([f"S{i:04d}"] * len(d))
            rows_day.append(days[0] + d.astype("timedelta64[D]"))
            rows_px.append(rng.uniform(10.0, 300.0, size=len(d)).astype(np.float32))
            rows_qty.append(rng.integers(1, 5000, size=len(d), dtype=np.int32))
        return pa.table(
            {
                "symbol": pa.array(rows_sym),
                "day": pa.array(np.concatenate(rows_day)),
                "price": pa.array(np.concatenate(rows_px)),
                "qty": pa.array(np.concatenate(rows_qty)),
            }
        )

    # --- ingest --------------------------------------------------------
    def ingest_base(self) -> str:
        """Base history for the ingest target: ingest_base_days days of
        every ingest symbol, one Parquet file."""
        s = self.scale

        def build(path):
            bars = _bars(self._rng(3), s.ingest_symbols, s.ingest_base_days)
            days = INGEST_EPOCH + np.arange(s.ingest_base_days).astype("timedelta64[D]")
            t = _quote_table(symbols(s.ingest_symbols), days, bars, 0, s.ingest_symbols)
            pq.write_table(t, os.path.join(path, "base.parquet"), row_group_size=25 * len(days))
            os.makedirs(os.path.join(path, "batches"))
            for i in range(INGEST_BATCHES):
                pq.write_table(self.ingest_batch(i), os.path.join(path, "batches", f"b{i:04d}.parquet"))

        return self._ensure("ingest", build)

    def ingest_base_bars(self) -> dict:
        s = self.scale
        return _bars(self._rng(3), s.ingest_symbols, s.ingest_base_days)

    def ingest_batch(self, i: int) -> pa.Table:
        """Batch i: the next trading day (base_days + i) for every symbol."""
        s = self.scale
        bars = _bars(np.random.default_rng([self.seed, 4, i]), s.ingest_symbols, 1)
        day = INGEST_EPOCH + np.array([s.ingest_base_days + i]).astype("timedelta64[D]")
        return _quote_table(symbols(s.ingest_symbols), day, bars, 0, s.ingest_symbols)

    # --- corpus + embeddings ---------------------------------------------
    def corpus_docs(self) -> tuple[list[str], np.ndarray]:
        """Documents plus each one's planted cluster (-1 = unique).

        Background documents draw 60 words from a 20k-word vocabulary,
        so two of them share almost no word 3-gram. A cluster is one
        base document plus 1-3 copies that each gain one or two extra
        words at the end (word-3-gram Jaccard ~0.95-0.98)."""
        s = self.scale
        rng = self._rng(5)
        vocab = np.array([f"w{i}" for i in range(20000)])
        texts: list[str] = []
        cluster: list[int] = []
        c = 0
        while len(texts) < s.n_docs:
            base = vocab[rng.integers(0, len(vocab), size=60)]
            if c < s.n_clusters:
                copies = int(rng.integers(1, 4))
                texts.append(" ".join(base))
                cluster.append(c)
                for _ in range(copies):
                    extra = vocab[rng.integers(0, len(vocab), size=int(rng.integers(1, 3)))]
                    texts.append(" ".join(np.concatenate([base, extra])))
                    cluster.append(c)
                c += 1
            else:
                texts.append(" ".join(base))
                cluster.append(-1)
        texts, cluster = texts[: s.n_docs], np.array(cluster[: s.n_docs])
        # shuffle so cluster members are not adjacent ids
        perm = rng.permutation(len(texts))
        return [texts[i] for i in perm], cluster[perm]

    def embeddings(self) -> tuple[np.ndarray, list[np.ndarray]]:
        """Clustered corpus vectors and query batches near corpus points."""
        s = self.scale
        rng = self._rng(6)
        centers = rng.normal(0.0, 1.0, size=(64, s.dim))
        assign = rng.integers(0, len(centers), size=s.n_vectors)
        X = centers[assign] + rng.normal(0.0, 0.35, size=(s.n_vectors, s.dim))
        batches = []
        for _ in range(s.n_query_batches):
            pick = rng.integers(0, s.n_vectors, size=s.queries_per_batch)
            batches.append(X[pick] + rng.normal(0.0, 0.2, size=(len(pick), s.dim)))
        return X, batches

    def corpus(self) -> str:
        def build(path):
            texts, _ = self.corpus_docs()
            os.makedirs(os.path.join(path, "docs"))
            pq.write_table(
                pa.table({"doc_id": pa.array(np.arange(len(texts), dtype=np.int64)), "text": pa.array(texts)}),
                os.path.join(path, "docs", "part-000.parquet"),
            )
            X, _ = self.embeddings()
            os.makedirs(os.path.join(path, "vectors"))
            emb = pa.array(list(X), type=pa.list_(pa.float64()))
            pq.write_table(
                pa.table({"vec_id": pa.array(np.arange(len(X), dtype=np.int64)), "embedding": emb}),
                os.path.join(path, "vectors", "part-000.parquet"),
            )

        return self._ensure("corpus", build)


def iso(d) -> str:
    """numpy date -> 'YYYY-MM-DD'."""
    return str(np.datetime64(d, "D"))
