"""quote_ingest: ordered appends beside reads that bypass the cache.

A base history sits in a Parquet target. Each cycle lands one batch
file (the next trading day for every symbol) in the stream's source
directory and waits until ``streaming.append_stream`` has committed it;
then a fixed set of reads runs ``READ_ROUNDS`` times through
``Engine.create`` over the files on disk: the latest week's all-symbol
VWAP, the last 20 rows of one symbol, and the first and last
timestamps. The first cycle ends with a near-duplicate pass over a
document corpus (``corpus.NearDup``), the write side's batch step. This is the
only workload that runs the streaming layer and its per-series
ordering check, and its reads pay for scanning the accumulated files.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import numpy as np

from common import Stmt, median, rows_match
from corpus import NearDup
from gen import INGEST_BATCHES, INGEST_EPOCH, dir_bytes, symbols

ACK_TIMEOUT_S = 60.0
# the read set runs this many times after each acknowledged batch
READ_ROUNDS = 3
# opens of the target timed for load_s after the warm-up pass and
# after every cycle
LOAD_OPENS = 5
SCHEMA = "symbol string, day date, open float, high float, low float, close float, volume int"


class Ingest:
    name = "quote_ingest"
    # one cycle's length on a 4-core machine; a run makes
    # round(seconds / CYCLE_S) complete cycles
    CYCLE_S = 8.5

    def __init__(self, data, seed: int, work: str):
        self.data = data
        self.rng = np.random.default_rng([seed, 202])
        self.run_dir = os.path.join(work, "runs", "ingest")
        self.dedup = NearDup(data)

    def prepare(self) -> None:
        s = self.data.scale
        base = self.data.ingest_base()
        self.batch_dir = os.path.join(base, "batches")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.target = os.path.join(self.run_dir, "target")
        self.src = os.path.join(self.run_dir, "src")
        self.ckpt = os.path.join(self.run_dir, "ckpt")
        os.makedirs(self.target)
        os.makedirs(self.src)
        shutil.copy(os.path.join(base, "base.parquet"), os.path.join(self.target, "base.parquet"))
        self.base_bytes = dir_bytes(self.target)
        # expected contents, kept as per-day (symbols,) arrays
        bars = self.data.ingest_base_bars()
        self.close = [bars["close"][:, d] for d in range(s.ingest_base_days)]
        self.volume = [bars["volume"][:, d] for d in range(s.ingest_base_days)]
        self.sym = symbols(s.ingest_symbols)[int(self.rng.integers(0, s.ingest_symbols))]
        self.sym_idx = int(self.sym[1:])
        self.acked = 0
        self.opens: list[float] = []
        self.input_bytes = 0
        self.progress: list[dict] = []
        t0 = time.perf_counter()
        self.dedup.prepare()
        self.ref_s = time.perf_counter() - t0

    def _day(self, k: int):
        return (INGEST_EPOCH + np.timedelta64(k, "D")).astype(object)

    def _n_days(self) -> int:
        return self.data.scale.ingest_base_days + self.acked

    def setup(self, spark, tr) -> dict:
        from imcs_spark import streaming
        from imcs_spark.table import Engine

        self.spark = spark
        # one cold open of the on-disk target, as a user pays it once per
        # process; its JIT and class loading vary too much from run to run
        # to compare, so load_s is the median of the warm opens that
        # between_cycles times over the run
        t0 = time.perf_counter()
        t = tr.call("table", Engine(spark).create, "live", self.target, ts_col="day", id_col="symbol")
        t.df().count()
        self.opens.append(time.perf_counter() - t0)
        stream = spark.readStream.schema(SCHEMA).parquet(self.src)
        self.query = streaming.append_stream(
            stream, self.target, ts_col="day", id_col="symbol", checkpoint=self.ckpt, trigger_once=False
        )
        self.dedup_stmt = self.dedup.setup(spark, tr, Engine(spark))
        self.stmts = self._statements() + [self.dedup_stmt]
        return {"opens_s": self.opens}

    def between_cycles(self) -> None:
        """Time LOAD_OPENS opens (``Engine.create`` + count) of the
        on-disk target. Called after the warm-up pass and after every
        cycle, so load_s, the median of these opens, samples the whole
        run."""
        from imcs_spark.table import Engine

        for _ in range(LOAD_OPENS):
            t0 = time.perf_counter()
            Engine(self.spark).create("live", self.target, ts_col="day", id_col="symbol").df().count()
            self.opens.append(time.perf_counter() - t0)

    # --- the append operation --------------------------------------------------
    def _land_and_wait(self, tr) -> list:
        i = self.acked
        if i >= INGEST_BATCHES:
            raise RuntimeError("ran out of generated ingest batches")
        name = f"b{i:04d}.parquet"
        src_file = os.path.join(self.batch_dir, name)
        tmp = os.path.join(self.src, "." + name)
        with tr.span("land", "client"):
            shutil.copy(src_file, tmp)
            os.rename(tmp, os.path.join(self.src, name))
        with tr.span("append_stream", "streaming"):
            deadline = time.perf_counter() + ACK_TIMEOUT_S
            while True:
                lp = self.query.lastProgress
                if lp and lp["batchId"] == i and lp["numInputRows"] > 0:
                    break
                if self.query.exception() is not None:
                    raise RuntimeError(f"append_stream failed: {self.query.exception()}")
                if time.perf_counter() > deadline:
                    raise TimeoutError(f"batch {i} not committed in {ACK_TIMEOUT_S} s")
                time.sleep(0.002)
        self.progress.append({k: lp["durationMs"].get(k, 0) for k in lp["durationMs"]})
        self.input_bytes += os.path.getsize(src_file)
        b = self.data.ingest_batch(i)
        self.close.append(b.column("close").to_numpy())
        self.volume.append(b.column("volume").to_numpy())
        self.acked += 1
        self._set_read_rows()
        # the batch's contents are checked by the reads that follow and
        # by the end-of-run durability check
        return []

    # --- statements --------------------------------------------------------------
    def _statements(self) -> list[Stmt]:
        from imcs_spark.functions import aggregates
        from imcs_spark.table import Engine

        spark, S = self.spark, self.data.scale.ingest_symbols

        def live(tr):
            return tr.call("table", Engine(spark).create, "live", self.target, ts_col="day", id_col="symbol")

        def week(self_=self):
            n = self_._n_days()
            return self_._day(n - 5), self_._day(n - 1)

        def r_vwap_week(tr):
            lo, hi = week()
            s = tr.call("table", live(tr).get, None, lo, hi)
            return s.groupBy("symbol").agg(tr.call("functions", aggregates.wavg, "volume", "close").alias("vwap"))

        def r_span(tr):
            return tr.call("table", live(tr).span, self.sym, -20).select("pos", "day", "close")

        def r_first(tr):
            return tr.call("table", live(tr).first)

        def r_last(tr):
            return tr.call("table", live(tr).last)

        def want_vwap():
            c = np.stack(self.close[-5:]).astype(np.float64)
            v = np.stack(self.volume[-5:]).astype(np.float64)
            w = (c * v).sum(axis=0) / v.sum(axis=0)
            syms = symbols(S)
            return [(syms[j], w[j]) for j in range(S)]

        def want_span():
            n = self._n_days()
            return [(k, self._day(k), float(self.close[k][self.sym_idx])) for k in range(n - 20, n)]

        def by0(rows):
            return sorted(rows, key=lambda r: r[0])

        self.reads = {
            st.kind: st
            for st in (
                Stmt("r_vwap_week", 5 * S, lambda rows: rows_match(by0(rows), want_vwap()), r_vwap_week, check_each=True),
                Stmt("r_span", 0, lambda rows: rows_match(by0(rows), want_span()), r_span, check_each=True),
                Stmt("r_first", 0, lambda rows: rows_match(rows, [(self._day(0),)]), r_first, check_each=True),
                Stmt("r_last", 0, lambda rows: rows_match(rows, [(self._day(self._n_days() - 1),)]), r_last, check_each=True),
            )
        }
        self._set_read_rows()
        self.append = Stmt("append", S, lambda rows: None, run=self._land_and_wait, check_each=True, is_append=True)
        return [self.append, *self.reads.values()]

    def _set_read_rows(self) -> None:
        """Input rows of the span and full-table reads grow with every batch."""
        n = self._n_days()
        self.reads["r_span"].input_rows = n
        self.reads["r_first"].input_rows = self.reads["r_last"].input_rows = n * self.data.scale.ingest_symbols

    def cycle(self, i: int) -> list[Stmt]:
        stmts = [self.append, *list(self.reads.values()) * READ_ROUNDS]
        return stmts + [self.dedup_stmt] if i == 0 else stmts

    def pipeline_probe(self, tr) -> dict:
        return self.dedup.probe(tr)

    # --- end of run --------------------------------------------------------------
    def durability_error(self) -> str | None:
        """A fresh reader over only the files on disk must see every
        acknowledged batch exactly once: per day, one row per symbol and
        the generated volume total. Stops the stream first."""
        self.query.stop()
        con = duckdb.connect()
        got = con.execute(
            f"SELECT day, count(*), count(DISTINCT symbol), sum(volume)"
            f" FROM read_parquet('{self.target}/*.parquet') GROUP BY day ORDER BY day"
        ).fetchall()
        con.close()
        S = self.data.scale.ingest_symbols
        want = [(self._day(k), S, S, int(self.volume[k].astype(np.int64).sum())) for k in range(self._n_days())]
        return rows_match([tuple(r) for r in got], want, rtol=0.0)

    def metrics(self) -> dict:
        self.query.stop()
        maxes = self.target + "_maxes"
        target_growth = dir_bytes(self.target) - self.base_bytes
        stored = target_growth + dir_bytes(maxes) + dir_bytes(self.ckpt)
        inb = max(self.input_bytes, 1)
        pm = lambda key: median([p.get(key, 0) for p in self.progress])  # noqa: E731
        return {
            "load_s": median(self.opens[1:]),
            "store_bytes_per_input_byte": stored / inb,
            "streaming.bytes_written_per_input_byte": target_growth / inb,
            "streaming.trigger_ms": pm("triggerExecution"),
            "streaming.add_batch_ms": pm("addBatch"),
            "streaming.planning_ms": pm("queryPlanning"),
            "streaming.wal_commit_ms": pm("walCommit"),
            "table.cache_mb": 0.0,
        }

    def teardown(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
