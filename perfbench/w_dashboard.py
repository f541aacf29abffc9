"""quote_dashboard: short statements against the loaded Quote store.

Each statement touches little data, so its latency is set by plan
build, Catalyst planning and job/task scheduling. The mix is the
reference's published Quote questions and their neighbours, a few of
them as SQL text over the cs_* surface, plus a one-symbol chart panel
(moving average + EMA, extrema, an as-of join of the symbol's trades,
up/down runs) that keeps the window, join and time-series operators
measured, and one ANN top-k batch per cycle (``corpus.AnnServe``).
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pandas as pd

from common import Stmt, rows_match
from corpus import AnnServe
from gen import iso, quote_days, symbols


class Dashboard:
    name = "quote_dashboard"
    # one cycle's length on a 4-core machine; a run makes
    # round(seconds / CYCLE_S) complete cycles
    CYCLE_S = 9.5

    def __init__(self, data, seed: int):
        self.data = data
        self.rng = np.random.default_rng([seed, 101])
        self.ann = AnnServe(data, seed)

    # --- inputs and references (untimed) ----------------------------------
    def prepare(self) -> None:
        s = self.data.scale
        base = self.data.quotes()
        self.qdir = os.path.join(base, "quote")
        self.tdir = os.path.join(base, "trades")
        self.days = quote_days(s.n_days)
        syms = symbols(s.n_symbols)
        r = self.rng
        pick = lambda: syms[int(r.integers(0, len(syms)))]  # noqa: E731
        first_year, last_year = 2003, int(str(self.days[-1])[:4])
        y3 = int(r.integers(first_year, max(first_year, last_year - 2) + 1))
        qy, qq = int(r.integers(first_year, last_year + 1)), int(r.integers(0, 4))
        yy = int(r.integers(first_year, last_year + 1))
        self.p = {
            "sym_vwap": pick(),
            "sym_fp": pick(),
            "sym_span": pick(),
            "sym_top": pick(),
            "sym_chart": syms[int(r.integers(0, s.n_trade_symbols))],
            "y3": (f"{y3}-01-01", f"{y3 + 2}-12-31"),
            "quarter": (f"{qy}-{3 * qq + 1:02d}-01", iso(np.datetime64(f"{qy}-{3 * qq + 1:02d}") + np.timedelta64(3, "M") - np.timedelta64(1, "D"))),
            "year": (f"{yy}-01-01", f"{yy}-12-31"),
            "since": int(r.integers(first_year, last_year + 1)),
        }
        t0 = time.perf_counter()
        # the references depend only on the seed, like the data
        self.ref = self.data.memo(base, "dashboard-refs", self._references)
        self.ann.prepare()
        self.ref_s = time.perf_counter() - t0

    def _ndays(self, lo: str, hi: str) -> int:
        return int(((self.days >= np.datetime64(lo)) & (self.days <= np.datetime64(hi))).sum())

    def _references(self) -> dict:
        """Expected results, from DuckDB over the same Parquet files and
        numpy/pandas over the chart symbol's rows."""
        p = self.p
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        Q = f"read_parquet('{self.qdir}/*.parquet')"
        T = f"read_parquet('{self.tdir}/*.parquet')"
        q = lambda sql, *a: [tuple(r) for r in con.execute(sql, list(a)).fetchall()]  # noqa: E731
        ref = {}
        vwap = "sum(close * volume) / sum(volume)"
        ref["vwap_one"] = q(f"SELECT {vwap} FROM {Q} WHERE symbol = ? AND day BETWEEN ? AND ?", p["sym_vwap"], *p["y3"])
        ref["filter_project"] = q(
            f"SELECT day, close FROM {Q} WHERE symbol = ? AND day BETWEEN ? AND ?"
            " AND close::DOUBLE > open::DOUBLE * 1.01::DOUBLE ORDER BY day",
            p["sym_fp"], *p["quarter"],
        )
        ref["filtered_count"] = q(f"SELECT count(*) FROM {Q} WHERE close::DOUBLE > open::DOUBLE * 1.1::DOUBLE")
        ref["vwap_all"] = q(f"SELECT symbol, {vwap} FROM {Q} GROUP BY symbol ORDER BY symbol")
        ref["span_last"] = q(
            f"SELECT * FROM (SELECT row_number() OVER (ORDER BY day) - 1 AS pos, day, close, volume"
            f" FROM {Q} WHERE symbol = ?) ORDER BY pos DESC LIMIT 20",
            p["sym_span"],
        )[::-1]
        ref["top_max"] = q(
            f"SELECT close FROM {Q} WHERE symbol = ? AND day BETWEEN ? AND ? ORDER BY close DESC LIMIT 10",
            p["sym_top"], *p["y3"],
        )
        ref["approxdc"] = q(f"SELECT count(DISTINCT volume) FROM {Q} WHERE day BETWEEN ? AND ?", *p["year"])
        ref["sql_vwap_one"] = ref["vwap_one"]
        ref["sql_count_since"] = q(
            f"SELECT count(*) FROM {Q} WHERE close::DOUBLE > open::DOUBLE * 1.1::DOUBLE AND year(day) >= ?",
            p["since"],
        )
        # chart panel: the symbol's full series, computed in numpy/pandas
        ser = con.execute(
            f"SELECT day, open, close, volume FROM {Q} WHERE symbol = ? ORDER BY day", [p["sym_chart"]]
        ).df()
        x = ser["close"].to_numpy(np.float64)
        n = len(x)
        csum = np.concatenate([[0.0], np.cumsum(x)])
        lo = np.maximum(np.arange(n) - 19, 0)
        ma = (csum[1:] - csum[lo]) / (np.arange(n) - lo + 1)
        ema = np.empty(n)
        a = 2.0 / 13.0
        for i in range(n):
            ema[i] = x[i] if i == 0 else a * x[i] + (1 - a) * ema[i - 1]
        ref["chart_ma_ema"] = [(i, ma[i], ema[i]) for i in range(n)]
        ext, prev = [], None
        for i in range(1, n):
            t = np.sign(x[i] - x[i - 1])
            if t != 0:
                if prev is not None and t != prev:
                    ext.append(i - 1)
                prev = t
        ref["chart_extrema"] = [(k, v) for k, v in enumerate(ext)]
        trades = con.execute(f"SELECT day, price, qty FROM {T} WHERE symbol = ? ORDER BY day", [p["sym_chart"]]).df()
        quotes = ser[["day", "close"]]
        joined = pd.merge_asof(trades, quotes, on="day", direction="backward")
        ref["chart_asof"] = [
            (r.day.date(), float(r.price), int(r.qty), None if pd.isna(r.close) else float(r.close))
            for r in joined.itertuples()
        ]
        up = (ser["close"].to_numpy() > ser["open"].to_numpy())
        vol = ser["volume"].to_numpy(np.int64)
        runs, start = [], 0
        for i in range(1, n + 1):
            if i == n or up[i] != up[start]:
                runs.append((len(runs), bool(up[start]), i - start, int(vol[start:i].sum())))
                start = i
        ref["chart_runs"] = runs
        ref["chart_trades"] = len(trades)
        con.close()
        return ref

    # --- engine set-up (timed as set-up) ----------------------------------------
    def setup(self, spark, tr) -> dict:
        from imcs_spark.sqlsurface import register_sql, register_views
        from imcs_spark.table import Engine

        # one cold load, as a user pays it once per process (Quote_load)
        t0 = time.perf_counter()
        eng = Engine(spark)
        raw = tr.call("table", eng.create, "quote_src", self.qdir, ts_col="day", id_col="symbol")
        cached = raw.df().persist()
        cached.count()
        self.load_s = time.perf_counter() - t0
        self.q = eng.create("quote", cached, ts_col="day", id_col="symbol")
        traw = eng.create("trades_src", self.tdir, ts_col="day", id_col="symbol")
        tcached = traw.df().persist()
        tcached.count()
        self.trades = eng.create("trades", tcached, ts_col="day", id_col="symbol")
        register_sql(spark)
        # keyword form: register_views(engine=...) is broken (see README)
        register_views(spark, quote=self.q.df())
        self.spark = spark
        stats = eng.stats()
        src = sum(os.path.getsize(os.path.join(d, f)) for d in (self.qdir, self.tdir) for f in os.listdir(d))
        self.cache_bytes = stats["used_memory_bytes"]
        self.store_ratio = self.cache_bytes / src
        self.base_stmts = self._statements()
        self.topk = self.ann.setup(spark, tr, eng)
        self.stmts = self.base_stmts + self.topk
        return {"load_s": self.load_s}

    def _statements(self) -> list[Stmt]:
        from pyspark.sql import functions as F

        from imcs_spark.functions import aggregates
        from imcs_spark.operators import grouping, joins, sorting, timeseries, windows

        q, p, ref, spark = self.q, self.p, self.ref, self.spark
        N = self.data.scale.n_symbols * self.data.scale.n_days
        n_ser = self.data.scale.n_days
        def c(kind, key=lambda r: r, rtol=1e-5):
            want = key(ref[kind])
            return lambda rows: rows_match(key(rows), want, rtol)

        by0 = lambda rows: sorted(rows, key=lambda r: r[0])  # noqa: E731

        def vwap_one(tr):
            s = tr.call("table", q.get, p["sym_vwap"], *p["y3"])
            return s.agg(tr.call("functions", aggregates.wavg, "volume", "close").alias("vwap"))

        def filter_project(tr):
            s = tr.call("table", q.get, p["sym_fp"], *p["quarter"])
            return s.filter(F.col("close") > F.col("open") * 1.01).select("day", "close")

        def filtered_count(tr):
            s = tr.call("table", q.get)
            return s.filter(F.col("close") > F.col("open") * 1.1).agg(F.count(F.lit(1)).alias("n"))

        def vwap_all(tr):
            s = tr.call("table", q.get).withColumn("pv", F.col("close") * F.col("volume"))
            g = tr.call("operators.grouping", grouping.hash_agg, s, {"pv": ("sum", "pv"), "v": ("sum", "volume")}, ["symbol"])
            return g.select("symbol", (F.col("pv") / F.col("v")).alias("vwap"))

        def span_last(tr):
            return tr.call("table", q.span, p["sym_span"], -20).select("pos", "day", "close", "volume")

        def top_max(tr):
            s = tr.call("table", q.with_pos, tr.call("table", q.get, p["sym_top"], *p["y3"]))
            return tr.call("operators.sorting", sorting.top_max, s, 10, "close").select("close")

        def approxdc(tr):
            s = tr.call("table", q.get, None, *p["year"])
            return tr.call("functions", aggregates.approxdc_hll128, s, "volume")

        def sql_vwap_one(tr):
            lo, hi = p["y3"]
            return tr.call(
                "sqlsurface", spark.sql,
                "SELECT cs_wavg(CAST(volume AS DOUBLE), close) AS vwap FROM quote"
                f" WHERE symbol = '{p['sym_vwap']}' AND day BETWEEN '{lo}' AND '{hi}'",
            )

        def sql_count_since(tr):
            return tr.call(
                "sqlsurface", spark.sql,
                "SELECT count(*) AS n FROM quote WHERE close > open * 1.1"
                f" AND cs_year(CAST(day AS TIMESTAMP)) >= {p['since']}",
            )

        def chart(tr):
            return tr.call("table", q.with_pos, tr.call("table", q.get, p["sym_chart"]))

        def chart_ma_ema(tr):
            m = tr.call("operators.windows", windows.moving_agg, chart(tr), "avg", 20, "close", ["symbol"], out_col="ma20")
            e = tr.call("operators.windows", windows.ema, m, 12, "close", ["symbol"], out_col="ema12")
            return e.select("pos", "ma20", "ema12")

        def chart_extrema(tr):
            return tr.call("operators.timeseries", timeseries.extrema, chart(tr), 0, "close", ["symbol"]).select("pos", "val")

        def chart_asof(tr):
            left = tr.call("table", self.trades.get, p["sym_chart"])
            right = tr.call("table", q.get, p["sym_chart"]).select("symbol", "day", "close")
            j = tr.call(
                "operators.joins", joins.asof_join, left, right, on="day", by=["symbol"],
                right_cols=["close"], direction="backward",
            )
            return j.select("day", "price", "qty", "close")

        def chart_runs(tr):
            s = chart(tr).withColumn("up", F.col("close") > F.col("open"))
            g = tr.call(
                "operators.grouping", grouping.group_aggs, s,
                {"n": ("count", "close"), "vol": ("sum", "volume")}, "up", ["symbol"],
            )
            return g.select("pos", "up", "n", "vol")

        def approx_ok(rows):
            exact = ref["approxdc"][0][0]
            if len(rows) != 1 or abs(rows[0][0] - exact) > 0.35 * exact:
                return f"estimate {rows} vs exact distinct {exact}"
            return None

        y3n = self._ndays(*p["y3"])
        qn = self._ndays(*p["quarter"])
        yn = self._ndays(*p["year"])
        S = self.data.scale.n_symbols
        asof_rows = n_ser + ref["chart_trades"]
        return [
            Stmt("vwap_one", y3n, c("vwap_one"), vwap_one),
            Stmt("filter_project", qn, c("filter_project", key=by0), filter_project),
            Stmt("filtered_count", N, c("filtered_count"), filtered_count),
            Stmt("vwap_all", N, c("vwap_all", key=by0), vwap_all),
            Stmt("span_last", n_ser, c("span_last", key=by0), span_last),
            Stmt("top_max", y3n, c("top_max", key=lambda r: sorted(r, reverse=True)), top_max),
            Stmt("approxdc", yn * S, approx_ok, approxdc),
            Stmt("sql_vwap_one", y3n, c("sql_vwap_one"), sql_vwap_one),
            Stmt("sql_count_since", N, c("sql_count_since"), sql_count_since),
            Stmt("chart_ma_ema", n_ser, c("chart_ma_ema", key=by0, rtol=1e-6), chart_ma_ema),
            Stmt("chart_extrema", n_ser, c("chart_extrema", key=by0), chart_extrema),
            Stmt("chart_asof", asof_rows, c("chart_asof", key=lambda r: sorted(r, key=repr)), chart_asof),
            Stmt("chart_runs", n_ser, c("chart_runs", key=by0), chart_runs),
        ]

    def cycle(self, i: int) -> list[Stmt]:
        """Every Quote statement once and query batch i, in a seeded order."""
        stmts = self.base_stmts + [self.topk[i % len(self.topk)]]
        order = np.random.default_rng([int(self.rng.integers(1 << 30)), i]).permutation(len(stmts))
        return [stmts[k] for k in order]

    def metrics(self) -> dict:
        return {
            "load_s": self.load_s,
            "store_bytes_per_input_byte": self.store_ratio,
            "table.cache_mb": self.cache_bytes / 1e6,
            **self.ann.metrics(),
        }
