"""Shared machinery: the Spark session, the closed-loop statement runner,
result fingerprints and the summary statistics every workload reports."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

from spans import Tracer, plan_counters

DRIVER_MEM = "3g"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_session(work: str):
    """Local Spark with one task thread per core, all scratch space
    inside ``work``, after one trivial job. Returns (spark, seconds it
    took)."""
    t0 = time.perf_counter()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    # no hsperfdata files in the system temp directory, from the
    # launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from imcs_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the first job pays for task-thread and JIT start-up; run it here so
    # that load_s times the store load alone
    n = cpu_count()
    spark.range(0, n, 1, n).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def cpu_times() -> list[int] | None:
    """The machine's cumulative CPU times from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal), or None where there is
    no such file."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_pct(t0: list[int] | None, t1: list[int] | None) -> float | None:
    """Share of CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests: how contended a shared host was."""
    if not t0 or not t1 or len(t0) < 8 or len(t1) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / sum(d) if sum(d) else None


def conditions(spark, seed: int) -> dict:
    conf = spark.conf
    return {
        "cores": cpu_count(),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "?"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark_version": spark.version,
        "seed": seed,
    }


# --- result fingerprints --------------------------------------------------

def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}") if math.isfinite(v) else str(v)
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.9g}")
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def fingerprint(rows) -> tuple[int, str]:
    """Row count plus an order-insensitive hash of the rows, floats
    rounded to 9 significant digits."""
    c = sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)
    return len(c), hashlib.sha1(repr(c).encode()).hexdigest()[:16]


def close(a, b, rtol: float = 1e-5, atol: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=rtol, abs_tol=atol)
    return _norm(a) == _norm(b)


def rows_match(got: list[tuple], want: list[tuple], rtol: float = 1e-5) -> str | None:
    """Compare result rows with a reference; None when they agree."""
    if len(got) != len(want):
        return f"{len(got)} rows, reference has {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(close(x, y, rtol) for x, y in zip(g, w)):
            return f"row {i}: {g!r} != reference {w!r}"
    return None


# --- statements ---------------------------------------------------------------

@dataclass
class Stmt:
    """One statement kind. ``build`` makes a fresh DataFrame through the
    engine's public calls; ``check`` compares result rows with an
    independent reference and returns an error string or None.

    ``run`` replaces build+collect for operations that are not a single
    query (an ingest append); it returns rows to check.
    ``check_each``: check every execution (results change over the run)
    instead of checking once and comparing fingerprints afterwards.
    """

    kind: str
    input_rows: int
    check: Callable[[list], str | None]
    build: Callable[[Tracer], object] | None = None
    run: Callable[[Tracer], list] | None = None
    check_each: bool = False
    is_append: bool = False


@dataclass
class Sample:
    kind: str
    ms: float
    traced: bool
    input_rows: int
    is_append: bool
    counters: dict = field(default_factory=dict)


class Runner:
    """Closed loop, one client: the next statement starts only after the
    previous result has arrived."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tr = tracer
        self.samples: list[Sample] = []
        self.failed: dict[str, int] = {}
        self.attempted = 0
        self.expected: dict[str, tuple | None] = {}
        self.errors: list[str] = []
        self.floor_ms: list[float] = []
        self.warm_ms: dict[str, float] = {}
        self._floor_df = None
        self.window_s = 0.0

    def _fail(self, layer: str, msg: str) -> None:
        self.failed[layer] = self.failed.get(layer, 0) + 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def _execute(self, st: Stmt, traced: bool):
        """Run one statement; returns (rows, latency ms, counters)."""
        tr = self.tr
        tr.enabled = traced
        if not traced:
            t0 = time.perf_counter()
            if st.run is not None:
                rows = st.run(tr)
            else:
                rows = st.build(tr).collect()
            return rows, (time.perf_counter() - t0) * 1e3, {}
        counters: dict = {}
        t0 = time.perf_counter()
        with tr.span(st.kind, "stmt") as root:
            gid = tr.job_group()
            if st.run is not None:
                rows = st.run(tr)
                counters.update(tr.job_counts(gid))
            else:
                df = st.build(tr)
                build_jobs = tr.job_counts(gid)
                gid2 = tr.job_group()
                with tr.span("plan", "spark"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("exec", "spark"):
                    rows = df.collect()
                jc = tr.job_counts(gid2)
                counters["eager_jobs"] = build_jobs.get("jobs", 0)
                for k in ("jobs", "stages", "tasks"):
                    counters[k] = build_jobs.get(k, 0) + jc.get(k, 0)
                counters.update(plan_counters(df))
            tr.clear_group()
            counters["result_rows"] = len(rows)
            root.update(counters)
        return rows, (time.perf_counter() - t0) * 1e3, counters

    def attempt(self, st: Stmt, timed: bool, traced: bool = False) -> None:
        """Execute and verify one statement. Untimed executions are the
        warm-up pass, where each kind is checked against its reference."""
        self.attempted += 1
        try:
            rows, ms, counters = self._execute(st, traced)
        except Exception as e:  # a failed statement is counted, not fatal
            self.tr.enabled = False
            layer = getattr(e, "perfbench_layer", None) or "spark"
            self._fail(layer, f"{st.kind}: {type(e).__name__}: {str(e)[:300]}")
            return
        finally:
            self.tr.enabled = False
        rows = [tuple(r) for r in rows]
        if st.check_each or not timed:
            err = st.check(rows)
            if err:
                self._fail("results", f"{st.kind}: {err}")
                self.expected[st.kind] = None
            elif not st.check_each:
                self.expected[st.kind] = fingerprint(rows)
        else:
            want = self.expected.get(st.kind)
            if want is None or fingerprint(rows) != want:
                self._fail("results", f"{st.kind}: fingerprint differs from the checked result")
        if timed:
            self.samples.append(Sample(st.kind, ms, traced, st.input_rows, st.is_append, counters))

    def floor_probe(self) -> None:
        """Prepared trivial aggregate, one task per core: the fixed cost
        of a Spark job on the host at that moment."""
        if self._floor_df is None:
            n = cpu_count()
            self._floor_df = self.spark.range(0, n, 1, n).selectExpr("sum(id) AS s")
            self._floor_df.collect()
        t0 = time.perf_counter()
        self._floor_df.collect()
        self.floor_ms.append((time.perf_counter() - t0) * 1e3)

    def warm_up(self, stmts: list[Stmt]) -> None:
        for st in stmts:
            t0 = time.perf_counter()
            self.attempt(st, timed=False)
            self.warm_ms[st.kind] = (time.perf_counter() - t0) * 1e3

    def loop(
        self, cycle: Callable[[int], list[Stmt]], cycles: int, trace: bool, between: Callable[[], None] | None = None
    ) -> None:
        """Run ``cycles`` complete cycles, so every run of a workload
        times the same population of statements. In a traced run, even
        cycles are traced and odd ones are not, so the tracing overhead
        is measured under the same conditions; such a run makes at
        least one cycle of each. After each cycle come the floor probe
        and ``between``, outside the timed window."""
        if trace:
            cycles = max(cycles, 2)
        t0 = time.perf_counter()
        probe_s = 0.0
        for i in range(cycles):
            traced = trace and i % 2 == 0
            for st in cycle(i):
                self.attempt(st, timed=True, traced=traced)
            p0 = time.perf_counter()
            self.floor_probe()
            if between:
                between()
            probe_s += time.perf_counter() - p0
        self.window_s = time.perf_counter() - t0 - probe_s

    # --- summaries -------------------------------------------------------------
    def failed_total(self) -> int:
        return sum(self.failed.values())


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it:
    (value, percentile, sample count). Below 11 samples, the maximum."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return float("nan"), 0.0, 0
    if n < 11:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0
