"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload quote_dashboard --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
they are the per-layer metrics, taken from a run whose even cycles are
traced and odd cycles are not (their p50 difference is the tracing
overhead). A full report, and the spans of a traced run, are written
under ``.perfbench/out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# end-to-end metrics: printed with --trace 0
END_TO_END = {
    "setup_s": "s",
    "load_s": "s",
    "stmt_p50_ms": "ms",
    "stmt_tail_ms": "ms",
    "stmt_per_s": "1/s",
    "input_rows_per_s": "rows/s",
    "store_bytes_per_input_byte": "ratio",
}

# per-layer metrics: printed with --trace 1 (0 where a workload has no such path)
PER_LAYER = {
    "session.start_s": "s",
    "gen_s": "s",
    "table.load_s": "s",
    "table.cache_mb": "MB",
    "table.call_ms": "ms",
    "functions.call_ms": "ms",
    "operators.grouping.call_ms": "ms",
    "operators.windows.call_ms": "ms",
    "operators.sorting.call_ms": "ms",
    "operators.joins.call_ms": "ms",
    "operators.timeseries.call_ms": "ms",
    "operators.eager_jobs": "count",
    "sqlsurface.sql_ms": "ms",
    "spark.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs_per_stmt": "count",
    "spark.stages_per_stmt": "count",
    "spark.tasks_per_stmt": "count",
    "spark.floor_ms": "ms",
    "spark.scan_rows_per_result_row": "ratio",
    "spark.files_per_scan": "count",
    "spark.shuffle_mb_per_stmt": "MB",
    "spark.spill_mb": "MB",
    "spark.python_rows": "count",
    "spark.python_data_mb": "MB",
    "spark.result_rows": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.bytes_written_per_input_byte": "ratio",
    "pipeline.dedup.candidate_pairs": "count",
    "pipeline.dedup.verified_ratio": "ratio",
    "pipeline.dedup.cc_ms": "ms",
    "pipeline.similarity.index_s": "s",
    "pipeline.similarity.topk_ms": "ms",
    "pipeline.similarity.rerank_per_query": "count",
    "table.failed": "count",
    "functions.failed": "count",
    "operators.failed": "count",
    "sqlsurface.failed": "count",
    "streaming.failed": "count",
    "pipeline.failed": "count",
    "spark.failed": "count",
    "results.failed": "count",
    "append_p50_ms": "ms",
    "append_tail_ms": "ms",
    "ingest_rows_per_s": "rows/s",
    "recall_at_10": "ratio",
    "failed_frac": "ratio",
    "stmt_tail_pct": "%",
    "stmt_samples": "count",
    "trace.overhead_ms": "ms",
}

WORKLOADS = ("quote_dashboard", "quote_ingest")


def make_workload(name: str, data, seed: int):
    if name == "quote_dashboard":
        from w_dashboard import Dashboard

        return Dashboard(data, seed)
    from w_ingest import Ingest

    return Ingest(data, seed, WORK)


def trace_overhead(traced, plain) -> float:
    """Median over statement kinds of (traced p50 - untraced p50), over
    the kinds that ran both ways."""
    from common import median

    def by_kind(samples):
        out: dict[str, list[float]] = {}
        for s in samples:
            out.setdefault(s.kind, []).append(s.ms)
        return out

    t, p = by_kind(traced), by_kind(plain)
    return median([median(t[k]) - median(p[k]) for k in t.keys() & p.keys()])


def summarize(wl, runner, tracer, session_s: float, gen_s: float, setup_s: float) -> dict:
    from common import mean, median, tail

    samples = runner.samples
    plain = [s for s in samples if not s.traced]
    lat = [s.ms for s in plain]
    t_val, t_pct, t_n = tail(lat)
    busy_s = sum(lat) / 1e3
    extra = wl.metrics()
    m = {
        "setup_s": setup_s,
        "load_s": extra.pop("load_s"),
        "stmt_p50_ms": median(lat),
        "stmt_tail_ms": t_val,
        "stmt_per_s": len(samples) / runner.window_s if runner.window_s else 0.0,
        "input_rows_per_s": sum(s.input_rows for s in plain) / busy_s if busy_s else 0.0,
        "store_bytes_per_input_byte": extra.pop("store_bytes_per_input_byte"),
    }
    layer = {k: 0.0 for k in PER_LAYER}
    layer.update(extra)
    appends = [s.ms for s in plain if s.is_append]
    if appends:
        a_val, _, _ = tail(appends)
        layer["append_p50_ms"] = median(appends)
        layer["append_tail_ms"] = a_val
        layer["ingest_rows_per_s"] = sum(s.input_rows for s in plain if s.is_append) / (sum(appends) / 1e3)
    layer["session.start_s"] = session_s
    layer["gen_s"] = gen_s
    layer["table.load_s"] = m["load_s"]
    layer["spark.floor_ms"] = median(runner.floor_ms)
    topk = [s.ms for s in plain if s.kind.startswith("topk_")]
    if topk:
        layer["pipeline.similarity.topk_ms"] = median(topk)
    for name, n in runner.failed.items():
        key = f"{name.split('.')[0]}.failed"
        layer[key] = layer.get(key, 0.0) + n
    layer["failed_frac"] = runner.failed_total() / max(runner.attempted, 1)
    layer["stmt_tail_pct"] = t_pct
    layer["stmt_samples"] = t_n
    traced = [s for s in samples if s.traced]
    if traced:
        spans = [s for s in tracer.spans if s["end"] is not None]
        for key in PER_LAYER:
            if key.endswith(".call_ms"):
                lay = key[: -len(".call_ms")]
                layer[key] = mean([(s["end"] - s["start"]) * 1e3 for s in spans if s["layer"] == lay])
        layer["sqlsurface.sql_ms"] = mean([(s["end"] - s["start"]) * 1e3 for s in spans if s["layer"] == "sqlsurface"])
        for nm in ("plan", "exec"):
            layer[f"spark.{nm}_ms"] = median(
                [(s["end"] - s["start"]) * 1e3 for s in spans if s["layer"] == "spark" and s["name"] == nm]
            )
        cs = [s.counters for s in traced if "result_rows" in s.counters]
        tot = lambda k: sum(c.get(k, 0) for c in cs)  # noqa: E731
        avg = lambda k: tot(k) / len(cs)  # noqa: E731
        layer["operators.eager_jobs"] = avg("eager_jobs")
        layer["spark.jobs_per_stmt"] = avg("jobs")
        layer["spark.stages_per_stmt"] = avg("stages")
        layer["spark.tasks_per_stmt"] = avg("tasks")
        layer["spark.scan_rows_per_result_row"] = tot("scan_rows") / max(tot("result_rows"), 1)
        layer["spark.files_per_scan"] = tot("files") / max(tot("file_scans"), 1)
        layer["spark.shuffle_mb_per_stmt"] = avg("shuffle_bytes") / 1e6
        layer["spark.spill_mb"] = avg("spill_bytes") / 1e6
        layer["spark.python_rows"] = avg("python_rows")
        layer["spark.python_data_mb"] = avg("python_bytes") / 1e6
        layer["spark.result_rows"] = avg("result_rows")
        layer["trace.overhead_ms"] = trace_overhead(traced, plain)
    return {"end_to_end": m, "per_layer": layer}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import imcs_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    from common import Runner, conditions, cpu_times, start_session, steal_pct, stop_session
    from gen import DataCache
    from spans import Tracer

    os.makedirs(os.path.join(WORK, "data"), exist_ok=True)
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)

    data = DataCache(os.path.join(WORK, "data"), args.seed, args.scale)
    wl = make_workload(args.workload, data, args.seed)
    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    wl.prepare()
    phase("prepare")
    spark, session_s = start_session(WORK)
    phase("session")
    try:
        tracer = Tracer(spark, enabled=False)
        runner = Runner(spark, tracer)
        info = wl.setup(spark, tracer)
        phase("setup")
        runner.warm_up(wl.stmts)
        between = getattr(wl, "between_cycles", None)
        if between:
            between()
        phase("warm_up")
        t_first = time.perf_counter()
        # set-up: process start to the first timed statement, without
        # data generation and reference computation
        setup_s = t_first - T_START - data.gen_s - wl.ref_s
        cpu0 = cpu_times()
        runner.loop(wl.cycle, max(1, round(args.seconds / wl.CYCLE_S)), bool(args.trace), between)
        cpu1 = cpu_times()
        phase("loop")
        probe = wl.pipeline_probe(tracer) if args.trace and hasattr(wl, "pipeline_probe") else {}
        if hasattr(wl, "durability_error"):
            runner.attempted += 1
            err = wl.durability_error()
            if err:
                runner._fail("results", f"durability: {err}")
        summary = summarize(wl, runner, tracer, session_s, data.gen_s, setup_s)
        summary["per_layer"].update(probe)
        cond = conditions(spark, args.seed)
    finally:
        if hasattr(wl, "teardown"):
            wl.teardown()
        stop_session(spark)
        phase("teardown")

    from common import median

    cond["floor_ms"] = median(runner.floor_ms)
    cond["loop_steal_pct"] = steal_pct(cpu0, cpu1)
    cond["workload"] = args.workload
    cond["scale"] = args.scale
    kinds: dict[str, list[float]] = {}
    for s in runner.samples:
        kinds.setdefault(s.kind, []).append(s.ms)
    report = {
        "conditions": cond,
        "setup": info,
        "gen_s": data.gen_s,
        "ref_s": wl.ref_s,
        "phases_s": phases,
        "stmt_tail": {"pct": summary["per_layer"]["stmt_tail_pct"], "samples": summary["per_layer"]["stmt_samples"]},
        "kind_p50_ms": {k: median(v) for k, v in sorted(kinds.items())},
        "warm_up_ms": runner.warm_ms,
        "samples": [[s.kind, round(s.ms, 3), s.traced] for s in runner.samples],
        "errors": runner.errors,
        **summary,
    }
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    if args.trace:
        table = tracer.self_times()
        report["self_time"] = table
        tracer.dump(os.path.join(out_dir, f"spans-{tag}.json"), {"conditions": cond})
        print("layer self time (traced cycles):", file=sys.stderr)
        for lay, row in sorted(table.items(), key=lambda kv: -kv[1]["self_ms"]):
            print(f"  {lay:24s} {row['self_ms']:10.1f} ms  {row['spans']:5d} spans", file=sys.stderr)
        print(f"  tracing overhead on stmt p50: {summary['per_layer']['trace.overhead_ms']:.1f} ms", file=sys.stderr)
    with open(os.path.join(out_dir, f"report-{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    for e in runner.errors:
        print("perfbench: " + e, file=sys.stderr)

    if args.trace:
        metrics = {k: {"value": float(summary["per_layer"][k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(summary["end_to_end"][k]), "unit": u} for k, u in END_TO_END.items()}
    failed = runner.failed_total()
    print(json.dumps({"conditions": cond}))
    print(json.dumps({"correct": failed == 0, "attempted": runner.attempted, "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
