"""bench_scale.py (beside bench.py): deterministic generation, the
run_scale contract and the bench tail lines.

Runs the module at toy sizes (monkeypatched constants) so the test
exercises generation, caching, and every timed query without paying
6M-row generation in CI."""

import json
import os

import pytest

import bench_scale as bs


def _bench_module():
    """bench.py loaded as a module (it is a script, not a package)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "benchmod",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


@pytest.fixture()
def tiny(monkeypatch, tmp_path):
    monkeypatch.setattr(bs, "N_SYMBOLS", 7)
    monkeypatch.setattr(bs, "N_DAYS", 30)
    monkeypatch.setattr(bs, "QUOTE_ROWS", 7 * 30)
    monkeypatch.setattr(bs, "DBITEM_ROWS", 500)
    monkeypatch.setattr(bs, "DOCS_2M", 3000)
    monkeypatch.setattr(bs, "ANN_ROWS", 2000)
    monkeypatch.setattr(bs, "ANN_CLUSTERS", 16)
    monkeypatch.setattr(bs, "ANN_QUERIES", 10)
    # 8 batches of 400 keeps the mod-10 dup mapping (step % 10 == 0)
    # and the horizon families non-empty
    monkeypatch.setattr(bs, "NDTTL_ROWS", 3200)
    monkeypatch.setattr(bs, "NDTRICKLE_CELLS", 50_000)
    return str(tmp_path)


def test_gen_quotes_deterministic(spark, tiny):
    p1, p2 = os.path.join(tiny, "a"), os.path.join(tiny, "b")
    bs.gen_quotes(spark, p1, parallelism=3)
    bs.gen_quotes(spark, p2, parallelism=5)  # layout-independent values
    a = sorted(map(str, spark.read.parquet(p1).collect()))
    b = sorted(map(str, spark.read.parquet(p2).collect()))
    assert a == b
    df = spark.read.parquet(p1)
    assert df.count() == 210
    assert set(df.columns) == {"symbol", "day", "open", "close", "high", "low", "volume"}
    row = df.filter("symbol = 'S0003'").orderBy("day").first()
    # OHLC invariants hold for every generated row
    bad = df.filter(
        "high < greatest(open, close) or low > least(open, close)"
        " or volume < 1000 or open < 10 or open > 500"
    ).count()
    assert bad == 0 and row is not None


def test_gen_dbitem_deterministic(spark, tiny):
    p = os.path.join(tiny, "d")
    bs.gen_dbitem(spark, p, parallelism=3)
    df = spark.read.parquet(p)
    assert df.count() == 500
    keys = df.select("trader", "desk", "office").distinct().count()
    assert 1 < keys <= 500
    # regeneration into the same path is a no-op via _ensure
    assert bs._ensure(spark, p, bs.gen_dbitem) is False


def test_run_scale_contract(spark, tiny):
    out = bs.run_scale(spark, tiny, runs=1)
    expected = {
        "load_quotes", "load_dbitem", "vwap_all", "vwap_one",
        "filter_project", "filtered_count", "sum_close",
        "dbitem_hash_agg", "rows_quote", "rows_dbitem",
        # every query row also records its prepared-plan execution time
        "vwap_all_exec", "vwap_one_exec", "filter_project_exec",
        "filtered_count_exec", "sum_close_exec", "dbitem_hash_agg_exec",
        # machine-floor probes recorded with every payload
        "floor_select1_exec", "floor_1task_agg_exec",
        "floor_32task_agg_exec",
    }
    assert expected <= set(out)
    assert out["rows_quote"] == 210 and out["rows_dbitem"] == 500
    for k in expected - {"rows_quote", "rows_dbitem"}:
        assert isinstance(out[k], float) and out[k] >= 0
    json.dumps(out)  # must be JSON-serializable for the bench line
    # curation soak section: stage keys present, invariants hold even
    # at toy size (they are exact properties, not tolerances that need
    # scale to hold)
    for k in (
        "cur2m_dedup_sec", "cur2m_decon_sec", "cur2m_quality_sec",
        "cur2m_redact_sec", "cur2m_split_pack_sec", "cur2m_e2e_sec",
        "cur2m_langid_sec", "cur2m_tokens_sec", "cur2m_fingerprint_sec",
    ):
        assert k in out and out[k] >= 0
    assert out["cur2m_tokens_ws"] > 0 and out["cur2m_tokens_bpe"] > 0
    assert 0 < out["cur2m_fingerprints"] <= out["cur2m_rows"]
    assert out["cur2m_rows"] == 3000
    # every 13th doc copies its predecessor's text -> survivors = n - n//13
    assert out["cur2m_dedup_survivors"] == 3000 - 3000 // 13
    assert out["cur2m_dedup_idempotent"] == 1
    assert out["cur2m_pack_budget_ok"] == 1
    assert 0 < out["cur2m_e2e_docs"] <= out["cur2m_dedup_survivors"]
    # ANN soak section: ground truth rows = 10 per query, recall in
    # [0,1]; at toy size (2k vectors, 16 cells, probe 8 of 64->capped)
    # recall should still be high on clustered data but is only
    # asserted sane here — the 1M run records the real number
    assert out["ann1m_rows"] == 2000
    assert 0.0 <= out["ann1m_ivf_recall10"] <= 1.0
    assert 0.0 <= out["ann1m_pq_recall10"] <= 1.0
    for k in (
        "ann1m_brute_sec", "ann1m_ivf_build_sec", "ann1m_ivf_query_sec",
        "ann1m_pq_build_sec", "ann1m_pq_query_sec",
    ):
        assert k in out and out[k] >= 0
    # round-10 contention hygiene: every soak section stamps its own
    # adjacent floor, the load rows carry medians, and each gate row
    # carries its interleaved floor probe
    for k in (
        "cur2m_floor_sec", "ann1m_floor_sec", "nd2m_floor_sec",
        "load_quotes_med", "load_dbitem_med",
        "vwap_one_exec_floor", "dbitem_hash_agg_exec_floor",
        # the transparency twin carries an interleaved floor too
        # (round-10 review: the control row must self-exonerate the
        # same way the gated rows do)
        "dbitem_hash_agg_shuffle_exec_floor",
    ):
        assert k in out and out[k] >= 0
    # 60M gate twins (round 11): every headline row measured at the
    # big scale with its own interleaved floor, dbitem included via
    # the packed-key load (at toy size the "60M" twin is 6x the toy
    # dbitem — the multiplier is relative so CI never generates 60M)
    for k in (
        "floor_60m_exec", "load_quotes_60m", "load_dbitem_60m",
        "vwap_one_60m_exec", "vwap_all_60m_exec",
        "filter_project_60m_exec", "filtered_count_60m_exec",
        "sum_close_60m_exec", "dbitem_hash_agg_60m_exec",
        "vwap_one_60m_exec_floor", "dbitem_hash_agg_60m_exec_floor",
    ):
        assert k in out and out[k] >= 0
    assert out["rows_dbitem_60m"] == 6 * out["rows_dbitem"]
    # TTL soak: exact horizon invariants hold at toy size too — near
    # dups (inside the horizon) drop in both runs, far dups drop only
    # in the unbounded run, and eviction can only KEEP more (superset)
    assert out["ndttl_kept_superset"] == 1
    assert out["ndttl_near_dropped_ttl"] == 1
    assert out["ndttl_near_dropped_nottl"] == 1
    assert out["ndttl_far_dropped_nottl"] == 1
    assert out["ndttl_far_kept_frac_ttl"] >= 0.9
    assert out["ndttl_kept"] >= out["ndttl_nottl_kept"]
    assert out["ndttl_state_bytes"] <= out["ndttl_nottl_state_bytes"]
    # as-of/stretch join soak (round 12): timed rows at both scales
    # with per-row floors, linear-extrapolation ratios, and the brute-
    # force slice equality pins — the 60M semantics must equal the
    # oracle-checked ones exactly even at toy size
    for k in (
        "joins_floor_sec", "asof_6m", "asof_60m",
        "stretch_6m", "stretch_60m", "asof_60m_floor",
        "stretch_60m_floor", "asof60m_linear_ratio",
        "stretch60m_linear_ratio",
    ):
        assert k in out and out[k] >= 0, k
    assert out["asof60m_slice_rows"] > 0
    assert out["asof60m_slice_equal"] == 1
    assert out["stretch60m_slice_rows"] > 0
    assert out["stretch60m_slice_equal"] == 1
    # 10M ANN soak (round 12): sample-trained IVF/PQ over the 10x
    # corpus with recall + speedup gates recorded
    for k in (
        "ann10m_rows", "ann10m_brute_sec", "ann10m_ivf_build_sec",
        "ann10m_ivf_query_sec", "ann10m_ivf_recall10",
        "ann10m_pq_build_sec", "ann10m_pq_query_sec",
        "ann10m_pq_recall10", "ann10m_ivf_speedup", "ann10m_pq_speedup",
    ):
        assert k in out, k
    assert out["ann10m_rows"] == 10 * out["ann1m_rows"]
    # trickle IN-pushdown regime section (round 12): three probe
    # shapes recorded over the synthesized decode-bound state
    for k in (
        "ndtrickle_state_rows", "ndtrickle_pushed_sec",
        "ndtrickle_fullscan_sec", "ndtrickle_join_sec",
        "ndtrickle_skip_ratio",
    ):
        assert k in out and out[k] >= 0, k
    assert out["ndtrickle_state_rows"] == bs.NDTRICKLE_CELLS
    assert out["ndtrickle_pushed_rows"] >= 256


def test_build_drift_line_normalizes_against_prev_round(tmp_path):
    """Round-12 VERDICT item 2: the bench must self-classify cross-round
    deltas. build_drift_line reads the newest BENCH_r{N}.json's compact
    gate line and emits [now_ms, prev_ms, raw, norm] per gate row plus
    the headline, normalized by the geomean floor-probe ratio — a row
    that moved WITH the floors must show norm ~1.0 while raw shows the
    drift."""
    m = _bench_module()

    # synthetic prev round in driver format: floors 2x today's, gate
    # rows 2x today's — i.e. pure environment drift, zero code change
    gate_line = json.dumps({
        "gate": {"vwap_one_exec": [40.0, 10.0, 42.0],
                 "sum_close_exec": [36.0, 76.2, 40.0]},
        "gate_60m": {},
        "floors_ms": {"select1": 60.0, "1task_agg": 60.0,
                      "32task_agg": 64.0, "shuffle_agg": 180.0},
        "invariants": {}, "compact": True,
    })
    summary = json.dumps({
        "metric": "imcs_spark_headline_queries_total", "value": 60.0,
        "unit": "sec", "sf": 0.1, "compact": True,
    })
    (tmp_path / "BENCH_r07.json").write_text(json.dumps(
        {"n": 7, "tail": gate_line + "\n" + summary}
    ))
    # an older, unparseable round must be skipped, not crash the reader
    (tmp_path / "BENCH_r03.json").write_text("{\"n\": 3, \"tail\": \"garbage")

    scale = {
        "floor_select1_exec": 0.030, "floor_1task_agg_exec": 0.030,
        "floor_32task_agg_exec": 0.032, "floor_shuffle_agg_exec": 0.090,
        "vwap_one_exec": 0.020, "sum_close_exec": 0.018,
    }
    line = m.build_drift_line({"value": 30.0}, scale, str(tmp_path))
    assert line["drift_vs_round"] == 7
    assert line["drift_factor"] == pytest.approx(0.5, abs=0.01)
    raw = line["gate_vs_prev"]["vwap_one_exec"][2]
    norm = line["gate_vs_prev"]["vwap_one_exec"][3]
    assert raw == pytest.approx(0.5, abs=0.01)       # looks 2x faster...
    assert norm == pytest.approx(1.0, abs=0.03)      # ...but it's drift
    assert line["headline_vs_prev"][2] == pytest.approx(0.5, abs=0.01)
    assert line["headline_vs_prev"][3] == pytest.approx(1.0, abs=0.03)
    # no prior round anywhere -> None, never an exception
    empty = tmp_path / "empty"
    empty.mkdir()
    assert m.build_drift_line({"value": 1.0}, scale, str(empty)) is None


def test_summary_line_carries_queries_within_the_tail_budget():
    """The bench capture parses only the last stdout line, so it must hold the
    headline AND the per-query table, and together with the gate line
    printed before it fit the 1990-byte tail budget; when 3 decimals
    would overflow, entries >= 0.1 s drop to 2."""
    import __spark_entry__

    m = _bench_module()
    names = list(__spark_entry__.queries())
    assert len(names) == 50
    # an r14-sized gate line: 853 bytes
    gate_line = json.dumps({"gate": {}, "pad": ""}, separators=(",", ":"))
    gate_line = gate_line.replace('""', '"' + "x" * (853 - len(gate_line)) + '"')
    assert len(gate_line) == 853
    payload = {
        "metric": "imcs_spark_headline_queries_total", "value": 10.1572,
        "unit": "sec", "sf": 0.1,
    }
    for secs, decimals in ((1.23456, 3), (12.3456, 2)):
        timings = {n: secs for n in names}
        line = m.summary_line(payload, timings, len(gate_line) + 1)
        d = json.loads(line)
        assert {"metric", "value", "unit", "sf", "queries"} <= set(d)
        assert d["value"] == 10.1572 and d["sf"] == 0.1
        assert d["queries"] == {n: round(secs, decimals) for n in names}
        assert len(gate_line) + 1 + len(line) + 1 <= m.TAIL_BUDGET == 1990
    # with no gate line (SPARK_GRAFT_SCALE=0) the 3 decimals always fit
    d = json.loads(m.summary_line(payload, {n: 12.3456 for n in names}))
    assert d["queries"][names[0]] == 12.346


def test_root_cause_picks_the_caused_by_line():
    """A py4j message: the wrapper line, a stack, then the JVM cause —
    the cause line is the one to record, not the last frame that
    happens to contain "Error"."""
    msg = (
        "An error occurred while calling o123.collectToPython.\n"
        ": org.apache.spark.SparkException: Job aborted due to stage "
        "failure: Task 3 in stage 7.0 failed 1 times\n"
        "\tat org.apache.spark.SparkException$.internalError(SparkException.scala:92)\n"
        "Caused by: java.lang.OutOfMemoryError: Java heap space\n"
        "\tat java.base/java.util.Arrays.copyOf(Arrays.java:3537)\n"
        "\tat org.apache.spark.sql.errors.QueryExecutionErrors$"
        ".failedToExecuteQueryError(QueryExecutionErrors.scala:123)\n"
    )
    assert bs.root_cause(msg) == "Caused by: java.lang.OutOfMemoryError: Java heap space"
    # no JVM cause: the first non-empty line
    assert bs.root_cause("\n  ValueError: bad input\nmore detail") == (
        "ValueError: bad input"
    )
    assert bs.root_cause("") == ""
