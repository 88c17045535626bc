"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start Spark once per workload, on a few queries or a few
bars, and take about a minute together.
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import replace
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import bars, host, report, run, spans, workloads

BENCH = json.loads((host.ROOT / "BENCHMARK.json").read_text())
TINY = bars.BarShape(symbols=4, bars_per_day=5, history_days=3, runs=2)


# --- the percentile rule ---------------------------------------------------


@pytest.mark.parametrize(
    "n, pct, value",
    [(1, 50.0, 1), (7, 50.0, 4), (19, 50.0, 10), (20, 50.0, 10.5), (30, 20 / 30 * 100, 20), (1000, 99.0, 990)],
)
def test_tail_leaves_ten_samples_beyond_or_falls_to_the_median(n, pct, value):
    samples = list(np.random.default_rng(n).permutation(np.arange(1.0, n + 1)))
    got_pct, got, count = report.tail_latency(samples)
    assert (got_pct, got, count) == (pytest.approx(pct), pytest.approx(value), n)
    if n > 20:  # samples are 1..n, so the value is its rank
        assert sum(s > got for s in samples) == 10


def test_median_is_central_and_moves_smoothly_across_a_gap():
    assert report.median([5.0]) == 5.0
    assert report.median([3.0, 1.0, 2.0]) == pytest.approx(2.0)
    low, high = [0.3] * 8, [0.45] * 8
    base = report.median(low + high)
    assert base == pytest.approx(0.375)
    # one sample crossing the gap moves the estimate part of the way; the
    # plain median would jump to the far side, 0.45
    moved = report.median(low[:-1] + [0.46] + high)
    assert base < moved < 0.42


# --- the generator ---------------------------------------------------------


def _deliveries(seed: int) -> list[pa.Table]:
    state = bars.BarState(TINY, seed)
    out = [state.delivery(state.initial_days())]
    for _ in range(TINY.runs):
        out.append(state.delivery(state.next_run()))
    return out


def test_same_seed_same_bars_other_seed_other_bars():
    a, b, c = _deliveries(3), _deliveries(3), _deliveries(4)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not any(x.equals(z) for x, z in zip(a, c))


def test_scheduled_runs_redeliver_the_history_window_with_one_new_day():
    state = bars.BarState(TINY, 0)
    stored = state.delivery(state.initial_days())
    days = state.next_run()
    assert list(days) == [1, 2, 3]  # the whole history window, day 3 new
    assert state.delivery(days).num_rows == TINY.history_days * TINY.symbols * TINY.bars_per_day
    assert stored.num_rows == TINY.history_days * TINY.symbols * TINY.bars_per_day


# --- the independent checker -----------------------------------------------


def _store(state: bars.BarState, root: Path) -> Path:
    """Write the expected state as the ingest would lay it out: one
    directory per bar_date, the long column names."""
    for day in np.flatnonzero(state.present.any(axis=(1, 2))):
        t = state.delivery(range(day, day + 1))
        t = t.rename_columns(["symbol", "timeframe", "ts", "open", "high", "low", "close", "volume"])
        part = root / f"bar_date={state.day_name(day)}"
        part.mkdir(parents=True)
        pq.write_table(t, part / "part-0.parquet")
    return root


def test_checker_accepts_the_expected_state(tmp_path):
    state = bars.BarState(TINY, 5)
    state.next_run()
    assert bars.table_state(_store(state, tmp_path)) == state.expected()


def test_checker_flags_a_dropped_key(tmp_path):
    state = bars.BarState(TINY, 5)
    part = next(_store(state, tmp_path).glob("bar_date=*/*.parquet"))
    t = pq.read_table(part)
    pq.write_table(t.slice(1), part)
    rows, _ = bars.table_state(tmp_path)
    assert rows == state.expected()[0] - 1


def test_checker_flags_an_altered_value(tmp_path):
    state = bars.BarState(TINY, 5)
    part = next(_store(state, tmp_path).glob("bar_date=*/*.parquet"))
    t = pq.read_table(part)
    close = t.column("close").to_numpy().copy()
    close[0] += 0.01
    pq.write_table(t.set_column(t.schema.get_field_index("close"), "close", pa.array(close)), part)
    got, want = bars.table_state(tmp_path), state.expected()
    assert got[0] == want[0] and got[1] != want[1]


def test_untouched_partitions_are_compared_by_files():
    before = {"2024-01-01": {"a.parquet": (10, 1)}, "2024-01-02": {"b.parquet": (10, 1)}}
    after = {"2024-01-01": {"a.parquet": (10, 1)}, "2024-01-02": {"c.parquet": (11, 2)}}
    assert bars.changed_untouched(before, after, {"2024-01-02"}) == []
    assert bars.changed_untouched(before, after, set()) == ["2024-01-02"]


# --- tracing -----------------------------------------------------------------


def test_install_wraps_every_caller_binding_and_undo_restores_them():
    import sys

    from pyspark.sql import DataFrame

    from dataingestion_pt_ms_spark import catalog
    from dataingestion_pt_ms_spark.streaming import ingest

    original = catalog.load_table
    patches = spans.install(spans.Tracer(), DataFrame)  # imports every query module
    try:
        binders = [
            m for n, m in sys.modules.items() if n.startswith("dataingestion_pt_ms_spark.queries.") and hasattr(m, "load_table")
        ]
        assert binders and all(m.load_table.__wrapped__ is original for m in binders)
        assert ingest.upsert_partitioned_parquet.__wrapped__ is not None
    finally:
        patches.undo()
    assert all(m.load_table is original for m in binders)
    assert not hasattr(ingest.upsert_partitioned_parquet, "__wrapped__")


def test_self_time_subtracts_direct_children():
    s = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 5.0, "end": 6.0},
    ]
    assert spans.self_times(s) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}


# --- smoke runs --------------------------------------------------------------


def _smoke(tmp_path, workload: str, trace: int, **kw):
    args = argparse.Namespace(workload=workload, seed=1, seconds=1.0, trace=trace)
    try:
        result, r = run.run_workload(args, host.WORK_ROOT / f"smoke-{workload}", **kw)
    finally:
        os.chdir(host.ROOT)  # run_workload moved into the work directory
        host.remove(host.WORK_ROOT / f"smoke-{workload}")
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    assert r.failures == []
    assert all(op["ok"] for op in r.ops)
    return result["metrics"], r


def test_smoke_olap_tpch_untraced(tmp_path):
    metrics, r = _smoke(tmp_path, "olap_tpch", 0, names=("q6_forecast_revenue", "ingest_status_serving"))
    assert len(r.ops) == 2
    assert all(v > 0 for v, _ in metrics.values())


def test_smoke_olap_tpch_traced_counts_fact_table_scans(tmp_path):
    metrics, r = _smoke(tmp_path, "olap_tpch", 1, names=("q6_forecast_revenue",))
    assert metrics["catalog.scan_bytes"][0] >= (run.DATA / "lineitem.parquet").stat().st_size
    assert metrics["operators.checkpoints"][0] == 0
    assert metrics["operators.python_bytes"][0] == 0
    assert metrics["sources.bytes_written"][0] == 0


def test_smoke_llm_curation_traced(tmp_path):
    metrics, r = _smoke(tmp_path, "llm_curation", 1, names=("text_term_frequency", "graph_copurchase_triangles"))
    assert metrics["operators.checkpoints"][0] > 0
    assert metrics["sources.bytes_written"][0] == 0


def test_smoke_bar_ingest_traced(tmp_path):
    metrics, r = _smoke(tmp_path, "bar_ingest", 1, shape=replace(TINY))
    assert [op["name"] for op in r.ops] == ["initial_load", "run0", "run1", "replay"]
    assert metrics["sources.bytes_written"][0] > 0
    assert metrics["streaming.trigger_p50_s"][0] > 0
