"""Turn a run's records into the metrics ``BENCHMARK.json`` names.

End-to-end metrics come from the untraced run's own clocks. Per-layer
metrics come from the traced run: its spans (:mod:`perfbench.spans`) and
the Spark event log, split by the job group of each operation. Additive
layer metrics are means per operation, so runs with different numbers of
passes compare.
"""

from __future__ import annotations

import statistics

import numpy as np

from perfbench import spans as sp


def median(samples) -> float:
    """The Harrell-Davis estimate of the median: a weighted mean of all the
    order statistics, with the weights a Beta((n+1)/2, (n+1)/2) law gives
    each rank. A query workload's latencies fall in clusters (a pass of
    16 queries has 8 below 0.35 s and 8 above 0.4 s), and the plain median
    jumps across such a gap when two queries swap places; this estimate
    moves by the weight of the samples that moved."""
    x = np.sort(np.asarray(list(samples), dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a = (n + 1) / 2
    t = np.linspace(0.0, 1.0, 20001)
    with np.errstate(divide="ignore"):
        pdf = np.exp((a - 1) * (np.log(t) + np.log1p(-t)))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(weights @ x)


def tail_latency(samples: list[float]) -> tuple[float, float, int]:
    """(percentile, value, sample count) for the highest nearest-rank
    percentile that leaves at least ten samples beyond it. With fewer than
    twenty samples no percentile above the median does; the median is
    reported then, and the value is never below the median."""
    s = sorted(samples)
    n = len(s)
    rank = n - 10
    if rank < n / 2:
        return 50.0, median(s), n
    return 100.0 * rank / n, max(s[rank - 1], median(s)), n


def end_to_end(run, workload: str, setup_s: float, rss_mb: float) -> dict:
    lat = [op["latency"] for op in run.ops]
    pct, tail, n = tail_latency(lat)
    wall = sum(run.pass_walls)
    if workload == "bar_ingest":
        throughput = run.delivered_bars / wall
        read_p50 = median(r["latency"] for r in run.reads)
    else:  # every operation is a read, and the items are the operations
        throughput = len(run.ops) / wall
        read_p50 = median(lat)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(run.pass_walls), "s"),
        "latency_p50_s": (median(lat), "s"),
        "latency_tail_s": (tail, "s"),
        "throughput_per_s": (throughput, "1/s"),
        "read_p50_s": (read_p50, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }, {"tail_pct": pct, "samples": n}


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(run, session_start_s: float, parsed: dict) -> dict:
    spans = run.tracer.spans
    self_t = sp.self_times(spans)
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    by_id = {s["id"]: s for s in spans}

    def under(s: dict, name: str) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    def per_op(name: str, ops, value=dur.get) -> float:
        ids = {op["id"] for op in ops}
        total = sum(value(s["id"]) for s in spans if s["name"] == name and s["op"] in ids)
        return total / len(ops) if ops else 0.0

    queries = [op for op in run.ops if op["kind"] == "query"]
    ingests = [op for op in run.ops if op["kind"] == "ingest"]
    # checkpoints not nested in another checkpoint, so their time is not counted twice
    top_ckpt = [s for s in spans if s["name"] == "operators.checkpoint" and not under(s, "operators.checkpoint")]
    build_ckpt = sum(dur[s["id"]] for s in top_ckpt if under(s, "queries.build"))

    def groups(op, suffixes=None) -> set[str]:
        gs = {g for g in op["groups"] if suffixes is None or g.rsplit(".", 1)[1] in suffixes}
        if "stream" in op and (suffixes is None or "exec" in suffixes):
            gs.add(op["stream"])
        return gs

    tot = [sp.group_totals(parsed, groups(op)) for op in run.ops]
    jobs_build = [sp.group_totals(parsed, groups(op, {"build"}))["jobs"] for op in queries]
    jobs_exec = [sp.group_totals(parsed, groups(op, {"exec"}))["jobs"] for op in queries]
    written = sum(t["written"] for t in tot)
    triggers = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in run.progress]
    add_batch = [p["durationMs"].get("addBatch", 0) / 1e3 for p in run.progress]
    build_s = per_op("queries.build", queries)
    metrics = {
        "session.start_s": (session_start_s, "s"),
        "catalog.scan_bytes": (_mean(t["input"] for t in tot), "bytes"),
        "catalog.load_table_s": (per_op("catalog.load_table", run.ops), "s"),
        "queries.build_s": (build_s, "s"),
        "queries.build_self_s": (build_s - (build_ckpt / len(queries) if queries else 0.0), "s"),
        "queries.plan_s": (per_op("queries.plan", queries), "s"),
        "queries.exec_s": (per_op("queries.exec", queries), "s"),
        "queries.jobs_build": (_mean(jobs_build), "count"),
        "queries.jobs_exec": (_mean(jobs_exec), "count"),
        "queries.stages": (_mean(t["stages"] for t in tot), "count"),
        "queries.tasks": (_mean(t["tasks"] for t in tot), "count"),
        "queries.serial_stages": (_mean(t["serial_stages"] for t in tot), "count"),
        "queries.shuffle_write_bytes": (_mean(t["swrite"] for t in tot), "bytes"),
        "queries.shuffle_read_bytes": (_mean(t["sread"] for t in tot), "bytes"),
        "queries.spill_bytes": (_mean(t["spill"] for t in tot), "bytes"),
        "queries.executor_run_s": (_mean(t["run_s"] for t in tot), "s"),
        "queries.executor_cpu_s": (_mean(t["cpu_s"] for t in tot), "s"),
        "operators.checkpoints": (per_op("operators.checkpoint", run.ops, lambda _: 1), "count"),
        "operators.checkpoint_s": (
            sum(dur[s["id"]] for s in top_ckpt) / len(run.ops),
            "s",
        ),
        "operators.python_bytes": (_mean(t["python"] for t in tot), "bytes"),
        "sources.upsert_s": (per_op("sources.upsert", ingests), "s"),
        "sources.bytes_written": (_mean(t["written"] for t in tot), "bytes"),
        "sources.files_written": (_mean(op.get("files_written", 0) for op in ingests), "count"),
        "sources.partitions_rewritten": (_mean(op.get("partitions_rewritten", 0) for op in ingests), "count"),
        "sources.write_amplification": (written / run.delivered_bytes if run.delivered_bytes else 0.0, "ratio"),
        "sources.table_files": (run.table_files, "count"),
        "streaming.trigger_p50_s": (statistics.median(triggers) if triggers else 0.0, "s"),
        "streaming.add_batch_s": (statistics.median(add_batch) if add_batch else 0.0, "s"),
        "streaming.status_rescan_s": (
            _mean(self_t[s["id"]] for s in spans if s["name"] == "streaming.batch_ingest"),
            "s",
        ),
        "trace.wall_s": (statistics.median(run.pass_walls), "s"),
    }
    return metrics
