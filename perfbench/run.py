"""The repository benchmark: one workload per invocation, closed loop, one
client, every output checked.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/workloads.py``): ``olap_tpch`` and
``llm_curation`` run registered queries over the benchmark's copy of the
sf0.1 tables; ``bar_ingest`` ingests seeded synthetic minute bars. The seed
fixes the inputs: the query order of each pass, or the bars.
``BENCHMARK.json`` lists ``llm_curation`` and ``bar_ingest`` only; the
comment above ``workloads.WORKLOADS`` says why.

``--trace 0`` measures the end-to-end metrics with nothing added to the
engine's calls. ``--trace 1`` turns on the Spark event log, wraps the layer
functions in spans and reports the per-layer metrics instead; its
``trace.wall_s`` minus the untraced ``wall_s`` is the tracing overhead.

End-to-end metrics (``--trace 0``):

- ``setup_s``: process start until the session is up and the warm-up done;
- ``wall_s``: the median pass's summed operation and status-read time;
- ``latency_p50_s``: median operation latency (Harrell-Davis estimate);
- ``latency_tail_s``: the highest percentile with ten samples beyond it, or
  the median below twenty samples; the percentile and the sample count are
  printed beside it on stderr;
- ``throughput_per_s``: bars delivered per second of ``wall_s`` on
  ``bar_ingest``, operations per second on the query workloads;
- ``read_p50_s``: median status-read latency on ``bar_ingest``; on the
  query workloads every operation is a read, so it equals the p50;
- ``peak_rss_mb``: VmHWM of the driver JVM plus the Python driver.

The error rate is ``failed / attempted`` of the result line: an operation
fails if it raises, returns the wrong row count, or (once per run, outside
the timed phase) its values differ from the pinned oracle result
(``perfbench/expected.json``, written by ``perfbench/pin.py``); on
``bar_ingest``, if the independent checker in ``perfbench/bars.py`` finds
the table wrong.

Progress and a readable summary go to stderr. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(each ``{"value": ..., "unit": ...}``). Spans and per-operation records of
the last run of each workload are written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import host, report, spans, workloads  # noqa: E402

DATA = host.ROOT / "perfbench" / "data" / "sf0.1"
OUT = host.ROOT / ".perfbench_out"


def warm_up(spark, workload: str, work: Path) -> None:
    """Let the JVM's JIT and the code generator warm up before timing: the
    workload's warm-up queries, each planned and collected the way an
    operation is, and on ``llm_curation`` a Python worker, through one
    ``mapInPandas`` stage. ``bar_ingest`` instead ingests a few days of
    bars into a table of its own; without that, its first batch and
    streaming runs took twice as long as the later ones."""
    from dataingestion_pt_ms_spark.queries import registry

    specs = registry()
    if workload == "llm_curation":
        spark.range(1000).mapInPandas(lambda it: it, "id long").toPandas()
    for name in workloads.WARM_UP[workload]:
        df = specs[name].fn(spark, str(DATA))
        df._jdf.queryExecution().executedPlan()
        df.toPandas()
    if workload == "bar_ingest":
        warm = workloads.Run(spark, spans.NullTracer(), work / "warm-up", str(DATA), label="warm-up")
        workloads.run_bars(warm, 0, 1, workloads.WARM_UP_SHAPE)
        if warm.failures:
            raise RuntimeError(f"bar_ingest warm-up failed: {warm.failures}")


def run_workload(args, work: Path, names=None, shape=None) -> tuple[dict, workloads.Run]:
    """Run one workload in ``work``. ``names`` (a query subset) and
    ``shape`` (a smaller bar shape) exist for the smoke tests."""
    settings = host.pin_environment(work)
    import dataingestion_pt_ms_spark  # noqa: F401  fails here outside a checkout

    traced = bool(args.trace)
    t0 = time.perf_counter()
    spark = host.start_spark(work, event_log=traced)
    session_start_s = time.perf_counter() - t0
    try:
        warm_up(spark, args.workload, work)
        tracer = spans.Tracer() if traced else spans.NullTracer()
        patches = spans.install(tracer, type(spark.range(1))) if traced else None
        setup_s = host.process_age_s()
        run = workloads.Run(spark, tracer, work, str(DATA))
        n_passes = workloads.passes_for(args.workload, args.seconds)
        try:
            if args.workload == "bar_ingest":
                workloads.run_bars(run, args.seed, n_passes, shape or workloads.SHAPE)
            else:
                names = names or workloads.QUERY_WORKLOADS[args.workload]
                workloads.run_queries(run, names, args.seed, n_passes)
        finally:
            if patches is not None:
                patches.undo()
        rss = host.peak_rss_mb(spark)
    finally:
        host.stop_spark(spark)
    e2e, tail = report.end_to_end(run, args.workload, setup_s, sum(rss))
    info = {"settings": settings, "host": host.host_facts(), "passes": n_passes, "rss_jvm_py_mb": rss, **tail}
    if traced:
        parsed = spans.parse_event_log(work / "events")
        return {"metrics": report.per_layer(run, session_start_s, parsed), **info}, run
    return {"metrics": e2e, **info}, run


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = host.WORK_ROOT / f"{args.workload}-{os.getpid()}"
    try:
        result, run = run_workload(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(host.ROOT)
        host.remove(work)
        try:
            host.WORK_ROOT.rmdir()  # only when no other run is using it
        except OSError:
            pass

    failed = sum(not op["ok"] for op in run.ops)
    for why in run.failures:
        print(f"FAILED {why}", file=sys.stderr)
    OUT.mkdir(exist_ok=True)
    stem = OUT / f"{args.workload}-trace{args.trace}"
    if args.trace:
        run.tracer.dump(stem.with_suffix(".spans.jsonl"))
    ops = [{k: v for k, v in op.items() if k != "first"} for op in run.ops]
    stem.with_suffix(".ops.json").write_text(json.dumps({**result, "seed": args.seed, "ops": ops}, indent=1, default=str))
    print(
        f"# {args.workload} seed={args.seed} trace={args.trace} passes={result['passes']} "
        f"ops={len(run.ops)} failed={failed} tail=p{result['tail_pct']:.1f} of {result['samples']} samples "
        f"rss jvm/py={result['rss_jvm_py_mb'][0]:.0f}/{result['rss_jvm_py_mb'][1]:.0f} MB",
        file=sys.stderr,
    )
    for name, (value, unit) in result["metrics"].items():
        print(f"#   {name:32s} {value:14.4f} {unit}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(run.ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
