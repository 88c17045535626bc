"""Record the same-host baseline: run every workload on several seeds
untraced and once traced, and write the medians, quartiles and spreads to
``perfbench/baseline.json``.

    python3 perfbench/record.py [--seeds 10] [--workload NAME ...]

The spread of a metric is the distance between the first and third
quartiles of its per-seed values (``statistics.quantiles(n=4)``) as a share
of their median: the figure ``BENCHMARK.json``'s bounds are set against.
The tracing overhead is the traced run's ``trace.wall_s`` minus the median
untraced ``wall_s``. The CPU steal share tells a recording on a quiet host
from one on a host whose other guests took CPU time.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import host, workloads  # noqa: E402

BENCH = json.loads((host.ROOT / "BENCHMARK.json").read_text())


def run_once(workload: str, seed: int, trace: int) -> dict:
    cmd = [
        *BENCH["command"], "--workload", workload, "--seed", str(seed),
        "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=host.ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-4000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    print(f"{workload} seed={seed} trace={trace} correct={result['correct']}", file=sys.stderr, flush=True)
    return result


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    return fields[7], sum(fields)


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None, "values": values}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10, help="untraced runs per workload; 0 keeps the recorded ones")
    ap.add_argument("--workload", action="append", choices=workloads.WORKLOADS)
    args = ap.parse_args(argv)

    out_path = host.ROOT / "perfbench" / "baseline.json"
    out = json.loads(out_path.read_text()) if out_path.exists() else {}
    out["host"] = host.host_facts()
    out["runner"] = {
        k: v for k, v in host.runner_settings(host.WORK_ROOT / "<run>").items() if k.startswith("SPARK_GRAFT")
    } | {"SPARK_LOCAL_DIRS, TMPDIR, cwd": ".perfbench_work/<run>/ in the checkout", "PYTHONPATH": "<checkout root>"}
    out["run_seconds"] = BENCH["run_seconds"]
    out["note"] = (
        "Same-host baseline at local[nproc]. bench.py's BASELINE_SEC guards are min-of-3 walls "
        "recorded at local[32] with count() as the action; they are not comparable with these figures."
    )
    out.setdefault("workloads", {})
    for wl in args.workload or [w["name"] for w in BENCH["workloads"]]:
        rec = out["workloads"].setdefault(wl, {})
        steal0, total0 = cpu_ticks()
        if args.seeds:  # --seeds 0 re-records only the traced run
            runs = [run_once(wl, seed, 0) for seed in range(1, args.seeds + 1)]
            rec["end_to_end"] = {
                m["name"]: summarize([r["metrics"][m["name"]]["value"] for r in runs]) for m in BENCH["end_to_end"]
            }
            rec["attempted"] = sum(r["attempted"] for r in runs)
            rec["failed"] = sum(r["failed"] for r in runs)
        traced = run_once(wl, 1, 1)
        rec["per_layer_seed1"] = {k: v["value"] for k, v in traced["metrics"].items()}
        rec["tracing_overhead_s"] = rec["per_layer_seed1"]["trace.wall_s"] - rec["end_to_end"]["wall_s"]["median"]
        # the share of CPU time the hypervisor gave to other guests while this
        # workload was recorded: near 0 on a quiet host
        steal1, total1 = cpu_ticks()
        rec["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        out_path.write_text(json.dumps(out, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
