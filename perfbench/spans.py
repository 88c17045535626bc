"""Spans around the engine's layer functions, and the Spark event-log
parser that splits each operation's jobs, stages and task metrics by layer.

Spans are recorded from here, never from the engine: :func:`install`
wraps each function under the name its caller looks it up by (a module
global, or a method on the DataFrame class), and the :class:`Patches` it
returns puts the originals back. Spans stay in memory; the runner writes them out when the
run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import weakref
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from pathlib import Path


class Tracer:
    """Nested wall-clock spans. One stack serves every thread: the only
    other thread that enters a span is the streaming foreachBatch callback,
    and the main thread is blocked in ``awaitTermination`` while it runs,
    so callback spans nest under the open trigger span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def begin(self, name: str) -> dict:
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "op": self.op,
            }
            self.spans.append(rec)
            self._stack.append(rec["id"])
        return rec

    def end(self, rec: dict) -> None:
        with self._lock:
            rec["end"] = time.perf_counter()
            self._stack.remove(rec["id"])

    @contextmanager
    def span(self, name: str):
        rec = self.begin(name)
        try:
            yield rec
        finally:
            self.end(rec)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


class NullTracer:
    """Stand-in for untraced runs: same calls, no records."""

    spans: list[dict] = []
    op: int | None = None

    def span(self, name: str):
        return nullcontext()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


class Patches:
    """Install and remove wrappers; each patch names the object and
    attribute the caller resolves at call time."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def set(self, owner: object, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def undo(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)


def install(tracer: Tracer, dataframe_cls) -> Patches:
    """Wrap the layer functions the workloads reach:

    - ``catalog.load_table``, in every engine module that imported it;
    - ``DataFrame.localCheckpoint``: every materialization, in queries and
      in the upsert sink;
    - ``ingest.run_batch_ingest``, ``ingest.normalize_bars`` and
      ``ingest.upsert_partitioned_parquet``: the ingest module imports the
      sink by name, so that binding is the one patched (``sinks`` too, for
      any other caller);
    - the ingest-event collect inside ``run_batch_ingest``: the frames
      ``emit_ingest_events`` returns are remembered, and ``collect`` on one
      of them is a span, so the status re-scan stays in the parent's self
      time.
    """
    import sys

    from dataingestion_pt_ms_spark import catalog
    from dataingestion_pt_ms_spark.queries import registry
    from dataingestion_pt_ms_spark.sources import sinks
    from dataingestion_pt_ms_spark.streaming import ingest

    registry()  # imports every query module
    p = Patches()
    original = catalog.load_table
    load = tracer.wrap("catalog.load_table", original)
    for name, mod in list(sys.modules.items()):
        if name.startswith("dataingestion_pt_ms_spark") and getattr(mod, "load_table", None) is original:
            p.set(mod, "load_table", load)
    p.set(dataframe_cls, "localCheckpoint", tracer.wrap("operators.checkpoint", dataframe_cls.localCheckpoint))
    p.set(ingest, "run_batch_ingest", tracer.wrap("streaming.batch_ingest", ingest.run_batch_ingest))
    p.set(ingest, "normalize_bars", tracer.wrap("streaming.normalize", ingest.normalize_bars))
    upsert = tracer.wrap("sources.upsert", sinks.upsert_partitioned_parquet)
    p.set(ingest, "upsert_partitioned_parquet", upsert)
    p.set(sinks, "upsert_partitioned_parquet", upsert)

    event_frames: weakref.WeakSet = weakref.WeakSet()
    emit = ingest.emit_ingest_events

    def emit_tagged(*args, **kwargs):
        df = emit(*args, **kwargs)
        event_frames.add(df)
        return df

    collect = dataframe_cls.collect

    def traced_collect(self):
        if self not in event_frames:
            return collect(self)
        with tracer.span("streaming.event_collect"):
            return collect(self)

    p.set(ingest, "emit_ingest_events", emit_tagged)
    p.set(dataframe_cls, "collect", traced_collect)
    return p


def parse_event_log(log_dir: Path) -> dict:
    """Read a Spark JSON event log: per job its group and stages; per stage
    its task count and summed task metrics, plus the Python-worker SQL
    metrics (bytes sent to and returned from Python workers); per SQL
    execution its group and the bytes its file scans read.

    Scan bytes are the scan nodes' driver-side ``size of files read``
    metric, not the tasks' ``input.bytesRead``: Spark 4's parquet reader
    fetches column chunks with vectored reads on other threads, which the
    task's file-system counters never see, so ``input.bytesRead`` holds
    little more than the footers (about 18 KB for a full scan of the
    10.8 MB lineitem file). ``size of files read`` is the on-disk size of
    the files a scan opens, after file pruning and before column pruning.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(
        lambda: {
            "tasks": 0, "sread": 0, "swrite": 0, "spill": 0,
            "cpu_s": 0.0, "run_s": 0.0, "python": 0, "written": 0,
        }
    )
    executions: dict[int, dict] = defaultdict(lambda: {"group": None, "input": 0.0})
    scan_metric_ids: set[int] = set()
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")):
        with f.open(errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                    }
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    stages[si["Stage ID"]]["tasks"] = si.get("Number of Tasks", 0)
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        _add_metric(st, str(acc.get("Name", "")), acc.get("Update", 0))
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    if "jobGroupId" in ev:
                        executions[ev["executionId"]]["group"] = ev["jobGroupId"]
                    scan_metric_ids.update(_metric_ids(ev["sparkPlanInfo"], "size of files read"))
                elif kind.endswith("DriverAccumUpdates"):
                    for acc_id, value in ev["accumUpdates"]:
                        if acc_id in scan_metric_ids:
                            executions[ev["executionId"]]["input"] += float(value)
    return {"jobs": jobs, "stages": dict(stages), "executions": dict(executions)}


def _metric_ids(node: dict, name: str):
    """Accumulator ids of every metric called ``name`` in a plan-info tree."""
    for m in node.get("metrics", []):
        if m.get("name") == name:
            yield m["accumulatorId"]
    for child in node.get("children", []):
        yield from _metric_ids(child, name)


_TASK_METRICS = {
    "internal.metrics.shuffle.read.localBytesRead": "sread",
    "internal.metrics.shuffle.read.remoteBytesRead": "sread",
    "internal.metrics.shuffle.write.bytesWritten": "swrite",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.output.bytesWritten": "written",
    "data sent to Python workers": "python",
    "data returned from Python workers": "python",
}


def _add_metric(st: dict, name: str, update) -> None:
    key = _TASK_METRICS.get(name)
    try:
        value = float(update)
    except (TypeError, ValueError):
        return
    if key is not None:
        st[key] += value
    elif name == "internal.metrics.executorCpuTime":
        st["cpu_s"] += value / 1e9
    elif name == "internal.metrics.executorRunTime":
        st["run_s"] += value / 1e3


def group_totals(parsed: dict, groups: set[str]) -> dict:
    """Sum the stage metrics of every job whose group is in ``groups``, and
    the scan bytes of every SQL execution in those groups. Stages skipped
    because their shuffle output was reused never complete and are not
    counted."""
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "serial_stages": 0, "input": 0.0,
        "sread": 0.0, "swrite": 0.0, "spill": 0.0, "cpu_s": 0.0, "run_s": 0.0,
        "python": 0.0, "written": 0.0,
    }
    seen: set[int] = set()
    for job in parsed["jobs"].values():
        if job["group"] not in groups:
            continue
        out["jobs"] += 1
        for sid in job["stages"]:
            st = parsed["stages"].get(sid)
            if st is None or sid in seen or st["tasks"] == 0:
                continue
            seen.add(sid)
            out["stages"] += 1
            out["tasks"] += st["tasks"]
            out["serial_stages"] += st["tasks"] <= 2  # tools/task_probe.py's rule
            for k in ("sread", "swrite", "spill", "cpu_s", "run_s", "python", "written"):
                out[k] += st[k]
    out["input"] = sum(e["input"] for e in parsed["executions"].values() if e["group"] in groups)
    return out
