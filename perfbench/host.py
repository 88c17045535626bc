"""Runner settings and the Spark session's life cycle.

Every setting a run depends on is pinned here, and written into the work
directory inside the checkout, so no run leaves files elsewhere:

- ``SPARK_GRAFT_CPUS`` = the CPUs this process may run on (``nproc``);
- ``SPARK_GRAFT_DRIVER_MEM`` = 2g, well below a 15 GiB host (the session
  default, 48g, is sized for a 128 GiB one), and the JVM's initial heap is
  the same size, so its resident size does not depend on when the heap
  happened to grow;
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's ``java.io.tmpdir`` point
  into the work directory, and no JVM writes its perf-data file to /tmp;
- ``PYTHONPATH`` starts with the checkout root, or the Python workers of
  ``mapInPandas`` stages cannot import the engine;
- the working directory is a fresh directory, so ``spark-warehouse`` and
  ``metastore_db`` never land in the checkout's tree.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = ROOT / ".perfbench_work"
DRIVER_MEM = "2g"


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def runner_settings(work: Path) -> dict[str, str]:
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }


def pin_environment(work: Path) -> dict[str, str]:
    for sub in ("cwd", "spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    settings = runner_settings(work)
    os.environ.update(settings)
    os.chdir(work / "cwd")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return settings


def host_facts() -> dict:
    mem_kb = next(
        int(line.split()[1]) for line in Path("/proc/meminfo").read_text().splitlines() if line.startswith("MemTotal:")
    )
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gib": round(mem_kb / 2**20, 1)}


def start_spark(work: Path, event_log: bool):
    """Start the engine's session with the pinned settings; the event log
    (JSON, uncompressed) only for traced runs."""
    from dataingestion_pt_ms_spark.session import get_spark

    conf = {"spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'}"}
    if event_log:
        (work / "events").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": str(work / "events"),
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_kb(pid: int | str) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of the driver JVM and of this Python driver."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_kb(jvm_pid) / 1024.0, _vm_hwm_kb("self") / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove(path: Path) -> None:
    for _ in range(3):
        shutil.rmtree(path, ignore_errors=True)
        if not path.exists():
            return
        time.sleep(0.5)
