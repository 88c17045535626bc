"""Write ``perfbench/expected.json``: for every benchmark query, its row
count and the order-insensitive value hash a run must reproduce.

The hash is the DuckDB oracle's result. This script runs the query on
Spark and its oracle on DuckDB over the benchmark's data, and pins nothing
unless ``tools/check_oracle.py``'s comparison finds the two equal. A query
without an oracle (``dedup_minhash_lsh_pairs``: its xxhash fast path has
no DuckDB twin) is pinned to the engine's own result at the commit this
runs on; ``source`` records which.

Usage, from the repository root:

    python3 perfbench/pin.py [name ...]

The DuckDB oracle of ``dedup_cluster_near_dups`` (a recursive CTE) takes
about ten minutes at sf0.1 on a 4-core host.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import host, workloads  # noqa: E402

DATA = host.ROOT / "perfbench" / "data" / "sf0.1"


def main(argv: list[str]) -> int:
    work = host.WORK_ROOT / f"pin-{os.getpid()}"
    host.pin_environment(work)
    import duckdb

    from dataingestion_pt_ms_spark.queries import registry

    oracle = workloads.load_check_oracle()
    names = argv or [*workloads.OLAP_TPCH, *workloads.LLM_CURATION]
    out_path = host.ROOT / "perfbench" / "expected.json"
    pinned = json.loads(out_path.read_text())["queries"] if out_path.exists() else {}
    spark = host.start_spark(work, event_log=False)
    con = oracle.duck_connection(str(DATA))
    specs = registry()
    bad = 0
    try:
        for name in names:
            t0 = time.perf_counter()
            spark_pdf = specs[name].fn(spark, str(DATA)).toPandas()
            t1 = time.perf_counter()
            entry = {"rows": len(spark_pdf), "hash": workloads.result_hash(spark_pdf, oracle.canon)}
            if specs[name].oracle is None:
                entry["source"] = "engine at pin time (no oracle)"
            else:
                duck_pdf = con.execute(specs[name].oracle).fetchdf()
                problems = oracle.compare(name, spark_pdf, duck_pdf)
                if problems:
                    print(f"FAIL {name}: {problems}", file=sys.stderr)
                    bad += 1
                    continue
                entry["hash"] = workloads.result_hash(duck_pdf, oracle.canon)
                entry["source"] = f"duckdb {duckdb.__version__} oracle"
            pinned[name] = entry
            _write(out_path, pinned)
            print(f"ok {name}: {entry['rows']} rows (spark {t1 - t0:.1f}s, duckdb {time.perf_counter() - t1:.1f}s)", file=sys.stderr)
    finally:
        host.stop_spark(spark)
        host.remove(work)
    return 1 if bad else 0


def _write(path: Path, pinned: dict) -> None:
    path.write_text(json.dumps({"data": "perfbench/data/sf0.1", "queries": dict(sorted(pinned.items()))}, indent=1) + "\n")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
