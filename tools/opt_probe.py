"""Fresh-JVM cold timing of named queries: each run is a new Python
process and a new JVM, warmed only by ``bench.warm``, and the query timed
once by ``bench.timed_run`` — the sweep's own protocol. Prints each name's
median of three cold runs.

Usage:
  python tools/opt_probe.py cold <name> [...]            # fresh-JVM single COLD run x3, median
  python tools/opt_probe.py _cold1 <name>                # (internal subprocess entry)

Environment: ``SPARK_GRAFT_SF_DIR`` (default sf0.1) and
``SPARK_GRAFT_CPUS`` (default ``session.DEFAULT_CPUS``). Pointed at a
stress replica (``tools/make_stress_fixture.py``), ``cold <name>``
measures one growth cell. These timings are a diagnostic; the
benchmark's numbers come from perfbench/ and bench.py.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_COLD_SUBPROC_RUNS = 3


def _cold_one(name: str) -> None:
    """Subprocess entry: ONE cold timed run in a fresh JVM, after the
    sweep's session warm-up."""
    import bench
    from databricks_spark_sql_challenge1_spark.session import get_spark
    import databricks_spark_sql_challenge1_spark.operators  # noqa: F401
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("challenge1-opt-probe")
    bench.warm(spark, sf_dir)
    sec = bench.timed_run(spark, sf_dir, QUERIES[name])
    print(json.dumps({"query": name, "cold_sec": sec}))


def _cold_median(name: str) -> float:
    """Median of fresh-JVM cold runs. A failed run is fatal: it prints the
    name, return code and stderr tail to stderr and exits nonzero, so a
    crashed probe never reads as "not measured"."""
    runs = []
    for _ in range(_COLD_SUBPROC_RUNS):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "_cold1", name],
            capture_output=True, text=True, timeout=600,
            env=os.environ.copy(),
        )
        if out.returncode != 0 or not out.stdout.strip():
            tail = "\n".join(out.stderr.strip().splitlines()[-20:])
            print(f"opt_probe cold: {name} failed (rc={out.returncode})\n"
                  f"{tail}", file=sys.stderr)
            sys.exit(1)
        last = out.stdout.strip().splitlines()[-1]
        runs.append(float(json.loads(last)["cold_sec"]))
    med = sorted(runs)[len(runs) // 2]
    print(json.dumps({"query": name, "cold_median_sec": med, "runs": runs}))
    return med


def main() -> int:
    mode, names = sys.argv[1], sys.argv[2:]
    if mode == "_cold1":
        _cold_one(names[0])
    elif mode == "cold":
        out = {name: _cold_median(name) for name in names}
        print(json.dumps({"cold_medians": out}))
    else:
        print(__doc__, file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
