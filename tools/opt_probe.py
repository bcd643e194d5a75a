"""Optimization probe (r18, cold-decontaminated r19): per-query plan capture
+ noop-sink timing.

Usage:
  python tools/opt_probe.py explain <tag> <name> [...]   # plans/r19/<name>_<tag>.txt
  python tools/opt_probe.py time <name> [...]            # noop-sink wall time, fresh session
  python tools/opt_probe.py both <tag> <name> [...]
  python tools/opt_probe.py cold <name> [...]            # fresh-JVM single COLD run x3, median
  python tools/opt_probe.py _cold1 <name>                # (internal subprocess entry)

The noop sink (guide §1.4) computes every column of every row and discards
the result, so the timing isolates the computation from the collect()
driver-transfer term the bench's default sink carries. Timings here are a
diagnostic for the optimization loop; the driver-comparable numbers stay
bench.py's (collect sink, same protocol as every prior round).

Round 19 (VERDICT r18 #1/#2): `time` clears the SQL cache before every
timed run so in-plan .cache() frames never carry across the warmed repeats,
and the new `cold` mode reproduces the driver's ground-truth shape for the
sub-2 s headline set — a SINGLE cold run in a fresh JVM (warm codegen via
the orders-count warmup, cold query) — because r18's warmed noop medians
approved spread sites the driver's cold runs then measured 1.4-2.1x slower.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans",
    os.environ.get("SPARK_GRAFT_PLANS_TAG", "r19")
)
_COLD_SUBPROC_RUNS = 3


def _setup():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from databricks_spark_sql_challenge1_spark.session import get_spark
    import databricks_spark_sql_challenge1_spark.operators  # noqa: F401
    from databricks_spark_sql_challenge1_spark.catalog import last_order_datetime

    spark = get_spark("challenge1-opt-probe")
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
    last_order_datetime(spark, sf_dir)
    return spark, sf_dir


def _cold_one(name: str) -> None:
    """Subprocess entry: ONE cold timed run (collect sink — the driver's) in
    a fresh JVM, codegen warmed by the setup counts only."""
    spark, sf_dir = _setup()
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    fn = QUERIES[name]
    t0 = time.perf_counter()
    fn(spark, sf_dir).collect()
    print(json.dumps({"query": name,
                      "cold_sec": round(time.perf_counter() - t0, 3)}))


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
    mode = sys.argv[1]
    names = sys.argv[2:]
    tag = None
    if mode == "_cold1":
        _cold_one(names[0])
        return 0
    if mode == "cold":
        out = {}
        for name in names:
            out[name] = _cold_median(name)
        print(json.dumps({"cold_medians": out}))
        return 0
    if mode in ("explain", "both"):
        tag = names[0]
        names = names[1:]
        os.makedirs(PLANS_DIR, exist_ok=True)
    spark, sf_dir = _setup()
    from databricks_spark_sql_challenge1_spark.registry import QUERIES
    from databricks_spark_sql_challenge1_spark.plans.explain import formatted_plan

    out = {}
    for name in names:
        fn = QUERIES[name]
        if mode in ("explain", "both"):
            plan = formatted_plan(fn(spark, sf_dir))
            path = os.path.join(PLANS_DIR, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            n_ex = plan.count("Exchange")
            print(f"{name}: {n_ex} Exchange -> {path}")
        if mode in ("time", "both"):
            spark.sparkContext.setJobDescription(f"opt-probe: {name}")
            # discarded warmup + median of 3, noop sink; SQL cache cleared
            # before every run (cold-cache — VERDICT r18 #1)
            runs = []
            for i in range(4):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            med = sorted(runs[1:])[1]
            out[name] = med
            print(json.dumps({"query": name, "noop_median_sec": med,
                              "runs": runs}))
    if out:
        print(json.dumps({"noop_medians": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
