"""End-to-end benchmark of the PySpark engine, with a traced mode that breaks
each pass down by layer.

    python3 perfbench/run.py --workload notebook_headline --seed 1 \
        --seconds 10 --trace 0

One closed-loop client in one fresh driver process on ``local[nproc]``: set
up a session, run a cold pass over the workload's operations in their fixed
order, then passes in a seeded order until ``--seconds`` have gone by since
the cold pass started. In a traced run every pass after the cold one is
traced, and there is at least one. ``spark.catalog.clearCache()`` runs
before every operation. The seed also picks the input layout (``datagen.py``). Every
result is checked against ``goldens.json``; a mismatch or an exception
counts as a failed operation.

The last stdout line is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics (``layers.py``) with ``--trace 1``. A
readable summary, the run's self-description, the per-query latency
percentiles and the failure ratio go to stderr. A traced run also writes its
spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "databricks_spark_sql_challenge1_spark"
GOLDENS = os.path.join(HERE, "goldens.json")
OUT_DIR = os.path.join(ROOT, ".perfbench")
PIPELINE = "run_pipeline"

# One query of each family among the reference notebook's 15 (sanity count,
# clean, ranking, trend, nation join, launch, calendar mart, export); the
# pipeline workload runs 14 of them inside run_pipeline.
HEADLINE = (
    "count_distinct_orders",
    "clean_orders",
    "top_abandoned_pairs",
    "abandonment_mom_increase",
    "nations_by_customer",
    "launch_month_orders",
    "abandonment_by_day",
    "order_export_denorm",
)
WORKLOADS = {
    "notebook_headline": HEADLINE,
    "pipeline_tail": (PIPELINE, "streaming_parity_tumbling_1h", "dedup_incremental"),
}

E2E_UNITS = {"setup_s": "s", "cold_pass_cpu_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s",
    "pass.cold_s": "s",
    "pass.warm_s": "s",
    "memory.peak_rss_mb": "MB",
    "catalog.anchor_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "catalog.load_jobs": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_stages": "count",
    "operators.build_tasks": "count",
    "operators.storage_peak_mb": "MB",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "execute.s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.task_s": "s",
    "execute.cpu_s": "s",
    "execute.gc_s": "s",
    "execute.shuffle_read_mb": "MB",
    "execute.shuffle_write_mb": "MB",
    "execute.spill_mb": "MB",
    "execute.cpu_ratio": "ratio",
    "execute.core_util": "ratio",
    "sources.write_s": "s",
    "sources.bytes_written_mb": "MB",
    "sources.files_written": "count",
    "sources.write_amp": "ratio",
    "pipeline.ingest_s": "s",
    "pipeline.sanity_s": "s",
    "pipeline.clean_s": "s",
    "pipeline.analytics_s": "s",
    "pipeline.marts_s": "s",
    "pipeline.export_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "trace.overhead_s": "s",
}


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


# --- statistics -----------------------------------------------------------------
def tail_percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q`` quantile, or None unless at least ten samples lie
    beyond it (so p50 needs 20 samples and p90 needs 100)."""
    xs = sorted(samples)
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < 10:
        return None
    return xs[rank - 1]


class Outcomes:
    """Attempted and failed operations; a failure is an exception (observed
    None) or a result that differs from its golden."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def record(self, name: str, observed: dict | None, golden: dict | None) -> bool:
        self.attempted += 1
        ok = observed is not None and observed == golden
        if not ok:
            self.failed.append(name)
        return ok

    @property
    def ratio(self) -> float:
        return len(self.failed) / self.attempted if self.attempted else 0.0


def pass_layers(sums: dict[str, float], cores: int) -> dict[str, float]:
    """A traced pass's per-layer metrics from its summed op numbers."""
    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    out = {n: float(sums.get(n, 0.0)) for n in LAYER_UNITS}
    out["execute.cpu_ratio"] = ratio(sums.get("execute.cpu_s", 0), sums.get("execute.task_s", 0))
    out["execute.core_util"] = ratio(sums.get("execute.task_s", 0),
                                     sums.get("execute.s", 0) * cores)
    out["sources.write_amp"] = ratio(sums.get("sources.bytes_written_mb", 0),
                                     sums.get("sources.final_mb", 0))
    return out


# --- result checksums and operations -------------------------------------------
def _canon(expr: str, dtype, depth: int = 0) -> str:
    """SQL rendering one value as a canonical string, NULL for NULL. Doubles
    keep nine significant digits so summation order cannot flip them."""
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return (f"CASE WHEN {expr} IS NULL THEN NULL WHEN isnan({expr}) THEN 'NaN' "
                f"ELSE format_string('%.9g', CAST({expr} AS DOUBLE) + 0.0D) END")
    if isinstance(dtype, T.ArrayType):
        x = f"x{depth}"
        inner = _canon(x, dtype.elementType, depth + 1)
        return (f"concat('[', array_join(transform({expr}, {x} -> "
                f"coalesce({inner}, '<null>')), ','), ']')")
    if isinstance(dtype, T.StructType):
        parts = ", ".join(
            f"coalesce({_canon(f'{expr}.`{f.name}`', f.dataType, depth)}, '<null>')"
            for f in dtype.fields
        )
        return f"CASE WHEN {expr} IS NULL THEN NULL ELSE concat_ws(',', {parts}) END"
    if isinstance(dtype, T.BinaryType):
        return f"hex({expr})"
    return f"CAST({expr} AS STRING)"


def checksum_frame(df):
    """One-row frame: row count and an order-insensitive content hash (sums
    of the two 32-bit halves of each row's xxhash64), both computed on the
    executors over every column of every row."""
    from pyspark.sql import functions as F

    cells = [F.coalesce(F.expr(_canon(f"`{f.name}`", f.dataType)), F.lit("<null>"))
             for f in df.schema.fields]
    h = F.xxhash64(F.concat_ws("\u0001", *cells))
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)).alias("lo"),
        F.sum(F.shiftrightunsigned("h", 32)).alias("hi"),
    )


def run_query(spark, sf_dir: str, name: str, tracer) -> dict:
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    df = QUERIES[name](spark, sf_dir)
    sink = checksum_frame(df)
    if tracer is None:
        (row,) = sink.collect()
    else:
        from layers import count_exchanges

        with tracer.bookkeeping():
            tracer.counters["storage_mb"] = tracer.storage_mb()
        with tracer.span("plan", "plan"):
            plan = sink._jdf.queryExecution().executedPlan()
        with tracer.span("execute", "execute"):
            (row,) = sink.collect()  # runs on the plan forced above
        with tracer.bookkeeping():
            tracer.counters["exchanges"] = count_exchanges(plan.toString())
    return {"columns": df.columns, "rows": row["rows"],
            "hash": f"{row['lo'] or 0:x}.{row['hi'] or 0:x}"}


def run_pipeline(spark, sf_dir: str, work_dir: str, tracer) -> dict:
    from databricks_spark_sql_challenge1_spark.engine import Engine

    if tracer is not None:
        tracer.mark("ingest")
    res = Engine(spark, sf_dir).run_pipeline(work_dir)
    with open(res.export_path, "rb") as f:
        export_sha = hashlib.sha256(f.read()).hexdigest()
    summary = {"sanity": res.sanity, "cleaned_rows": res.cleaned_rows,
               "analytics": res.analytics, "marts": res.marts,
               "export_sha256": export_sha}
    return json.loads(json.dumps(summary, default=str))


def run_op(spark, sf_dir: str, name: str, work_dir: str, tracer) -> dict:
    if name == PIPELINE:
        return run_pipeline(spark, sf_dir, work_dir, tracer)
    return run_query(spark, sf_dir, name, tracer)


# --- host fitting and process lifetime -------------------------------------------
def host_env(run_dir: str) -> dict:
    """Fit the session to this host and keep every file the run writes
    under ``run_dir``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1024 * 1024)
    heap = f"{max(1, min(4, mem_gb // 4))}g"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": heap,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS":
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell',
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return {"nproc": cpus, "heap": heap}


def _descendants(pid: int) -> list[int]:
    parents = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parents[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], {pid}
    while frontier:
        frontier = {p for p, pp in parents.items() if pp in frontier}
        out += frontier
    return out


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark, jvm) -> None:
    """Stop the session, the JVM and the Python workers it started, and
    wait until each has ended."""
    from pyspark import SparkContext

    workers = _descendants(jvm.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except Exception:
        jvm.kill()
        jvm.wait()
    deadline = time.time() + 10
    for pid in workers:
        sig = signal.SIGTERM
        while True:
            try:
                os.kill(pid, sig)
            except OSError:
                break
            sig = signal.SIGKILL if time.time() > deadline else 0
            time.sleep(0.05)


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by this process plus process ``pid`` and its
    descendants (user + system, including their reaped children)."""
    ticks = 0
    for p in (pid, *_descendants(pid)):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError):
            continue
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


# --- the run ----------------------------------------------------------------------
def measure(spark, jvm_pid, sf_dir, run_dir, workload, seed, seconds, tracer, goldens, cores):
    """The closed loop: passes over the workload until ``seconds`` elapse."""
    from layers import MB, dir_stats

    outcomes = Outcomes()
    passes: list[dict] = []
    latencies: list[float] = []
    min_passes = 2 if tracer else 1
    start = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - start < seconds:
        k = len(passes)
        order = list(WORKLOADS[workload])
        if k > 0:  # JIT warm-up lands on the cold pass's first ops: keep its order fixed
            random.Random(seed * 1009 + k).shuffle(order)
        traced = tracer is not None and k > 0
        if traced:
            tracer.install()
        sums: dict[str, float] = {}
        op_s: dict[str, float] = {}
        cpu0 = tree_cpu_s(jvm_pid)
        for name in order:
            spark.catalog.clearCache()
            work_dir = os.path.join(run_dir, "work", f"{k}-{name}")
            t = time.perf_counter()
            try:
                if traced:
                    tracer.begin_op()
                    with tracer.span(name, "execute" if name == PIPELINE else "op"):
                        observed = run_op(spark, sf_dir, name, work_dir, tracer)
                else:
                    observed = run_op(spark, sf_dir, name, work_dir, None)
            except Exception as exc:  # noqa: BLE001 — a failed op is a result
                log(f"op {name} failed: {type(exc).__name__}: {exc}")
                observed = None
            dt = op_s[name] = time.perf_counter() - t
            if traced:
                numbers = tracer.op_numbers(t + dt)
                if os.path.isdir(work_dir):
                    numbers["sources.final_mb"] = dir_stats(work_dir)[0] / MB
                for key, v in numbers.items():
                    sums[key] = sums.get(key, 0) + v
                sums["operators.storage_peak_mb"] = max(
                    sums.get("operators.storage_peak_mb", 0),
                    tracer.counters.get("storage_mb", 0))
            elif k > 0:
                latencies.append(dt)
            shutil.rmtree(work_dir, ignore_errors=True)
            if not outcomes.record(name, observed, goldens.get(name)):
                log(f"op {name}: result differs from golden: {observed}")
        if traced:
            tracer.uninstall()
        pass_s = sum(op_s.values())
        passes.append({"s": pass_s, "cpu_s": tree_cpu_s(jvm_pid) - cpu0, "traced": traced,
                       "layers": pass_layers(sums, cores) if traced else None})
        log(f"pass {k}{' traced' if traced else ''}: {pass_s:.3f} s "
            f"{passes[-1]['cpu_s']:.2f} cpu-s "
            + json.dumps({n: round(v, 3) for n, v in op_s.items()}))
    return passes, latencies, outcomes


def setup(sf_dir: str):
    """What a new user session pays before its first query: import the
    package, start a session, pull the anchor scalar. Returns the session,
    its JVM process and (start, session ready, anchor ready) times."""
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    import databricks_spark_sql_challenge1_spark.operators  # noqa: F401  (registers)
    from databricks_spark_sql_challenge1_spark.catalog import last_order_datetime
    from databricks_spark_sql_challenge1_spark.session import get_spark
    from pyspark import SparkContext

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    jvm = SparkContext._gateway.proc
    try:
        last_order_datetime(spark, sf_dir)
    except BaseException:
        stop_spark(spark, jvm)
        raise
    return spark, jvm, (t0, t1, time.perf_counter())


def run(workload: str, seed: int, seconds: float, traced: bool, run_dir: str) -> dict:
    import datagen

    sf_dir = os.path.join(run_dir, "input")
    datagen.generate(sf_dir, seed)
    host = host_env(run_dir)
    os.chdir(run_dir)  # spark-warehouse/ and other cwd-relative output
    with open(GOLDENS) as f:
        goldens = json.load(f)
    loadavg_start = os.getloadavg()[0]

    spark, jvm, (t0, t1, t2) = setup(sf_dir)
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        stamp = {
            "workload": workload, "seed": seed, "trace": int(traced),
            "master": sc.master, "default_parallelism": sc.defaultParallelism,
            "pyspark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "sf_dir": os.path.relpath(sf_dir, ROOT), "scale": datagen.SCALE, **host,
        }
        tracer = None
        if traced:
            from layers import Tracer

            tracer = Tracer(spark)
        passes, latencies, outcomes = measure(
            spark, jvm.pid, sf_dir, run_dir, workload, seed, seconds, tracer, goldens,
            host["nproc"])
        peak_rss = vm_hwm_mb(jvm.pid)
    finally:
        stop_spark(spark, jvm)
    stamp["loadavg"] = [loadavg_start, os.getloadavg()[0]]

    cold = passes[0]
    numbers = {
        "setup_s": t2 - t0,
        "cold_pass_cpu_s": cold["cpu_s"],
        "pass.cold_s": cold["s"],
        "memory.peak_rss_mb": peak_rss,
        "session.start_s": t1 - t0,
        "catalog.anchor_s": t2 - t1,
    }
    if traced:
        traced_passes = passes[1:]
        numbers["pass.warm_s"] = statistics.median(
            p["s"] - p["layers"]["trace.overhead_s"] for p in traced_passes)
        for n in LAYER_UNITS:
            if n not in numbers:
                numbers[n] = statistics.median(p["layers"][n] for p in traced_passes)
        write_spans(tracer.spans, stamp)
    units = LAYER_UNITS if traced else E2E_UNITS
    metrics = {n: numbers[n] for n in units}

    log("stamp " + json.dumps(stamp))
    all_units = {**E2E_UNITS, **LAYER_UNITS}
    for name, value in numbers.items():
        log(f"  {name:28s} {value:14.4f} {all_units[name]}")
    p50, p90 = tail_percentile(latencies, 0.5), tail_percentile(latencies, 0.9)
    log(f"  query_p50_s {p50} query_p90_s {p90} (n={len(latencies)} warm untraced samples)")
    log(f"  failed_ratio {outcomes.ratio:.4f} ({len(outcomes.failed)}/{outcomes.attempted})")
    return {
        "correct": not outcomes.failed,
        "attempted": outcomes.attempted,
        "failed": len(outcomes.failed),
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }


def write_spans(spans: list[dict], stamp: dict) -> None:
    os.makedirs(os.path.join(OUT_DIR, "traces"), exist_ok=True)
    path = os.path.join(OUT_DIR, "traces", f"{stamp['workload']}-seed{stamp['seed']}.json")
    t0 = spans[0]["start"] if spans else 0.0
    rel = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in spans]
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "spans": rel}, f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"{PACKAGE} not found next to {HERE}: nothing to benchmark")
        return 2
    run_dir = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
