"""Split one cold pass's CPU by thread family.

    python tools/jvm_cpu_probe.py notebook_headline [--seed 1]

Runs a perfbench workload's cold pass exactly as ``perfbench/run.py`` does
(same generated input, session fitting and fixed operation order) in a
fresh driver process, and reads the driver JVM's per-thread CPU from
``/proc/<jvm>/task/*/{comm,stat}`` before and after the pass. Each thread
is put in one family by its name (``thread_family``): JIT C1, JIT C2, GC,
executor tasks, driver/py4j, other. Threads that ended during the pass are
reported together as ``jvm_exited``. Beside the JVM: the child processes
it started and reaped during the pass (``jvm_children``: Hadoop's shell
commands when its native library is missing, an ended Python daemon), the
live Python workers (the JVM's descendants, with their reaped children)
and the Python driver process. Their sum is the pass's
``cold_pass_cpu_s`` in ``perfbench/run.py``, up to run-to-run noise.

The last stdout line is one JSON object with the CPU seconds per family;
a table goes to stderr. Linux only.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")

FAMILIES = ("jit_c1", "jit_c2", "gc", "executor", "driver", "other")

# Linux thread names are the first 15 bytes of the Java thread name.
_DRIVER_PREFIXES = (
    "java",  # the JVM's main thread (SparkSubmit)
    "dag-scheduler",
    "spark-listener",
    "dispatcher-",
    "task-result-get",
    "broadcast-exch",
    "shuffle-exchang",
    "ResultQueryStag",
    "QueryStageCreat",
    "stream executi",
)


def thread_family(comm: str) -> str:
    """The family of a driver-JVM thread, from its Linux name (``comm``)."""
    if comm.startswith("C1 CompilerThre"):
        return "jit_c1"
    if comm.startswith("C2 CompilerThre"):
        return "jit_c2"
    if re.match(r"(GC Thread#|G1 |ParGC)", comm):
        return "gc"
    if comm.startswith("Executor task"):
        return "executor"
    if re.fullmatch(r"Thread-\d+", comm) or comm.startswith(_DRIVER_PREFIXES):
        return "driver"  # Thread-N: py4j's gateway connection threads
    return "other"


def _cpu_ticks(stat_path: str, with_children: bool = False) -> int:
    """utime + stime (+ cutime + cstime) from a /proc stat file."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15 if with_children else 13])


def jvm_threads(pid: int) -> dict[int, tuple[str, int]]:
    """tid -> (comm, user+system ticks) of every live thread of ``pid``."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                comm = f.read().strip()
            out[int(tid)] = (comm, _cpu_ticks(f"/proc/{pid}/task/{tid}/stat"))
        except OSError:  # the thread ended between listdir and open
            continue
    return out


def worker_ticks(pids: list[int]) -> int:
    """Ticks of the live processes ``pids``, with their reaped children: a
    worker that ends between two readings moves into its parent's count."""
    total = 0
    for pid in pids:
        try:
            total += _cpu_ticks(f"/proc/{pid}/stat", with_children=True)
        except OSError:
            continue
    return total


def split(before: dict, after: dict, jvm_before: int, jvm_after: int) -> dict[str, int]:
    """Per-family tick deltas between two ``jvm_threads`` snapshots.
    ``jvm_exited`` is the JVM's own delta that no live thread accounts for:
    threads that ended during the interval."""
    out = dict.fromkeys(FAMILIES, 0)
    for tid, (comm, ticks) in after.items():
        # a thread renamed mid-pass (Spark names task threads per task)
        # counts under the name it has at the end
        prev = before.get(tid)
        out[thread_family(comm)] += ticks - (prev[1] if prev else 0)
    out["jvm_exited"] = (jvm_after - jvm_before) - sum(out[f] for f in FAMILIES)
    return out


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, PERFBENCH)
    import datagen
    import run as perfbench

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload", choices=sorted(perfbench.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    run_dir = tempfile.mkdtemp(prefix="jvm_cpu_probe-")
    try:
        sf_dir = os.path.join(run_dir, "input")
        datagen.generate(sf_dir, args.seed)
        host = perfbench.host_env(run_dir)
        os.chdir(run_dir)
        with open(perfbench.GOLDENS) as f:
            goldens = json.load(f)
        spark, jvm, _ = perfbench.setup(sf_dir)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            jvm_stat = f"/proc/{jvm.pid}/stat"
            threads0, jvm0 = jvm_threads(jvm.pid), _cpu_ticks(jvm_stat)
            reaped0 = _cpu_ticks(jvm_stat, with_children=True) - jvm0
            workers0 = worker_ticks(perfbench._descendants(jvm.pid))
            own0 = os.times()
            failed = []
            for name in perfbench.WORKLOADS[args.workload]:
                spark.catalog.clearCache()
                work_dir = os.path.join(run_dir, "work", name)
                observed = perfbench.run_op(spark, sf_dir, name, work_dir, None)
                if observed != goldens.get(name):
                    failed.append(name)
            own1 = os.times()
            threads1, jvm1 = jvm_threads(jvm.pid), _cpu_ticks(jvm_stat)
            reaped1 = _cpu_ticks(jvm_stat, with_children=True) - jvm1
            workers1 = worker_ticks(perfbench._descendants(jvm.pid))
        finally:
            perfbench.stop_spark(spark, jvm)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    hz = os.sysconf("SC_CLK_TCK")
    ticks = split(threads0, threads1, jvm0, jvm1)
    seconds = {k: v / hz for k, v in ticks.items()}
    seconds["jvm_children"] = (reaped1 - reaped0) / hz
    seconds["python_workers"] = (workers1 - workers0) / hz
    seconds["python_driver"] = (own1.user + own1.system) - (own0.user + own0.system)
    jvm_s = sum(seconds[k] for k in (*FAMILIES, "jvm_exited"))
    for name, value in seconds.items():
        share = f"{value / jvm_s:6.1%} of JVM" if name in (*FAMILIES, "jvm_exited") else ""
        print(f"  {name:16s} {value:9.2f} s  {share}", file=sys.stderr)
    print(f"  {'jvm_total':16s} {jvm_s:9.2f} s", file=sys.stderr)
    print(f"  {'total':16s} {sum(seconds.values()):9.2f} s", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **host,
                      "failed": failed, "cpu_s": {k: round(v, 2) for k, v in seconds.items()},
                      "jvm_total_s": round(jvm_s, 2),
                      "total_s": round(sum(seconds.values()), 2)}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
