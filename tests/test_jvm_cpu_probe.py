"""tools/jvm_cpu_probe.py's thread-name classifier and per-family split
(pure functions; no Spark)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.jvm_cpu_probe import FAMILIES, split, thread_family


def test_hotspot_and_spark_thread_names():
    names = {
        "C1 CompilerThre": "jit_c1",
        "C2 CompilerThre": "jit_c2",
        "GC Thread#0": "gc",
        "G1 Conc#0": "gc",
        "G1 Refine#0": "gc",
        "Executor task l": "executor",
        "Thread-3": "driver",
        "java": "driver",
        "dag-scheduler-e": "driver",
        "broadcast-excha": "driver",
        "VM Thread": "other",
        "Sweeper thread": "other",
        "netty-rpc-env-t": "other",
        "Thread-3x": "other",
    }
    assert {n: thread_family(n) for n in names} == names
    assert set(names.values()) == set(FAMILIES)


def test_split_counts_new_renamed_and_exited_threads():
    before = {1: ("C2 CompilerThre", 100), 2: ("Executor task l", 5), 3: ("Thread-4", 7)}
    after = {
        1: ("C2 CompilerThre", 160),  # +60
        2: ("Executor task l", 25),  # renamed per task, same tid: +20
        4: ("GC Thread#1", 9),  # started during the interval: +9
    }  # tid 3 ended
    out = split(before, after, jvm_before=1000, jvm_after=1100)
    assert out["jit_c2"] == 60 and out["executor"] == 20 and out["gc"] == 9
    assert out["driver"] == 0
    assert out["jvm_exited"] == 100 - 89
    assert sum(out.values()) == 100
