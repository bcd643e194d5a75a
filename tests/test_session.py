"""The driver JVM's compiler and collector policy (session.get_spark), as
bench.py stamps it into BENCH_DETAIL*.json."""

from __future__ import annotations

from bench import jvm_options


def test_driver_jvm_runs_one_c2_thread_and_the_throughput_gc(spark):
    """get_spark pins ``-XX:CICompilerCount=2 -XX:+UseParallelGC`` through
    spark.driver.defaultJavaOptions; both must reach the running JVM."""
    args = jvm_options(spark)
    assert "-XX:CICompilerCount=2" in args, args
    assert "-XX:+UseParallelGC" in args, args
