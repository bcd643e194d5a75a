"""SparkSession factory.

Tuned for the local[N] test harness but configured exactly as it would be on a
multi-executor cluster: AQE on (runtime partition coalescing + skew-join
splitting), UTC session timezone (keeps year()/date() extraction consistent
with the DuckDB oracle's naive timestamps), Arrow enabled for the few
Pandas-UDF extension paths. Everything else is stock Catalyst — the reference
surface needs no custom rules (SURVEY.md §4.3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] core count when SPARK_GRAFT_CPUS is unset; bench.py names its
# default-sweep detail file after it.
DEFAULT_CPUS = 32


def get_spark(app_name: str = "challenge1-engine") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(DEFAULT_CPUS))
    # local mode runs executors inside the driver JVM — the 1g default heap
    # starves 32 concurrent task threads (OOMs at ~5M-row joins). Size it
    # like a real executor fleet; overridable via SPARK_DRIVER_MEMORY.
    memory = os.environ.get("SPARK_DRIVER_MEMORY", "24g")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", memory)
        .config("spark.driver.maxResultSize", "4g")
        # Driver JVM policy (SCALE.md §Session posture): a cold session's
        # CPU went mostly to HotSpot's JIT threads, which in local mode
        # compete with the task threads for the same cores. One C1 + one
        # C2 compiler thread, and the throughput collector instead of G1's
        # concurrent-marking threads. defaultJavaOptions, not
        # extraJavaOptions: a caller's --driver-java-options sets the
        # latter and would replace this policy instead of adding to it.
        .config(
            "spark.driver.defaultJavaOptions",
            "-XX:CICompilerCount=2 -XX:+UseParallelGC",
        )
        # AQE: coalesce post-shuffle partitions, split skewed join partitions,
        # convert sort-merge to broadcast when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing is byte-based and blind to per-row compute cost:
        # with the default 1 MB minPartitionSize floor, a narrow-row stage
        # feeding expensive array folds (the LSH cosine verify: 367 k
        # 16-byte pair rows -> 6 MB -> ~6 post-shuffle partitions) runs
        # nearly serial regardless of core count (measured r18: the verify
        # stage 5.9 s -> 1.2 s at 32 cores with a 64 KB floor). The floor
        # only binds when post-shuffle data is byte-small, so at
        # production shuffle sizes (partitions ~ advisoryPartitionSize)
        # it is a no-op — scale-neutral.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # One shuffle partition per core locally; on a real cluster this would
        # be sized to ~128MB of shuffle data per partition.
        .config("spark.sql.shuffle.partitions", cpus)
        # Deterministic timestamp semantics vs the oracle (naive timestamps).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small dims (region/nation/customer/supplier/part at test SF) always
        # broadcast; AQE handles the runtime decision for larger inputs.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Let the planner choose shuffled-hash over sort-merge when its
        # size conditions hold (guide §3.1/§9): skips the per-partition
        # sorts on both sides of non-broadcastable joins (the outer joins
        # against preserved small dims in the export chain, the band-index
        # self-joins). Not forced — the planner still requires the build
        # side to fit its local-hash-map bound, autoBroadcastJoinThreshold
        # x shuffle.partitions, so the choice moves with the partition
        # count: at sf0.001 launch_cohort_analysis plans two SortMergeJoins
        # at 2 partitions but a SortMergeJoin and a ShuffledHashJoin at 3,
        # 4, 8 and 32 (PLANS.json pins 8). The r18 strategy-invariance
        # campaign pins results identical under either strategy.
        # Measured (noop, warmed): order_export_denorm
        # 3.72 -> 3.06 s, events_gapfill_methods 2.94 -> 2.59,
        # dedup_incremental 1.31 -> 1.10.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Runtime row-level filtering: build bloom filters from the small
        # side of selective joins and push them into the big-side scan —
        # free scan reduction at 100 TB (Spark 3.3+ runtime filters).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert in catalog.load_table (truncate
        # to micros — matches DuckDB's ns→us truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
