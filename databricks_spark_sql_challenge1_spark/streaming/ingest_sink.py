"""Streaming ingestion sink with idempotent (exactly-once-ish) writes —
the pattern a continuous training-data pipeline uses to land events:
``foreachBatch`` + dedup-on-key against the already-landed set, so batch
replays (crash/retry) never double-ingest.

At scale the landed-key lookup is a Delta MERGE / an anti-join against the
sink's key index; the parquet variant here anti-joins the sink directly,
which is the same dataflow.
"""

from __future__ import annotations

import glob
import os
import shutil
import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import (
    ensure_session_confs,
    load_table,
    scratch_dir,
    share,
)
from databricks_spark_sql_challenge1_spark.functions.cents import cents
from databricks_spark_sql_challenge1_spark.registry import query
from databricks_spark_sql_challenge1_spark.streaming.events_stream import (
    _drain_to_memory,
    _events_stream,
)


def ingest_events_idempotent(
    spark: SparkSession, sf_dir: str, sink_dir: str, checkpoint_dir: str
) -> int:
    """Drain the events stream into ``sink_dir`` exactly once per event_id,
    surviving batch replay, through ``make_landing``. Returns the number of
    rows landed.
    """
    q = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(make_landing(sink_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink_dir).count()


def _staged_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture in landing shape: integer cents computed JVM-side
    BEFORE staging so every downstream accumulation is exact (CLAUDE.md
    cents rule)."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        cents("value").alias("cents"),
    )


def _write_arrival_shard(df: DataFrame, scratch: str, raw_dir: str, i: int) -> None:
    """Materialize one arrival shard as a single parquet file whose mtime
    pins its micro-batch position (the file source processes oldest
    first)."""
    phase_dir = os.path.join(scratch, f"phase{i}")
    df.coalesce(1).write.parquet(phase_dir)
    (part,) = glob.glob(os.path.join(phase_dir, "part-*.parquet"))
    dst = os.path.join(raw_dir, f"arrival{i}.parquet")
    shutil.move(part, dst)
    os.utime(dst, (_time.time() - 600 + 60 * i,) * 2)


RAW_ARRIVAL_SCHEMA = "event_id bigint, user_id bigint, ts timestamp, cents bigint"


def make_landing(bronze_dir: str, after_batch=None):
    """THE idempotent landing, as a ``foreachBatch`` closure: within-batch
    duplicates collapse first (``dropDuplicates`` on the key —
    at-least-once delivery can repeat a record inside ONE batch, where the
    landed-set anti-join cannot see it), then the anti-join against the
    already-landed set drops cross-batch redeliveries. Bronze holds each
    event_id exactly once regardless of arrival order, overlap, or replay.

    Public builder so the checkpoint-restart witness in
    tests/test_streaming.py drains through the IDENTICAL landing logic
    (one landing definition, no drift — the same rule as
    ``stage_adversarial_shards``); ``after_batch(batch_id)`` is its hook
    for per-batch bookkeeping/pacing.

    Scale shape: the per-batch anti-join here reads the sink directly; at
    100 TB the landed-key lookup is a Delta MERGE / key-index anti-join
    (bucketed by event_id), same dataflow — O(batch) probe work either
    way, never O(history) rewrite.
    """

    def land(batch: DataFrame, batch_id: int) -> None:
        out = batch.dropDuplicates(["event_id"])
        if os.path.isdir(bronze_dir) and any(
            f.endswith(".parquet") for f in os.listdir(bronze_dir)
        ):
            landed = batch.sparkSession.read.parquet(bronze_dir).select("event_id")
            out = out.join(landed, "event_id", "left_anti")
        out.write.mode("append").parquet(bronze_dir)
        if after_batch is not None:
            after_batch(batch_id)

    return land


def _drain_arrivals_idempotent(
    spark: SparkSession, raw_dir: str, scratch: str
) -> str:
    """Drain the mtime-ordered arrival shards (one micro-batch per file,
    ``maxFilesPerTrigger=1``) through ``make_landing`` into a bronze
    parquet dir, availableNow to completion."""
    bronze_dir = os.path.join(scratch, "bronze")
    raw_stream = (
        spark.readStream.schema(RAW_ARRIVAL_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(raw_dir)
    )
    q = (
        raw_stream.writeStream.foreachBatch(make_landing(bronze_dir))
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return bronze_dir


def _land_events_with_replay(
    spark: SparkSession, sf_dir: str, scratch: str
) -> str:
    """Stage the events fixture as TWO arrival shards — the original batch
    and a byte-identical full replay (the crash/retry worst case: every
    event arrives twice, in a later micro-batch, beyond any watermark
    horizon) — then drain them through the idempotent landing. The replay
    shard must land ZERO rows, so bronze holds each event exactly once.
    """
    events = _staged_events(spark, sf_dir)
    raw_dir = os.path.join(scratch, "raw")
    os.makedirs(raw_dir)
    for i in range(2):  # arrival 0 = original batch, arrival 1 = full replay
        _write_arrival_shard(events, scratch, raw_dir, i)
    return _drain_arrivals_idempotent(spark, raw_dir, scratch)


def _land_events_adversarial(
    spark: SparkSession, sf_dir: str, scratch: str
) -> str:
    """Stage the events fixture as FOUR deterministic ADVERSARIAL arrival
    shards (VERDICT r15 #6 — the byte-identical-replay witness's missing
    cases), then drain them through the same idempotent landing:

      arrival 0 — the LATE half of the timeline arrives FIRST (split at
        the median ts by ``ntile(2)`` over (ts, event_id)), sorted ts
        DESCENDING inside the file: complete event-time inversion.
      arrival 1 — the EARLY half arrives second: every one of its
        timestamps is older than everything already landed — late beyond
        any watermark horizon — PLUS a partial overlap redelivery (every
        5th event of the late half by event_id), so the batch is neither
        disjoint from nor identical to what's landed.
      arrival 2 — a partial overlapping replay spanning the WHOLE
        timeline (every 3rd event by event_id), each row duplicated
        WITHIN the batch (at-least-once delivery repeating a record
        inside one micro-batch — invisible to the landed-set anti-join,
        caught only by the within-batch dropDuplicates).
      arrival 3 — a final full replay, still not byte-identical to any
        earlier batch (whole timeline, ts ASC).

    Every shard is a subset of the original event set and their union
    covers it, so a correct sink lands each event_id exactly once and the
    gold rollup hash-matches the SAME batch oracle as the byte-identical
    witness; any overlap/duplicate leak inflates n_events/sum_cents.
    """
    raw_dir = stage_adversarial_shards(spark, sf_dir, scratch)
    return _drain_arrivals_idempotent(spark, raw_dir, scratch)


def stage_adversarial_shards(
    spark: SparkSession, sf_dir: str, scratch: str
) -> str:
    """Write the four adversarial arrival shards (see
    ``_land_events_adversarial``) into ``scratch``/raw and return that
    dir — public so the checkpoint-restart witness in
    tests/test_streaming.py drains the IDENTICAL shard set through its
    stop/resume protocol (one staging definition, no drift)."""
    from pyspark.sql.window import Window

    # shared: the single-partition ntile split runs ONCE; unshared, every
    # one of the four shard-write jobs re-runs the global sort and the
    # events scan (r16-end review)
    halved = share(
        _staged_events(spark, sf_dir).withColumn(
            "half",
            F.ntile(2).over(
                Window.orderBy(F.col("ts").asc(), F.col("event_id").asc())
            ),
        ),
        "adversarial_shards.halved",
    )
    events = halved.drop("half")
    late = halved.where(F.col("half") == 2).drop("half")
    early = halved.where(F.col("half") == 1).drop("half")
    raw_dir = os.path.join(scratch, "raw")
    os.makedirs(raw_dir)
    shards = [
        late.orderBy(F.col("ts").desc(), F.col("event_id").desc()),
        early.unionAll(late.where(F.col("event_id") % 5 == 0)),
        events.where(F.col("event_id") % 3 == 0).unionAll(
            events.where(F.col("event_id") % 3 == 0)
        ),
        events.orderBy(F.col("ts").asc(), F.col("event_id").asc()),
    ]
    for i, shard in enumerate(shards):
        _write_arrival_shard(shard, scratch, raw_dir, i)
    return raw_dir


def stage_skewed_shards(
    spark: SparkSession, sf_dir: str, scratch: str
) -> str:
    """Write the three KEY-SKEW arrival shards (VERDICT r16 #5 / r17 #5 —
    the arrival dimension the adversarial shards never vary): remap every
    even event_id onto ONE hot user (~half the events — the 100 TB
    state-concentration shape, where one key's session state lands on one
    task and the landing anti-join probes one skewed key), then pile the
    skew on:

      arrival 0 — the hot user's ENTIRE history, ts-descending (all of
        one key's session state built from one inverted file);
      arrival 1 — everyone else;
      arrival 2 — a partial replay of the HOT KEY ONLY (every 4th event
        overall = every 2nd hot event) — the landed-set anti-join probed
        exactly on the skewed key.

    Public so the key-skew witness in tests/test_streaming.py drains the
    IDENTICAL shard set through the same landing (one staging definition,
    no drift — the ``stage_adversarial_shards`` rule). Deterministic:
    the remap is pure arithmetic on event_id, so the staged set is a
    function of the fixture alone and the end state is oracle-checkable.
    """
    # one shared staging frame, three shard writes (the
    # stage_adversarial_shards lesson, r16-end review)
    skewed = share(
        _staged_events(spark, sf_dir).withColumn(
            "user_id",
            F.when(
                F.col("event_id") % 2 == 0, F.lit(1).cast("bigint")
            ).otherwise(F.col("user_id")),
        ),
        "skewed_shards.skewed",
    )
    hot = skewed.where(F.col("user_id") == 1)
    raw_dir = os.path.join(scratch, "raw")
    os.makedirs(raw_dir)
    shards = [
        hot.orderBy(F.col("ts").desc(), F.col("event_id").desc()),
        skewed.where(F.col("user_id") != 1),
        hot.where(F.col("event_id") % 4 == 0),  # hot-key-only replay
    ]
    for i, shard in enumerate(shards):
        _write_arrival_shard(shard, scratch, raw_dir, i)
    return raw_dir


def _gold_oracle(remap: str = "") -> str:
    """The gold-rollup oracle: ``windows._sessions_sql``'s gaps-and-islands
    batch sessionization of the ORIGINAL events table, or of the CTE
    ``remapped`` that ``remap`` defines over it, rolled up per user like
    ``_bronze_to_gold``. The landing path differs between the ingest
    witnesses; the correct end state does not. Imported here, not at the
    top: the operators package imports this module."""
    from databricks_spark_sql_challenge1_spark.operators.windows import (
        _sessions_sql,
    )

    source = "remapped" if remap else "events"
    return f"""
WITH {remap}{_sessions_sql(source)}
SELECT user_id,
       CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM sessions
GROUP BY user_id
ORDER BY user_id ASC
"""


def _bronze_to_gold(spark: SparkSession, bronze_dir: str) -> DataFrame:
    """The shared silver→gold tail of the ingest witnesses: a second
    streaming stage over the bronze sink — watermarked 30-minute session
    windows per user (real session state, availableNow drain) — then the
    per-user gold rollup (n_sessions, n_events, sum_cents), shared before
    the caller removes the scratch dir so nothing lazily re-reads deleted
    files."""
    from databricks_spark_sql_challenge1_spark.operators.windows import SESSION_GAP

    silver = (
        spark.readStream.schema(RAW_ARRIVAL_SCHEMA)
        .parquet(bronze_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
    )
    drained = _drain_to_memory(silver, spark)
    return share(
        drained.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy(F.col("user_id").asc()),
        "bronze_to_gold.gold",
    )


@query("streaming_parity_ingest_e2e", oracle=_gold_oracle())
def streaming_parity_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ingest-pipeline witness (VERDICT r14 #5): the one shape
    the parity twins cover only piecewise, chained for real —

      raw arrivals (original batch + a FULL byte-identical replay shard,
      two mtime-ordered micro-batches)
        → idempotent ``foreachBatch`` landing into a bronze parquet sink
          (anti-join on event_id — the replay lands zero rows)
        → a second streaming stage over the bronze sink: watermarked
          30-minute session windows per user (real session state,
          availableNow drain)
        → per-user gold rollup (n_sessions, n_events, sum_cents)

    hash-checked against the gaps-and-islands batch oracle over the
    ORIGINAL events table. The hash is the end-to-end invariant: a replay
    leaking through the idempotent sink doubles n_events/sum_cents (and can
    only merge sessions, never split), a session-state fault shifts
    n_sessions, so a green row certifies ingest idempotence AND the
    sessionization together, not each in isolation.

    Value sums ride as integer cents computed JVM-side before staging
    (CLAUDE.md rule) so cross-stage accumulation is exact. The watermarked
    dedup-by-key capability itself is covered by ``streaming_parity_dedup``;
    this pipeline deliberately replays BEYOND the watermark horizon, which
    is exactly what the sink-side anti-join (Delta MERGE at scale) exists
    for — see ``_drain_arrivals_idempotent`` for the 100 TB shape.
    """
    ensure_session_confs(spark)
    with scratch_dir("ingest_e2e_") as scratch:
        bronze_dir = _land_events_with_replay(spark, sf_dir, scratch)
        return _bronze_to_gold(spark, bronze_dir)


@query("streaming_parity_ingest_adversarial", oracle=_gold_oracle())
def streaming_parity_ingest_adversarial(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Adversarial-arrival ingest witness (VERDICT r15 #6): the same
    bronze → sessionized silver → per-user gold pipeline as
    ``streaming_parity_ingest_e2e``, but the arrivals are the cases a
    byte-identical full replay never exercises — event-time inversion
    (the late half of the timeline arrives first, ts-descending),
    late-beyond-watermark delivery (the early half arrives after it),
    partially-overlapping batches (neither disjoint from nor identical to
    the landed set), and within-batch duplicate records (at-least-once
    delivery repeating a row inside ONE micro-batch, invisible to the
    landed-set anti-join). See ``_land_events_adversarial`` for the four
    staged shards.

    Hash-checked against the SAME gaps-and-islands batch oracle over the
    original events table: every shard is a subset of the original event
    set and their union covers it, so the correct end state is identical
    to the byte-identical witness's — any overlap or duplicate leaking
    through the sink inflates n_events/sum_cents, a dropped late batch
    deflates them, and an order-sensitive landing shifts n_sessions.
    """
    ensure_session_confs(spark)
    with scratch_dir("ingest_adv_") as scratch:
        bronze_dir = _land_events_adversarial(spark, sf_dir, scratch)
        return _bronze_to_gold(spark, bronze_dir)


# The skew witness's gold oracle: the SAME sessionization over the
# hot-key-REMAPPED events (every even event_id owned by user 1 — pure
# arithmetic on the fixture, so DuckDB reproduces the staged set exactly).
_SKEW_REMAP_SQL = """remapped AS (
    SELECT event_id,
           CASE WHEN event_id % 2 = 0 THEN CAST(1 AS BIGINT)
                ELSE user_id END AS user_id,
           ts, value
    FROM events
),
"""


@query("streaming_parity_ingest_skew", oracle=_gold_oracle(_SKEW_REMAP_SQL))
def streaming_parity_ingest_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew ingest witness, driver-checkable (VERDICT r17 #5 — the
    test-only skew witness's oracle-backed registration): the same
    bronze → sessionized silver → per-user gold pipeline as
    ``streaming_parity_ingest_e2e``, but the arrivals concentrate ~half
    of all events on ONE hot user (every even event_id remapped to
    user 1) and pile the skew on — the hot key's entire history arrives
    first in one ts-DESCENDING file, everyone else second, then a
    partial replay of the hot key ONLY (the landed-set anti-join probed
    exactly on the skewed key). See ``stage_skewed_shards``.

    Hash-checked against the gaps-and-islands batch oracle over the
    hot-key-REMAPPED events: a skew-dropped or double-landed hot batch
    shifts user 1's n_events/sum_cents, an order-sensitive session build
    shifts its n_sessions, and every OTHER user pins that the remap
    touched only the even-id rows. This is the 100 TB session-state
    concentration shape (one key ≈ half the stream) on the driver
    rotation; at scale the mitigations are AQE skew-join on the landing
    anti-join and state-store partitioning on (user_id) — the semantics
    this row certifies are what those mitigations must preserve.
    """
    ensure_session_confs(spark)
    with scratch_dir("ingest_skew_") as scratch:
        raw_dir = stage_skewed_shards(spark, sf_dir, scratch)
        bronze_dir = _drain_arrivals_idempotent(spark, raw_dir, scratch)
        return _bronze_to_gold(spark, bronze_dir)
