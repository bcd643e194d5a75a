"""Streaming semantics pinned against the batch operators: the availableNow-
drained streaming aggregations must equal their batch equivalents."""

from __future__ import annotations

from databricks_spark_sql_challenge1_spark.operators.windows import (
    events_session_30m,
    events_tumbling_1h,
)
from databricks_spark_sql_challenge1_spark.streaming.events_stream import (
    streaming_session_30m,
    streaming_tumbling_1h,
)
from tests.conftest import SF_DIR


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_streaming_tumbling_equals_batch(spark):
    stream = streaming_tumbling_1h(spark, SF_DIR)
    batch = events_tumbling_1h(spark, SF_DIR)
    assert sorted(stream.columns) == sorted(batch.columns)
    assert _rows(stream.select(*batch.columns)) == _rows(batch)


def test_streaming_session_equals_batch(spark):
    stream = streaming_session_30m(spark, SF_DIR)
    batch = events_session_30m(spark, SF_DIR)
    assert sorted(stream.columns) == sorted(batch.columns)
    assert _rows(stream.select(*batch.columns)) == _rows(batch)


def test_streaming_dedup_equals_batch_distinct(spark):
    from pyspark.sql import functions as F

    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.streaming.events_stream import (
        streaming_dedup_events,
    )

    stream = streaming_dedup_events(spark, SF_DIR)
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_unique_users"))
    )
    assert sorted(stream.columns) == sorted(batch.columns)
    assert _rows(stream.select(*batch.columns)) == _rows(batch)


def test_idempotent_ingest_sink(spark, tmp_path):
    """Replaying the ingest (fresh checkpoint, same source) must not
    double-land events."""
    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.streaming.ingest_sink import (
        ingest_events_idempotent,
    )

    sink = str(tmp_path / "sink")
    n_src = load_table(spark, SF_DIR, "events").count()
    n1 = ingest_events_idempotent(spark, SF_DIR, sink, str(tmp_path / "cp1"))
    assert n1 == n_src
    # replay with a NEW checkpoint → source re-read, sink must stay stable
    n2 = ingest_events_idempotent(spark, SF_DIR, sink, str(tmp_path / "cp2"))
    assert n2 == n_src
    landed = spark.read.parquet(sink)
    assert landed.select("event_id").distinct().count() == n_src
    assert landed.count() == n_src


def test_streaming_user_state_totals(spark):
    """applyInPandasWithState running profile ends at the batch totals."""
    from pyspark.sql import functions as F

    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.streaming.events_stream import (
        streaming_user_state,
    )

    state = streaming_user_state(spark, SF_DIR)
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
    )
    cols = ["user_id", "n_events", "sum_value", "last_ts"]
    assert _rows(state.select(*cols)) == _rows(batch.select(*cols))


def test_ingest_e2e_replay_lands_zero_rows(spark, tmp_path):
    """The bronze accounting behind ``streaming_parity_ingest_e2e``: the
    staged replay shard (arrival 1, a byte-identical copy of every event)
    must land ZERO rows through the idempotent foreachBatch sink — bronze
    holds each event_id exactly once, and exactly the source set."""
    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.streaming.ingest_sink import (
        _land_events_with_replay,
    )

    scratch = str(tmp_path / "e2e")
    import os

    os.makedirs(scratch)
    bronze = _land_events_with_replay(spark, SF_DIR, scratch)
    landed = spark.read.parquet(bronze)
    n_src = load_table(spark, SF_DIR, "events").count()
    assert landed.count() == n_src  # 2*n arrived, n landed
    assert landed.select("event_id").distinct().count() == n_src


def test_ingest_adversarial_lands_each_event_once(spark, tmp_path):
    """The bronze accounting behind ``streaming_parity_ingest_adversarial``:
    four adversarial shards (time-inverted first half, late-beyond-
    watermark + overlap second, within-batch-duplicated partial replay,
    full non-byte-identical replay) arrive, yet bronze holds each event_id
    exactly once and exactly the source set. Also pins that the staged
    duplicate batch is REAL (the raw dir carries more than 2× the source
    rows, so the dropDuplicates + anti-join path is actually exercised)."""
    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.streaming.ingest_sink import (
        _land_events_adversarial,
    )

    scratch = str(tmp_path / "adv")
    import os

    os.makedirs(scratch)
    bronze = _land_events_adversarial(spark, SF_DIR, scratch)
    landed = spark.read.parquet(bronze)
    n_src = load_table(spark, SF_DIR, "events").count()
    assert landed.count() == n_src
    assert landed.select("event_id").distinct().count() == n_src
    raw = spark.read.parquet(os.path.join(scratch, "raw"))
    assert raw.count() > 2 * n_src  # the overlaps and in-batch dups exist


def test_ingest_survives_restart_mid_drain(spark, tmp_path):
    """Checkpoint-recovery witness (round 16; made deterministic round 17 —
    ADVICE r16 flagged the old stop-vs-pacing-sleep race: a fast host could
    drain all four shards before ``q1.stop()`` won). The idempotent landing
    must be exactly-once ACROSS A PROCESS-RESTART BOUNDARY, with the crash
    point PINNED instead of raced:

      1. stage the four adversarial shards but expose only shard 0 to the
         file source; drain it to clean termination (offsets/0 + commits/0
         recorded);
      2. simulate a crash BETWEEN the sink write and the checkpoint commit
         by deleting ``commits/0`` — exactly the window where Structured
         Streaming's recovery contract re-runs the batch on restart;
      3. expose the remaining three shards and restart on the SAME
         checkpoint: recovery re-runs batch 0 from the recorded offsets
         (its rows must land ZERO new copies — the idempotent sink absorbs
         the replay), then drains shards 1-3;

    ending with bronze == the source set exactly and the deterministic
    batch-id trace [0] then [0, 1, 2, 3]. A sink that double-lands on
    batch re-run would inflate the counts; a recovery that skipped the
    re-run or the new shards would deflate them."""
    import os
    import shutil

    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.streaming.ingest_sink import (
        RAW_ARRIVAL_SCHEMA,
        _land_events_adversarial,
        make_landing,
        stage_adversarial_shards,
    )

    # Stage the adversarial shards WITHOUT draining (one staging definition,
    # no drift), then hold shards 1-3 out of the source dir for phase 1.
    scratch = str(tmp_path / "restart")
    os.makedirs(scratch)
    raw_dir = stage_adversarial_shards(spark, SF_DIR, scratch)
    held = str(tmp_path / "held")
    os.makedirs(held)
    for i in (1, 2, 3):
        shutil.move(os.path.join(raw_dir, f"arrival{i}.parquet"), held)

    bronze_dir = os.path.join(scratch, "bronze")
    ckpt = os.path.join(scratch, "ckpt")
    landed_batches = []

    # THE production landing (make_landing — one definition, no drift),
    # with the test's bookkeeping riding the after_batch hook
    land = make_landing(bronze_dir, after_batch=landed_batches.append)

    def drain():
        (
            spark.readStream.schema(RAW_ARRIVAL_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(raw_dir)
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        ).awaitTermination()

    # First incarnation: drains exactly shard 0, terminates cleanly.
    drain()
    assert landed_batches == [0]
    n_src = load_table(spark, SF_DIR, "events").count()
    n_phase1 = spark.read.parquet(bronze_dir).count()
    assert 0 < n_phase1 < n_src  # shard 0 is the late half, not the set

    # Crash injection: the sink write for batch 0 is durable but its
    # checkpoint commit is not — delete the commit marker AND its Hadoop
    # ChecksumFileSystem shadow (leaving the stale .crc makes the
    # re-commit's rename fail, which Spark misreports as "multiple
    # streaming queries using this checkpoint").
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)

    # Second incarnation: same checkpoint, shards 1-3 now visible.
    for i in (1, 2, 3):
        shutil.move(os.path.join(held, f"arrival{i}.parquet"), raw_dir)
    drain()
    # recovery re-ran batch 0 (uncommitted), then drained the three new
    # shards — deterministically, not "whatever the stop raced in"
    assert landed_batches == [0, 0, 1, 2, 3]

    landed = spark.read.parquet(bronze_dir)
    assert landed.count() == n_src
    assert landed.select("event_id").distinct().count() == n_src
    # Reference parity: the recovered bronze equals _land_events_adversarial
    # run end-to-end in one incarnation.
    single = _land_events_adversarial(spark, SF_DIR, str(tmp_path / "single"))
    single_rows = sorted(
        tuple(str(x) for x in r)
        for r in spark.read.parquet(single).collect()
    )
    recovered_rows = sorted(tuple(str(x) for x in r) for r in landed.collect())
    assert recovered_rows == single_rows


def test_ingest_skew_stress_witness(spark, tmp_path):
    """Key-skew arrival witness (VERDICT r16 #5): the four adversarial
    shards vary arrival ORDER but keep the fixture's benign key
    distribution — the one arrival dimension they never exercise is key
    skew, the 100 TB failure shape for session_window state (one hot
    user's state concentrates on one task) and for the landing anti-join
    (one hot key dominates the landed-set probe). Remap every even
    event_id onto ONE hot user (~half the events), stage three arrival
    shards that pile the skew on:

      arrival 0 — the hot user's entire history, ts-descending (all of
        one key's session state built from one inverted file);
      arrival 1 — everyone else;
      arrival 2 — a partial replay of the HOT KEY ONLY (every 2nd hot
        event) — the landed-set anti-join probed exactly on the skewed
        key;

    drain through the production ``make_landing``, sessionize through the
    same watermarked ``_bronze_to_gold`` tail, and pin the result equal to
    an independent batch formulation (gaps-and-islands over lag(), the
    same shape as the witnesses' DuckDB oracle) computed on the remapped
    events. Bronze must also hold each event_id exactly once — the replay
    shard lands zero rows.

    Round 18: the shard staging moved into the shared
    ``stage_skewed_shards`` (the driver-checkable
    ``streaming_parity_ingest_skew`` registration drains the identical
    set — one staging definition, no drift); this witness keeps the
    PySpark lag-based batch formulation the DuckDB oracle can't supply,
    with the remap recomputed independently here."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from databricks_spark_sql_challenge1_spark.streaming.ingest_sink import (
        _bronze_to_gold,
        _drain_arrivals_idempotent,
        _staged_events,
        stage_skewed_shards,
    )

    scratch = str(tmp_path / "skew")
    os.makedirs(scratch)
    raw_dir = stage_skewed_shards(spark, SF_DIR, scratch)

    # independent remap (NOT the stager's DF) for the batch oracle below
    hot_user = F.lit(1).cast("bigint")
    skewed = _staged_events(spark, SF_DIR).withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, hot_user).otherwise(
            F.col("user_id")
        ),
    )

    bronze_dir = _drain_arrivals_idempotent(spark, raw_dir, scratch)
    landed = spark.read.parquet(bronze_dir)
    n_src = skewed.count()
    assert landed.count() == n_src
    assert landed.select("event_id").distinct().count() == n_src

    gold = _bronze_to_gold(spark, bronze_dir)

    # Independent batch oracle: gaps-and-islands sessionization (lag-based,
    # NOT session_window — a session_window semantics bug must not cancel)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    flagged = skewed.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
                > 30 * 60
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    batch_gold = (
        sessions.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy(F.col("user_id").asc())
    )
    assert sorted(gold.columns) == sorted(batch_gold.columns)
    assert _rows(gold.select(*batch_gold.columns)) == _rows(batch_gold)
    # the skew is real: the hot user carries ~half the events
    hot_n = skewed.where(F.col("user_id") == 1).count()
    assert hot_n >= n_src * 0.4


def test_streaming_attribution_equals_batch_join(spark):
    """The stream-stream interval join must emit exactly the batch interval
    join's rows (availableNow drains everything; append mode, no late data
    in the fixture)."""
    from pyspark.sql import functions as F

    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.streaming.events_stream import (
        streaming_click_attribution,
    )

    stream = streaming_click_attribution(spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_ts",
        F.round(F.col("purchase_value"), 2).alias("purchase_value"),
    )
    assert sorted(stream.columns) == sorted(batch.columns)
    assert _rows(stream.select(*batch.columns)) == _rows(batch)
    assert stream.count() > 0  # fixture has same-user click->purchase pairs


def test_streaming_dedup_under_rocksdb_state_store(spark):
    """SCALE.md §Streaming claims the streaming state is RocksDB-backed at scale —
    prove the operators actually run (and agree with batch) under the
    RocksDB state store provider OSS Spark bundles."""
    from pyspark.sql import functions as F

    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.streaming.events_stream import (
        streaming_dedup_events,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = streaming_dedup_events(spark, SF_DIR)
        batch = (
            load_table(spark, SF_DIR, "events")
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_unique_users"))
        )
        assert _rows(stream.select(*batch.columns)) == _rows(batch)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_streaming_nation_activity_equals_batch(spark):
    """Stream-static enrichment must equal the identical batch
    join+window: events ⋈ customer ⋈ nation → tumbling 1h per nation."""
    from pyspark.sql import functions as F

    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.streaming.events_stream import (
        streaming_nation_activity,
    )

    got = {
        (r["window_start"], r["nation"], r["n_events"], r["sum_value"])
        for r in streaming_nation_activity(spark, SF_DIR).collect()
    }
    dims = (
        load_table(spark, SF_DIR, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
        .join(
            load_table(spark, SF_DIR, "nation").select(
                F.col("n_nationkey").alias("c_nationkey"),
                F.col("n_name").alias("nation"),
            ),
            "c_nationkey",
        )
        .select("user_id", "nation")
    )
    want = {
        (r["window_start"], r["nation"], r["n_events"], r["sum_value"])
        for r in (
            load_table(spark, SF_DIR, "events")
            .join(dims, "user_id")
            .groupBy(F.window("ts", "1 hour"), "nation")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                "nation",
                "n_events",
                "sum_value",
            )
        ).collect()
    }
    assert want and got == want


def test_streaming_incremental_dedup_equals_batch(spark):
    """The streaming admission-control dedup must flag exactly the docs
    (with exactly the partner counts) that the batch dedup_incremental
    reports as is_dup."""
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        dedup_incremental,
    )
    from databricks_spark_sql_challenge1_spark.streaming.events_stream import (
        streaming_incremental_dedup,
    )

    stream = streaming_incremental_dedup(spark, SF_DIR)
    batch = (
        dedup_incremental(spark, SF_DIR)
        .where("is_dup")
        .select("doc_id", "n_near_dups")
    )
    assert _rows(stream.select("doc_id", "n_near_dups")) == _rows(batch)
    assert stream.count() > 0


def test_streaming_gap_monitor_equals_batch_lag(spark):
    """The stateful gap monitor must agree with the batch lag() diff over
    the same events: per-user max inter-event gap and count of gaps > 1h."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.streaming.events_stream import (
        GAP_ALERT_US,
        streaming_gap_monitor,
    )

    stream = streaming_gap_monitor(spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc())
    gaps = (
        ev.select(
            "user_id",
            (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
            ).alias("gap_us"),
        )
        .groupBy("user_id")
        .agg(
            (F.count(F.lit(1))).alias("n_events"),
            F.coalesce(F.max("gap_us"), F.lit(0)).alias("max_gap_us"),
            F.coalesce(
                F.sum((F.col("gap_us") > GAP_ALERT_US).cast("long")),
                F.lit(0),
            ).alias("n_gaps_over_1h"),
        )
    )
    srows = sorted(tuple(str(x) for x in r) for r in stream.collect())
    brows = sorted(
        tuple(str(x) for x in r)
        for r in gaps.select(
            "user_id", "n_events", "max_gap_us", "n_gaps_over_1h"
        ).collect()
    )
    assert srows == brows


def test_lateness_boundary_inclusivity_is_strict(spark):
    """Pin Spark's late-drop rule AT the watermark boundary with a
    hand-built micro-stream (round-13 review): max on-time ts exactly
    hour-aligned at 05:00 puts the watermark exactly on the 04:00 window
    end — Spark DROPS that straggler (strict ``window_end > watermark``),
    and keeps the one whose window ends 05:00. Spark tracks watermarks in
    milliseconds while the oracle compares at full microseconds, but with
    strict ``>`` on both sides and whole-hour (whole-ms) window ends the
    two rules are equivalent: ``T > floor_ms(M) ⟺ T > M`` for whole-ms T.
    If a Spark upgrade flips the boundary to ``>=`` (the window ending
    04:00 suddenly survives), this fails before the driver hash does."""
    import glob
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    base = datetime(2001, 1, 1)
    ontime = [
        (base + timedelta(hours=5), 1),  # max ts EXACTLY on the hour
        (base + timedelta(hours=4, minutes=30), 2),
    ]
    stragglers = [
        (base + timedelta(hours=3, minutes=30), 100),  # window end 04:00 == wm
        (base + timedelta(hours=4, minutes=40), 200),  # window end 05:00 > wm
    ]
    scratch = tempfile.mkdtemp(prefix="wm_boundary_")
    try:
        stream_dir = os.path.join(scratch, "stream")
        os.makedirs(stream_dir)
        for i, rows in enumerate([ontime, [], stragglers]):
            pdir = os.path.join(scratch, f"p{i}")
            spark.createDataFrame(rows, "ts timestamp, cents bigint").coalesce(
                1
            ).write.parquet(pdir)
            (part,) = glob.glob(os.path.join(pdir, "part-*.parquet"))
            dst = os.path.join(stream_dir, f"batch{i}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (_time.time() - 180 + 60 * i,) * 2)
        agg = (
            spark.readStream.schema("ts timestamp, cents bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(stream_dir)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c"))
            .select(F.col("window.start").alias("ws"), "n", "c")
        )
        name = f"wm_boundary_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        w = Window.partitionBy("ws").orderBy(F.col("n").desc())
        got = {
            r.ws: (r.n, r.c)
            for r in spark.table(name)
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .collect()
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    # window [03:00, 04:00): end == watermark -> straggler DROPPED
    assert base + timedelta(hours=3) not in got
    # window [04:00, 05:00): on-time row + straggler both present
    assert got[base + timedelta(hours=4)] == (2, 202)
    # window [05:00, 06:00): the watermark-defining on-time row
    assert got[base + timedelta(hours=5)] == (1, 1)


def test_lateness_accounting_identities(spark):
    """streaming_parity_lateness's per-window accounting must tie out
    against the batch table: ontime + late_kept + dropped == total per
    window, on-time rows are never dropped, and the manufactured arrival
    order actually exercises the drop path (n_dropped > 0 somewhere)."""
    from pyspark.sql import functions as F

    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.streaming.parity import (
        LATE_MOD,
        LATE_RESIDUE,
        streaming_parity_lateness,
    )
    from tests.conftest import SF_DIR

    out = {r.window_start: r for r in streaming_parity_lateness(spark, SF_DIR).collect()}
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("event_id") % LATE_MOD == LATE_RESIDUE, 0).otherwise(1)
            ).alias("n_ontime"),
        )
        .collect()
    )
    assert sum(r.n_dropped for r in out.values()) > 0
    # ADVICE r12: guard BOTH sides of the drop/accept boundary against a
    # Spark version silently moving the watermark the straggler batch is
    # filtered against. The sf0.001 fixture happens to have zero KEEPABLE
    # stragglers (only stragglers inside the last delay+window span of
    # event time can survive), so instead of a kept>0 existence check,
    # pin n_late_kept per window against the declarative rule itself:
    # kept iff window_end > max(on-time ts) - delay.
    from databricks_spark_sql_challenge1_spark.streaming.parity import (
        LATE_WATERMARK,
    )

    events = load_table(spark, SF_DIR, "events")
    wm = (
        events.where(F.col("event_id") % LATE_MOD != LATE_RESIDUE)
        .agg(F.max("ts").alias("m"))
        .collect()[0]["m"]
    )
    expected_kept = {
        r.window_start: r.n
        for r in (
            events.where(F.col("event_id") % LATE_MOD == LATE_RESIDUE)
            .groupBy(F.date_trunc("hour", "ts").alias("window_start"))
            .agg(F.count(F.lit(1)).alias("n"))
            .where(
                F.col("window_start") + F.expr("interval 1 hour")
                > F.lit(wm) - F.expr(f"interval {LATE_WATERMARK}")
            )
            .collect()
        )
    }
    for ws, r in out.items():
        assert r.n_late_kept == expected_kept.get(ws, 0), ws
    seen_windows = 0
    for b in batch:
        r = out.get(b.window_start)
        if r is None:
            # window absent from the drain: every row was a dropped straggler
            assert b.n_ontime == 0
            continue
        seen_windows += 1
        assert r.n_ontime == b.n_ontime, b.window_start
        assert r.n_ontime + r.n_late_kept + r.n_dropped == b.n_total, b.window_start
        assert r.n_late_kept >= 0 and r.n_dropped >= 0
    assert seen_windows == len(out)
