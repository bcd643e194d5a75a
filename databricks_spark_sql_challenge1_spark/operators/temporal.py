"""Temporal join operators Spark lacks as built-ins — as-of join and range
join — implemented as compositions of existing DataFrame ops (the
SURVEY.md §7 "custom operator" strategy (a): composition before UDFs).

Both are oracle-checked against DuckDB's native ASOF JOIN / non-equi join,
so the compositions are proven semantically identical to the real operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databricks_spark_sql_challenge1_spark.catalog import load_table, share
from databricks_spark_sql_challenge1_spark.functions.cents import cents, cents_sql
from databricks_spark_sql_challenge1_spark.registry import query

RANGE_WINDOW_US = 60_000_000  # 60 seconds


@query(
    "events_asof_join",
    oracle="""
SELECT a.event_id,
       a.user_id,
       a.ts,
       b.ts AS signup_ts,
       CASE WHEN b.ts IS NULL THEN NULL
            ELSE epoch_us(a.ts) - epoch_us(b.ts) END AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') a
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') b
  ON a.user_id = b.user_id AND a.ts >= b.ts
ORDER BY a.event_id ASC
""",
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF (backward) join: each purchase matched to the same user's most
    recent signup at-or-before it.

    Spark has no ASOF JOIN; the scalable composition is the union-and-window
    trick: tag both sides, union, and carry the last right-side timestamp
    forward with ``last(ignorenulls)`` over (user, ts, side) — ONE shuffle
    on user_id, no non-equi join, no per-key explosion. Verified identical
    to DuckDB's native ASOF LEFT JOIN.
    """
    events = load_table(spark, sf_dir, "events", spread=True)
    left = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("side")
    )
    right = events.where(F.col("event_type") == "signup").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(0).alias("side"),
    )
    unioned = left.unionByName(right).withColumn(
        "right_ts", F.when(F.col("side") == 0, F.col("ts"))
    )
    # right rows (side=0) sort before left rows at equal ts → ties match,
    # same as ASOF's `a.ts >= b.ts` inclusive semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "signup_ts", F.last("right_ts", ignorenulls=True).over(w)
    )
    return (
        carried.where(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            "signup_ts",
            (F.unix_micros("ts") - F.unix_micros("signup_ts")).alias("gap_us"),
        )
        .orderBy(F.col("event_id").asc())
    )


CONVERT_WINDOW_US = 3_600_000_000  # 1 hour


@query(
    "events_funnel_conversion",
    oracle=f"""
WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
p AS (SELECT e.user_id, min(e.ts) AS first_purchase_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY e.user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_signed_up,
       CAST(COUNT(p.first_purchase_ts) AS BIGINT) AS n_converted,
       CAST(COUNT(CASE WHEN epoch_us(p.first_purchase_ts) - epoch_us(s.signup_ts)
                            <= {CONVERT_WINDOW_US} THEN 1 END) AS BIGINT)
           AS n_converted_1h
FROM s LEFT JOIN p ON s.user_id = p.user_id
""",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: signup → first subsequent purchase, with a 1-hour
    conversion window — two key-partitioned aggregates + one broadcastable
    join, no per-event state."""
    events = load_table(spark, sf_dir, "events", spread=True)
    s = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    gap = F.unix_micros("first_purchase_ts") - F.unix_micros("signup_ts")
    return (
        s.join(p, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_signed_up"),
            F.count("first_purchase_ts").alias("n_converted"),
            F.count(F.when(gap <= CONVERT_WINDOW_US, 1)).alias("n_converted_1h"),
        )
    )


@query(
    "events_range_join",
    oracle=f"""
SELECT a.user_id,
       a.event_id AS event_1,
       b.event_id AS event_2,
       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= {RANGE_WINDOW_US}
ORDER BY a.user_id ASC, event_1 ASC, event_2 ASC
""",
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) self-join: pairs of same-user events within 60 s.

    A naive non-equi join degenerates to a per-user cross product; the
    scalable composition buckets time into window-sized buckets and
    equi-joins each event's {bucket, bucket+1} probe set against the other
    side's bucket, then applies the exact range filter — the band-join
    pattern, shuffling on (user, bucket) only. Verified identical to
    DuckDB's native non-equi join.
    """
    events = load_table(spark, sf_dir, "events", spread=True).select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    bucket = F.floor(F.col("us") / RANGE_WINDOW_US)
    probes = events.select(
        "user_id",
        "event_id",
        "us",
        F.explode(F.array(bucket, bucket + 1)).alias("probe"),
    ).alias("a")
    base = events.select(
        "user_id", "event_id", "us", bucket.alias("bucket")
    ).alias("b")
    gap = F.col("b.us") - F.col("a.us")
    return (
        probes.join(
            base,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.probe") == F.col("b.bucket"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.abs(F.col("a.us") - F.col("b.us")) <= RANGE_WINDOW_US),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("event_1"),
            F.col("b.event_id").alias("event_2"),
            gap.alias("gap_us"),
        )
        .distinct()  # same-bucket pairs surface from both probe offsets
        .orderBy(
            F.col("user_id").asc(), F.col("event_1").asc(), F.col("event_2").asc()
        )
    )


@query(
    "events_type_transitions",
    oracle="""
WITH s AS (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC) AS next_type
    FROM events
)
SELECT event_type, next_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY event_type),
             4) AS p_next
FROM s
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY event_type ASC NULLS FIRST, next_type ASC NULLS FIRST
""",
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event sequence
    — the sequence-mining summary (what follows what, with conditional
    probability) behind funnel design and bot/spam sequence filters.

    One window per user (lead over (ts, event_id) — the same total order the
    funnel query pins) then a groupBy on the (from, to) pair: a shuffle on
    user_id and a tiny #types² aggregate. The per-source normalization is a
    window over the aggregated frame — #types rows, negligible at any scale.
    """
    ev = load_table(spark, sf_dir, "events", spread=True)
    nxt = F.lead("event_type").over(
        Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    )
    s = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", nxt)
        .where(F.col("next_type").isNotNull())
    )
    agg = s.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = Window.partitionBy("event_type")
    return agg.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 4).alias("p_next"),
    ).orderBy(F.col("event_type").asc(), F.col("next_type").asc())


# --- gap-fill (hypertable-style) -------------------------------------------
# The locf and interp gap-fills share the dense per-user hourly spine; their
# CTE texts are factored here so the consolidated `events_gapfill_methods`
# oracle (one multi-row surface, r14 capacity policy — the r13
# dedup_simhash_methods pattern) is built from the SAME fragments the two
# retired standalone oracles used, keeping every leg's values verbatim.
# The obs CTE body is its own constant so the consolidated surface's
# obs-CTE substitution (``_interp_leg``) replaces the SAME text the
# template was built from — a reformat can never silently turn the replace
# into a no-op (ADVICE r18).
_GAPFILL_OBS_CTE = f"""obs AS (
    SELECT user_id, date_trunc('hour', ts) AS hr,
           CAST(SUM({cents_sql("value")}) AS BIGINT) AS v
    FROM events GROUP BY user_id, date_trunc('hour', ts)
)"""

_GAPFILL_SPINE_CTES = _GAPFILL_OBS_CTE + """,
span AS (
    SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM obs GROUP BY user_id
),
spine AS (
    SELECT user_id,
           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
    FROM span
)"""

_GAPFILL_LOCF_CTES = """filled AS (
    SELECT s.user_id, s.hr, o.v,
           LAST_VALUE(o.v IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
    FROM spine s
    LEFT JOIN obs o ON o.user_id = s.user_id AND o.hr = s.hr
),
gaps AS (
    SELECT user_id,
           CAST(COALESCE(
               MAX(date_diff('hour', prev_hr, hr) - 1), 0) AS BIGINT)
               AS longest_gap_hours
    FROM (SELECT user_id, hr,
                 LAG(hr) OVER (PARTITION BY user_id ORDER BY hr) AS prev_hr
          FROM obs)
    GROUP BY user_id
),
locf_rows AS (
    SELECT f.user_id,
           CAST(COUNT(f.v) AS BIGINT) AS n_observed,
           CAST(COUNT(*) - COUNT(f.v) AS BIGINT) AS n_filled,
           g.longest_gap_hours,
           CAST(SUM(f.fv) AS BIGINT) AS fill_sum_cents
    FROM filled f JOIN gaps g ON g.user_id = f.user_id
    GROUP BY f.user_id, g.longest_gap_hours
)"""


def _gapfill_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, hr, v): the observed hourly integer-cent aggregate both
    gap-fill legs consume — the DataFrame twin of the template's obs CTE."""
    ev = load_table(spark, sf_dir, "events", spread=True)
    return ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.sum(cents("value")).alias("v"))


def events_gapfill_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill (hypertable-style `time_bucket_gapfill` +
    `locf`): build each user's dense hourly spine between their first and
    last observed hour, left-join the observed hourly averages, carry the
    last observation forward across the gaps, and report per-user fill
    statistics (spine size, observed/filled counts, longest gap run, sum
    of the forward-filled series). Since r14 this is the locf LEG of the
    registered ``events_gapfill_methods`` surface (capacity-policy
    consolidation); kept public for tests and for measuring the leg alone
    (SCALE.md §Growth curves). The hourly metric is integer CENTS
    accumulated at the ROW grain (each event's value rounded to cents
    before any sum) — rounding a floating SUM whose addend order differs
    between engines can flip a .5-cent boundary (observed at sf0.001;
    ADVICE r7), so every aggregation at and above the hourly grain is
    exact integer arithmetic.

    Spark has no gapfill built-in; the composition is `sequence(min_hr,
    max_hr, interval 1 hour)` + explode for the spine (computed from the
    same per-user agg shuffle as the observations — one exchange on
    user_id total), then `last(ignorenulls)` over the user/hour order for
    locf. Spine width is bounded by the time span, not the event count, so
    at 100 TB the explode is |users|x|hours| — a fixed multiplier of the
    user dimension, independent of event volume; every window and join
    rides the one user_id partitioning. The longest-gap run needs only
    OBSERVED rows (lag over observed hours minus one), avoiding a
    gaps-and-islands pass over the dense spine.
    """
    return _locf_leg(_gapfill_obs(spark, sf_dir))


def _locf_leg(obs: DataFrame) -> DataFrame:
    """``events_gapfill_stats``'s rows over the observed hourly frame
    ``obs`` (``_gapfill_obs``)."""
    span = obs.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    spine = span.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hr"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("hr").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        spine.join(obs, ["user_id", "hr"], "left")
        .withColumn("fv", F.last("v", ignorenulls=True).over(w))
    )
    wg = Window.partitionBy("user_id").orderBy(F.col("hr").asc())
    gaps = (
        obs.withColumn("prev_hr", F.lag("hr").over(wg))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.max(
                    (
                        F.unix_timestamp("hr") - F.unix_timestamp("prev_hr")
                    ) / 3600
                    - 1
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("longest_gap_hours")
        )
    )
    return (
        filled.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.count("v").alias("n_observed"),
            (F.count(F.lit(1)) - F.count("v")).alias("n_filled"),
            F.sum("fv").alias("ffill_sum_cents"),
        )
        .join(gaps, "user_id")
        .select(
            "user_id", "n_hours", "n_observed", "n_filled",
            "longest_gap_hours", "ffill_sum_cents",
        )
        .orderBy(F.col("user_id").asc())
    )


# Engine-portable floor division for the interpolation step: Spark `div`
# truncates toward zero while DuckDB `//` floors, and the value delta can
# be negative — so both engines get the identical expression
# (a - positive_mod(a, b)) intdiv b, whose operands are exactly divisible
# (both engines' `%` is truncation-remainder, so the double-mod positive
# remainder matches).
def _floor_div_sql(a: str, b: str, intdiv: str) -> str:
    return f"(({a}) - ((({a}) % ({b}) + ({b})) % ({b}))) {intdiv} ({b})"


_GAPFILL_INTERP_CTES_T = """seq AS (
    SELECT s.user_id, s.hr, o.v,
           epoch_us(s.hr) {intdiv} 3600000000 AS idx
    FROM spine s
    LEFT JOIN obs o ON o.user_id = s.user_id AND o.hr = s.hr
),
bounded AS (
    SELECT user_id, hr, v, idx,
           LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
           LAST_VALUE(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prev_idx,
           LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY idx DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_v,
           LAST_VALUE(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY idx DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS next_idx
    FROM seq
),
interp AS (
    SELECT user_id,
           prev_v + {fd} AS iv
    FROM bounded WHERE v IS NULL
),
interp_rows AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_filled,
           CAST(SUM(iv) AS BIGINT) AS fill_sum_cents,
           CAST(MIN(iv) AS BIGINT) AS fill_min_cents,
           CAST(MAX(iv) AS BIGINT) AS fill_max_cents
    FROM interp
    GROUP BY user_id
)"""


def _gapfill_interp_ctes(intdiv: str) -> str:
    fd = _floor_div_sql(
        "(next_v - prev_v) * (idx - prev_idx)", "next_idx - prev_idx", intdiv
    )
    return _GAPFILL_INTERP_CTES_T.format(intdiv=intdiv, fd=fd)


def _gapfill_interp_sql(intdiv: str) -> str:
    """Standalone interp statement (the Spark leg's shared template)."""
    return (
        "WITH "
        + _GAPFILL_SPINE_CTES
        + ",\n"
        + _gapfill_interp_ctes(intdiv)
        + """
SELECT user_id,
       n_filled AS n_interp,
       fill_sum_cents AS interp_sum_cents,
       fill_min_cents AS interp_min_cents,
       fill_max_cents AS interp_max_cents
FROM interp_rows
ORDER BY user_id ASC
"""
    )


def events_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap-fill (hypertable `interpolate()`): for
    every missing hour on each user's dense spine, interpolate between the
    previous and next OBSERVED hourly values, in integer cents with an
    engine-portable floor division — so the oracle verifies the
    interpolated series value-exactly, not to a rounding tolerance.
    Companion to ``events_gapfill_stats``'s locf; since r14 the interp LEG
    of the registered ``events_gapfill_methods`` surface.

    Same scale shape as locf gap-fill (spine bounded by |users|×|hours|,
    one user_id exchange). The "next observed" bound is deliberately a
    running LAST_VALUE over idx DESC, NOT a FIRST_VALUE with an UNBOUNDED
    FOLLOWING frame: Spark recomputes unbounded-following frames from
    scratch per row — O(hours²) per user, measured 24 s vs 1.6 s for the
    locf sibling at sf0.1 before the rewrite (round-7 bench catch) — while
    a descending running frame is the same O(n) shape as the locf pass,
    costing only a second in-partition sort. Both engines run the
    IDENTICAL SQL (modulo the integer-division token and IGNORE NULLS
    placement): the Spark side executes the shared template through
    ``spark.sql`` over registered views — the S7 catalog-scan path — with
    ``div`` as the division operator.
    """
    return _interp_leg(spark, sf_dir, _GAPFILL_OBS_CTE)


def _interp_leg(spark: SparkSession, sf_dir: str, obs_cte: str) -> DataFrame:
    """``events_gapfill_interp``'s rows with the template's obs CTE
    replaced by ``obs_cte`` (itself, or a read of a shared materialized
    aggregate)."""
    import re

    from databricks_spark_sql_challenge1_spark.catalog import register_views

    register_views(spark, sf_dir)
    sql = (
        _gapfill_interp_sql("div")
        .replace(
            "unnest(generate_series(h0, h1, INTERVAL 1 HOUR))",
            "explode(sequence(h0, h1, interval 1 hour))",
        )
        .replace("epoch_us(s.hr)", "unix_micros(s.hr)")
    )
    # IGNORE NULLS placement differs: DuckDB takes it inside the call
    # parens, Spark as a boolean second argument.
    sql = re.sub(
        r"(LAST_VALUE|FIRST_VALUE)\(((?:[^()]|\([^()]*\))*?) IGNORE NULLS\)",
        r"\1(\2, true)",
        sql,
    )
    # The obs CTE is located by the same _GAPFILL_OBS_CTE constant the
    # template is built from, and asserted present, so a template reformat
    # can never silently revert the sharing (ADVICE r18).
    assert _GAPFILL_OBS_CTE in sql, "gapfill obs CTE drifted from template"
    return spark.sql(sql.replace(_GAPFILL_OBS_CTE, obs_cte))


def _gapfill_methods_sql() -> str:
    return (
        "WITH "
        + _GAPFILL_SPINE_CTES
        + ",\n"
        + _GAPFILL_LOCF_CTES
        + ",\n"
        + _gapfill_interp_ctes("//")
        + """
SELECT 'locf' AS method, user_id, n_observed, n_filled, longest_gap_hours,
       fill_sum_cents,
       CAST(NULL AS BIGINT) AS fill_min_cents,
       CAST(NULL AS BIGINT) AS fill_max_cents
FROM locf_rows
UNION ALL
SELECT 'interp' AS method, user_id,
       CAST(NULL AS BIGINT) AS n_observed,
       n_filled,
       CAST(NULL AS BIGINT) AS longest_gap_hours,
       fill_sum_cents, fill_min_cents, fill_max_cents
FROM interp_rows
ORDER BY method ASC, user_id ASC
"""
    )


@query("events_gapfill_methods", oracle=_gapfill_methods_sql())
def events_gapfill_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill method surface: the locf (`events_gapfill_stats`) and
    linear-interpolation (`events_gapfill_interp`) per-user fill summaries
    side by side under a method column — the r13 ``dedup_simhash_methods``
    consolidation pattern applied to the gap-fill pair (r14 capacity
    policy), so the driver hash pins both methods in one row budget.

    Every value is the retired standalone registration's value verbatim
    (locf's redundant ``n_hours`` column dropped: it equals
    ``n_observed + n_filled``; each leg's inapplicable columns are NULL —
    interp rows fill min/max cents, locf rows fill observed/longest-gap).
    The per-leg plans are untouched: the locf leg is the DataFrame-API
    composition, the interp leg executes the shared SQL template through
    ``spark.sql`` (both documented in the leg functions); this surface only
    relabels and unions their outputs. The oracle is assembled from the
    SAME CTE fragments the retired oracles used.
    """
    # Round-18 optimization: the obs aggregate (events scan + one shuffle)
    # was re-derived FIVE times per run — the locf leg references it three
    # times (spine span, the spine left join, the gap lag) and the interp
    # template twice (seq, span). Share it once and feed both legs
    # (the DataFrame twin and the template's obs CTE are value-identical
    # by construction; 3-scale parity re-proven).
    obs = share(_gapfill_obs(spark, sf_dir), "gapfill_methods.obs")
    obs.createOrReplaceTempView("gapfill_obs_shared")
    nl = F.lit(None).cast("long")
    locf = _locf_leg(obs).select(
        F.lit("locf").alias("method"),
        "user_id",
        F.col("n_observed").cast("long").alias("n_observed"),
        F.col("n_filled").cast("long").alias("n_filled"),
        "longest_gap_hours",
        F.col("ffill_sum_cents").alias("fill_sum_cents"),
        nl.alias("fill_min_cents"),
        nl.alias("fill_max_cents"),
    )
    # the interp template reads the shared aggregate instead of
    # re-deriving it per reference (the DataFrame twin is value-identical
    # by construction, see _gapfill_obs)
    interp = _interp_leg(
        spark, sf_dir, "obs AS (SELECT user_id, hr, v FROM gapfill_obs_shared)"
    ).select(
        F.lit("interp").alias("method"),
        "user_id",
        nl.alias("n_observed"),
        F.col("n_interp").alias("n_filled"),
        nl.alias("longest_gap_hours"),
        F.col("interp_sum_cents").alias("fill_sum_cents"),
        F.col("interp_min_cents").alias("fill_min_cents"),
        F.col("interp_max_cents").alias("fill_max_cents"),
    )
    return locf.unionByName(interp).orderBy(
        F.col("method").asc(), F.col("user_id").asc()
    )
