"""Relational analytics beyond the reference surface (SURVEY.md §2.4/§2.5/
§2.7 list these as absent from the reference but natively available in
Spark): set operations, ROLLUP, analytic lag/lead windows, pivot, exact
percentiles. Each oracle-checked, so the extension surface carries the same
correctness guarantee as the reference queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databricks_spark_sql_challenge1_spark.catalog import load_table, share
from databricks_spark_sql_challenge1_spark.functions.cents import cents, cents_sql
from databricks_spark_sql_challenge1_spark.functions.hashing import (
    hex_int,
    hex_int_sql,
)
from databricks_spark_sql_challenge1_spark.registry import query


@query(
    "set_ops_customers",
    oracle="""
WITH open_c AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'),
done_c AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
SELECT 'both' AS segment, COUNT(*) AS n_customers
FROM (SELECT custkey FROM open_c INTERSECT SELECT custkey FROM done_c)
UNION ALL
SELECT 'open_only', COUNT(*)
FROM (SELECT custkey FROM open_c EXCEPT SELECT custkey FROM done_c)
UNION ALL
SELECT 'done_only', COUNT(*)
FROM (SELECT custkey FROM done_c EXCEPT SELECT custkey FROM open_c)
ORDER BY segment
""",
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over customer segments."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    open_c = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    done_c = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    both = open_c.intersect(done_c).agg(F.count(F.lit(1)).alias("n_customers")).select(
        F.lit("both").alias("segment"), "n_customers"
    )
    open_only = open_c.exceptAll(done_c).agg(
        F.count(F.lit(1)).alias("n_customers")
    ).select(F.lit("open_only").alias("segment"), "n_customers")
    done_only = done_c.exceptAll(open_c).agg(
        F.count(F.lit(1)).alias("n_customers")
    ).select(F.lit("done_only").alias("segment"), "n_customers")
    return both.unionAll(open_only).unionAll(done_only).orderBy("segment")


@query(
    "rollup_order_values",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS total_value
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST,
         GROUPING(o_orderstatus, o_orderpriority) ASC
""",
)
def rollup_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (status → status+priority → grand total).

    The grouping id is the last sort key: a NULL status or priority in the
    data groups under the same NULL as a rollup subtotal, and without it
    those rows tie and the engines order them apart."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
            F.grouping_id().alias("gid"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("gid").asc(),
        )
        .drop("gid")
    )


@query(
    "monthly_order_trend_lag",
    oracle="""
WITH m AS (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           COUNT(*) AS n_orders
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY 1, 2
)
SELECT y, m, n_orders,
       LAG(n_orders) OVER (ORDER BY y, m) AS prev_month_orders,
       n_orders - COALESCE(LAG(n_orders) OVER (ORDER BY y, m), 0) AS delta
FROM m
ORDER BY y ASC, m ASC
""",
)
def monthly_order_trend_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG analytic window over the monthly open-order series (the windowed
    re-expression of the reference's self-join MoM pattern #7 — one shuffle
    instead of two subquery scans)."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    m = (
        orders.where(F.col("o_orderstatus") == "O")
        .groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    w = Window.orderBy("y", "m")
    prev = F.lag("n_orders").over(w)
    return m.select(
        "y",
        "m",
        "n_orders",
        prev.alias("prev_month_orders"),
        (F.col("n_orders") - F.coalesce(prev, F.lit(0))).alias("delta"),
    ).orderBy(F.col("y").asc(), F.col("m").asc())


@query(
    "pivot_status_by_priority",
    oracle="""
SELECT o_orderpriority,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS open_orders,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS finished_orders,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS pending_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority ASC NULLS FIRST
""",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts: status values → columns."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    # coalesce AFTER the pivot: an absent (priority, status) combination
    # yields a NULL pivot cell — the aggregate's own coalesce never sees
    # the empty group — while the oracle's SUM(CASE)+COALESCE emits 0
    # (round-13 fuzz-parity find; every combination exists in the shipped
    # fixtures, so the sweeps never reached the path)
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("O"), F.lit(0)).alias("open_orders"),
            F.coalesce(F.col("F"), F.lit(0)).alias("finished_orders"),
            F.coalesce(F.col("P"), F.lit(0)).alias("pending_orders"),
        )
        .orderBy(F.col("o_orderpriority").asc())
    )


def _approx_topk_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw HLL estimates per partkey (engine-specific values — accuracy
    pinned in tests/test_extensions.py, not driver-hashable)."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    lineitem = load_table(spark, sf_dir, "lineitem", spread=True)
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "right")
        .where(F.col("o_orderstatus") == "O")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.approx_count_distinct("o_orderkey", rsd=0.02).alias(
                "approx_abandoned_orders"
            )
        )
    )


@query(
    "approx_topk_products",
    oracle="""
WITH exact AS (
    SELECT l.l_partkey AS partkey,
           COUNT(DISTINCT o.o_orderkey) AS abandoned_orders
    FROM lineitem l RIGHT JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY l.l_partkey
)
SELECT partkey,
       CAST(abandoned_orders AS BIGINT) AS abandoned_orders,
       TRUE AS approx_ok
FROM exact
ORDER BY abandoned_orders DESC NULLS LAST, partkey ASC NULLS FIRST
LIMIT 100
""",
)
def approx_topk_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB variant of the flagship: HLL ``approx_count_distinct``
    (rsd = 0.02) instead of exact distinct — no expand, single-pass
    mergeable sketch. Bounds-check oracle (VERDICT r8 #4, the KMV
    pattern of `distinct_orders_kmv_rollup` adapted to a JVM-internal
    sketch): the
    HLL register values themselves are engine-specific, so instead of
    hashing the estimate the query computes BOTH the sketch estimate and
    the exact count in ONE groupBy pass and emits, per exact-top-100
    partkey, the exact count plus ``approx_ok`` = |estimate − exact| ≤
    max(2, 10% of exact) — 5 standard errors at rsd 0.02, the same bound
    tests/test_extensions.py pins. DuckDB reproduces the exact side and
    asserts the bound holds (TRUE): a broken sketch flips ``approx_ok``
    to false and fails the driver hash. Production at 100 TB ships ONLY
    the mergeable sketch; the exact twin exists to make the sketch
    driver-falsifiable at verification scale.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    lineitem = load_table(spark, sf_dir, "lineitem", spread=True)
    both = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "right")
        .where(F.col("o_orderstatus") == "O")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.countDistinct("o_orderkey").alias("abandoned_orders"),
            F.approx_count_distinct("o_orderkey", rsd=0.02).alias("approx_est"),
        )
    )
    return (
        both.select(
            "partkey",
            "abandoned_orders",
            (
                F.abs(F.col("approx_est") - F.col("abandoned_orders"))
                <= F.greatest(
                    F.lit(2.0), F.col("abandoned_orders") * F.lit(0.1)
                )
            ).alias("approx_ok"),
        )
        .orderBy(
            F.col("abandoned_orders").desc_nulls_last(),
            F.col("partkey").asc_nulls_first(),
        )
        .limit(100)
    )


# Rank tolerance for the percentile-sketch bounds check: Spark's
# approx_percentile at accuracy 10000 guarantees rank error <= n/10000;
# 0.005 (0.5% of rank span) is 50x that guarantee yet still a genuine
# property — a broken sketch lands far outside it.
#
# Minimum group size (ADVICE r9): approx_price_percentiles' interpolated
# p±0.005 acceptance interval assumes each o_orderstatus group has roughly
# >= 1/PCT_RANK_EPS (~200) rows — approx_percentile returns an ACTUAL
# sample, so in a smaller group the interval between the p-eps and p+eps
# interpolated quantiles can exclude every sample and flip ok_* false
# against the oracle's hardcoded TRUE even with a healthy sketch. The
# fixtures satisfy this at every SF (smallest status group: 493 rows —
# 'P'/'F' at sf0.001). Queries over groups that can be small must instead use the
# integer RANK-bound acceptance with the +1.5/n widening — see
# customer_rfm_segments_approx.
PCT_RANK_EPS = 0.005


@query(
    "approx_price_percentiles",
    oracle="""
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 2) AS p99,
       TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_p99
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus ASC
""",
)
def approx_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass mergeable-sketch percentiles (``approx_percentile``,
    accuracy 10000) — what replaces exact interpolation when the group is
    10^11 rows. Bounds-check oracle (VERDICT r8 #4): the sketch's values
    are engine-specific, so the query emits the EXACT percentiles (the
    hashable payload, identical to `price_percentiles`) plus per-
    percentile ``ok_*`` booleans asserting the sketch estimate lies
    between the exact interpolated quantiles at p ± 0.005 rank — 50x the
    sketch's guaranteed rank error, checked in-engine in the same
    aggregation pass. DuckDB reproduces the exact side and asserts the
    bound (TRUE); a drifting sketch flips a boolean and fails the driver
    hash. Production ships only the mergeable sketch.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    eps = PCT_RANK_EPS
    agg = orders.groupBy("o_orderstatus").agg(
        F.expr(
            "approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)"
        ).alias("est"),
        F.expr(
            "percentile(o_totalprice, array(0.5, 0.9, 0.99))"
        ).alias("exact"),
        F.expr(
            f"percentile(o_totalprice, array({0.5 - eps}, {0.9 - eps}, "
            f"{0.99 - eps}))"
        ).alias("lo"),
        F.expr(
            f"percentile(o_totalprice, array({0.5 + eps}, {0.9 + eps}, "
            f"{0.99 + eps}))"
        ).alias("hi"),
    )

    def ok(i: int) -> F.Column:
        return (F.col("est")[i] >= F.col("lo")[i]) & (
            F.col("est")[i] <= F.col("hi")[i]
        )

    return agg.select(
        "o_orderstatus",
        F.round(F.col("exact")[0], 2).alias("p50"),
        F.round(F.col("exact")[1], 2).alias("p90"),
        F.round(F.col("exact")[2], 2).alias("p99"),
        ok(0).alias("ok_p50"),
        ok(1).alias("ok_p90"),
        ok(2).alias("ok_p99"),
    ).orderBy(F.col("o_orderstatus").asc())


def _approx_percentiles_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw t-digest estimates (engine-specific values — accuracy pinned in
    tests/test_extensions.py, not driver-hashable)."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.expr(
                "approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)"
            ).alias("pcts")
        )
        .select(
            "o_orderstatus",
            F.col("pcts")[0].alias("p50"),
            F.col("pcts")[1].alias("p90"),
            F.col("pcts")[2].alias("p99"),
        )
        .orderBy(F.col("o_orderstatus").asc())
    )


@query(
    "price_percentiles",
    oracle="""
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 2) AS p99
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus ASC NULLS FIRST
""",
)
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per status (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``). The 100 TB variant swaps in
    ``approx_percentile`` (t-digest, single-pass mergeable sketch) — kept
    exact here so the oracle can replay it."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
        )
        .orderBy(F.col("o_orderstatus").asc())
    )


@query(
    "cube_order_summary",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS total_value
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid ASC, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
""",
)
def cube_order_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation with GROUPING_ID — all four grouping sets of
    (status, priority) in one pass (completes the GROUPING SETS family
    next to ``rollup_order_values``; reference has neither, SURVEY.md §2.5).

    Scale shape: Spark expands CUBE into a single Expand + one hash
    aggregate — one shuffle total for all 2^n grouping sets, with map-side
    partial aggregation; bit order of grouping_id (leftmost column = MSB)
    matches DuckDB/Postgres GROUPING().
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_value")
        .orderBy(
            F.col("gid").asc(),
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "orders_unpivot_metrics",
    oracle=f"""
WITH s AS (
    SELECT o_orderstatus,
           CAST(COUNT(*) AS DOUBLE) AS n_orders,
           ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS total_value,
           ROUND(CAST(SUM({cents_sql("o_totalprice")}) AS DOUBLE)
                 / COUNT(*)) / 100.0 AS avg_value
    FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, metric, value FROM (
    SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM s
    UNION ALL
    SELECT o_orderstatus, 'total_value', total_value FROM s
    UNION ALL
    SELECT o_orderstatus, 'avg_value', avg_value FROM s
)
ORDER BY o_orderstatus ASC NULLS FIRST, metric ASC
""",
)
def orders_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide metrics → long rows) via ``stack`` — the inverse of
    ``pivot_status_by_priority``. All three metrics are cast to DOUBLE so
    the long ``value`` column is homogeneous.

    Scale shape: stack is a narrow projection (Expand, no shuffle beyond
    the upstream aggregate); the wide aggregate itself is one shuffle.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    # avg_value via integer cents: SUM(BIGINT)/COUNT is the identical
    # double on both engines regardless of row order, and scale-0 ROUND
    # is the boundary-safe class (every N.5 is binary-exact) — where
    # ROUND(AVG(money), 2) put a sub-cent average (37.435) ON the .005
    # boundary, rounding apart cross-engine AND flipping with the float
    # summation order (r18 triple-composed probe on a random warehouse)
    wide = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        (F.round(F.sum(cents("o_totalprice")) / F.count(F.lit(1))) / 100.0).alias(
            "avg_value"
        ),
    )
    return (
        wide.select(
            "o_orderstatus",
            F.expr(
                "stack(3, 'n_orders', n_orders, 'total_value', total_value,"
                " 'avg_value', avg_value) AS (metric, value)"
            ),
        )
        .orderBy(F.col("o_orderstatus").asc(), F.col("metric").asc())
    )


@query(
    "customer_value_deciles",
    oracle="""
WITH s AS (
    SELECT o_custkey AS custkey,
           ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS spend
    FROM orders GROUP BY o_custkey
)
SELECT custkey, spend,
       ROUND(percent_rank() OVER (ORDER BY spend ASC, custkey ASC), 6) AS pct_rank,
       ROUND(cume_dist() OVER (ORDER BY spend ASC, custkey ASC), 6) AS cum_dist,
       CAST(ntile(10) OVER (ORDER BY spend ASC, custkey ASC) AS BIGINT) AS decile
FROM s
ORDER BY custkey ASC
""",
)
def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / decile ntile over per-customer spend —
    the remaining analytic-window family members (rank/row_number/lag/ntile
    are covered elsewhere). Ordering carries a custkey tiebreak so ranks
    are engine-deterministic.

    Scale shape: one shuffle for the customer aggregate; the global
    rank windows are a single-partition sort over the customer dimension
    (same bound and same approx-cutoff escape hatch as
    ``customer_rfm_segments``).
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    s = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    w = Window.orderBy(F.col("spend").asc(), F.col("custkey").asc())
    return s.select(
        "custkey",
        "spend",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    ).orderBy(F.col("custkey").asc())


RFM_TILES = 4


@query(
    "customer_rfm_segments",
    oracle=f"""
WITH m AS (
    SELECT o_custkey AS custkey,
           CAST(datediff('day', MAX(o_orderdate),
                         (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT)
               AS recency_days,
           COUNT(*) AS frequency,
           ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS monetary
    FROM orders GROUP BY o_custkey
)
SELECT custkey, recency_days, frequency, monetary,
       CAST(ntile({RFM_TILES}) OVER (ORDER BY recency_days ASC, custkey ASC)
            AS BIGINT) AS r_score,
       CAST(ntile({RFM_TILES}) OVER (ORDER BY frequency DESC, custkey ASC)
            AS BIGINT) AS f_score,
       CAST(ntile({RFM_TILES}) OVER (ORDER BY monetary DESC, custkey ASC)
            AS BIGINT) AS m_score
FROM m
ORDER BY custkey ASC
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary quartile
    scores (1 = best) — the classic CRM segmentation over the order fact.

    The per-customer aggregate is one shuffle; the three global ntiles are
    exact and therefore single-partition sorts over the customer dimension
    (fine up to ~10⁸ rows locally sorted; at true 100 TB customer counts
    the exact ntile swaps for approx_percentile cutoffs broadcast against
    the aggregate — same output contract, no global sort). Every ORDER BY
    carries a custkey tiebreak so tile assignment is engine-deterministic.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    anchor = orders.agg(F.max("o_orderdate").alias("a"))
    m = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "custkey",
            F.datediff(F.col("a"), F.col("last_order"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    return m.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(RFM_TILES)
        .over(Window.orderBy(F.col("recency_days").asc(), F.col("custkey").asc()))
        .cast("bigint")
        .alias("r_score"),
        F.ntile(RFM_TILES)
        .over(Window.orderBy(F.col("frequency").desc(), F.col("custkey").asc()))
        .cast("bigint")
        .alias("f_score"),
        F.ntile(RFM_TILES)
        .over(Window.orderBy(F.col("monetary").desc(), F.col("custkey").asc()))
        .cast("bigint")
        .alias("m_score"),
    ).orderBy(F.col("custkey").asc())


# Tile-assignment agreement floor for the approx-RFM bounds oracle: the
# sketch cutoff is an actual sample within PCT_RANK_EPS rank of the exact
# interpolated cutoff, so only customers BETWEEN the two cutoff values can
# flip tiles (~eps*n of them, plus one tie-group at the boundary). 0.9 is
# far below any healthy sketch's agreement (measured: worst dim 0.9867 at
# sf0.001, 1.0 at sf0.01, 0.9999 at sf0.1) yet far above a broken
# sketch's (~0.25-0.5 for garbage cutoffs).
RFM_AGREE_MIN = 0.9

_RFM_DIMS = (
    # (dim label, m-column, tile direction: True = ascending score
    #  (smaller value -> tile 1), False = descending (larger -> tile 1))
    ("frequency", "frequency", False),
    ("monetary", "monetary_cents", False),
    ("recency", "recency_days", True),
)

_RFM_PS = (0.25, 0.5, 0.75)


def _rfm_approx_oracle() -> str:
    selects = []
    for dim, col, _asc in _RFM_DIMS:
        qcols = ", ".join(
            f"ROUND(quantile_cont({col}, {p}), 2) AS q{int(p * 100)}"
            for p in _RFM_PS
        )
        selects.append(
            f"""SELECT '{dim}' AS dim,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {qcols},
       TRUE AS ok_q25, TRUE AS ok_q50, TRUE AS ok_q75,
       TRUE AS tile_agreement_ok
FROM m"""
        )
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH m AS (
    SELECT o_custkey AS custkey,
           CAST(datediff('day', MAX(o_orderdate),
                         (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT)
               AS recency_days,
           COUNT(*) AS frequency,
           CAST(SUM({cents_sql("o_totalprice")}) AS BIGINT)
               AS monetary_cents
    FROM orders GROUP BY o_custkey
)
{body}
ORDER BY dim ASC
"""


@query("customer_rfm_segments_approx", oracle=_rfm_approx_oracle())
def customer_rfm_segments_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB variant of ``customer_rfm_segments`` (VERDICT r9 #4): tile
    CUTOFFS from a mergeable ``approx_percentile`` sketch, broadcast back
    against the per-customer aggregate — NO ntile, NO global row sort
    anywhere in the plan (pinned in tests/test_plans.py). Tile assignment
    is three comparisons per dimension against the broadcast cutoffs, so
    the whole query is two shuffle-free-after-aggregation passes over the
    customer dimension however large it grows.

    Bounds-check oracle (the ``approx_price_percentiles`` pattern): the
    sketch cutoffs are engine-specific, so the hashable payload is the
    EXACT interpolated quartiles per dimension (DuckDB ``quantile_cont``
    reproduces them) plus per-cutoff ``ok_q*`` booleans asserting the
    sketch's RANK guarantee in integers — #{d <= est} >= floor((p-E)n)
    and #{d < est} <= ceil((p+E)n) with E = PCT_RANK_EPS + 1.5/n (the
    +1.5/n keeps the bound meaningful at small n, ADVICE r9 on
    approx_price_percentiles) — and a per-dimension ``tile_agreement_ok``
    asserting >= RFM_AGREE_MIN of customers get the same tile from sketch
    cutoffs as from exact cutoffs. A broken sketch flips booleans and
    fails the driver hash; DuckDB asserts all TRUE.

    Cross-engine exactness: every quantile runs over BIGINT columns
    (monetary pre-rounded to CENTS per row, CLAUDE.md float policy), so
    interpolated values carry only dyadic .25/.5/.75 fractions — bit-equal
    on both engines, never on a ROUND half-boundary. ``monetary`` rows
    therefore report cutoffs in cents.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    anchor = orders.agg(F.max("o_orderdate").alias("a"))
    m = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(cents("o_totalprice")).cast("bigint").alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "custkey",
            F.datediff(F.col("a"), F.col("last_order"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    ps = ", ".join(str(p) for p in _RFM_PS)
    stats_aggs = [F.count(F.lit(1)).alias("n")]
    for dim, col, _asc in _RFM_DIMS:
        stats_aggs.append(
            F.expr(f"percentile({col}, array({ps}))").alias(f"ex_{dim}")
        )
        stats_aggs.append(
            F.expr(f"approx_percentile({col}, array({ps}), 10000)").alias(
                f"ap_{dim}"
            )
        )
    # Round-18: `m` (the per-customer RFM aggregate) feeds both the sketch/
    # exact-quantile pass and the bound-check pass; shared once
    # (|customers| rows) instead of re-running the orders aggregation.
    m = share(m, "rfm_approx.m")
    stats = m.agg(*stats_aggs)

    j = m.crossJoin(F.broadcast(stats))

    def tile(col: str, cuts: str, asc: bool) -> F.Column:
        # ascending score: tile = 1 + #(cutoffs below d);
        # descending score: tile = 1 + #(cutoffs at-or-above d)
        d = F.col(col)
        t = F.lit(1)
        for i in range(3):
            c = F.col(cuts)[i]
            t = t + ((d > c) if asc else (d <= c)).cast("int")
        return t

    second_aggs = [
        F.first("n").alias("n"),
        *[F.first(f"ex_{dim}").alias(f"ex_{dim}") for dim, _c, _a in _RFM_DIMS],
    ]
    for dim, col, asc in _RFM_DIMS:
        for i, _p in enumerate(_RFM_PS):
            est = F.col(f"ap_{dim}")[i]
            second_aggs.append(
                F.sum((F.col(col) <= est).cast("long")).alias(f"le_{dim}_{i}")
            )
            second_aggs.append(
                F.sum((F.col(col) < est).cast("long")).alias(f"lt_{dim}_{i}")
            )
        agree = (
            tile(col, f"ex_{dim}", asc) == tile(col, f"ap_{dim}", asc)
        ).cast("double")
        second_aggs.append(F.avg(agree).alias(f"agree_{dim}"))
    wide = j.agg(*second_aggs)

    n = F.col("n")
    eps = F.lit(PCT_RANK_EPS) + F.lit(1.5) / n

    def ok(dim: str, i: int) -> F.Column:
        p = F.lit(_RFM_PS[i])
        lo = F.floor((p - eps) * n)
        hi = F.ceil((p + eps) * n)
        return (F.col(f"le_{dim}_{i}") >= lo) & (F.col(f"lt_{dim}_{i}") <= hi)

    # flatten the 1-row wide frame into one flat column per (dim, field),
    # then unpivot to 3 rows with a single stack() generator — one lineage,
    # one execution of the two aggregation passes, auditable plan
    flat_cols = [n.cast("bigint").alias("n_customers")]
    for dim, _col, _asc in _RFM_DIMS:
        flat_cols += [
            F.round(F.col(f"ex_{dim}")[0], 2).alias(f"q25_{dim}"),
            F.round(F.col(f"ex_{dim}")[1], 2).alias(f"q50_{dim}"),
            F.round(F.col(f"ex_{dim}")[2], 2).alias(f"q75_{dim}"),
            ok(dim, 0).alias(f"ok0_{dim}"),
            ok(dim, 1).alias(f"ok1_{dim}"),
            ok(dim, 2).alias(f"ok2_{dim}"),
            (F.col(f"agree_{dim}") >= RFM_AGREE_MIN).alias(f"agr_{dim}"),
        ]
    flat = wide.select(*flat_cols)
    stack_args = ", ".join(
        f"'{dim}', q25_{dim}, q50_{dim}, q75_{dim}, "
        f"ok0_{dim}, ok1_{dim}, ok2_{dim}, agr_{dim}"
        for dim, _c, _a in _RFM_DIMS
    )
    return flat.select(
        F.expr(
            f"stack({len(_RFM_DIMS)}, {stack_args}) AS "
            "(dim, q25, q50, q75, ok_q25, ok_q50, ok_q75, tile_agreement_ok)"
        ),
        "n_customers",
    ).select(
        "dim",
        "n_customers",
        "q25",
        "q50",
        "q75",
        "ok_q25",
        "ok_q50",
        "ok_q75",
        "tile_agreement_ok",
    ).orderBy(F.col("dim").asc())


# Incremental view maintenance: the "snapshot" is the 90% historical slice
# (o_orderkey % 10 != 0), the "batch" the arriving 10% — a deterministic
# stand-in for a day's landed data, same style as dedup's INCREMENTAL_MOD.
IVM_BATCH_MOD = 10


@query(
    "orders_incremental_merge",
    oracle=f"""
WITH snap AS (
    SELECT date_trunc('month', o_orderdate) AS m,
           COUNT(*) AS c, SUM(o_totalprice) AS v
    FROM orders WHERE o_orderkey % {IVM_BATCH_MOD} <> 0 GROUP BY 1
),
bat AS (
    SELECT date_trunc('month', o_orderdate) AS m,
           COUNT(*) AS c, SUM(o_totalprice) AS v
    FROM orders WHERE o_orderkey % {IVM_BATCH_MOD} = 0 GROUP BY 1
)
SELECT CAST(COALESCE(s.m, b.m) AS DATE) AS o_month,
       CAST(COALESCE(s.c, 0) + COALESCE(b.c, 0) AS BIGINT) AS n_orders,
       ROUND(COALESCE(s.v, 0) + COALESCE(b.v, 0), 2) AS total_value
FROM snap s FULL JOIN bat b ON b.m = s.m
ORDER BY o_month ASC
""",
)
def orders_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance — refresh a materialized monthly
    aggregate by MERGING the new batch's partial aggregate into the
    snapshot's, never rescanning history: agg(snapshot) ⟗ agg(batch) on
    the group key, counts/sums added (COALESCE for months only one side
    has), ROUND applied after the merge (rounding partials first would
    drift). The mergeability of count/sum partials is exactly what makes
    the refresh O(batch + groups) instead of O(history) — at 100 TB the
    snapshot aggregate is a stored table of |groups| rows, the batch agg
    shuffles only the day's data, and the merge is a join on the
    (broadcastable) group-key table. tests/test_semantics.py pins the
    algebraic invariant: merged result == direct aggregation over the
    full table.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)

    # Round-19, rejected after measurement (VERDICT r18 #7 suggested a
    # shared (month, side)-grained frame here): a single grouped aggregate
    # measured SLOWER than the two filter-then-aggregate passes at every
    # variant tried — localCheckpoint-ed 0.98 s, relying on exchange reuse
    # 1.09 s, vs 0.87 s noop for this two-pass shape — because each side's
    # aggregate is one cheap scan-resident pass and the sharing machinery
    # costs more than the saved scan. Kept the measured winner.
    def monthly(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.trunc("o_orderdate", "month").alias("o_month")
        ).agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("o_totalprice").alias("v"),
        )

    snap = monthly(orders.where(F.col("o_orderkey") % IVM_BATCH_MOD != 0))
    bat = monthly(orders.where(F.col("o_orderkey") % IVM_BATCH_MOD == 0))
    s, b = snap.alias("s"), bat.alias("b")
    return (
        s.join(b, F.col("b.o_month") == F.col("s.o_month"), "full_outer")
        .select(
            F.coalesce(F.col("s.o_month"), F.col("b.o_month")).alias("o_month"),
            (
                F.coalesce(F.col("s.c"), F.lit(0))
                + F.coalesce(F.col("b.c"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_orders"),
            F.round(
                F.coalesce(F.col("s.v"), F.lit(0.0))
                + F.coalesce(F.col("b.v"), F.lit(0.0)),
                2,
            ).alias("total_value"),
        )
        .orderBy(F.col("o_month").asc())
    )


# --- SCD Type-2 dimension history ------------------------------------------

# Monthly-spend tier thresholds in exact cents (CLAUDE.md cents rule: go
# integer at the finest grain so no float summation can flip a boundary).
SCD2_HIGH_CENTS = 25_000_000  # >= $250k/month
SCD2_MID_CENTS = 12_000_000  # >= $120k/month
# Deterministic customer slice keeps the interval table driver-sized while
# exercising every code path (the INCREMENTAL_MOD / IVM_BATCH_MOD style).
SCD2_CUST_MOD = 20

_SCD2_TIER_SQL = (
    f"CASE WHEN spend_cents >= {SCD2_HIGH_CENTS} THEN 'high' "
    f"WHEN spend_cents >= {SCD2_MID_CENTS} THEN 'mid' ELSE 'low' END"
)


# Full-rebuild SCD2 oracle — shared by `scd2_customer_history` (which
# computes exactly this) and `scd2_cdc_apply` (which must EQUAL it after
# merging the last month's batch into the prior-history snapshot: the
# oracle IS the merged==rebuilt invariant, hash-checked by the driver).
_SCD2_FULL_SQL = f"""
WITH monthly AS (
    SELECT o_custkey AS c_custkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
           CAST(SUM({cents_sql("o_totalprice")}) AS BIGINT)
               AS spend_cents
    FROM orders
    WHERE o_custkey % {SCD2_CUST_MOD} = 0
    GROUP BY 1, 2
),
tiered AS (SELECT *, {_SCD2_TIER_SQL} AS tier FROM monthly),
flagged AS (
    SELECT *,
           CASE WHEN lag(tier) OVER w IS NULL
                  OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
    FROM tiered
    WINDOW w AS (PARTITION BY c_custkey ORDER BY m)
),
versioned AS (
    SELECT *,
           SUM(chg) OVER (PARTITION BY c_custkey ORDER BY m
                          ROWS UNBOUNDED PRECEDING) AS version
    FROM flagged
),
islands AS (
    SELECT c_custkey, CAST(version AS BIGINT) AS version, tier,
           MIN(m) AS valid_from,
           CAST(COUNT(*) AS BIGINT) AS n_months,
           CAST(SUM(spend_cents) AS BIGINT) AS island_spend_cents
    FROM versioned
    GROUP BY c_custkey, version, tier
)
SELECT c_custkey, version, tier, valid_from,
       lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY version)
           AS valid_to,
       n_months, island_spend_cents,
       lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY version)
           IS NULL AS is_current
FROM islands
ORDER BY c_custkey ASC, version ASC
"""


def _scd2_monthly(orders: DataFrame) -> DataFrame:
    """(c_custkey, m, spend_cents, tier): the monthly spend-tier snapshot
    stream both SCD2 queries consume — exact integer cents."""
    return (
        orders.where(F.col("o_custkey") % SCD2_CUST_MOD == 0)
        .groupBy(
            F.col("o_custkey").alias("c_custkey"),
            F.trunc("o_orderdate", "month").alias("m"),
        )
        .agg(
            F.sum(cents("o_totalprice")).cast("bigint").alias("spend_cents")
        )
        .withColumn("tier", F.expr(_SCD2_TIER_SQL))
    )


def _scd2_build(monthly: DataFrame) -> DataFrame:
    """Gaps-and-islands SCD2 history over a (c_custkey, m, spend_cents,
    tier) snapshot stream — the batch backfill body shared by the full
    rebuild and the CDC-apply's prior-history snapshot. Unsorted."""
    w = Window.partitionBy("c_custkey").orderBy("m")
    flagged = monthly.withColumn(
        "chg",
        F.when(
            F.lag("tier").over(w).isNull()
            | (F.lag("tier").over(w) != F.col("tier")),
            1,
        ).otherwise(0),
    )
    versioned = flagged.withColumn(
        "version",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    islands = versioned.groupBy(
        "c_custkey", F.col("version").cast("bigint").alias("version"), "tier"
    ).agg(
        F.min("m").alias("valid_from"),
        F.count(F.lit(1)).alias("n_months"),
        F.sum("spend_cents").cast("bigint").alias("island_spend_cents"),
    )
    wv = Window.partitionBy("c_custkey").orderBy("version")
    return islands.select(
        "c_custkey",
        "version",
        "tier",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_months",
        "island_spend_cents",
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
    )


@query("scd2_customer_history", oracle=_SCD2_FULL_SQL)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (Type 2) history build: collapse each
    customer's observed monthly spend-tier snapshots into validity
    intervals [valid_from, valid_to) with exactly one open (is_current)
    version per customer — the MERGE-style dimension maintenance a
    lakehouse runs on every CDC batch, here as the deterministic batch
    backfill over orders.

    Gaps-and-islands on exact integer cents: lag() flags tier changes in
    observation order (a month with no orders is no observation — validity
    runs until the next observed change, standard SCD2 snapshot
    semantics), a running SUM turns flags into version numbers, one
    groupBy per (customer, version) emits the interval, and lead() closes
    each interval with its successor's start.

    Scale shape: one shuffle for the monthly aggregate (map-side partial
    sums), then every window and the island groupBy partition BY CUSTOMER
    — per-partition state is a customer's month count (bounded), never
    corpus-scale, so the build parallelizes to arbitrarily many customers.
    Incremental maintenance is the `orders_incremental_merge` pattern:
    a day's batch touches only its customers' open versions (close the
    current row, append the new one), never the history — implemented and
    pinned merged==rebuilt by ``scd2_cdc_apply`` below."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    return _scd2_build(_scd2_monthly(orders)).orderBy(
        F.col("c_custkey").asc(), F.col("version").asc()
    )


@query("scd2_cdc_apply", oracle=_SCD2_FULL_SQL)
def scd2_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 CDC apply (VERDICT r13 #5a): merge the LAST month's
    batch into the prior-history ``scd2_customer_history`` snapshot and
    return the merged dimension — registered against the FULL-REBUILD
    oracle, so the driver hash IS the merged==rebuilt invariant (the
    ``orders_incremental_merge`` pattern applied to the SCD2 surface).

    The batch month is the fixture anchor month (max(o_orderdate), pulled
    via the cached catalog scalar; the oracle recomputes its rebuild from
    all months, so no literal needs splicing). Merge semantics, per
    affected customer, on the snapshot's single open version:
    - batch tier == open tier → EXTEND the open version in place
      (n_months + 1, island_spend + batch spend; validity unchanged);
    - batch tier differs → CLOSE the open version (valid_to = batch
      month) and APPEND a new open version (version + 1, n_months = 1);
    - customer new in the batch → APPEND version 1;
    - closed history rows and untouched customers pass through verbatim.
    Correct because gaps-and-islands is prefix-decomposable: appending the
    chronologically-last observation either extends the last island or
    starts a new one — never rewrites earlier islands.

    Scale shape: the history rebuild here is fixture determinism (a real
    deployment reads the stored snapshot); the MERGE itself is one
    full-outer join of the open-version slice against the batch month's
    aggregate on c_custkey — O(open customers + batch), never
    history-sized, and broadcastable when the batch is a day's CDC."""
    from databricks_spark_sql_challenge1_spark.catalog import (
        last_order_datetime,
    )

    orders = load_table(spark, sf_dir, "orders", spread=True)
    anchor = last_order_datetime(spark, sf_dir)
    cutoff = F.trunc(F.lit(anchor.strftime("%Y-%m-%d")).cast("date"), "month")
    # Round-19 (VERDICT r18 #7): this query's frame graph referenced
    # `monthly` twice (snapshot + batch) and the merged join `j` FOUR times
    # (untouched/extended/closed_now/appended), so the orders scan, the
    # monthly aggregate and the whole gaps-and-islands snapshot build
    # evaluated up to 5x per run (56 Exchange nodes in the r19 before-plan).
    # Three shared frames, all dimension-sized (custkey%MOD slice), pin
    # each subtree to one evaluation: monthly (feeds snap + batch), snap
    # (feeds open + closed), and j (feeds the four merge branches). In
    # production monthly/snap are the stored snapshot tables; the shared
    # frames stand in for those reads.
    monthly = share(_scd2_monthly(orders), "scd2.monthly")
    snap = share(_scd2_build(monthly.where(F.col("m") < cutoff)), "scd2.snap")
    batch = monthly.where(F.col("m") == cutoff).select(
        "c_custkey",
        F.col("m").alias("b_m"),
        F.col("spend_cents").alias("b_spend"),
        F.col("tier").alias("b_tier"),
    )
    open_rows = snap.where(F.col("is_current"))
    closed_rows = snap.where(~F.col("is_current"))
    j = share(open_rows.join(batch, "c_custkey", "full_outer"), "scd2.merge")
    in_batch = F.col("b_m").isNotNull()
    has_open = F.col("version").isNotNull()
    same_tier = F.col("tier") == F.col("b_tier")
    untouched = j.where(~in_batch).select(*snap.columns)
    extended = j.where(in_batch & has_open & same_tier).select(
        "c_custkey",
        "version",
        "tier",
        "valid_from",
        F.lit(None).cast("date").alias("valid_to"),
        (F.col("n_months") + F.lit(1)).alias("n_months"),
        (F.col("island_spend_cents") + F.col("b_spend"))
        .cast("bigint")
        .alias("island_spend_cents"),
        F.lit(True).alias("is_current"),
    )
    closed_now = j.where(in_batch & has_open & ~same_tier).select(
        "c_custkey",
        "version",
        "tier",
        "valid_from",
        F.col("b_m").alias("valid_to"),
        "n_months",
        "island_spend_cents",
        F.lit(False).alias("is_current"),
    )
    appended = j.where(in_batch & (~has_open | ~same_tier)).select(
        "c_custkey",
        (F.coalesce(F.col("version"), F.lit(0)) + F.lit(1))
        .cast("bigint")
        .alias("version"),
        F.col("b_tier").alias("tier"),
        F.col("b_m").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(1).cast("bigint").alias("n_months"),
        F.col("b_spend").alias("island_spend_cents"),
        F.lit(True).alias("is_current"),
    )
    return (
        closed_rows.unionByName(untouched)
        .unionByName(extended)
        .unionByName(closed_now)
        .unionByName(appended)
        .orderBy(F.col("c_custkey").asc(), F.col("version").asc())
    )


# --- join-key skew profile -------------------------------------------------


@query(
    "partkey_skew_histogram",
    oracle="""
WITH g AS (
    SELECT l.l_partkey AS partkey, COUNT(DISTINCT o.o_orderkey) AS n
    FROM lineitem l
    RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY l.l_partkey
)
SELECT CAST(floor(log2(n)) AS BIGINT) AS size_bucket,
       COUNT(*) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS total_orders,
       CAST(MAX(n) AS BIGINT) AS max_group,
       CAST(SUM(CASE WHEN partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_keys
FROM g
GROUP BY 1
ORDER BY size_bucket ASC
""",
)
def partkey_skew_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for the flagship's aggregation key: log2-bucket
    histogram of per-partkey abandoned-order group sizes (bucket b holds
    keys with 2^b <= group < 2^(b+1)), with the NULL hot key called out —
    the measurement you run BEFORE choosing between the direct plan and
    `top_abandoned_products_salted` (the crossover analysis in
    SCALE.md §Layout and skew levers reads exactly these numbers: where the
    max bucket sits vs a reducer's capacity).

    Scale shape: the same right-join + per-key count-distinct as the
    flagship, then a SECOND tiny aggregate over the key-grain table into
    <= 64 histogram rows — group-size profiling costs one extra map-side
    agg over data already shuffled by the key, never a new corpus pass.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    lineitem = load_table(spark, sf_dir, "lineitem", spread=True)
    g = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "right")
        .where(F.col("o_orderstatus") == "O")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.countDistinct("o_orderkey").alias("n"))
    )
    return (
        g.groupBy(F.floor(F.log2("n")).cast("bigint").alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").cast("bigint").alias("total_orders"),
            F.max("n").cast("bigint").alias("max_group"),
            F.sum(
                F.when(F.col("partkey").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("null_keys"),
        )
        .orderBy(F.col("size_bucket").asc())
    )


@query(
    "orders_dq_audit",
    oracle="""
WITH checks AS (
    SELECT 'customers_without_orders' AS check_name,
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_custkey = c.c_custkey))
                AS BIGINT) AS violations,
           (SELECT COUNT(*) FROM customer) AS checked
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'lineitem_orphan_partkey',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'orders_dup_orderkey',
           CAST(COALESCE((SELECT SUM(n - 1) FROM (
                 SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey
                 HAVING COUNT(*) > 1)), 0) AS BIGINT),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'orders_nonpositive_price',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_totalprice IS NULL OR o_totalprice <= 0)
                AS BIGINT),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'orders_null_orderdate',
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL)
                AS BIGINT),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'orders_orphan_custkey',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'parts_never_ordered',
           CAST((SELECT COUNT(*) FROM part p
                 WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                   WHERE l.l_partkey = p.p_partkey))
                AS BIGINT),
           (SELECT COUNT(*) FROM part)
    UNION ALL
    SELECT 'customers_quiet_199801',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (
                     SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderdate >= TIMESTAMP '1998-01-01'
                       AND o.o_orderdate < TIMESTAMP '1998-02-01'))
                AS BIGINT),
           (SELECT COUNT(*) FROM customer)
    UNION ALL
    SELECT 'parts_unsold_199801',
           CAST((SELECT COUNT(*) FROM part p
                 WHERE NOT EXISTS (
                     SELECT 1 FROM lineitem l JOIN orders o
                       ON o.o_orderkey = l.l_orderkey
                     WHERE l.l_partkey = p.p_partkey
                       AND o.o_orderdate >= TIMESTAMP '1998-01-01'
                       AND o.o_orderdate < TIMESTAMP '1998-02-01'))
                AS BIGINT),
           (SELECT COUNT(*) FROM part)
)
SELECT check_name, violations, checked,
       ROUND(CAST(violations AS DOUBLE) / checked, 6) AS viol_rate
FROM checks
ORDER BY check_name ASC
""",
)
def orders_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation audit over the warehouse: referential-
    integrity orphans (orders→customer, lineitem→orders/part), key
    uniqueness, domain constraints (positive price, non-null date), and
    coverage checks (customers with no orders, parts never sold) — the
    pre-ingest gate a 100 TB pipeline runs before promoting a snapshot.
    Zero-violation rows are still hash-verified (the audit asserting clean
    IS the result); the two month-restricted coverage checks are non-zero
    on the fixtures (FIXTURES.md join-miss pattern), so the anti-join
    machinery is witnessed producing non-empty violation sets too.

    Each check is an anti-join or filter + COUNT — partial aggregates all
    the way down, each emitting ONE row, so the unioned result is
    #checks rows regardless of input scale. Anti-joins shuffle on their
    key (or broadcast when the dim side fits), never more than one pass
    per fact table.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem", spread=True)
    part = load_table(spark, sf_dir, "part")

    def one(name: str, viol_df: DataFrame, checked_df: DataFrame) -> DataFrame:
        v = viol_df.agg(F.count(F.lit(1)).cast("long").alias("violations"))
        c = checked_df.agg(F.count(F.lit(1)).alias("checked"))
        return v.crossJoin(c).select(
            F.lit(name).alias("check_name"), "violations", "checked"
        )

    dup = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("violations"))
        .crossJoin(orders.agg(F.count(F.lit(1)).alias("checked")))
        .select(
            F.lit("orders_dup_orderkey").alias("check_name"),
            F.col("violations").cast("long"),
            "checked",
        )
    )
    checks = (
        one(
            "customers_without_orders",
            customer.join(
                orders, customer.c_custkey == orders.o_custkey, "left_anti"
            ),
            customer,
        )
        .unionByName(
            one(
                "lineitem_orphan_orderkey",
                lineitem.join(
                    orders,
                    lineitem.l_orderkey == orders.o_orderkey,
                    "left_anti",
                ),
                lineitem,
            )
        )
        .unionByName(
            one(
                "lineitem_orphan_partkey",
                lineitem.join(
                    part, lineitem.l_partkey == part.p_partkey, "left_anti"
                ),
                lineitem,
            )
        )
        .unionByName(dup)
        .unionByName(
            one(
                "orders_nonpositive_price",
                orders.where(
                    F.col("o_totalprice").isNull()
                    | (F.col("o_totalprice") <= 0)
                ),
                orders,
            )
        )
        .unionByName(
            one(
                "orders_null_orderdate",
                orders.where(F.col("o_orderdate").isNull()),
                orders,
            )
        )
        .unionByName(
            one(
                "orders_orphan_custkey",
                orders.join(
                    customer,
                    orders.o_custkey == customer.c_custkey,
                    "left_anti",
                ),
                orders,
            )
        )
        .unionByName(
            one(
                "parts_never_ordered",
                part.join(
                    lineitem, part.p_partkey == lineitem.l_partkey, "left_anti"
                ),
                part,
            )
        )
        .unionByName(
            one(
                "customers_quiet_199801",
                customer.join(
                    orders.where(
                        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
                        & (F.col("o_orderdate") < F.lit("1998-02-01").cast("timestamp"))
                    ),
                    customer.c_custkey == orders.o_custkey,
                    "left_anti",
                ),
                customer,
            )
        )
        .unionByName(
            one(
                "parts_unsold_199801",
                part.join(
                    lineitem.join(
                        orders.where(
                            (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
                            & (F.col("o_orderdate") < F.lit("1998-02-01").cast("timestamp"))
                        ),
                        lineitem.l_orderkey == orders.o_orderkey,
                        "left_semi",
                    ),
                    part.p_partkey == lineitem.l_partkey,
                    "left_anti",
                ),
                part,
            )
        )
    )
    return checks.select(
        "check_name",
        "violations",
        "checked",
        # try_divide, not /: a DQ audit over an empty slice (checked = 0)
        # must report its expectation rows with NULL rates, not ANSI-abort
        # — DuckDB's x/0 is NULL (r15 empty-warehouse probe; the same
        # ANSI-kill-vs-NULL class as the r13/r14 fuzz finds)
        F.round(F.try_divide(F.col("violations"), F.col("checked")), 6).alias(
            "viol_rate"
        ),
    ).orderBy(F.col("check_name").asc())


# Engine-portable count-min sketch (round 7): the `dedup_minhash_portable`
# move applied to frequency sketches — md5-derived bucket hashes make
# every counter reproducible in DuckDB, so unlike `approx_topk_products`
# (rows-only: HLL internals are JVM-specific) the sketch itself is
# oracle-verified, including the one-sided overestimate property.
CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_md5(key: str, d: str) -> str:
    """md5 of `key`#`d`, the hash of `key` in sketch row `d`: the same
    text in both engines. Its top 8 hex chars mod CMS_WIDTH are the
    bucket."""
    return f"md5(CAST({key} AS STRING) || '#' || CAST({d} AS STRING))"


@query(
    "topk_products_cms",
    oracle=f"""
WITH ab AS (
    SELECT l.l_partkey AS partkey
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'O' AND l.l_partkey IS NOT NULL
),
hashed AS (
    SELECT partkey, d,
           {hex_int_sql(_cms_md5("partkey", "d"), 1, 8)} % {CMS_WIDTH} AS bucket
    FROM ab, unnest(generate_series(0, {CMS_DEPTH - 1})) AS t(d)
),
counters AS (
    SELECT d, bucket, COUNT(*) AS c FROM hashed GROUP BY d, bucket
),
key_buckets AS (
    SELECT DISTINCT partkey, d, bucket FROM hashed
),
est AS (
    SELECT kb.partkey, MIN(c.c) AS cms_estimate
    FROM key_buckets kb JOIN counters c
      ON c.d = kb.d AND c.bucket = kb.bucket
    GROUP BY kb.partkey
),
exact AS (
    SELECT partkey, COUNT(*) AS exact_rows FROM ab GROUP BY partkey
)
SELECT e.partkey,
       CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
       CAST(x.exact_rows AS BIGINT) AS exact_rows,
       e.cms_estimate >= x.exact_rows AS is_overestimate
FROM est e JOIN exact x ON x.partkey = e.partkey
ORDER BY cms_estimate DESC NULLS LAST, e.partkey ASC NULLS FIRST
LIMIT 20
""",
)
def topk_products_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter products by count-min sketch, engine-portable: a
    {CMS_DEPTH}x{CMS_WIDTH} counter grid keyed by md5-derived buckets,
    estimate = min over rows — reported next to the exact count with the
    sketch's one-sided error (`is_overestimate`, always true by
    construction) verified row-by-row by the oracle. The portable-hash
    companion to the rows-only HLL `approx_topk_products`: every counter
    is reproducible in DuckDB, so the DRIVER hash-checks the sketch
    itself, not just its plausibility.

    Scale shape: the sketch is {CMS_DEPTH}x{CMS_WIDTH} = 1024 cells
    regardless of input volume — built with one map-side-combinable
    groupBy, then BROADCAST back for the estimate lookup (the join on
    (d, bucket) is against a 1 KB relation), so at 100 TB the only
    data-sized term is the one pass over the fact join. The exact counts
    exist here for verification; a production heavy-hitter pass ships
    ONLY the mergeable 1024-cell sketch per partition/shard.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    lineitem = load_table(spark, sf_dir, "lineitem", spread=True)
    # feeds three aggregations (counters, keys, exact) — unshared, the
    # fact join executes three times per run
    ab = share(
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .where(
            (F.col("o_orderstatus") == "O") & F.col("l_partkey").isNotNull()
        )
        .select(F.col("l_partkey").alias("partkey")),
        "cms.ab",
    )

    def bucket(key_col: str, d_col: str) -> Column:
        return hex_int(F.expr(_cms_md5(key_col, d_col)), 1, 8) % CMS_WIDTH

    depths = F.explode(
        F.array(*[F.lit(d) for d in range(CMS_DEPTH)])
    ).alias("d")
    hashed = ab.select("partkey", depths).select(
        "partkey", "d", bucket("partkey", "d").alias("bucket")
    )
    counters = hashed.groupBy("d", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    keys = ab.select("partkey").distinct()
    key_buckets = keys.select("partkey", depths).select(
        "partkey", "d", bucket("partkey", "d").alias("bucket")
    )
    est = (
        key_buckets.join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("partkey")
        .agg(F.min("c").alias("cms_estimate"))
    )
    exact = ab.groupBy("partkey").agg(F.count(F.lit(1)).alias("exact_rows"))
    return (
        est.join(exact, "partkey")
        .select(
            "partkey",
            "cms_estimate",
            "exact_rows",
            (F.col("cms_estimate") >= F.col("exact_rows")).alias(
                "is_overestimate"
            ),
        )
        .orderBy(
            F.col("cms_estimate").desc_nulls_last(),
            F.col("partkey").asc_nulls_first(),
        )
        .limit(20)
    )


# K-minimum-values distinct-count sketch (round 7): completes the
# portable-sketch trilogy (MinHash near-dup, count-min frequency, KMV
# cardinality). Estimate = (K-1) * 2^32 intdiv m_K where m_K is the K-th
# smallest 32-bit md5 hash of the distinct keys — pure integer
# arithmetic, so both engines produce the IDENTICAL estimate and the
# driver hash-checks the sketch itself (HLL `approx_topk_products` stays
# rows-only: its register layout is JVM-internal).
KMV_K = 64


def _bottomk(df: DataFrame, by: list, key: str, rn: str = "rn") -> DataFrame:
    """The KMV_K smallest rows of ``df`` per ``by`` group in the (h, key)
    total order, ranked in column ``rn``: one bottom-K sketch step."""
    w = Window.partitionBy(*by).orderBy(F.col("h").asc(), F.col(key).asc())
    return df.withColumn(rn, F.row_number().over(w)).where(F.col(rn) <= KMV_K)


def _kmv_stats(sk: DataFrame, by: list, n: str, m: str) -> DataFrame:
    """Per ``by`` group of the sketch ``sk``: its size ``n`` and its
    largest kept hash ``m`` (m_K once the sketch is full)."""
    return sk.groupBy(*by).agg(F.count(F.lit(1)).alias(n), F.max("h").alias(m))


def _kmv_est(n: str, m: str, exact: str) -> Column:
    """KMV estimate: ``exact`` below K kept hashes, else (K-1)·2^32 div m_K.
    m_K = 0 is unreachable on the estimator branch (ADVICE r13): the
    branch only runs with n = K rows, and max(h) = 0 then needs all K = 64
    distinct keys' 32-bit md5 prefixes to be zero simultaneously
    (p = 2^-2048). No nullif guard, so the oracle's `//` and Spark's `div`
    stay textually aligned."""
    return F.when(F.col(n) < KMV_K, F.col(exact)).otherwise(
        F.expr(f"({KMV_K - 1} * 4294967296) div {m}")
    )


def _bottomk_sql(cols: str, src: str, key: str, by: str = "") -> str:
    """The DuckDB twin of ``_bottomk``: ``cols`` of the KMV_K smallest rows
    of ``src`` per ``by`` group (one group when ``by`` is empty)."""
    part = f"PARTITION BY {by} " if by else ""
    return f"""SELECT {cols} FROM (
        SELECT *, ROW_NUMBER() OVER ({part}ORDER BY h ASC, {key} ASC) AS rn
        FROM {src}) WHERE rn <= {KMV_K}"""


def _kmv_stats_sql(src: str, by: str, key: str, n: str, m: str) -> str:
    """The DuckDB twin of ``_kmv_stats`` over ``_bottomk_sql``."""
    return f"""SELECT {by}, COUNT(*) AS {n}, MAX(h) AS {m}
    FROM ({_bottomk_sql("*", src, key, by)}) GROUP BY {by}"""


def _kmv_est_sql(n: str, m: str, exact: str) -> str:
    """The DuckDB twin of ``_kmv_est``."""
    return (
        f"CASE WHEN {n} < {KMV_K} THEN {exact} "
        f"ELSE ({KMV_K - 1} * 4294967296) // {m} END"
    )


@query(
    "distinct_orders_kmv_rollup",
    oracle=f"""
WITH keys AS (
    SELECT DISTINCT o_orderstatus, year(o_orderdate) AS yr, o_orderkey
    FROM orders
),
hashed AS (
    SELECT o_orderstatus, yr, o_orderkey,
           {hex_int_sql("md5(CAST(o_orderkey AS VARCHAR))", 1, 8)} AS h
    FROM keys
),
partial AS (
    {_bottomk_sql("o_orderstatus, h, o_orderkey", "hashed", "o_orderkey",
                  "o_orderstatus, yr")}
),
merged AS (
    {_kmv_stats_sql("partial", "o_orderstatus", "o_orderkey", "n_kept_m", "m_k_m")}
),
direct AS (
    {_kmv_stats_sql("hashed", "o_orderstatus", "o_orderkey", "n_kept_d", "m_k_d")}
),
shards AS (
    SELECT o_orderstatus, COUNT(DISTINCT yr) AS n_shards
    FROM keys GROUP BY o_orderstatus
),
exact AS (
    SELECT o_orderstatus, COUNT(DISTINCT o_orderkey) AS n_exact
    FROM orders GROUP BY o_orderstatus
)
SELECT d.o_orderstatus, s.n_shards, x.n_exact,
       CAST({_kmv_est_sql("d.n_kept_d", "d.m_k_d", "x.n_exact")} AS BIGINT)
           AS kmv_direct,
       CAST({_kmv_est_sql("m.n_kept_m", "m.m_k_m", "x.n_exact")} AS BIGINT)
           AS kmv_merged,
       (d.m_k_d = m.m_k_m AND d.n_kept_d = m.n_kept_m) AS merge_exact
FROM direct d
JOIN merged m ON m.o_orderstatus = d.o_orderstatus
JOIN shards s ON s.o_orderstatus = d.o_orderstatus
JOIN exact x ON x.o_orderstatus = d.o_orderstatus
ORDER BY d.o_orderstatus ASC
""",
)
def distinct_orders_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level KMV rollup certifying SKETCH MERGEABILITY — the property
    the whole 100 TB sketch story rests on: build a bottom-K sketch per
    (status, order-year) shard, merge the shard sketches up to status
    grain (union the kept hashes, re-take the K smallest), and emit the
    merged estimate NEXT TO the direct single-pass estimate plus a
    ``merge_exact`` boolean. Bottom-K merge is exact by construction
    (any of the K globally-smallest hashes is inside its own shard's
    bottom-K), so ``merge_exact`` is provably always true and the driver
    hash-checks that proof — if a merge ever lost a hash, the row would
    flip visibly.

    Scale shape: this is the cube-of-sketches pattern — at 100 TB the
    per-shard sketches are what a partitioned pipeline persists (K rows
    per shard, here K=64), and ANY rollup grain (day→month→year→global)
    is a K-row-per-group re-merge that never rescans the fact table. The
    plan is two windowed bottom-K passes (shard grain feeds merge grain,
    the second over K·shards rows only) next to the direct pass the
    certification needs; production ships the partial sketches alone.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    keys = orders.select(
        "o_orderstatus", F.year("o_orderdate").alias("yr"), "o_orderkey"
    ).distinct()
    hashed = keys.select(
        "o_orderstatus",
        "yr",
        "o_orderkey",
        hex_int(F.md5(F.col("o_orderkey").cast("string")), 1, 8).alias("h"),
    )
    status = ["o_orderstatus"]
    partial = _bottomk(hashed, [*status, "yr"], "o_orderkey").select(
        "o_orderstatus", "h", "o_orderkey"
    )
    merged = _kmv_stats(
        _bottomk(partial, status, "o_orderkey", "rn2"), status, "n_kept_m", "m_k_m"
    )
    direct = _kmv_stats(
        _bottomk(hashed, status, "o_orderkey"), status, "n_kept_d", "m_k_d"
    )
    shards = keys.groupBy("o_orderstatus").agg(
        F.countDistinct("yr").alias("n_shards")
    )
    exact = orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_orderkey").alias("n_exact")
    )
    return (
        direct.join(merged, "o_orderstatus")
        .join(shards, "o_orderstatus")
        .join(exact, "o_orderstatus")
        .select(
            "o_orderstatus",
            "n_shards",
            "n_exact",
            _kmv_est("n_kept_d", "m_k_d", "n_exact").cast("bigint").alias("kmv_direct"),
            _kmv_est("n_kept_m", "m_k_m", "n_exact").cast("bigint").alias("kmv_merged"),
            (
                (F.col("m_k_d") == F.col("m_k_m"))
                & (F.col("n_kept_d") == F.col("n_kept_m"))
            ).alias("merge_exact"),
        )
        .orderBy(F.col("o_orderstatus").asc())
    )


# --- KMV set operations (sketch algebra) ------------------------------------
# The rollup above certifies MERGE; this certifies the SET ALGEBRA built on
# merge: |A∪B| from the merged sketch alone, |A∩B| two ways (inclusion-
# exclusion over the three estimates, and the classic ratio estimator —
# the fraction of the union sketch's members present in both sides, scaled
# by the union estimate). Everything is md5-derived integer arithmetic, so
# the DuckDB oracle reproduces every ESTIMATE bit-for-bit and the accuracy
# flags are integer inequalities (|est−exact|·8 ≤ 3·exact, i.e. relative
# error ≤ 3/√K for K=64) — no floats anywhere.
# Fixture order years span 1995-2001 (FIXTURES.md; anchor 2001-08-01).
KMV_SETOPS_PAIRS: tuple[tuple[int, int, str], ...] = (
    (1996, 1997, "y1996_1997"),
    (1997, 1998, "y1997_1998"),
    (1998, 1999, "y1998_1999"),
)


def _kmv_setops_pair_sql(i: int, ya: int, yb: int, name: str) -> str:
    both = (
        "(SELECT DISTINCT o_custkey, h FROM "
        f"(SELECT * FROM ska{i} UNION ALL SELECT * FROM skb{i}))"
    )
    return f"""keys{i} AS MATERIALIZED (
    SELECT DISTINCT year(o_orderdate) AS yr, o_custkey,
           {hex_int_sql("md5(CAST(o_custkey AS VARCHAR))", 1, 8)} AS h
    FROM orders WHERE year(o_orderdate) IN ({ya}, {yb})
),
a{i} AS MATERIALIZED (SELECT o_custkey, h FROM keys{i} WHERE yr = {ya}),
b{i} AS MATERIALIZED (SELECT o_custkey, h FROM keys{i} WHERE yr = {yb}),
ska{i} AS MATERIALIZED ({_bottomk_sql("o_custkey, h", f"a{i}", "o_custkey")}),
skb{i} AS MATERIALIZED ({_bottomk_sql("o_custkey, h", f"b{i}", "o_custkey")}),
sku{i} AS MATERIALIZED ({_bottomk_sql("o_custkey, h", both, "o_custkey")}),
st{i} AS (
    SELECT
        (SELECT COUNT(*) FROM a{i}) AS exact_a,
        (SELECT COUNT(*) FROM b{i}) AS exact_b,
        (SELECT COUNT(DISTINCT o_custkey) FROM keys{i}) AS exact_union,
        (SELECT COUNT(*) FROM ska{i}) AS ka,
        (SELECT MAX(h) FROM ska{i}) AS ma,
        (SELECT COUNT(*) FROM skb{i}) AS kb,
        (SELECT MAX(h) FROM skb{i}) AS mb,
        (SELECT COUNT(*) FROM sku{i}) AS ku,
        (SELECT MAX(h) FROM sku{i}) AS mu,
        (SELECT COUNT(*) FROM sku{i} s
          WHERE EXISTS (SELECT 1 FROM a{i} x WHERE x.o_custkey = s.o_custkey)
            AND EXISTS (SELECT 1 FROM b{i} y WHERE y.o_custkey = s.o_custkey))
            AS n_both
),
est{i} AS (
    SELECT '{name}' AS pair, exact_a, exact_b, exact_union,
           exact_a + exact_b - exact_union AS exact_intersection,
           {_kmv_est_sql("ka", "ma", "exact_a")} AS kmv_a,
           {_kmv_est_sql("kb", "mb", "exact_b")} AS kmv_b,
           {_kmv_est_sql("ku", "mu", "exact_union")} AS kmv_union,
           n_both, ku
    FROM st{i}
),
row{i} AS (
    SELECT pair,
           CAST(exact_a AS BIGINT) AS exact_a,
           CAST(exact_b AS BIGINT) AS exact_b,
           CAST(exact_union AS BIGINT) AS exact_union,
           CAST(exact_intersection AS BIGINT) AS exact_intersection,
           CAST(kmv_a AS BIGINT) AS kmv_a,
           CAST(kmv_b AS BIGINT) AS kmv_b,
           CAST(kmv_union AS BIGINT) AS kmv_union,
           CAST(kmv_a + kmv_b - kmv_union AS BIGINT) AS kmv_intersect_ie,
           CAST(CASE WHEN ku = 0 THEN 0
                     ELSE (n_both * kmv_union) // ku END AS BIGINT)
               AS kmv_intersect_ratio,
           CAST(n_both AS BIGINT) AS n_both,
           abs(kmv_a - exact_a) * 8 <= 3 * exact_a AS ok_a,
           abs(kmv_b - exact_b) * 8 <= 3 * exact_b AS ok_b,
           abs(kmv_union - exact_union) * 8 <= 3 * exact_union AS ok_union
    FROM est{i}
)"""


def _kmv_setops_oracle() -> str:
    ctes = [
        _kmv_setops_pair_sql(i, ya, yb, name)
        for i, (ya, yb, name) in enumerate(KMV_SETOPS_PAIRS)
    ]
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM row{i}" for i in range(len(KMV_SETOPS_PAIRS))
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + f"SELECT * FROM ({union}) ORDER BY pair ASC\n"
    )


@query("customers_kmv_setops", oracle=_kmv_setops_oracle())
def customers_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA over per-year distinct-customer sets:
    |A∪B| from the merged bottom-K sketch alone and |A∩B| two ways
    (inclusion-exclusion over the three integer estimates; the ratio
    estimator n_both/K · est_union, where n_both counts union-sketch
    members present in both sides), next to the exact counts and
    integer-inequality accuracy flags (rel err ≤ 3/√K).

    This is the property that makes sketches a 100 TB reporting surface:
    per-shard/per-period sketches (K rows each) answer distinct-count
    algebra across arbitrary period combinations WITHOUT rescanning the
    fact table — the scan cost is paid once per shard, every pairwise
    union/intersection after that touches 2·K = 128 rows. Since r14 the
    sketch build itself is the production per-shard partial + merge (two
    ``_bottomk`` steps), so no corpus-sized frame ever crosses a
    single-partition window. The membership probes for the ratio
    estimator join the 64-row union sketch against the side key sets
    (broadcast semi-joins of a fixed-size frame).
    Everything is md5-derived integer arithmetic reproduced bit-for-bit
    by the oracle, the `distinct_orders_kmv_rollup` portability trick.

    Round-19 shape (VERDICT r18 #6 — stage-count collapse): the r18 form
    still built every pair's sketches/aggregates as its own frame graph
    (~40 tiny sequential stages: 3 pairs x per-side sketch windows + 8
    scalar aggregates + 7 crossJoins per pair). Now ONE (pair, side)-keyed
    long frame feeds everything: one shard-partial + one merge window pass
    build ALL six side sketches (bottom-K by the (h, o_custkey) total order
    is associative and per-(pair, side)-partitioned — value-identical to
    the per-side builds), one more pair-partitioned window merges the union
    sketches, and the exact counts / membership flags are two groupBys over
    the same frame. Per-pair values are unchanged (3-scale parity
    re-proven); the assembly is a 3-row multi-frame join instead of 21
    crossJoins. Spread dropped r19: the per-row work (one md5 of a short
    string) is trivial, and the cold A/B measured the extra exchange as a
    net loss (sides build 1.25 s with spread vs 0.75 s without, warmed)."""
    orders = load_table(spark, sf_dir, "orders")
    # Round-18 (guide §1.2 step 1): one (yr, custkey, h) frame over the
    # UNION of years feeds every pair — per-year distinct-of-a-subset
    # equals subset-of-distinct, so values are unchanged. Round-19: the
    # frame is exploded to (pair, side) grain via a broadcast-joined 6-row
    # membership map and shared ONCE, so the sketch windows, exact counts
    # and membership flags all read one materialized input.
    years = sorted({y for ya, yb, _n in KMV_SETOPS_PAIRS for y in (ya, yb)})
    membership = spark.createDataFrame(
        [
            (yr, name, side)
            for ya, yb, name in KMV_SETOPS_PAIRS
            for yr, side in ((ya, "a"), (yb, "b"))
        ],
        "yr int, pair string, side string",
    )
    sides = share(
        orders.select(F.year("o_orderdate").alias("yr"), "o_custkey")
        .where(F.col("yr").isin(years))
        .distinct()
        .withColumn("h", hex_int(F.md5(F.col("o_custkey").cast("string")), 1, 8))
        .join(F.broadcast(membership), "yr")
        .select("pair", "side", "o_custkey", "h"),
        "kmv_setops.sides",
    )
    # ALL side sketches in one shard-partial + one merge window pass
    # (r14's production build, now (pair, side)-partitioned: the only
    # global-ish window runs per (pair, side) on <= shards*K rows).
    shard_partials = _bottomk(
        sides.withColumn("shard", F.spark_partition_id()),
        ["pair", "side", "shard"],
        "o_custkey",
    )
    sk_sides = _bottomk(shard_partials, ["pair", "side"], "o_custkey").select(
        "pair", "side", "o_custkey", "h"
    )
    # union sketch per pair: bottom-K of the distinct union of both side
    # sketches (<= 2K rows per pair by construction)
    sku = _bottomk(
        sk_sides.select("pair", "o_custkey", "h").distinct(), ["pair"], "o_custkey"
    ).select("pair", "o_custkey", "h")
    # exact side counts + per-side sketch stats, one groupBy each
    side_is = {"a": F.col("side") == "a", "b": F.col("side") == "b"}
    ex_side = sides.groupBy("pair").agg(
        F.sum(F.when(side_is["a"], 1)).cast("bigint").alias("exact_a"),
        F.sum(F.when(side_is["b"], 1)).cast("bigint").alias("exact_b"),
    )
    sk_stats = sk_sides.groupBy("pair").agg(
        F.sum(F.when(side_is["a"], 1)).alias("ka"),
        F.max(F.when(side_is["a"], F.col("h"))).alias("ma"),
        F.sum(F.when(side_is["b"], 1)).alias("kb"),
        F.max(F.when(side_is["b"], F.col("h"))).alias("mb"),
    )
    # membership flags per (pair, custkey): exact union count + the ratio
    # estimator's n_both probe come from one aggregate over the same frame
    flags = sides.groupBy("pair", "o_custkey").agg(
        F.max(side_is["a"]).alias("in_a"), F.max(side_is["b"]).alias("in_b")
    )
    ex_union = flags.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_union")
    )
    su = _kmv_stats(sku, ["pair"], "ku", "mu")
    nboth = (
        sku.join(flags, ["pair", "o_custkey"])
        .where(F.col("in_a") & F.col("in_b"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_both_nn"))
    )
    # LEFT-join every stats frame onto the 3-row pair spine and COALESCE
    # counts to 0: the retired per-pair scalar aggregates emitted one row
    # per pair even over an EMPTY warehouse (a global agg over an empty
    # relation is one zero row), and the oracle's scalar subqueries do the
    # same — a groupBy form without the spine would emit zero rows there
    # (tests/test_empty_warehouse.py contract). Every max(h) column is only
    # read when its coalesced count reaches K, hence never NULL there.
    spine = membership.select("pair").distinct()
    zero = F.lit(0).cast("bigint")
    assembled = (
        spine.join(F.broadcast(ex_side), "pair", "left")
        .join(F.broadcast(ex_union), "pair", "left")
        .join(F.broadcast(sk_stats), "pair", "left")
        .join(F.broadcast(su), "pair", "left")
        .join(F.broadcast(nboth), "pair", "left")
        .select(
            "pair",
            F.coalesce("exact_a", zero).alias("exact_a"),
            F.coalesce("exact_b", zero).alias("exact_b"),
            F.coalesce("exact_union", zero).alias("exact_union"),
            F.coalesce("ka", zero).alias("ka"),
            "ma",
            F.coalesce("kb", zero).alias("kb"),
            "mb",
            F.coalesce("ku", zero).alias("ku"),
            "mu",
            F.coalesce("n_both_nn", zero).alias("n_both_nn"),
        )
        .select(
            "pair",
            "exact_a",
            "exact_b",
            "exact_union",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_union"))
            .cast("bigint")
            .alias("exact_intersection"),
            _kmv_est("ka", "ma", "exact_a").cast("bigint").alias("kmv_a"),
            _kmv_est("kb", "mb", "exact_b").cast("bigint").alias("kmv_b"),
            _kmv_est("ku", "mu", "exact_union").cast("bigint").alias("kmv_union"),
            F.col("n_both_nn").cast("bigint").alias("n_both"),
            F.col("ku").cast("bigint").alias("ku"),
        )
        .select(
            "pair",
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_intersection",
            "kmv_a",
            "kmv_b",
            "kmv_union",
            (F.col("kmv_a") + F.col("kmv_b") - F.col("kmv_union"))
            .cast("bigint")
            .alias("kmv_intersect_ie"),
            F.expr(
                "CASE WHEN ku = 0 THEN 0"
                " ELSE (n_both * kmv_union) div ku END"
            )
            .cast("bigint")
            .alias("kmv_intersect_ratio"),
            "n_both",
            (F.abs(F.col("kmv_a") - F.col("exact_a")) * 8
             <= F.col("exact_a") * 3).alias("ok_a"),
            (F.abs(F.col("kmv_b") - F.col("exact_b")) * 8
             <= F.col("exact_b") * 3).alias("ok_b"),
            (F.abs(F.col("kmv_union") - F.col("exact_union")) * 8
             <= F.col("exact_union") * 3).alias("ok_union"),
        )
    )
    return assembled.orderBy(F.col("pair").asc())
