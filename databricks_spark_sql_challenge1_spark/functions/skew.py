"""Skew-handling aggregation helpers (SCALE.md §Layout and skew levers):
the explicit salting pattern for when a single group key exceeds what
AQE's skew splitter can rebalance (e.g. the reference's NULL-heavy
abandoned-cart keys at 100 TB).

``salted_count_distinct`` exploits that hash-partitioning the *distinct
values* into salt buckets makes per-bucket distinct sets disjoint, so the
final count is a plain SUM of partial distinct counts — two balanced
shuffles instead of one skewed one. Results are exactly equal to the direct
``countDistinct`` (property-tested in tests/test_skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_BUCKETS = 16


def salted_count_distinct(
    df: DataFrame, group_cols: list[str], count_col: str
) -> DataFrame:
    """COUNT(DISTINCT count_col) per group_cols, salted into SALT_BUCKETS.

    Stage 1 groups on (group_cols, hash(count_col) % SALT_BUCKETS) so every
    bucket of a hot key lands on a different reducer; stage 2 sums the
    disjoint partial counts.
    """
    salt = (F.hash(F.col(count_col)) % SALT_BUCKETS + SALT_BUCKETS) % SALT_BUCKETS
    partial = df.groupBy(*group_cols, salt.alias("_salt")).agg(
        F.countDistinct(count_col).alias("_partial")
    )
    return partial.groupBy(*group_cols).agg(
        F.sum("_partial").alias(f"distinct_{count_col}")
    )


def salted_sum(df: DataFrame, group_cols: list[str], sum_col: str) -> DataFrame:
    """SUM per group_cols through an explicit two-stage salted aggregation
    (what partial aggregation already does implicitly — exposed for the
    cases where the input is pre-shuffled on a skewed key)."""
    salt = F.floor(F.rand(seed=42) * SALT_BUCKETS)
    partial = df.groupBy(*group_cols, salt.alias("_salt")).agg(
        F.sum(sum_col).alias("_partial")
    )
    return partial.groupBy(*group_cols).agg(
        F.sum("_partial").alias(f"sum_{sum_col}")
    )
