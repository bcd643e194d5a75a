"""Integer cents: money rounded per row to a BIGINT count of cents, each
as a Spark Column builder next to its DuckDB SQL twin.

A SUM of doubles depends on summation order, and a rounded double sum
can land on a ``.xx5`` boundary where the engines round apart: Spark's
ROUND rounds the value's shortest decimal form, DuckDB the exact binary
double. Rounding each row to cents first makes every sum exact integer
arithmetic, the same in both engines and in any order; ``x * 100`` then
rounds at scale 0, where both engines agree (pinned by tests/test_cents.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: str) -> Column:
    """BIGINT cents of the money column ``col``, per row."""
    return F.round(F.col(col) * 100).cast("long")


def cents_sql(col: str) -> str:
    """The DuckDB twin of ``cents``; ``col`` may be qualified (``e.value``)."""
    return f"CAST(ROUND({col} * 100) AS BIGINT)"


def sum_value(col: str) -> Column:
    """The exact sum of ``col`` in cents, as a DOUBLE of whole cents."""
    return F.sum(cents(col)) / F.lit(100.0)


def sum_value_sql(col: str) -> str:
    """The DuckDB twin of ``sum_value`` (SUM(BIGINT) widens to HUGEINT,
    cast back)."""
    return f"CAST(SUM({cents_sql(col)}) AS BIGINT) / 100.0"
