"""Integer cents (functions/cents.py): the per-row cents and the exact cents
sum, pinned across Spark and DuckDB, and a structural guard that the
package states each shared oracle fact (the cents rounding, the
sessionization, the calendar mart, the session gap) once."""

from __future__ import annotations

import pathlib
import random
import re

import duckdb

import databricks_spark_sql_challenge1_spark as pkg
from databricks_spark_sql_challenge1_spark.functions.cents import (
    cents,
    cents_sql,
    sum_value,
    sum_value_sql,
)

_PKG_DIR = pathlib.Path(pkg.__file__).parent

# half-cent boundaries whose shortest decimal form and exact binary double
# round differently at scale 2, a value past 2^40 cents, and NULL
EDGES = [-1.005, 1.005, 2.675, 0.125, -0.005, 1e12 + 0.005, None]


def _values() -> list:
    rng = random.Random(13)
    return EDGES + [
        round(rng.uniform(-1000.0, 1000.0), rng.choice((2, 3, 4)))
        for _ in range(200)
    ]


def test_cents_agree_across_engines(spark):
    """Spark ``cents``/``sum_value`` and DuckDB ``cents_sql``/
    ``sum_value_sql`` give the same per-row cents, the same per-group sums
    (groups of 1 to 7 rows, one all-NULL) and the same grand total."""
    rows = [(i, i % 7 if i >= len(EDGES) else i, v) for i, v in enumerate(_values())]
    df = spark.createDataFrame(rows, "i int, g int, value double")
    spark_cents = [
        r["c"] for r in df.select("i", cents("value").alias("c")).orderBy("i").collect()
    ]
    spark_sums = [
        tuple(r)
        for r in df.groupBy("g").agg(sum_value("value").alias("s")).orderBy("g").collect()
    ]
    spark_total = df.agg(sum_value("value")).collect()[0][0]

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (i INTEGER, g INTEGER, value DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
        duck_cents = [
            r[0] for r in con.execute(f"SELECT {cents_sql('value')} FROM t ORDER BY i").fetchall()
        ]
        duck_sums = con.execute(
            f"SELECT g, {sum_value_sql('value')} FROM t GROUP BY g ORDER BY g"
        ).fetchall()
        duck_total = con.execute(f"SELECT {sum_value_sql('value')} FROM t").fetchall()[0][0]
    finally:
        con.close()

    assert spark_cents == duck_cents
    assert spark_cents[len(EDGES) - 1] is None
    assert spark_sums == duck_sums
    assert spark_total == duck_total


def test_one_oracle_text():
    """Structural guard (no Spark): the cents rounding is spelled once per
    engine, the gaps-and-islands sessionization and the calendar mart once
    each, and every session window takes ``windows.SESSION_GAP``, so a new
    money or session query reuses them instead of a copy."""
    src = "\n".join(p.read_text() for p in sorted(_PKG_DIR.rglob("*.py")))
    assert len(re.findall(r"F\.round\(F\.col\([^()]*\) \* 100\b", src)) == 1
    assert len(re.findall(r"ROUND\(\S+ \* 100\) AS BIGINT", src)) == 1
    assert src.count("AS new_session") == 1
    assert src.count("LEFT JOIN ca ON cal.calendar_date") == 1
    windows = re.findall(r"F\.session_window\([^)]*\)", src)
    assert windows and all("SESSION_GAP" in w for w in windows)
