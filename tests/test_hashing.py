"""The portable-hash toolkit (functions/hashing.py): one md5-slice integer
and one text fingerprint per engine, pinned across Spark, DuckDB and
Python, and a structural guard that the package uses nothing else."""

from __future__ import annotations

import hashlib
import pathlib
import random
import re

import duckdb
import pytest
from pyspark.sql import functions as F

import databricks_spark_sql_challenge1_spark as pkg
from databricks_spark_sql_challenge1_spark.functions.hashing import (
    HEX_INT_MAX_CHARS,
    TEXT_FINGERPRINT_SQL,
    hex_int,
    hex_int_sql,
    text_fingerprint,
)

_PKG_DIR = pathlib.Path(pkg.__file__).parent


def _strings(n: int = 200) -> list[str]:
    rng = random.Random(11)
    alphabet = "abcXYZ 019\t\n-_é€"
    return [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40)))
        for _ in range(n)
    ]


def _slices():
    return [
        (start, n)
        for n in range(1, HEX_INT_MAX_CHARS + 1)
        for start in range(1, 33 - n + 1)
    ]


def test_hex_int_agrees_across_engines(spark):
    """For every (start, n) slice of up to 15 hex chars, Spark ``hex_int``,
    DuckDB ``hex_int_sql`` and Python's base-16 parse of the same md5 hex
    agree on 200 fixed random strings; so does the text fingerprint."""
    strings = _strings()
    slices = _slices()
    expected = [
        [int(hashlib.md5(s.encode()).hexdigest()[a - 1 : a - 1 + n], 16)
         for a, n in slices]
        for s in strings
    ]
    df = spark.createDataFrame(list(enumerate(strings)), "i int, text string")
    rows = (
        df.select("i", "text", F.md5("text").alias("hx"))
        .select(
            "i",
            text_fingerprint().alias("fp"),
            *[hex_int("hx", a, n).alias(f"c{j}") for j, (a, n) in enumerate(slices)],
        )
        .orderBy("i")
        .collect()
    )
    spark_vals = [[r[f"c{j}"] for j in range(len(slices))] for r in rows]
    assert spark_vals == expected

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (i INTEGER, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(strings)))
        cols = ", ".join(
            f"{hex_int_sql('md5(text)', a, n)} AS c{j}"
            for j, (a, n) in enumerate(slices)
        )
        duck = con.execute(
            f"SELECT {TEXT_FINGERPRINT_SQL} AS fp, {cols} FROM t ORDER BY i"
        ).fetchall()
    finally:
        con.close()
    assert [list(r[1:]) for r in duck] == expected
    assert [r[0] for r in duck] == [r["fp"] for r in rows]


def test_hex_int_rejects_more_than_60_bits():
    with pytest.raises(ValueError):
        hex_int("hx", 1, HEX_INT_MAX_CHARS + 1)
    with pytest.raises(ValueError):
        hex_int_sql("hx", 1, HEX_INT_MAX_CHARS + 1)


def test_one_portable_hash():
    """Structural guard (no Spark): the md5-slice integer and the text
    fingerprint are written once per engine in the package, and each
    sketch built on them exists once per engine — the Bloom bitmap in
    traindata.py, the KMV estimator in analytics_ext.py."""
    src = "\n".join(p.read_text() for p in sorted(_PKG_DIR.rglob("*.py")))
    assert src.count("F.conv(") == 1
    assert src.count("'0x' ||") == 1
    assert src.count('F.md5(F.regexp_replace(F.lower(F.trim("text"))') == 1
    assert src.count("md5(regexp_replace(lower(trim(text))") == 1
    traindata = (_PKG_DIR / "operators" / "traindata.py").read_text()
    assert traindata.count("bit_or(") == 2
    analytics = (_PKG_DIR / "operators" / "analytics_ext.py").read_text()
    assert analytics.count("4294967296") == 2
    assert len(re.findall(r"4294967296\) div", analytics)) == 1
    assert len(re.findall(r"4294967296\) //", analytics)) == 1
