"""Engine-portable hashing: md5-derived integers and the text fingerprint,
each as a Spark Column builder next to its DuckDB SQL twin.

Every oracle-checked sketch (count-min, KMV, Bloom, MinHash, SimHash,
hash buckets and samples) hashes through md5, whose hex output is
identical in both engines; JVM-internal hashes (``hash``, ``xxhash64``)
have no DuckDB twin. An integer is a hex slice of an md5 digest, parsed
base 16 on both sides: Spark ``conv`` and DuckDB's ``'0x'`` cast.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The widest slice: 15 hex chars = 60 bits, so the value fits a signed
# BIGINT in both engines (16 chars would overflow into the sign bit:
# Spark's conv then wraps while DuckDB's UBIGINT -> BIGINT cast raises).
HEX_INT_MAX_CHARS = 15


def _check_width(n: int) -> None:
    if not 1 <= n <= HEX_INT_MAX_CHARS:
        raise ValueError(
            f"hex slice of {n} chars: a portable hex integer is 1 to "
            f"{HEX_INT_MAX_CHARS} chars (<= 60 bits, a signed BIGINT)"
        )


def hex_int(hx, start: int, n: int) -> Column:
    """BIGINT of the ``n`` hex chars of ``hx`` (a column or column name
    holding an md5 digest) from 1-based ``start``."""
    _check_width(n)
    return F.conv(F.substring(hx, start, n), 16, 10).cast("bigint")


def hex_int_sql(hx: str, start, n: int) -> str:
    """The DuckDB twin of ``hex_int``; ``start`` may be a SQL expression."""
    _check_width(n)
    return f"CAST(CAST('0x' || substr({hx}, {start}, {n}) AS UBIGINT) AS BIGINT)"


def text_fingerprint() -> Column:
    """md5 of ``text`` trimmed, lowercased and whitespace-collapsed: the
    exact-dedup key that ignores case and spacing."""
    return F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))


TEXT_FINGERPRINT_SQL = r"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"
