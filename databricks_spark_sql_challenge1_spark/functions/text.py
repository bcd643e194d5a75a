"""Engine-portable text over ``documents.text``: whitespace tokens, word
n-grams and quality signals, each a Spark builder beside its DuckDB twin.

The regexes use ASCII classes, where Java's regex and RE2 agree on every
character but one: Java's ``\\s`` matches the vertical tab U+000B and
RE2's does not, so text holding it tokenizes and counts punctuation
differently. That text is out of the oracle contract (pinned in
tests/test_text_toolkit.py); no fixture or fuzz corpus emits it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.functions.hashing import (
    TEXT_FINGERPRINT_SQL,
    text_fingerprint,
)


def _ws_input(lower: bool) -> str:
    return "lower(trim(text))" if lower else "trim(text)"


def ws_tokens_expr(lower: bool = False) -> str:
    """``ws_tokens`` as Spark SQL text, for ``F.expr`` lambdas (a Python
    lambda's variable is named from a session counter, so its plan text
    is not stable)."""
    return f"split({_ws_input(lower)}, '\\\\s+')"


def ws_tokens(lower: bool = False) -> Column:
    """``text`` trimmed (and lowercased when ``lower``), split on runs of
    whitespace; an empty or blank document is one empty token."""
    return F.expr(ws_tokens_expr(lower))


def ws_tokens_sql(lower: bool = False) -> str:
    return f"string_split_regex({_ws_input(lower)}, '\\s+')"


def ngrams(
    docs: DataFrame,
    n: int,
    alias: str,
    keep: tuple[str, ...] = ("doc_id",),
    lower: bool = False,
    md5: bool = False,
) -> DataFrame:
    """``keep`` plus one ``alias`` row per word n-gram of each document
    (``n`` consecutive ``ws_tokens`` joined by a space, or its md5 hex),
    repeats kept.

    Documents with fewer than ``n`` tokens are filtered, not clamped:
    Spark's ``sequence(1, 0)`` counts down through 0 into
    ``slice(start=0)``, which raises, while DuckDB's
    ``generate_series(1, 0)`` is empty."""
    gram = f"array_join(slice(tokens, i, {n}), ' ')"
    gram = f"md5({gram})" if md5 else gram
    grams = F.expr(f"transform(sequence(1, size(tokens) - {n - 1}), i -> {gram})")
    return (
        docs.select(*keep, ws_tokens(lower).alias("tokens"))
        .where(F.size("tokens") >= n)
        .select(*keep, F.explode(grams).alias(alias))
    )


def ngrams_sql(
    n: int,
    alias: str,
    keep: tuple[str, ...] = ("doc_id",),
    lower: bool = False,
    md5: bool = False,
) -> str:
    """The twin of ``ngrams``: a SELECT over ``documents``."""
    gram = f"array_to_string(tokens[i:i + {n - 1}], ' ')"
    gram = f"md5({gram})" if md5 else gram
    cols = ", ".join(keep)
    return f"""SELECT {cols}, unnest(list_transform(
               generate_series(1, len(tokens) - {n - 1}), i -> {gram})) AS {alias}
    FROM (SELECT {cols}, {ws_tokens_sql(lower)} AS tokens FROM documents)
    WHERE len(tokens) >= {n}"""


_PUNCT_FREE = r"[A-Za-z0-9\s]"


def punct_ratio() -> Column:
    """The share of ``text``'s characters outside ``[A-Za-z0-9\\s]``;
    try_divide makes an empty document's ratio NULL, like DuckDB's x/0,
    instead of an ANSI DIVIDE_BY_ZERO job abort."""
    n_punct = F.length(F.regexp_replace("text", _PUNCT_FREE, ""))
    return F.try_divide(n_punct.cast("double"), F.length("text"))


PUNCT_RATIO_SQL = (
    f"CAST(length(regexp_replace(text, '{_PUNCT_FREE}', '', 'g')) AS DOUBLE)"
    " / length(text)"
)


def quality_score() -> Column:
    """Token count saturating at 100, times one minus ``punct_ratio``."""
    return F.least(F.lit(1.0), F.size(ws_tokens()) / F.lit(100.0)) * (
        F.lit(1.0) - punct_ratio()
    )


QUALITY_SCORE_SQL = (
    f"least(1.0, len({ws_tokens_sql()}) / 100.0) * (1.0 - {PUNCT_RATIO_SQL})"
)

# The corpus pipelines' quality gate; a NULL ratio (empty document) fails it.
QUALITY_MIN_TOKENS = 30
QUALITY_MAX_PUNCT = 0.10


def quality_stats(docs: DataFrame, keep: tuple[str, ...]) -> DataFrame:
    """The gate's input: ``keep``, the exact-dedup key ``fp``, ``n_tokens``
    and ``punct_ratio`` per document."""
    return docs.select(
        *keep,
        text_fingerprint().alias("fp"),
        F.size(ws_tokens()).alias("n_tokens"),
        punct_ratio().alias("punct_ratio"),
    )


def quality_stats_sql(keep: tuple[str, ...]) -> str:
    return f"""SELECT {", ".join(keep)}, {TEXT_FINGERPRINT_SQL} AS fp,
           len({ws_tokens_sql()}) AS n_tokens, {PUNCT_RATIO_SQL} AS punct_ratio
    FROM documents"""


def quality_gate() -> Column:
    return (F.col("n_tokens") >= QUALITY_MIN_TOKENS) & (
        F.col("punct_ratio") <= QUALITY_MAX_PUNCT
    )


def quality_gate_sql(rel: str) -> str:
    return (
        f"{rel}.n_tokens >= {QUALITY_MIN_TOKENS}"
        f" AND {rel}.punct_ratio <= {QUALITY_MAX_PUNCT}"
    )
