"""The text toolkit (functions/text.py): whitespace tokens, word n-grams
and quality signals pinned across Spark and DuckDB on every in-contract
string the fuzzers draw from, the one measured divergence (the vertical
tab) pinned out of contract, and a structural guard that the package
spells each piece once per engine."""

from __future__ import annotations

import pathlib
import random
import re
from collections import defaultdict

import duckdb

import databricks_spark_sql_challenge1_spark as pkg
from databricks_spark_sql_challenge1_spark.functions.text import (
    PUNCT_RATIO_SQL,
    QUALITY_SCORE_SQL,
    ngrams,
    ngrams_sql,
    punct_ratio,
    quality_score,
    ws_tokens,
    ws_tokens_sql,
)
from tests.test_fuzz_parity import ADVERSARIAL_DOCS
from tools.parity_names import POOLS, SPECIALS

_PKG_DIR = pathlib.Path(pkg.__file__).parent
_NGRAM_NS = (2, 3, 8)


def _corpus() -> list[str]:
    """Every pool token, special and adversarial text, then 200 fixed
    random space-joined samples of them (long enough for 8-grams)."""
    strings = [t for p in POOLS for t in p] + SPECIALS
    strings += [text for text, _lang, _src in ADVERSARIAL_DOCS]
    rng = random.Random(12)
    samples = [
        " ".join(rng.choice(strings) for _ in range(rng.randrange(1, 14)))
        for _ in range(200)
    ]
    return strings + samples


def _spark_side(spark, docs: list[str]) -> dict:
    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    ).coalesce(1)
    rows = (
        df.select(
            "doc_id",
            ws_tokens().alias("t"),
            ws_tokens(lower=True).alias("tl"),
            punct_ratio().alias("pr"),
            quality_score().alias("q"),
        )
        .orderBy("doc_id")
        .collect()
    )
    out = {"rows": [(r["t"], r["tl"], r["pr"], r["q"]) for r in rows]}
    for n in _NGRAM_NS:
        for lower in (False, True):
            grams = defaultdict(list)
            for r in ngrams(df, n, "g", lower=lower).collect():
                grams[r["doc_id"]].append(r["g"])
            out[n, lower] = dict(grams)
    return out


def _duck_side(docs: list[str]) -> dict:
    con = duckdb.connect()
    try:
        # one thread: unnest rows come back in document order
        con.execute("SET threads TO 1")
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany(
            "INSERT INTO documents VALUES (?, ?)", list(enumerate(docs))
        )
        rows = con.execute(
            f"SELECT {ws_tokens_sql()}, {ws_tokens_sql(lower=True)}, "
            f"{PUNCT_RATIO_SQL}, {QUALITY_SCORE_SQL} "
            "FROM documents ORDER BY doc_id"
        ).fetchall()
        out = {"rows": [tuple(r) for r in rows]}
        for n in _NGRAM_NS:
            for lower in (False, True):
                grams = defaultdict(list)
                sql = ngrams_sql(n, "g", lower=lower)
                for doc_id, g in con.execute(sql).fetchall():
                    grams[doc_id].append(g)
                out[n, lower] = dict(grams)
    finally:
        con.close()
    return out


def test_text_toolkit_agrees_across_engines(spark):
    """On every in-contract string (fuzz pools, specials, the adversarial
    corpus and random space-joined samples of them), Spark and DuckDB
    give the same token lists (both ``lower`` settings), the same word
    2-, 3- and 8-gram lists, the same punctuation ratio and quality
    score."""
    docs = _corpus()
    spark_out = _spark_side(spark, docs)
    duck_out = _duck_side(docs)
    for i, (s, d) in enumerate(zip(spark_out["rows"], duck_out["rows"])):
        assert list(s[0]) == list(d[0]) and list(s[1]) == list(d[1]), docs[i]
        assert (s[2], s[3]) == (d[2], d[3]), docs[i]
    assert len(spark_out["rows"]) == len(duck_out["rows"]) == len(docs)
    for key in spark_out:
        if key != "rows":
            assert spark_out[key] == duck_out[key], key
    # the corpus reaches every n: some document has an 8-gram
    assert spark_out[8, False]


def test_vertical_tab_is_out_of_contract(spark):
    """The one measured divergence of the toolkit's ASCII regexes: Java's
    ``\\s`` matches the vertical tab U+000B and RE2's does not, so
    ``'a\\x0bb'`` is two tokens with no punctuation in Spark and one token
    with one punctuation character in DuckDB. Text holding ``\\x0B`` is
    out of the oracle contract (no fixture or fuzz corpus emits it); an
    engine upgrade that moves either side fails here."""
    doc = "a\x0bb"
    s = _spark_side(spark, [doc])
    d = _duck_side([doc])
    assert list(s["rows"][0][0]) == ["a", "b"]
    assert list(d["rows"][0][0]) == ["a\x0bb"]
    assert round(s["rows"][0][2] * len(doc)) == 0
    assert round(d["rows"][0][2] * len(doc)) == 1
    assert s[2, False] == {0: ["a b"]} and d[2, False] == {}


def test_one_text_toolkit():
    """Structural guard (no Spark): the package spells the whitespace
    tokenizer, the n-gram window count, the punctuation class and the PII
    span count once per engine, so a new documents query reuses
    functions/text.py (or textstats' PII builders) instead of a copy."""
    src = "\n".join(p.read_text() for p in sorted(_PKG_DIR.rglob("*.py")))
    # tokenizer: Spark split(...\s+) (as F.split or SQL text), DuckDB twin
    assert len(re.findall(r"(?:\bF\.|(?<![\w.]))split\(", src)) == 1
    assert src.count("string_split_regex(") == 1
    # n-gram window count (its short-document guard sits beside it)
    assert src.count("sequence(1, size(") == 1
    assert len(re.findall(r"generate_series\(1, (?:greatest\()?len\(\w+\) -", src)) == 1
    # punctuation class, used once per engine
    assert src.count(r"[A-Za-z0-9\s]") == 1
    assert src.count('regexp_replace("text", _PUNCT_FREE') == 1
    assert src.count("regexp_replace(text, '{_PUNCT_FREE}'") == 1
    # PII span counts (the BPE token count is the other regexp_extract_all)
    assert len(re.findall(r'F\.regexp_extract_all\((?!"text")', src)) == 1
    assert len(re.findall(r"(?<!F\.)regexp_extract_all\((?!text\b)", src)) == 1
