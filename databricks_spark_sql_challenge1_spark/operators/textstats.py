"""Text analysis over ``documents`` — extension surface (SURVEY.md §7):
token counting (whitespace + BPE-ish regex), quality scoring, language-ID
heuristic, and document fingerprinting. All built-in string/array functions
— JVM-side, oracle-checked.

Regex policy: ASCII character classes only (``[A-Za-z0-9]``), where Spark's
Java regex and DuckDB's RE2 agree on every character except the vertical
tab U+000B, which Java's ``\\s`` matches and RE2's does not (out of the
oracle contract; see functions/text.py). Tokens, n-grams and quality
signals come from functions/text.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databricks_spark_sql_challenge1_spark.catalog import load_table
from databricks_spark_sql_challenge1_spark.functions.hashing import (
    TEXT_FINGERPRINT_SQL,
    hex_int,
    hex_int_sql,
    text_fingerprint,
)
from databricks_spark_sql_challenge1_spark.functions.text import (
    PUNCT_RATIO_SQL,
    QUALITY_SCORE_SQL,
    ngrams,
    ngrams_sql,
    punct_ratio,
    quality_gate,
    quality_gate_sql,
    quality_score,
    quality_stats,
    quality_stats_sql,
    ws_tokens,
    ws_tokens_expr,
    ws_tokens_sql,
)
from databricks_spark_sql_challenge1_spark.registry import query

BPE_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword sets for the n-gram/stopword language heuristic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "und", "die", "das", "ein"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
}


@query(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       len({ws_tokens_sql()}) AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens,
       length(text) AS n_chars_measured
FROM documents
ORDER BY doc_id ASC
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counts per document."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return docs.select(
        "doc_id",
        F.size(ws_tokens()).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)).alias(
            "n_bpe_tokens"
        ),
        F.length("text").alias("n_chars_measured"),
    ).orderBy(F.col("doc_id").asc())


@query(
    "text_quality_stats",
    oracle=f"""
SELECT doc_id,
       len({ws_tokens_sql()}) AS n_tokens,
       ROUND(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
             / len({ws_tokens_sql()}), 4) AS avg_token_len,
       ROUND({PUNCT_RATIO_SQL}, 4) AS punct_ratio,
       ROUND({QUALITY_SCORE_SQL}, 4) AS quality_score
FROM documents
ORDER BY doc_id ASC
""",
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, mean token length,
    punctuation ratio, and a composite quality score (length-saturating ×
    punctuation-penalty) — the standard pretraining-filter features."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    n_tokens = F.size(ws_tokens())
    n_nonspace = F.length(F.regexp_replace("text", r"\s", ""))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(n_nonspace.cast("double") / n_tokens, 4).alias("avg_token_len"),
        F.round(punct_ratio(), 4).alias("punct_ratio"),
        F.round(quality_score(), 4).alias("quality_score"),
    ).orderBy(F.col("doc_id").asc())


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return (
        f"len(list_filter(toks, t -> list_contains([{words}], t)))"
    )


@query(
    "lang_id_heuristic",
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang, {ws_tokens_sql(lower=True)} AS toks
    FROM documents
),
scored AS (
    SELECT doc_id, lang,
           {_lang_score_sql("en")} AS s_en,
           {_lang_score_sql("de")} AS s_de,
           {_lang_score_sql("es")} AS s_es,
           {_lang_score_sql("fr")} AS s_fr
    FROM t
)
SELECT doc_id, lang,
       CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS predicted_lang
FROM scored
ORDER BY doc_id ASC
""",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID (deterministic tie order en>de>es>fr).

    A real pipeline swaps the score arrays for char-n-gram profiles; the
    dataflow (per-doc array scoring, no shuffle) is identical.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = ws_tokens(lower=True)

    def stopword_hits(words: tuple[str, ...]) -> Column:
        wordlist = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter("toks", lambda t: F.array_contains(wordlist, t)))

    scored = docs.select("doc_id", "lang", toks.alias("toks")).select(
        "doc_id",
        "lang",
        *[
            stopword_hits(words).alias(f"s_{lang}")
            for lang, words in LANG_STOPWORDS.items()
        ],
    )
    predicted = (
        F.when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when((F.col("s_de") >= F.col("s_es")) & (F.col("s_de") >= F.col("s_fr")), "de")
        .when(F.col("s_es") >= F.col("s_fr"), "es")
        .otherwise("fr")
    )
    return scored.select(
        "doc_id", "lang", predicted.alias("predicted_lang")
    ).orderBy(F.col("doc_id").asc())


@query(
    "lang_stats",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM(n_chars) * 100 AS DOUBLE) / COUNT(*)) / 100.0
           AS avg_chars,
       ROUND(CAST(SUM(len({ws_tokens_sql()})) * 100
                  AS DOUBLE) / COUNT(*)) / 100.0
           AS avg_tokens
FROM documents
GROUP BY lang
ORDER BY lang ASC NULLS FIRST
""",
)
def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition per language.

    Averages use the integer-grain formulation (SUM(int)*100/COUNT,
    scale-0 ROUND, /100): ``ROUND(AVG(int), 2)`` puts a 40-doc group
    whose char-sum ≡ 23 (mod 40) exactly ON the .005 boundary, where
    Spark (shortest-repr HALF_UP) and DuckDB (exact-binary) round apart
    — measured end-to-end by the r18 integer-average boundary witness
    (avg 1.025 → 1.03 vs 1.02; pinned in tests/test_fuzz_parity.py).
    Scale-0 is the boundary-safe class: the inputs are identical doubles
    (exact integer numerator, one division) and every N.5 is
    binary-exact."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    n = F.count(F.lit(1))
    return (
        docs.groupBy("lang")
        .agg(
            n.alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (
                F.round((F.sum("n_chars") * 100).cast("double") / n) / 100.0
            ).alias("avg_chars"),
            (
                F.round(
                    (F.sum(F.size(ws_tokens()).cast("long")) * 100)
                    .cast("double") / n
                ) / 100.0
            ).alias("avg_tokens"),
        )
        .orderBy(F.col("lang").asc())
    )


TFIDF_TOP_K = 5


@query(
    "text_tfidf_top_terms",
    oracle=f"""
WITH toks AS (
    SELECT lang, unnest({ws_tokens_sql(lower=True)}) AS term
    FROM documents
),
tf AS (SELECT lang, term, COUNT(*) AS tf FROM toks GROUP BY lang, term),
df AS (SELECT term, COUNT(DISTINCT lang) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT lang) AS n_langs FROM documents),
scored AS (
    SELECT tf.lang, tf.term,
           ROUND(tf.tf * ln(CAST((SELECT n_langs FROM n) AS DOUBLE) / df.df), 6)
               AS tfidf
    FROM tf JOIN df ON tf.term = df.term
)
SELECT lang, term, tfidf
FROM (
    SELECT *, row_number() OVER (PARTITION BY lang
                                 ORDER BY tfidf DESC, term ASC) AS rk
    FROM scored
)
WHERE rk <= {TFIDF_TOP_K}
ORDER BY lang ASC NULLS FIRST, tfidf DESC, term ASC
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF by pure SQL aggregation (corpus = language groups): term
    frequency per lang × ln(N/df), top-5 terms per lang. Two shuffles
    (term-level, lang-level) regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "lang",
        F.explode(ws_tokens(lower=True)).alias("term"),
    )
    tf = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.countDistinct("lang").alias("df"))
    n_langs = docs.agg(F.countDistinct("lang").alias("n_langs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_langs))
        .select(
            "lang",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_langs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP_K)
        .select("lang", "term", "tfidf")
        .orderBy(F.col("lang").asc(), F.col("tfidf").desc(), F.col("term").asc())
    )


def _rolling_fingerprint_leg(docs: DataFrame) -> DataFrame:
    """Winnowing-style rolling fingerprint: hash every word-3-gram window,
    keep the min/max hash + distinct-gram count per document (the min-hash
    is the classic winnowing selection; identical windows → identical
    fingerprints across documents). (doc_id, min_gram_hash, max_gram_hash,
    n_distinct_grams) — one row per document with ≥ 3 tokens; shorter docs
    have no 3-gram window on either engine and simply don't appear."""
    return (
        ngrams(docs, 3, "h", md5=True)
        .groupBy("doc_id")
        .agg(
            F.min("h").alias("min_gram_hash"),
            F.max("h").alias("max_gram_hash"),
            F.countDistinct("h").alias("n_distinct_grams"),
        )
    )


@query(
    "corpus_filter_pipeline",
    oracle=f"""
WITH stats AS ({quality_stats_sql(("doc_id", "lang"))}),
canonical AS (
    SELECT fp, MIN(doc_id) AS canonical_doc_id FROM stats GROUP BY fp
)
SELECT s.lang,
       COUNT(*) AS n_kept,
       CAST(SUM(s.n_tokens) AS BIGINT) AS kept_tokens
FROM stats s
JOIN canonical c ON s.fp = c.fp AND s.doc_id = c.canonical_doc_id
WHERE {quality_gate_sql("s")}
GROUP BY s.lang
ORDER BY s.lang ASC NULLS FIRST
""",
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data filter a real corpus pipeline runs:
    quality gate (token count + punctuation ratio) ∘ exact dedup (keep the
    canonical copy per normalized fingerprint) → per-language kept-document
    and kept-token counts. One expression pipeline + one dedup shuffle +
    one small aggregate — the 100 TB shape."""
    stats = quality_stats(load_table(spark, sf_dir, "documents"), ("doc_id", "lang"))
    # Canonical-copy selection as a window min over fp: ONE shuffle, no join.
    # (A groupBy(fp) + self-join re-keys on fp twice and — at corpus scale —
    # the canonical side has ~one row per distinct document, far past
    # broadcast range, forcing a second full shuffle. The original unaliased
    # self-join also collapsed to a trivially-true ``fp == fp`` predicate
    # under Spark's lineage resolution; tests/test_plans.py pins this shape.)
    w = Window.partitionBy("fp")
    return (
        stats.withColumn("canonical_doc_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("canonical_doc_id"))
        .where(quality_gate())
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
        )
        .orderBy(F.col("lang").asc())
    )


def _md5_fingerprint_leg(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint, fingerprint_int) — every document, the exact
    dedup key family (md5 of whitespace-normalized lowercase text plus its
    60-bit integer form for compact joins/bloom filters)."""
    fp = text_fingerprint()
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        hex_int(fp, 1, 15).alias("fingerprint_int"),
    )


@query(
    "doc_fingerprint_methods",
    oracle=f"""
WITH base AS (
    SELECT doc_id, {TEXT_FINGERPRINT_SQL} AS fp
    FROM documents
),
sh AS ({ngrams_sql(3, "h", md5=True)}),
roll AS (
    SELECT doc_id,
           MIN(h) AS min_gram_hash,
           MAX(h) AS max_gram_hash,
           COUNT(DISTINCT h) AS n_distinct_grams
    FROM sh
    GROUP BY doc_id
)
SELECT b.doc_id,
       b.fp AS fingerprint,
       {hex_int_sql("b.fp", 1, 15)} AS fingerprint_int,
       r.min_gram_hash,
       r.max_gram_hash,
       r.n_distinct_grams
FROM base b
LEFT JOIN roll r ON r.doc_id = b.doc_id
ORDER BY b.doc_id ASC
""",
)
def doc_fingerprint_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-fingerprint method surface: the exact-dedup md5 family
    (``_md5_fingerprint_leg``) and the winnowing-style rolling 3-gram
    family (``_rolling_fingerprint_leg``) side by side, one row per
    document. Documents with fewer than 3 tokens have no 3-gram window
    on either engine, so their rolling columns are NULL (left join).

    Scale shape: the md5 leg is a pure narrow projection; the rolling leg
    is one explode + one doc_id aggregation (map-side combinable); the
    left join re-keys on doc_id, the table's natural key — at 100 TB all
    three stages co-partition on doc_id with zero extra shuffles beyond
    the rolling leg's own aggregation exchange.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        _md5_fingerprint_leg(docs)
        .join(_rolling_fingerprint_leg(docs), "doc_id", "left")
        .orderBy(F.col("doc_id").asc())
    )


# vocabulary: cap far above the fixture vocab (~60 terms) so the query is
# the real top-K shape while fixtures exercise the full-corpus path
VOCAB_MAX_TERMS = 1000
VOCAB_MIN_FREQ = 2


@query(
    "corpus_vocabulary",
    oracle=f"""
WITH toks AS (
    SELECT unnest({ws_tokens_sql()}) AS term FROM documents
),
freq AS (
    SELECT term, COUNT(*) AS freq FROM toks GROUP BY term
    HAVING COUNT(*) >= {VOCAB_MIN_FREQ}
)
SELECT CAST(row_number() OVER (ORDER BY freq DESC, term ASC) - 1 AS BIGINT)
           AS term_id,
       term, freq
FROM freq
ORDER BY term_id ASC
LIMIT {VOCAB_MAX_TERMS}
""",
)
def corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary table construction: corpus term frequencies → dense
    term_id by (freq DESC, term ASC) — the id-assignment step before
    integer tokenization (HashingTF-free, reproducible ids).

    One shuffle for the term groupBy (map-side partial counts collapse the
    per-partition duplicates first); the ranking window runs over the
    already-aggregated vocabulary, which is orders of magnitude smaller
    than the corpus (Heaps' law), so the single-partition window is safe
    at any corpus scale. LIMIT keeps the vocab bounded; the HAVING floor
    drops hapax noise before ranking.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    freq = (
        docs.select(F.explode(ws_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= VOCAB_MIN_FREQ)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    return (
        freq.withColumn("term_id", (F.row_number().over(w) - 1).cast("bigint"))
        .select("term_id", "term", "freq")
        .orderBy(F.col("term_id").asc())
        .limit(VOCAB_MAX_TERMS)
    )


@query(
    "text_entropy",
    oracle=f"""
WITH t AS (SELECT doc_id, unnest({ws_tokens_sql()}) AS tok FROM documents),
c AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM t GROUP BY doc_id, tok),
tot AS (SELECT doc_id, SUM(cnt) AS n FROM c GROUP BY doc_id)
SELECT c.doc_id,
       CAST(tot.n AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(-SUM((cnt / n) * log2(cnt / n)), 4) + 0 AS token_entropy
FROM c JOIN tot ON tot.doc_id = c.doc_id
GROUP BY c.doc_id, tot.n
ORDER BY c.doc_id ASC
""",
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — the repetitiveness
    signal quality filters use (low entropy = boilerplate/spam-like
    repetition; the fixture corpus sits near the uniform ceiling of its
    tiny vocabulary).

    One groupBy on (doc_id, token), a per-doc window for the total, and a
    final per-doc fold — all JVM-side arithmetic; the entropy SUM is
    rounded to 4 decimals on both engines so float summation order can't
    flip the value hash.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    c = (
        docs.select("doc_id", F.explode(ws_tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = F.sum("cnt").over(Window.partitionBy("doc_id"))
    p = F.col("cnt") / F.col("n")
    return (
        c.withColumn("n", n)
        .groupBy("doc_id", "n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            # oracle carries "+ 0": a doc whose every token is identical
            # has entropy -SUM(1*log2(1)) = -0.0, which DuckDB ROUND
            # preserves while Spark returns +0.0 (the CLAUDE.md -0.0
            # rule; round-13 fuzz-parity find — fixtures never produce a
            # single-distinct-token doc)
            F.round(-F.sum(p * F.log2(p)), 4).alias("token_entropy"),
        )
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_tokens"),
            "n_distinct",
            "token_entropy",
        )
        .orderBy(F.col("doc_id").asc())
    )


# Gopher-style within-document repetition thresholds, fixture-tuned
# (FIXTURES.md): the corpus's 3-gram dup fraction tops out at 0.07 and the
# top-3-gram share is either ~0 or exactly one repeated shingle (~0.1), so
# these flag a meaningful minority (~12% of docs) instead of all-or-nothing.
REP_DUP_FRAC_MAX = 0.02
REP_TOP_FRAC_MAX = 0.1


@query(
    "docs_repetition_stats",
    oracle=f"""
WITH sh AS ({ngrams_sql(3, "shingle")}),
c AS (SELECT doc_id, shingle, COUNT(*) AS cnt FROM sh GROUP BY doc_id, shingle),
d AS (
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           MAX(cnt) AS maxc
    FROM c GROUP BY doc_id
)
SELECT doc_id, n_ngrams, n_distinct,
       ROUND(1 - CAST(n_distinct AS DOUBLE) / n_ngrams, 4) AS dup_ngram_frac,
       ROUND(CAST(maxc AS DOUBLE) / n_ngrams, 4) AS top_ngram_frac,
       (1 - CAST(n_distinct AS DOUBLE) / n_ngrams > {REP_DUP_FRAC_MAX}
        OR CAST(maxc AS DOUBLE) / n_ngrams >= {REP_TOP_FRAC_MAX}) AS is_repetitive
FROM d
ORDER BY doc_id ASC
""",
)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals — the Gopher-rules repetition
    filter (duplicate word-3-gram fraction + most-frequent-3-gram share)
    a training-corpus quality pass applies before dedup.

    Counts NON-distinct shingles (unlike the dedup queries' distinct shingle
    sets): explode → groupBy (doc_id, shingle) → per-doc fold. Both
    aggregations partial map-side; keys are doc-prefixed so there is no hot
    key at corpus scale. Docs with < 3 tokens have no 3-gram and drop out on
    both engines.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    c = (
        ngrams(docs, 3, "shingle")
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    d = c.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_ngrams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("cnt").alias("maxc"),
    )
    dup_frac = F.lit(1) - F.col("n_distinct").cast("double") / F.col("n_ngrams")
    top_frac = F.col("maxc").cast("double") / F.col("n_ngrams")
    return d.select(
        "doc_id",
        "n_ngrams",
        "n_distinct",
        F.round(dup_frac, 4).alias("dup_ngram_frac"),
        F.round(top_frac, 4).alias("top_ngram_frac"),
        ((dup_frac > REP_DUP_FRAC_MAX) | (top_frac >= REP_TOP_FRAC_MAX)).alias(
            "is_repetitive"
        ),
    ).orderBy(F.col("doc_id").asc())


# Sparse-vector similarity over truncated TF-IDF: keep each doc's top-5
# discriminative terms, meet only through the term inverted index (no N²),
# report the top-3 neighbors per doc.
TFIDF_VEC_TERMS = 5
TFIDF_NEIGHBORS_K = 3
# Posting-list cap (the stop-term / hot-posting cut): each term keeps only
# its TFIDF_POSTING_CAP highest-weight docs before the inverted-index
# self-join, bounding candidate volume at sum(min(posting, cap)²)/2 no
# matter how degenerate the vocabulary is. Deterministic on both engines
# (w DESC, doc_id ASC).
TFIDF_POSTING_CAP = 128


@query(
    "tfidf_doc_neighbors",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest({ws_tokens_sql(lower=True)}) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
wgt AS (
    SELECT tf.doc_id, tf.term,
           tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / dfq.df) AS w
    FROM tf JOIN dfq ON dfq.term = tf.term
    WHERE tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / dfq.df) > 0
),
t5 AS (
    SELECT doc_id, term, w FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY ROUND(w, 9) DESC, term ASC) AS rk
        FROM wgt
    ) WHERE rk <= {TFIDF_VEC_TERMS}
),
t5c AS (
    SELECT doc_id, term, w FROM (
        SELECT *, row_number() OVER (PARTITION BY term
                                     ORDER BY ROUND(w, 9) DESC, doc_id ASC) AS prk
        FROM t5
    ) WHERE prk <= {TFIDF_POSTING_CAP}
),
nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nw FROM t5 GROUP BY doc_id),
dot AS (
    SELECT a.doc_id AS doc_id, b.doc_id AS neighbor_id, SUM(a.w * b.w) AS d
    FROM t5c a JOIN t5c b ON a.term = b.term AND a.doc_id <> b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_id, neighbor_id, sim, CAST(rk AS BIGINT) AS nbr_rank
FROM (
    SELECT dot.doc_id, neighbor_id,
           ROUND(d / (na.nw * nb.nw), 4) AS sim,
           row_number() OVER (PARTITION BY dot.doc_id
                              ORDER BY ROUND(d / (na.nw * nb.nw), 4) DESC,
                                       neighbor_id ASC) AS rk
    FROM dot
    JOIN nrm na ON na.doc_id = dot.doc_id
    JOIN nrm nb ON nb.doc_id = neighbor_id
)
WHERE rk <= {TFIDF_NEIGHBORS_K}
ORDER BY doc_id ASC, nbr_rank ASC
""",
)
def tfidf_doc_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse similarity search: top-3 nearest documents per document under
    truncated TF-IDF cosine — the lexical complement to the dense-embedding
    ANN queries (``similarity_*``), and the standard "find the boilerplate
    family" corpus-inspection tool.

    Scale shape: every doc keeps only its TFIDF_VEC_TERMS highest-weight
    terms, so the inverted-index self-join meets docs only through shared
    discriminative terms (the same DF-cut idea documented for
    ``dedup_ngram_jaccard``) — AND every term keeps only its
    TFIDF_POSTING_CAP highest-weight docs before the join (the stop-term /
    hot-posting cut). Candidate volume is therefore bounded by
    vocab · cap² / 2 regardless of vocabulary skew: the fixtures'
    degenerate 31-term top-weight vocabulary produced ~11 M candidate
    pairs at 5 k docs uncapped (FIXTURES.md); with the cap it is ≤ 254 k —
    exactly the hot-posting-list skew that would kill the job at 100 TB.

    The cap is a REAL semantic change where posting lists exceed it: a doc
    cut from a posting list cannot meet neighbors through that term, and a
    doc cut from EVERY posting list of its top-5 terms loses all its
    neighbor rows — it vanishes from the output rather than getting
    approximate neighbors. At sf0.001/sf0.01 posting lists stay under the
    cap (output identical to uncapped semantics); at sf0.1 the fixture
    vocabulary drives posting lists to ~1.3 k docs, so cap=128 discards
    ~90% of hot postings and the output is the capped approximation —
    parity holds because the oracle mirrors the cut exactly (witnessed at
    sf0.01 and sf0.1, see tests/test_oracle_parity.py runs in
    BENCH_NOTES.md §tfidf).

    Both cut rankings order on ROUND(w, 9) (then term/doc_id): raw w is a
    float reached via different ln/multiply paths on the two engines, and
    a last-ulp difference at a cap boundary would flip which doc survives
    — rounding the ranking key to 9 decimals makes the cross-engine order
    identical while leaving the actual weights (dot products, norms)
    untouched. Norms still use each doc's full truncated vector, so
    reported cosines are true values, not renormalized ones. The truncated
    vectors are localCheckpoint-ed once and the pair expansion runs on
    unordered pairs only (mirror after the agg). ROUND(4) on both engines
    pins the value hash and the neighbor ranking (neighbor_id breaks
    ties).
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", F.explode(ws_tokens(lower=True)).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w_expr = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    wgt = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term", w_expr.alias("w"))
        .where(F.col("w") > 0)
    )
    # rank on the rounded weight (see docstring: cross-engine ulp stability)
    top_w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("w"), 9).desc(), F.col("term").asc()
    )
    # materialize the truncated vectors ONCE (N·TFIDF_VEC_TERMS rows): this
    # tiny relation feeds four consumers (both join sides + both norm
    # lookups) — without the checkpoint Spark re-runs the whole
    # tokenize→tf-idf→window pipeline four times
    t5 = (
        wgt.withColumn("rk", F.row_number().over(top_w))
        .where(F.col("rk") <= TFIDF_VEC_TERMS)
        .select("doc_id", "term", "w")
        .localCheckpoint()
    )
    nrm = t5.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nw"))
    # hot-posting cut: cap each term's posting list before the self-join so
    # a degenerate (or adversarially skewed) vocabulary cannot produce an
    # N²-shaped candidate set — at most cap² pairs per term
    post_w = Window.partitionBy("term").orderBy(
        F.round(F.col("w"), 9).desc(), F.col("doc_id").asc()
    )
    t5c = (
        t5.withColumn("prk", F.row_number().over(post_w))
        .where(F.col("prk") <= TFIDF_POSTING_CAP)
        .select("doc_id", "term", "w")
    )
    a, b = t5c.alias("a"), t5c.alias("b")
    # cosine is symmetric: expand each unordered pair once (doc_id <) and
    # mirror the aggregated dot afterwards — halves the join + agg volume
    dot_half = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("d"))
    )
    dot = dot_half.select(
        F.col("d1").alias("doc_id"), F.col("d2").alias("neighbor_id"), "d"
    ).unionByName(
        dot_half.select(
            F.col("d2").alias("doc_id"), F.col("d1").alias("neighbor_id"), "d"
        )
    )
    na, nb = nrm.alias("na"), nrm.alias("nb")
    sim = F.round(F.col("dd.d") / (F.col("na.nw") * F.col("nb.nw")), 4)
    return (
        dot.alias("dd")
        .join(na, F.col("na.doc_id") == F.col("dd.doc_id"))
        .join(nb, F.col("nb.doc_id") == F.col("dd.neighbor_id"))
        .select(
            F.col("dd.doc_id").alias("doc_id"),
            F.col("dd.neighbor_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("sim").desc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .where(F.col("rk") <= TFIDF_NEIGHBORS_K)
        .select("doc_id", "neighbor_id", "sim", F.col("rk").cast("bigint").alias("nbr_rank"))
        .orderBy(F.col("doc_id").asc(), F.col("nbr_rank").asc())
    )


# CCNet-style perplexity bucketing: the "LM" is the corpus unigram model
# itself (a real pipeline scores with a KenLM n-gram model; the bucketing
# algebra — score, tertile cutoffs, head/middle/tail label — is identical).
PPL_ROUND = 4


@query(
    "docs_perplexity_buckets",
    oracle=f"""
WITH t AS (SELECT doc_id, unnest({ws_tokens_sql()}) AS tok FROM documents),
freq AS (SELECT tok, COUNT(*) AS f FROM t GROUP BY tok),
tot AS (SELECT COUNT(*) AS n FROM t),
nll AS (
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(-log2(CAST(freq.f AS DOUBLE) / tot.n)), {PPL_ROUND})
               AS avg_nll
    FROM t JOIN freq ON freq.tok = t.tok CROSS JOIN tot
    GROUP BY t.doc_id, tot.n
),
cut AS (
    SELECT ROUND(quantile_cont(avg_nll, 1.0/3), 6) AS t1,
           ROUND(quantile_cont(avg_nll, 2.0/3), 6) AS t2
    FROM nll
)
SELECT nll.doc_id, nll.n_tokens, nll.avg_nll,
       CASE WHEN nll.avg_nll <= cut.t1 THEN 'head'
            WHEN nll.avg_nll <= cut.t2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM nll CROSS JOIN cut
ORDER BY doc_id ASC
""",
)
def docs_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score each document under the
    corpus unigram LM (avg -log2 p(token)), then label head / middle / tail
    by the corpus tertile cutoffs — the quality-stratification step CCNet
    applies before choosing which web-crawl slices to keep.

    Scale shapes: token→frequency join is an equi-join on the term (the
    frequency table is vocabulary-sized → broadcast); the cutoffs are TWO
    scalars from a percentile aggregate (at 100 TB, approx_percentile on a
    t-digest sketch — same two scalars, no global sort or single-partition
    window, which is why tertiles are computed via cutoffs and not ntile).
    avg_nll is rounded identically on both engines before the cutoff
    comparison so bucket membership cannot drift.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    t = docs.select("doc_id", F.explode(ws_tokens()).alias("tok"))
    freq = t.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    tot = t.agg(F.count(F.lit(1)).alias("n"))
    nll = (
        t.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.avg(-F.log2(F.col("f").cast("double") / F.col("n"))),
                PPL_ROUND,
            ).alias("avg_nll"),
        )
    )
    cut = nll.agg(
        F.round(F.expr("percentile(avg_nll, 1.0d/3)"), 6).alias("t1"),
        F.round(F.expr("percentile(avg_nll, 2.0d/3)"), 6).alias("t2"),
    )
    return (
        nll.crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            "n_tokens",
            "avg_nll",
            F.when(F.col("avg_nll") <= F.col("t1"), F.lit("head"))
            .when(F.col("avg_nll") <= F.col("t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
        .orderBy(F.col("doc_id").asc())
    )


# Quality tiering: quartile cutoffs over the composite quality score, then
# per-tier corpus accounting (docs / tokens / score moments) — the report a
# tiered-corpus build (keep T1-T2, maybe T3) is driven by.
QUALITY_TIERS = 4


@query(
    "docs_quality_tiers",
    oracle=f"""
WITH s AS (
    SELECT doc_id, len({ws_tokens_sql()}) AS n_tokens,
           CAST(ROUND({QUALITY_SCORE_SQL} * 10000) AS BIGINT) AS micro
    FROM documents
),
cut AS (
    SELECT quantile_cont(micro, 0.25) AS q1,
           quantile_cont(micro, 0.50) AS q2,
           quantile_cont(micro, 0.75) AS q3
    FROM s
),
tiered AS (
    SELECT s.*,
           CASE WHEN micro > cut.q3 THEN 1
                WHEN micro > cut.q2 THEN 2
                WHEN micro > cut.q1 THEN 3
                ELSE 4 END AS tier
    FROM s CROSS JOIN cut
)
SELECT CAST(tier AS INTEGER) AS tier,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(micro) AS DOUBLE) / COUNT(micro)) / 10000.0
           AS avg_quality,
       CAST(MIN(micro) AS DOUBLE) / 10000.0 AS min_quality,
       CAST(MAX(micro) AS DOUBLE) / 10000.0 AS max_quality
FROM tiered
GROUP BY tier
ORDER BY tier ASC
""",
)
def docs_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality tiering: quartile cutoffs over the composite quality score
    (same signal as ``text_quality_stats``), then per-tier document/token
    accounting — tier 1 = best quartile. The output drives tiered corpus
    decisions ("train on T1-T2, hold T3 for ablations").

    Same scalar-cutoff shape as ``docs_perplexity_buckets`` (no global
    window; percentile → 3 scalars → broadcast CASE), one small groupBy on
    the 4-value tier key.

    The whole pipeline runs in integer units of the scale-4 score grid
    (r18 integer-average boundary campaign): per-row ``ROUND(raw, 4)``
    itself rounds apart cross-engine on ~5% of the X.XXXX5 boundary
    rationals a constructed corpus can reach (measured: raw 0.19315 →
    Spark 0.1932 vs DuckDB 0.1931 — Spark rounds the shortest decimal
    repr, DuckDB multiplies-then-rounds), so the score is extracted as
    ``CAST(ROUND(raw * 10^4) AS BIGINT)`` instead: the raw double is
    the identical IEEE value on both engines (same expression tree) and
    scale-0 rounding is the boundary-safe class (every N.5 is
    binary-exact). Quartile cutoffs interpolate over the integers
    (quarter-fraction products of small ints are binary-exact), AVG
    uses scale-0 ROUND of the exact integer sum over COUNT, and
    MIN/MAX divide exactly.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # an empty doc's NULL score CASE-falls to tier 4 on both engines and
    # is skipped by the percentile/SUM/MIN/MAX on both
    micro = F.round(quality_score() * 10000).cast("long")
    s = docs.select(
        "doc_id", F.size(ws_tokens()).alias("n_tokens"), micro.alias("micro")
    )
    cut = s.agg(
        F.expr("percentile(micro, 0.25d)").alias("q1"),
        F.expr("percentile(micro, 0.50d)").alias("q2"),
        F.expr("percentile(micro, 0.75d)").alias("q3"),
    )
    return (
        s.crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            "n_tokens",
            "micro",
            F.when(F.col("micro") > F.col("q3"), F.lit(1))
            .when(F.col("micro") > F.col("q2"), F.lit(2))
            .when(F.col("micro") > F.col("q1"), F.lit(3))
            .otherwise(F.lit(4))
            .alias("tier"),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            (
                F.round(F.sum("micro").cast("double") / F.count("micro"))
                / 10000.0
            ).alias("avg_quality"),
            (F.min("micro").cast("double") / 10000.0).alias("min_quality"),
            (F.max("micro").cast("double") / 10000.0).alias("max_quality"),
        )
        .orderBy(F.col("tier").asc())
    )


# PII patterns — ONE source of truth interpolated into both engines
# (ASCII classes only, per the module regex policy; RE2 and Java agree on
# \b word boundaries for ASCII text, pinned by test_documents_ascii).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+1 [0-9]{3}-[0-9]{4}"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

# The fixture vocabulary is PII-free (FIXTURES.md), so the witness splices
# deterministic PII-shaped spans onto a doc_id-keyed subset — the same
# manufactured-input pattern the join-miss NULL queries use. Both engines
# build the IDENTICAL augmented text, so redaction is tested non-vacuously.
def _pii_red_sql(col: str) -> str:
    """The redaction chain as a SQL fragment over `col` — the ONE source
    of truth shared by docs_pii_redact and corpus_privacy_pipeline (both
    engines; DuckDB needs the 'g' flag)."""
    return (
        f"regexp_replace(regexp_replace(regexp_replace({col}, "
        f"'{PII_EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{PII_PHONE_RE}', '<PHONE>', 'g'), "
        f"'{PII_IP_RE}', '<IP>', 'g')"
    )


def _pii_clean(col: Column) -> Column:
    """Spark-side twin of ``_pii_red_sql``."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )


_PII_PATTERNS = (PII_EMAIL_RE, PII_PHONE_RE, PII_IP_RE)


def _pii_counts(col: str) -> list[Column]:
    """The email, phone and IPv4 span counts of column ``col``."""
    return [F.size(F.regexp_extract_all(col, F.lit(p), 0)) for p in _PII_PATTERNS]


def _pii_counts_sql(col: str) -> list[str]:
    """The DuckDB twin of ``_pii_counts``."""
    return [f"len(regexp_extract_all({col}, '{p}'))" for p in _PII_PATTERNS]


_PII_AUG_SQL = """
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com now' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call +1 ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                 || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 || ' today' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' src 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                 || CAST(doc_id % 100 AS VARCHAR) || ' end' ELSE '' END
"""


_PII_COUNT_COLS = ("n_emails", "n_phones", "n_ips")
_PII_COUNT_COLS_SQL = ",\n       ".join(
    f"CAST({c} AS BIGINT) AS {a}"
    for c, a in zip(_pii_counts_sql("t"), _PII_COUNT_COLS)
)


@query(
    "docs_pii_redact",
    oracle=f"""
WITH aug AS (
    SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents
),
red AS (
    SELECT doc_id, t, {_pii_red_sql("t")} AS clean
    FROM aug
)
SELECT doc_id,
       {_PII_COUNT_COLS_SQL},
       CAST(length(clean) AS BIGINT) AS clean_len,
       md5(clean) AS clean_md5
FROM red
ORDER BY doc_id ASC
""",
)
def docs_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass over the corpus — count and redact email / phone /
    IPv4 spans (the standard pre-training scrubbing step; patterns are the
    usual ASCII regex family). Emits per-doc match counts plus the length
    and md5 of the redacted text so the oracle verifies the REDACTED BYTES,
    not just the counts.

    Pure codegen string expressions (regexp_extract_all + regexp_replace)
    — no UDF, no shuffle beyond the final presentation sort; at 100 TB
    this is a narrow map over the corpus scan, pipelined with whatever
    else reads the documents table.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    aug = docs.select(
        "doc_id", F.expr(_PII_AUG_SQL.replace("VARCHAR", "STRING")).alias("t")
    )
    clean = _pii_clean(F.col("t"))
    return (
        aug.select(
            "doc_id",
            *[
                c.cast("long").alias(a)
                for c, a in zip(_pii_counts("t"), _PII_COUNT_COLS)
            ],
            F.length(clean).cast("long").alias("clean_len"),
            F.md5(clean).alias("clean_md5"),
        )
        .orderBy(F.col("doc_id").asc())
    )


@query(
    "corpus_privacy_pipeline",
    oracle=f"""
WITH aug AS (
    SELECT doc_id, lang, {_PII_AUG_SQL} AS t FROM documents
),
red AS (
    SELECT doc_id, lang, t,
           {_pii_red_sql("t")} AS clean,
           CAST({" + ".join(_pii_counts_sql("t"))} AS BIGINT) AS pii_spans
    FROM aug
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY md5(clean)
                              ORDER BY doc_id ASC) AS rn
    FROM red
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_survivors,
       CAST(SUM(pii_spans) AS BIGINT) AS pii_spans,
       CAST(SUM(length(t) - length(clean)) AS BIGINT) AS chars_delta,
       CAST(SUM(CASE WHEN rn = 1 THEN length(clean) ELSE 0 END) AS BIGINT)
           AS survivor_chars
FROM ranked
GROUP BY lang
ORDER BY lang ASC NULLS FIRST
""",
)
def corpus_privacy_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-aware corpus assembly, end to end in ONE declarative plan:
    PII scrub (the ``docs_pii_redact`` stage) → exact dedup on the
    REDACTED text (scrubbing first means two docs differing only in their
    PII spans collapse to one survivor — the order production pipelines
    use) → per-language privacy card (docs in, survivors kept, PII spans
    removed, redaction byte delta, surviving corpus size). Companion to
    ``corpus_dedup_pipeline``'s quality-gated assembly; the oracle chains
    the SAME injection/redaction SQL fragments (one source of truth with
    ``docs_pii_redact``).

    Scale shape: narrow regex maps, ONE fingerprint shuffle (window on
    md5(clean)), one per-lang aggregate — the same two-exchange profile as
    the quality assembly, measured flat-to-linear for every stage family.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    aug = docs.select(
        "doc_id",
        "lang",
        F.expr(_PII_AUG_SQL.replace("VARCHAR", "STRING")).alias("t"),
    )
    clean = _pii_clean(F.col("t"))
    n_emails, n_phones, n_ips = _pii_counts("t")
    spans = (n_emails + n_phones + n_ips).cast("long")
    red = aug.select(
        "doc_id", "lang", "t", clean.alias("clean"), spans.alias("pii_spans")
    )
    w = Window.partitionBy(F.md5("clean")).orderBy(F.col("doc_id").asc())
    ranked = red.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("rn") == 1).cast("long")).alias("n_survivors"),
            F.sum("pii_spans").alias("pii_spans"),
            F.sum(F.length("t") - F.length("clean"))
            .cast("long")
            .alias("chars_delta"),
            F.sum(
                F.when(F.col("rn") == 1, F.length("clean")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("survivor_chars"),
        )
        .orderBy(F.col("lang").asc())
    )


# --- model-based quality filter (deterministic logistic inference) ----------
# The slot a learned quality classifier occupies in a production pretraining
# pipeline (fastText/logistic filters in the CCNet / C4 / FineWeb lineage):
# featurize each document, apply FIXED trained weights, sigmoid, threshold.
# The weights here are pinned constants (a stand-in for a published model's
# coefficients) so inference is pure deterministic arithmetic — which is
# exactly how a real exported linear model executes at 100 TB: no UDF, no
# model server, just expressions in the scan stage.
QUALITY_CLF_THRESHOLD = 0.40  # keeps ~1/3 of the fixture corpus (median prob 0.375)
# shared inference template — identical text on both engines (FP evaluation
# order matches exactly); feature columns: n_toks, n_distinct, n_stop,
# n_chars_m (all integers computed engine-side from aligned expressions)
_QUALITY_CLF_LOGIT_SQL = (
    "(-3.1"
    " + 3.0 * (n_distinct / CAST(n_toks AS DOUBLE))"
    " + 2.5 * (n_stop / CAST(n_toks AS DOUBLE))"
    " + 0.4 * ln(1.0 + n_toks)"
    " - 0.1 * (n_chars_m / CAST(n_toks AS DOUBLE)))"
)
_QUALITY_CLF_PROB_SQL = f"1.0 / (1.0 + exp(-{_QUALITY_CLF_LOGIT_SQL}))"
_STOPSET = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])


@query(
    "docs_quality_classifier",
    oracle=f"""
WITH feat AS (
    SELECT doc_id, lang,
           len({ws_tokens_sql(lower=True)}) AS n_toks,
           len(list_distinct({ws_tokens_sql(lower=True)})) AS n_distinct,
           len(list_filter({ws_tokens_sql(lower=True)},
                           t -> list_contains([{_STOPSET}], t))) AS n_stop,
           length(text) AS n_chars_m
    FROM documents
)
SELECT doc_id, lang,
       CAST(n_toks AS BIGINT) AS n_toks,
       ROUND({_QUALITY_CLF_PROB_SQL}, 6) AS quality_prob,
       ({_QUALITY_CLF_PROB_SQL} >= {QUALITY_CLF_THRESHOLD}) AS keep_doc
FROM feat
ORDER BY doc_id ASC
""",
)
def docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic logistic quality classifier: lexical-diversity,
    stopword-density, log-length and chars-per-token features → fixed
    trained weights → sigmoid probability → keep/drop decision. The
    heuristic siblings (``text_quality_stats``/``docs_quality_tiers``)
    rank by hand-built scores; this is the MODEL-shaped stage — the same
    plan a real exported linear classifier compiles to.

    Scale shape: featurization and inference are one pass of scalar
    expressions inside the scan's codegen stage (the split/array work
    fuses with the projection) — no shuffle at all before the
    presentation sort, no UDF, no model-serving hop. At 100 TB the
    keep_doc predicate would feed the corpus filter directly and the
    sort would not exist; it is here so the driver hash-checks every
    document's probability, not a sample.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = ws_tokens(lower=True)
    feat = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.expr(
            f"size(filter({ws_tokens_expr(lower=True)},"
            f" t -> array_contains(array({_STOPSET}), t)))"
        ).alias("n_stop"),
        F.length("text").alias("n_chars_m"),
    )
    prob = F.expr(_QUALITY_CLF_PROB_SQL)
    return feat.select(
        "doc_id",
        "lang",
        F.col("n_toks").cast("bigint").alias("n_toks"),
        F.round(prob, 6).alias("quality_prob"),
        (prob >= F.lit(QUALITY_CLF_THRESHOLD)).alias("keep_doc"),
    ).orderBy(F.col("doc_id").asc())


# --- BPE-merge vocabulary witness (VERDICT r11 #4b) -------------------------
# Fixed-round byte-pair-encoding merge training over the corpus word-
# frequency model — the tokenizer-fitting step next to corpus_vocabulary.
# Classic BPE (Sennrich et al. 2016, ACL — public algorithm): represent
# each word as a symbol sequence (initially characters), then repeatedly
# (1) count adjacent symbol pairs weighted by word frequency (overlapping
# adjacencies count, as in the reference implementation's get_stats),
# (2) merge the most frequent pair everywhere, greedy leftmost
# non-overlapping within each word.
#
# Determinism across engines: the argmax pair tiebreaks on
# (pair_freq DESC, left_sym ASC, right_sym ASC); greedy leftmost
# non-overlapping merging is expressed exactly with gaps-and-islands
# windows — positions where the pair matches form runs (consecutive
# matched positions overlap), and within each run the merge happens at the
# 1st, 3rd, 5th, ... matched position, which is precisely what a
# left-to-right scan does. Both engines run the identical relational
# program; the DuckDB oracle unrolls the same BPE_ROUNDS as a generated
# CTE chain (the embedding_kmeans_refine trick), so changing the constant
# changes both engines together.
BPE_ROUNDS = 10
BPE_TOP_WORDS = 40  # merge-model vocabulary: top words by (freq, word)


def _bpe_merge_round_ctes(r: int, prefix: str, carry_freq: bool) -> list:
    """Emit the per-round greedy-merge CTE quartet ({p}adj{r} → {p}grp{r}
    → {p}mrg{r} → {p}syms{r+1}) that applies the argmax pair ``best{r}``
    to the symbol frame ``{p}syms{r}`` — THE relational counterpart of
    `_bpe_apply_merge` (gaps-and-islands odd-rank = greedy leftmost
    non-overlapping), single-sourced so the trainer oracle, the encoder
    oracle, and the overlapping-repeat pin test cannot drift apart
    (round-13 review). ``carry_freq`` threads the trainer's word-frequency
    column through the rounds; the encoder's vocabulary side has none.

    Every CTE is MATERIALIZED: DuckDB inlines plain CTEs at each
    reference, and each round's CTEs are referenced 2-3 times —
    un-materialized, the expansion (and the parquet re-scan count) grows
    exponentially in rounds (measured: EMFILE at 10 rounds)."""
    freq_a = "a.freq, " if carry_freq else ""
    freq_g = "g.freq, " if carry_freq else ""
    freq_c = "freq, " if carry_freq else ""
    return [
        f"""{prefix}adj{r} AS MATERIALIZED (
    SELECT word, {freq_c}pos, sym,
           lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
    FROM {prefix}syms{r}
)""",
        f"""{prefix}grp{r} AS MATERIALIZED (
    SELECT a.word, {freq_a}a.pos, a.sym, a.nxt,
           CASE WHEN a.sym = b.lsym AND a.nxt = b.rsym THEN 1 ELSE 0 END
               AS is_match,
           CASE WHEN a.sym = b.lsym AND a.nxt = b.rsym
                THEN a.pos - row_number() OVER (
                    PARTITION BY a.word,
                        CASE WHEN a.sym = b.lsym AND a.nxt = b.rsym
                             THEN 1 ELSE 0 END
                    ORDER BY a.pos)
           END AS grp
    FROM {prefix}adj{r} a LEFT JOIN best{r} b ON TRUE
)""",
        f"""{prefix}mrg{r} AS MATERIALIZED (
    SELECT word, pos, 1 AS do_merge
    FROM (
        SELECT word, pos,
               row_number() OVER (PARTITION BY word, grp ORDER BY pos) AS rn
        FROM {prefix}grp{r} WHERE is_match = 1
    ) WHERE rn % 2 = 1
)""",
        f"""{prefix}syms{r + 1} AS MATERIALIZED (
    SELECT g.word, {freq_g}
           row_number() OVER (PARTITION BY g.word ORDER BY g.pos) AS pos,
           CASE WHEN m.do_merge = 1 THEN g.sym || g.nxt ELSE g.sym END AS sym
    FROM {prefix}grp{r} g
    LEFT JOIN {prefix}mrg{r} m ON m.word = g.word AND m.pos = g.pos
    LEFT JOIN {prefix}mrg{r} d ON d.word = g.word AND d.pos = g.pos - 1
    WHERE d.do_merge IS NULL
)""",
    ]


def _bpe_cte_chain(rounds: int = BPE_ROUNDS) -> list:
    """The trainer's CTE chain (words → syms0 → per-round adj/best/grp/
    mrg/syms), shared by the merge-table oracle and the encoder oracle
    (which consumes the best{r} argmax CTEs to replay the merges)."""
    ctes = [
        f"""words AS MATERIALIZED (
    SELECT word, freq FROM (
        SELECT term AS word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest({ws_tokens_sql()}) AS term FROM documents)
        WHERE term <> ''
        GROUP BY term
    )
    ORDER BY freq DESC, word ASC
    LIMIT {BPE_TOP_WORDS}
)""",
        """syms0 AS MATERIALIZED (
    SELECT word, freq, CAST(i AS BIGINT) AS pos, substr(word, i, 1) AS sym
    FROM words, unnest(generate_series(1, CAST(length(word) AS INTEGER)))
         AS t(i)
)""",
    ]
    for r in range(rounds):
        adj, grp, mrg, nxt = _bpe_merge_round_ctes(r, "", carry_freq=True)
        ctes.append(adj)
        ctes.append(f"""best{r} AS MATERIALIZED (
    SELECT sym AS lsym, nxt AS rsym, CAST(SUM(freq) AS BIGINT) AS pair_freq
    FROM adj{r} WHERE nxt IS NOT NULL
    GROUP BY sym, nxt
    ORDER BY pair_freq DESC, lsym ASC, rsym ASC
    LIMIT 1
)""")
        ctes.extend([grp, mrg, nxt])
    return ctes


def _bpe_oracle_sql(rounds: int = BPE_ROUNDS) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS merge_round, lsym AS left_sym, "
        f"rsym AS right_sym, lsym || rsym AS merged, pair_freq FROM best{r}"
        for r in range(rounds)
    )
    return (
        "WITH " + ",\n".join(_bpe_cte_chain(rounds)) + "\n" + f"""SELECT merge_round, left_sym, right_sym, merged, pair_freq
FROM ({union})
ORDER BY merge_round ASC
"""
    )


def _bpe_apply_merge(syms: list, lsym: str, rsym: str) -> list:
    """Apply ONE greedy leftmost-non-overlapping merge of (lsym, rsym) to a
    word's symbol list — THE merge kernel, shared by the driver-side
    trainer loop and the encoder's mapInPandas word encoder so train and
    apply cannot drift. The DuckDB oracle replays the identical rule
    relationally (gaps-and-islands odd-rank template in _bpe_cte_chain,
    pinned on overlapping-repeat words in tests/test_extensions.py)."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == lsym and syms[i + 1] == rsym:
            out.append(lsym + rsym)
            i += 2  # greedy leftmost non-overlapping
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_train(spark: SparkSession, sf_dir: str) -> list:
    """Run the BPE_ROUNDS-round trainer and return the merge table as
    driver tuples [(round, left_sym, right_sym, merged, pair_freq)] — the
    corpus_bpe_merges output, and the merge list corpus_bpe_encode
    replays.

    Shape: the ONLY corpus-scale step (the word-frequency groupBy with
    map-side partial counts) runs distributed; the top-BPE_TOP_WORDS
    model it produces is BOUNDED (V rows regardless of corpus size), so
    it is collected once and the merge loop runs driver-side on exact
    Python integers — how production BPE trainers work (Sennrich
    get_stats/merge over the word-frequency dict). Total driver traffic
    is one bounded model pull, less than the per-round argmax splicing
    the loop would otherwise need. Tie-breaks ((-freq, lsym, rsym) with
    Python codepoint string order) match both engines' binary string
    ORDER BY, since UTF-8 byte order equals codepoint order."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    top = (
        docs.select(F.explode(ws_tokens()).alias("word"))
        # ADVICE r12: an empty token (whitespace-only text) would diverge —
        # Spark's sequence(1, 0) yields [1, 0] where DuckDB's
        # generate_series(1, 0) yields no rows. Guard both sides.
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(BPE_TOP_WORDS)
        .collect()
    )
    model = [(list(r["word"]), r["freq"]) for r in top]
    merges: list[tuple] = []
    for r in range(BPE_ROUNDS):
        pairs: dict = {}
        for syms, f in model:
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + f
        if not pairs:  # model saturated: every word is a single symbol
            break
        (lsym, rsym), pair_freq = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r + 1, lsym, rsym, lsym + rsym, pair_freq))
        if r == BPE_ROUNDS - 1:
            break  # the post-merge model is never consumed
        model = [(_bpe_apply_merge(syms, lsym, rsym), f) for syms, f in model]
    return merges


@query("corpus_bpe_merges", oracle=_bpe_oracle_sql())
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BPE tokenizer training witness: BPE_ROUNDS byte-pair
    merges over the corpus word-frequency model, returning the merge table
    (merge_round, left_sym, right_sym, merged, pair_freq) — the artifact a
    BPE tokenizer ships. pair_freq is an exact BIGINT corpus count, so the
    whole merge trajectory is hash-checkable.

    Scale shape (how real BPE trainers run at 100 TB): the ONLY
    corpus-scale step is the word-frequency groupBy (one shuffle with
    map-side partial counts); the top-BPE_TOP_WORDS model it yields is
    BOUNDED (V rows whatever the corpus size), so it is collected once
    and the merge loop runs driver-side on exact integers — the Sennrich
    get_stats/merge shape production tokenizer trainers use. One bounded
    model pull replaces what would otherwise be O(rounds) per-round
    Spark jobs; see _bpe_train for the tie-break collation argument."""
    return spark.createDataFrame(
        _bpe_train(spark, sf_dir),
        "merge_round long, left_sym string, right_sym string, "
        "merged string, pair_freq long",
    ).orderBy(F.col("merge_round").asc())


# Portable integer token fingerprint: 100*len keeps multi-char merged
# tokens distinct from their first character; ascii() is the first-char
# codepoint in BOTH engines (Spark F.ascii / DuckDB ascii).
BPE_TOKEN_WEIGHT_SQL = "100 * length(sym) + ascii(sym)"


def _bpe_encode_oracle_sql(rounds: int = BPE_ROUNDS) -> str:
    """Encoder oracle: replay the trainer's merge sequence (the best{r}
    argmax CTEs from _bpe_cte_chain) over the FULL corpus vocabulary, then
    join per-word token stats back to per-occurrence rows."""
    ctes = _bpe_cte_chain(rounds)
    ctes.append(f"""dwords AS MATERIALIZED (
    SELECT doc_id, w AS word
    FROM (SELECT doc_id, unnest({ws_tokens_sql()}) AS w FROM documents)
    WHERE w <> ''
)""")
    ctes.append("vocab AS MATERIALIZED (SELECT DISTINCT word FROM dwords)")
    ctes.append("""vsyms0 AS MATERIALIZED (
    SELECT word, CAST(i AS BIGINT) AS pos, substr(word, i, 1) AS sym
    FROM vocab, unnest(generate_series(1, CAST(length(word) AS INTEGER)))
         AS t(i)
)""")
    for r in range(rounds):
        ctes.extend(_bpe_merge_round_ctes(r, "v", carry_freq=False))
    ctes.append(f"""wstats AS MATERIALIZED (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM({BPE_TOKEN_WEIGHT_SQL}) AS BIGINT) AS wsum
    FROM vsyms{rounds} GROUP BY word
)""")
    return (
        "WITH " + ",\n".join(ctes) + "\n" + """SELECT d.doc_id,
       CAST(SUM(w.n_toks) AS BIGINT) AS n_tokens,
       CAST(SUM(w.wsum) AS BIGINT) AS token_weight_sum
FROM dwords d JOIN wstats w ON w.word = d.word
GROUP BY d.doc_id
ORDER BY d.doc_id ASC
"""
    )


@query("corpus_bpe_encode", oracle=_bpe_encode_oracle_sql())
def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY step — the other half of ``corpus_bpe_merges``'s
    train step: replay the learned merge sequence over the corpus
    vocabulary and emit per-document token counts plus an exact integer
    token fingerprint (Σ over tokens of 100·len+first-codepoint), so the
    entire tokenize-the-corpus result is driver-hashable.

    Scale shape (the production tokenizer amortization): merges are
    applied to the DISTINCT-WORD vocabulary, never to running text — the
    encode cost is bounded by |vocab| × merges × max word length
    regardless of corpus size, and the corpus pays exactly two linear
    passes (the word explode and the broadcast join of per-word token
    stats back to occurrences, followed by one map-side-combined groupBy
    per doc). The vocabulary is encoded in ONE Arrow-batched mapInPandas
    pass (words are independent, so the pass is embarrassingly parallel);
    each word replays the learned merge list through the same
    `_bpe_apply_merge` kernel the trainer uses, so train and apply cannot
    drift; the oracle replays both halves declaratively (the trainer's
    best-pair argmax CTEs feed the vocabulary-side merge chain)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    dwords = (
        docs.select("doc_id", F.explode(ws_tokens()).alias("word"))
        .where(F.col("word") != "")
    )
    vocab = dwords.select("word").distinct()
    merges = [(l, r) for _rnd, l, r, _m, _pf in _bpe_train(spark, sf_dir)]

    def encode_vocab(batches):
        import pandas as pd

        for pdf in batches:
            n_toks, wsums = [], []
            for word in pdf["word"]:
                syms = list(word)
                for lsym, rsym in merges:
                    syms = _bpe_apply_merge(syms, lsym, rsym)
                n_toks.append(len(syms))
                # 100*len + first-codepoint — BPE_TOKEN_WEIGHT_SQL exactly
                wsums.append(sum(100 * len(t) + ord(t[0]) for t in syms))
            yield pd.DataFrame(
                {"word": pdf["word"], "n_toks": n_toks, "wsum": wsums}
            )

    wstats = vocab.mapInPandas(
        encode_vocab, "word string, n_toks long, wsum long"
    )
    return (
        dwords.join(F.broadcast(wstats), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.sum("wsum").cast("bigint").alias("token_weight_sum"),
        )
        .orderBy(F.col("doc_id").asc())
    )
