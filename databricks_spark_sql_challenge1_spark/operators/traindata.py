"""Training-data assembly ops over ``documents`` — extension surface
(SURVEY.md §7): reproducible split assignment and token-budget packing, the
two steps between a filtered corpus (``corpus_filter_pipeline``) and a
training run.

Both are pure expression/window pipelines: no shuffle for the split (a map),
one shuffle for the packing (window over the stratification key) — shapes
that hold at 100 TB. Determinism matters more than randomness here: split
membership must be stable across reruns and engines, so bucketing hashes
md5(doc_id) rather than sampling (the md5 policy of functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import load_table
from databricks_spark_sql_challenge1_spark.functions.hashing import hex_int, hex_int_sql
from databricks_spark_sql_challenge1_spark.functions.text import (
    ngrams,
    ngrams_sql,
    quality_gate,
    quality_gate_sql,
    quality_stats,
    quality_stats_sql,
    ws_tokens,
    ws_tokens_sql,
)
from databricks_spark_sql_challenge1_spark.operators.dedup import (
    _SHINGLES_SQL,
    _distinct_token_md5,
    _shingles_spark,
    _simhash_pairs_sql,
    _simhash_self_pairs,
)
from databricks_spark_sql_challenge1_spark.registry import query

# split: md5 bucket 0-79 train / 80-89 val / 90-99 test
SPLIT_BUCKETS = 100
TRAIN_UPTO = 80
VAL_UPTO = 90


def _doc_bucket(n_buckets: int) -> Column:
    """The md5(doc_id) hash bucket in [0, n_buckets): a pure function of
    doc_id, stable across reruns, engines and partitionings."""
    return hex_int(F.md5(F.col("doc_id").cast("string")), 1, 4) % n_buckets


def _doc_bucket_sql(n_buckets: int) -> str:
    """The DuckDB twin of ``_doc_bucket``."""
    return f"{hex_int_sql('md5(CAST(doc_id AS VARCHAR))', 1, 4)} % {n_buckets}"


def _split(bucket: Column) -> Column:
    """train/val/test of a ``_doc_bucket(SPLIT_BUCKETS)`` bucket."""
    return (
        F.when(bucket < TRAIN_UPTO, F.lit("train"))
        .when(bucket < VAL_UPTO, F.lit("val"))
        .otherwise(F.lit("test"))
    )


_SPLIT_BUCKET_SQL = _doc_bucket_sql(SPLIT_BUCKETS)
_SPLIT_SQL = f"""CASE
         WHEN {_SPLIT_BUCKET_SQL} < {TRAIN_UPTO} THEN 'train'
         WHEN {_SPLIT_BUCKET_SQL} < {VAL_UPTO} THEN 'val'
         ELSE 'test'
       END"""

# packing: whitespace tokens per pack (tiny budget so fixture docs yield
# multi-pack groups; production would use the context length)
PACK_BUDGET = 2048


@query(
    "docs_split_assign",
    oracle=f"""
SELECT doc_id, lang,
       {_SPLIT_BUCKET_SQL} AS bucket,
       {_SPLIT_SQL} AS split
FROM documents
ORDER BY doc_id ASC
""",
)
def docs_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: md5(doc_id) bucket ranges.

    Hash-bucket splitting (not ``sample()``) so membership is reproducible
    across reruns, engines, and data re-partitioning — the property training
    pipelines need for leakage audits. Pure projection: no shuffle, scales
    as a map over the corpus.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    bucket = _doc_bucket(SPLIT_BUCKETS)
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        _split(bucket).alias("split"),
    ).orderBy(F.col("doc_id").asc())


@query(
    "token_budget_pack",
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang, len({ws_tokens_sql()}) AS n_tokens FROM documents
),
c AS (
    SELECT doc_id, lang, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM t
)
SELECT doc_id, lang, n_tokens,
       CAST(CAST(cum_tokens - n_tokens AS BIGINT) // {PACK_BUDGET} AS BIGINT)
           AS pack_id,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c
ORDER BY lang ASC NULLS FIRST, doc_id ASC
""",
)
def token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed token-budget packs per
    language via a running-sum window (pack_id = tokens-before // budget).

    One shuffle on the stratification key; within-partition running sum is
    the classic offline-packing shape. At 100 TB ``lang`` is too coarse a
    partition key — production would sub-shard (lang, md5-bucket) and pack
    within shards; the window algebra is identical.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    n_tokens = F.size(ws_tokens())
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / PACK_BUDGET)
        .cast("bigint")
        .alias("pack_id"),
        cum.cast("bigint").alias("cum_tokens"),
    ).orderBy(F.col("lang").asc(), F.col("doc_id").asc())


# chunking: overlapping fixed-size token windows (tiny sizes so fixture docs
# of ~30-100 tokens yield multiple chunks; production = context length)
CHUNK_TOKENS = 32
CHUNK_STRIDE = 16


@query(
    "docs_chunk_windows",
    oracle=f"""
WITH t AS (SELECT doc_id, {ws_tokens_sql()} AS toks FROM documents),
s AS (
    SELECT doc_id, toks,
           unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE})) AS start
    FROM t
)
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(toks[start + 1:start + {CHUNK_TOKENS}]) AS BIGINT)
           AS n_chunk_tokens,
       array_to_string(toks[start + 1:start + {CHUNK_TOKENS}], ' ')
           AS chunk_text
FROM s
ORDER BY doc_id ASC, chunk_id ASC
""",
)
def docs_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: overlapping CHUNK_TOKENS-token windows every
    CHUNK_STRIDE tokens — the doc→context-window expansion step before
    packing/training.

    Pure narrow pipeline: sequence → transform → explode, all JVM-side
    codegen, no shuffle (the final ORDER BY is presentation-only; a real
    pipeline writes chunks partition-preserving). Output grows by the
    overlap factor (~2× at stride = size/2) — bounded, predictable fan-out
    at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = ws_tokens()
    starts = F.expr(f"sequence(0, size(toks) - 1, {CHUNK_STRIDE})")
    chunk = F.expr(f"slice(toks, start + 1, {CHUNK_TOKENS})")
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .orderBy(F.col("doc_id").asc(), F.col("chunk_id").asc())
    )


# contamination: benchmark stand-in = every 10th doc (fixtures carry no
# held-out eval set); a corpus doc is contaminated when ≥ half its distinct
# 3-gram shingles appear in any benchmark doc.
BENCH_MOD = 10
CONTAMINATION_THRESHOLD = 0.5


def _bench_shingles(spark: SparkSession, sf_dir: str) -> tuple:
    """(sh, bench): all distinct shingles, and the benchmark stand-in's set."""
    sh = _shingles_spark(load_table(spark, sf_dir, "documents", spread=True))
    return sh, sh.where(F.col("doc_id") % BENCH_MOD == 0).select("shingle").distinct()


def _overlap_report(corpus: DataFrame, hit: DataFrame, cols: tuple) -> DataFrame:
    """Per ``corpus`` document: its shingle count, then its overlap count
    ``c`` in ``hit``, their ratio and the threshold flag, named ``cols``."""
    n_hit, ratio, flag = cols
    tot = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    frac = F.coalesce(F.col("c"), F.lit(0)).cast("double") / F.col("n")
    return (
        tot.join(hit, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_shingles"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias(n_hit),
            F.round(frac, 4).alias(ratio),
            (frac >= CONTAMINATION_THRESHOLD).alias(flag),
        )
        .orderBy(F.col("doc_id").asc())
    )


def _overlap_report_sql(cols: tuple) -> str:
    """The DuckDB twin of ``_overlap_report``, over CTEs corpus and hit."""
    n_hit, ratio, flag = cols
    return f"""tot AS (SELECT doc_id, COUNT(*) AS n FROM corpus GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n AS BIGINT) AS n_shingles,
       CAST(COALESCE(h.c, 0) AS BIGINT) AS {n_hit},
       ROUND(CAST(COALESCE(h.c, 0) AS DOUBLE) / t.n, 4) AS {ratio},
       CAST(COALESCE(h.c, 0) AS DOUBLE) / t.n >= {CONTAMINATION_THRESHOLD} AS {flag}
FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
ORDER BY t.doc_id ASC"""


_CONTAMINATION_COLS = ("n_overlap", "contamination", "is_contaminated")
_BLOOM_COLS = ("n_bloom_overlap", "contamination_est", "is_flagged")


@query(
    "docs_contamination",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
hit AS (
    SELECT c.doc_id, COUNT(*) AS c
    FROM corpus c JOIN bench b ON c.shingle = b.shingle
    GROUP BY c.doc_id
),
{_overlap_report_sql(_CONTAMINATION_COLS)}
""",
)
def docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-document fraction of distinct n-gram
    shingles that also occur in the benchmark set.

    The benchmark shingle set is DISTINCT-reduced and broadcast (real eval
    suites are thousands of docs — a few MB of shingle hashes), so the
    check is a broadcast semi-join over the corpus shingles: one shuffle
    for the per-doc counts, no corpus×corpus term. Flagged docs are what a
    training pipeline drops before packing.
    """
    sh, bench = _bench_shingles(spark, sf_dir)
    corpus = sh.where(F.col("doc_id") % BENCH_MOD != 0)
    hit = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return _overlap_report(corpus, hit, _CONTAMINATION_COLS)


# rebalancing: hash-bucket granularity for the per-language keep rate
MIX_BUCKETS = 1000


@query(
    "docs_lang_rebalance",
    oracle=f"""
WITH b AS (
    SELECT doc_id, lang, {_doc_bucket_sql(MIX_BUCKETS)} AS bucket
    FROM documents
),
c AS (SELECT lang, COUNT(*) AS n FROM b GROUP BY lang),
m AS (SELECT MIN(n) AS mn FROM c)
SELECT b.doc_id, b.lang, b.bucket,
       CAST(c.n AS BIGINT) AS lang_docs,
       ROUND(CAST(m.mn AS DOUBLE) / c.n, 4) AS target_rate,
       b.bucket < CAST(m.mn AS DOUBLE) / c.n * {MIX_BUCKETS} AS kept
FROM b JOIN c ON c.lang = b.lang CROSS JOIN m
ORDER BY b.doc_id ASC
""",
)
def docs_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: downsample every language to the smallest
    language's size via deterministic md5-bucket thresholds — the
    domain/language reweighting step of corpus assembly.

    Reproducible like ``docs_split_assign`` (hash thresholds, not
    ``sample()``): membership survives reruns and repartitioning, and the
    realized rate concentrates around the target by the hash's uniformity.
    Shapes: one small groupBy for per-language counts (broadcast back), a
    1×1 scalar cross join for the global min — the corpus-side pass is a
    pure map at any scale.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    b = docs.select("doc_id", "lang", _doc_bucket(MIX_BUCKETS).alias("bucket"))
    c = b.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    m = c.agg(F.min("n").alias("mn"))
    rate = F.col("mn").cast("double") / F.col("n")
    return (
        b.join(F.broadcast(c), "lang")
        .crossJoin(F.broadcast(m))
        .select(
            "doc_id",
            "lang",
            "bucket",
            F.col("n").cast("bigint").alias("lang_docs"),
            F.round(rate, 4).alias("target_rate"),
            (F.col("bucket") < rate * MIX_BUCKETS).alias("kept"),
        )
        .orderBy(F.col("doc_id").asc())
    )


@query(
    "corpus_mixture_weights",
    oracle=f"""
WITH g AS (
    SELECT lang, source,
           COUNT(*) AS n_docs,
           SUM(len({ws_tokens_sql()})) AS n_tokens
    FROM documents
    GROUP BY lang, source
),
tot AS (SELECT SUM(n_tokens) AS total_tokens, COUNT(*) AS n_groups FROM g)
SELECT g.lang, g.source,
       CAST(g.n_docs AS BIGINT) AS n_docs,
       CAST(g.n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(g.n_tokens AS DOUBLE) / tot.total_tokens, 6) AS token_share,
       ROUND(CAST(tot.total_tokens AS DOUBLE) / tot.n_groups / g.n_tokens, 4)
           AS mixture_weight,
       CAST(ceil(CAST(tot.total_tokens AS DOUBLE) / tot.n_groups / g.n_tokens)
            AS BIGINT) AS epochs
FROM g CROSS JOIN tot
ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST
""",
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weight table for corpus assembly: per (lang, source) domain,
    the sampling weight that equalizes every domain's token contribution
    (target = uniform share of the global token budget), plus the integer
    repetition factor (epochs) an over-sampled small domain needs — the
    per-domain numbers a data-mixing scheduler consumes.

    Shapes: one groupBy over the corpus (map-side partial sums), then a 1×1
    scalar cross join — the output is domain-grain (tiny at any corpus
    size), so everything after the first aggregate is driver-free and
    broadcast-cheap. Weights are ROUNDed identically on both engines.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    g = (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size(ws_tokens())).cast("bigint").alias("n_tokens"),
        )
    )
    tot = g.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    target = F.col("total_tokens").cast("double") / F.col("n_groups")
    weight = target / F.col("n_tokens")
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("total_tokens"), 6)
            .alias("token_share"),
            F.round(weight, 4).alias("mixture_weight"),
            F.ceil(weight).cast("bigint").alias("epochs"),
        )
        .orderBy(F.col("lang").asc(), F.col("source").asc())
    )


# Stratified sampling quota: (lang, source) strata span 1-16 docs at sf0.01,
# so 3-per-stratum both downsamples most strata and keeps the small ones
# whole — mixed, non-vacuous output (FIXTURES.md).
SAMPLE_PER_STRATUM = 3


@query(
    "docs_stratified_sample",
    oracle=f"""
SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS sample_rank
FROM (
    SELECT doc_id, lang, source,
           row_number() OVER (PARTITION BY lang, source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                       doc_id ASC) AS rk
    FROM documents
)
WHERE rk <= {SAMPLE_PER_STRATUM}
ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST, sample_rank ASC
""",
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: at most SAMPLE_PER_STRATUM docs per
    (lang, source) stratum, selected by md5(doc_id) order — the reproducible
    equivalent of per-stratum reservoir sampling a corpus-inspection or
    eval-set build uses (same stable-hash policy as ``docs_split_assign``).

    One window per stratum key — a single shuffle on (lang, source); the
    md5 rank makes membership independent of input order and engine, so
    reruns and backfills select the same sample.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "lang", "source")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= SAMPLE_PER_STRATUM)
        .select(
            "doc_id", "lang", "source", F.col("rk").cast("bigint").alias("sample_rank")
        )
        .orderBy(F.col("lang").asc(), F.col("source").asc(), F.col("sample_rank").asc())
    )


# Portable Bloom-filter decontamination: at 100 TB the benchmark shingle SET
# may be too large to broadcast as strings; its Bloom bitmap is a few KB
# regardless. The filter here is built from engine-portable md5 slices so
# DuckDB replays the exact same bits — FPs are deterministic and identical,
# which is what keeps this oracle-checkable (a native bloom_filter_agg
# would be opaque to the oracle). k = 4 probes from the 4 disjoint 8-hex
# slices of md5(shingle); m = 65,536 bits stored as 2,048 32-bit words
# (max shift 31 — bit 63 overflows DuckDB's signed <<).
BLOOM_BITS = 65536
BLOOM_WORD = 32
BLOOM_K = 4  # md5 = 32 hex chars = 4 disjoint 8-char slices


def _bloom_candidates(bench: DataFrame, probed: DataFrame) -> DataFrame:
    """(doc_id, shingle, k_hit) rows of ``probed`` whose BLOOM_K probes all
    hit the Bloom bitmap of the ``bench`` shingles: the exact overlap plus
    the filter's deterministic false positives."""

    def probes(df, keep):
        slices = F.array(
            *[
                (hex_int(F.md5("shingle"), 1 + i * 8, 8) % BLOOM_BITS).alias(f"p{i}")
                for i in range(BLOOM_K)
            ]
        )
        return df.select(
            *keep, F.posexplode(slices).alias("i", "p")
        ).select(
            *keep,
            "i",
            F.expr(f"p div {BLOOM_WORD}").alias("word"),
            F.expr(f"CAST(p % {BLOOM_WORD} AS INT)").alias("bit"),
        )

    bitmap = (
        probes(bench, [])
        .groupBy("word")
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("bits")
        )
    )
    return (
        probes(probed, ["doc_id", "shingle"])
        .join(F.broadcast(bitmap), "word")
        .where(F.expr("(bits >> bit) & 1 = 1"))
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("k_hit"))
        .where(F.col("k_hit") == BLOOM_K)
    )


def _bloom_candidates_sql(bench: str, probed: str) -> str:
    """The DuckDB twin of ``_bloom_candidates``: CTEs ending in
    ``cand(doc_id, shingle)``."""
    p = f"{hex_int_sql('md5(shingle)', '1 + i * 8', 8)} % {BLOOM_BITS}"
    return f"""bprobes AS (
    SELECT {p} AS p
    FROM {bench}, unnest(generate_series(0, {BLOOM_K - 1})) AS t(i)
),
bitmap AS (
    SELECT p // {BLOOM_WORD} AS word,
           bit_or(CAST(1 AS BIGINT) << CAST(p % {BLOOM_WORD} AS INTEGER)) AS bits
    FROM bprobes GROUP BY p // {BLOOM_WORD}
),
cprobes AS (
    SELECT doc_id, shingle, i, {p} AS p
    FROM {probed}, unnest(generate_series(0, {BLOOM_K - 1})) AS t(i)
),
cand AS (
    SELECT c.doc_id, c.shingle
    FROM cprobes c JOIN bitmap b ON b.word = c.p // {BLOOM_WORD}
    WHERE ((b.bits >> CAST(c.p % {BLOOM_WORD} AS INTEGER)) & 1) = 1
    GROUP BY c.doc_id, c.shingle
    HAVING COUNT(*) = {BLOOM_K}
)"""


@query(
    "docs_contamination_bloom",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
{_bloom_candidates_sql("bench", "corpus")},
hit AS (SELECT doc_id, COUNT(*) AS c FROM cand GROUP BY doc_id),
{_overlap_report_sql(_BLOOM_COLS)}
""",
)
def docs_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination — the 100 TB shape of
    ``docs_contamination``: instead of broadcasting the benchmark shingle
    SET (unbounded strings), broadcast its fixed-size Bloom bitmap
    (BLOOM_BITS bits = 8 KB as BLOOM_BITS/BLOOM_WORD packed words,
    regardless of benchmark size) and probe it with BLOOM_K word-indexed
    bit tests per corpus shingle.

    A shingle counts as overlapping when ALL k probes hit — a superset of
    the true overlap (Bloom filters admit false positives, never false
    negatives), so flagged docs ⊇ exactly-contaminated docs: the safe
    direction for decontamination. The filter is engine-portable (md5-slice
    probes, packed 32-bit words via bit_or) so the DuckDB oracle replays
    bit-identical FPs — measured FP on fixtures ≈ 5 / 23,500 probes at
    sf0.01 (theory (1-e^(-kn/m))^k ≈ 0.04%). Exactness relationship to the
    set-based check is additionally pinned in tests/test_extensions.py.

    Scale shape: the bitmap build aggregates bench probes into ≤ 2,048
    word rows (broadcast a few KB); corpus probes join the broadcast
    bitmap on word — narrow, no corpus shuffle until the per-(doc,
    shingle) HAVING-k count and the per-doc rollup, which shuffle the
    match candidates only.
    """
    sh, bench = _bench_shingles(spark, sf_dir)
    corpus = sh.where(F.col("doc_id") % BENCH_MOD != 0)
    matched = _bloom_candidates(bench, corpus)
    hit = matched.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    return _overlap_report(corpus, hit, _BLOOM_COLS)


# --- interchange round-trips ----------------------------------------------


def _roundtrip_checksum(spark, sf_dir, fmt, write, read, sums, distinct):
    """Export the corpus with ``write``, read it back with ``read`` and
    compute an order-insensitive checksum of the re-scan: row count, the
    sums ``sums`` ((column, alias) pairs), the sum of 32-bit md5 prefixes
    of text and the distinct count ``distinct`` (column, alias). The
    oracle computes the same checksum on the source table directly — a
    hash match means the round trip dropped, duplicated, or mangled
    nothing.

    NOTE the deliberate eager side effect: the export runs at query
    CONSTRUCTION time (the re-scan needs the files on disk before any
    action on the returned DataFrame). The export path is deterministic
    per sf_dir and overwritten in place, so repeated bench/driver/test
    invocations reuse one directory instead of leaking corpus-sized
    tempdirs (ADVICE r5)."""
    import hashlib
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents", spread=True)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # User-scoped: a fixed world-writable /tmp name could be raced or
    # squatted by another user on a shared host (ADVICE r6).
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    out = os.path.join(
        tempfile.gettempdir(), f"spark_graft_u{uid}_{fmt}_rt_{tag}", "docs"
    )
    write(docs.repartition(4), out, mode="overwrite")
    return read(spark, out).agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(c).alias(a) for c, a in sums],
        F.sum(hex_int(F.md5("text"), 1, 8)).alias("text_hash_sum"),
        F.count_distinct(distinct[0]).alias(distinct[1]),
    )


def _roundtrip_checksum_sql(sums, distinct) -> str:
    """The DuckDB twin of ``_roundtrip_checksum``, on the source table."""
    cols = "".join(f"       CAST(SUM({c}) AS BIGINT) AS {a},\n" for c, a in sums)
    return f"""
SELECT COUNT(*) AS n_docs,
{cols}       CAST(SUM({hex_int_sql("md5(text)", 1, 8)}) AS BIGINT) AS text_hash_sum,
       COUNT(DISTINCT {distinct[0]}) AS {distinct[1]}
FROM documents
"""


_JSONL_SUMS = (("n_chars", "sum_chars"),)
_JSONL_DISTINCT = ("lang", "n_langs")


@query(
    "jsonl_roundtrip_checksum",
    oracle=_roundtrip_checksum_sql(_JSONL_SUMS, _JSONL_DISTINCT),
)
def jsonl_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-export proof for the JSONL source/sink (sources/ingest.py
    write_jsonl/read_jsonl): export the corpus as gzip JSONL shards, scan
    them back with an EXPLICIT schema (single-pass, no inference), and
    checksum the re-scan (``_roundtrip_checksum``: row count, char total,
    sum of 32-bit md5 prefixes of text, distinct langs).

    Scale: shard count = upstream partitioning (here 4; at 100 TB,
    repartition to task-sized zstd shards); the checksum is one map-side-
    partial aggregate over the re-scan.
    """
    from functools import partial

    from databricks_spark_sql_challenge1_spark.sources.ingest import (
        read_jsonl,
        write_jsonl,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    return _roundtrip_checksum(
        spark,
        sf_dir,
        "jsonl",
        write_jsonl,
        partial(read_jsonl, schema=schema),
        _JSONL_SUMS,
        _JSONL_DISTINCT,
    )


# --- end-to-end corpus assembly -------------------------------------------


@query(
    "corpus_dedup_pipeline",
    oracle="""
WITH stats AS ({STATS}),
canon AS (
    SELECT * FROM (
        SELECT stats.*, MIN(doc_id) OVER (PARTITION BY fp) AS cmin FROM stats
    ) WHERE doc_id = cmin
),
near_dropped AS (
    SELECT DISTINCT doc_2 AS doc_id FROM ({NEAR_PAIRS})
),
kept AS (
    SELECT c.* FROM canon c ANTI JOIN near_dropped d USING (doc_id)
    WHERE {GATE}
),
split_assigned AS (
    SELECT lang, n_tokens, {SPLIT} AS split
    FROM kept
)
SELECT split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
FROM split_assigned
GROUP BY split, lang
ORDER BY split ASC, lang ASC NULLS FIRST
""".format(
        STATS=quality_stats_sql(("doc_id", "lang", "text")),
        NEAR_PAIRS=_simhash_pairs_sql("wide60", "canon"),
        GATE=quality_gate_sql("c"),
        SPLIT=_SPLIT_SQL,
    ),
)
def corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus assembly — the four stages a production training
    corpus actually chains, as ONE declarative plan: exact dedup (keep the
    canonical copy per normalized fingerprint, window-min — one shuffle),
    then near-dup removal on the survivors (60-bit wide SimHash band join,
    greedy drop-the-later-doc rule), then the quality gate (token count +
    punctuation ratio), then deterministic split assignment, aggregated to
    per-(split, lang) document/token counts — the corpus card a data team
    reports after an assembly run.

    Scale: stage boundaries are all narrow except the two dedup shuffles
    (fp window, band join); the near-dup stage runs on the exact-dedup
    SURVIVORS (strictly smaller input), and the greedy drop rule needs no
    connected components — `dedup_cluster_components`/`dedup_keep_best`
    remain the tools when cluster-level survivor policies are required.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    stats = quality_stats(docs, ("doc_id", "lang", "text"))
    w = Window.partitionBy("fp")
    canon = (
        stats.withColumn("cmin", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("cmin"))
        .drop("cmin")
    )
    near_dropped = (
        _simhash_self_pairs(
            "wide60", _distinct_token_md5(canon.select("doc_id", "text"))
        )
        .select(F.col("doc_2").alias("doc_id"))
        .distinct()
    )
    kept = canon.join(near_dropped, "doc_id", "left_anti").where(quality_gate())
    return (
        kept.select(
            _split(_doc_bucket(SPLIT_BUCKETS)).alias("split"), "lang", "n_tokens"
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
        )
        .orderBy(F.col("split").asc(), F.col("lang").asc())
    )


# --- temperature-scaled mixture sampling ----------------------------------

# Sampling temperature for multilingual/domain mixing: q_i ∝ p_i^ALPHA with
# ALPHA in (0, 1) upsamples low-resource strata relative to their natural
# token share without flattening to uniform (ALPHA=1 → natural sampling,
# ALPHA=0 → uniform) — the standard exponential-smoothing rule for
# multilingual LLM pretraining mixtures.
TEMPERATURE_ALPHA = 0.5


@query(
    "corpus_temperature_mixture",
    oracle=f"""
WITH g AS (
    SELECT lang, SUM(len({ws_tokens_sql()})) AS n_tokens
    FROM documents GROUP BY lang
),
tot AS (SELECT SUM(n_tokens) AS total_tokens FROM g),
p AS (
    SELECT g.lang, g.n_tokens,
           CAST(g.n_tokens AS DOUBLE) / tot.total_tokens AS share
    FROM g CROSS JOIN tot
),
z AS (SELECT SUM(power(share, {TEMPERATURE_ALPHA})) AS zsum FROM p)
SELECT p.lang,
       CAST(p.n_tokens AS BIGINT) AS n_tokens,
       ROUND(p.share, 6) AS token_share,
       ROUND(power(p.share, {TEMPERATURE_ALPHA}) / z.zsum, 6) AS sample_prob,
       ROUND(power(p.share, {TEMPERATURE_ALPHA}) / z.zsum / p.share, 4)
           AS boost
FROM p CROSS JOIN z
ORDER BY p.lang ASC NULLS FIRST
""",
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling mixture per language: natural token share
    p_i, temperature-smoothed sampling probability q_i = p_i^α / Σ p_j^α
    (α = TEMPERATURE_ALPHA), and the resulting boost q_i/p_i — how much a
    low-resource language is upsampled relative to natural sampling. The
    complement of ``corpus_mixture_weights`` (uniform target) and
    ``docs_lang_rebalance`` (downsample-to-min): this is the knob real
    multilingual pretraining mixes use between those two extremes.

    Scale shape: one corpus groupBy with map-side partial token sums, then
    two 1×1 scalar broadcasts (total, partition-function Z) over the tiny
    stratum-grain table — nothing after the first aggregate touches corpus
    rows. ROUND on both engines buffers the ulp-level pow/summation drift.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    g = docs.groupBy("lang").agg(
        F.sum(F.size(ws_tokens())).cast("bigint").alias("n_tokens")
    )
    tot = g.agg(F.sum("n_tokens").alias("total_tokens"))
    p = g.crossJoin(F.broadcast(tot)).withColumn(
        "share", F.col("n_tokens").cast("double") / F.col("total_tokens")
    )
    z = p.agg(F.sum(F.pow("share", TEMPERATURE_ALPHA)).alias("zsum"))
    q = F.pow("share", TEMPERATURE_ALPHA) / F.col("zsum")
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "lang",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round("share", 6).alias("token_share"),
            F.round(q, 6).alias("sample_prob"),
            F.round(q / F.col("share"), 4).alias("boost"),
        )
        .orderBy(F.col("lang").asc())
    )


# --- weighted reservoir sample (Efraimidis–Spirakis A-ES) -------------------
# One-pass weighted sampling without replacement: each item gets key
# u^(1/w) for u ~ U(0,1); the k largest keys ARE a weighted sample
# (Efraimidis & Spirakis 2006, "Weighted random sampling with a
# reservoir"). u comes from an engine-portable md5 slice so the "random"
# draw is a pure function of doc_id — reproducible bit-for-bit in DuckDB
# and stable under re-partitioning. We compare in log space
# (ln(u)/w, monotone in u^(1/w)) to avoid pow() underflow at large w.
WRS_SAMPLE_K = 25
_WRS_TWO_52 = float(1 << 52)
# shared arithmetic template — identical text on both engines so the FP
# evaluation order matches exactly (h = 52-bit md5 slice, w = n_chars).
# nullif: a zero-weight (empty) document draws probability 0 — its key is
# NULL on BOTH engines and sorts after every real key (round-13
# fuzz-parity find: bare /0 is NULL in DuckDB but an ANSI abort in Spark)
_WRS_KEY_SQL = f"ln((h + 0.5) / {_WRS_TWO_52!r}) * 1000000.0 / nullif(w, 0)"


@query(
    "docs_weighted_sample",
    oracle=f"""
WITH hw AS (
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w,
           {hex_int_sql("md5('wrs|' || CAST(doc_id AS VARCHAR))", 1, 13)} AS h
    FROM documents
)
SELECT doc_id, lang, w AS weight, ROUND({_WRS_KEY_SQL}, 4) + 0 AS sample_key_e6
FROM hw
ORDER BY sample_key_e6 DESC NULLS LAST, doc_id ASC
LIMIT {WRS_SAMPLE_K}
""",
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (k=25, weight = n_chars) via the A-ES
    key construction — longer documents are proportionally likelier to be
    drawn, membership is a deterministic function of doc_id alone.

    Scale shape: the key is computed inside the scan's codegen stage (md5 +
    scalar arithmetic, no UDF) and selection is TakeOrderedAndProject —
    per-partition top-k heaps merged on the driver (k rows per partition,
    never a global sort). That is exactly the distributed form of reservoir
    sampling: A-ES keys are mergeable by construction, so the same plan
    holds on a 1000-executor cluster (each executor ships its k best keys).
    A zero-weight (empty) document draws probability 0: nullif in the
    shared key template makes its key NULL on both engines, sorted last
    explicitly. Key reported ×10⁶ (``sample_key_e6``) so ROUND(…,4) keeps
    precision for the near-zero winning keys; ``+ 0`` immunizes the
    DuckDB side against -0.0 (CLAUDE.md rounding rule).
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    hw = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("w"),
        hex_int(
            F.md5(F.concat(F.lit("wrs|"), F.col("doc_id").cast("string"))), 1, 13
        ).alias("h"),
    )
    key = F.expr(_WRS_KEY_SQL)
    # Sample MEMBERSHIP is decided on the ROUNDED key (ADVICE r9): ln()
    # may differ by an ulp between DuckDB's libm and the JVM, and a raw-
    # double order at the k boundary would then pick different row sets.
    # ROUND(…,4) + doc_id tiebreak is drift-immune on both engines.
    return (
        hw.select(
            "doc_id",
            "lang",
            F.col("w").alias("weight"),
            (F.round(key, 4) + F.lit(0)).alias("sample_key_e6"),
        )
        .orderBy(F.col("sample_key_e6").desc_nulls_last(), F.col("doc_id").asc())
        .limit(WRS_SAMPLE_K)
    )


# --- ORC interchange round-trip --------------------------------------------


_ORC_SUMS = (("doc_id", "doc_id_sum"), ("n_chars", "sum_chars"))
_ORC_DISTINCT = ("source", "n_sources")


@query(
    "orc_roundtrip_checksum",
    oracle=_roundtrip_checksum_sql(_ORC_SUMS, _ORC_DISTINCT),
)
def orc_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-export proof for the ORC source/sink (sources/ingest.py
    write_orc/read_orc) — the columnar sibling of
    ``jsonl_roundtrip_checksum``: export the corpus as zstd ORC shards,
    scan them back (schema rides in the ORC footer — no inference pass,
    unlike JSONL), and compute an order-insensitive corpus checksum (row
    count, doc_id and char sums, sum of 32-bit md5 prefixes of text,
    distinct sources; ``_roundtrip_checksum``, eager export included).

    Scale: ORC keeps parquet's scan contract (footer schema, column
    pruning, predicate pushdown through the same V1 scan machinery), so
    swapping the corpus between the two formats changes storage bytes,
    not plans; the checksum is one map-side-partial aggregate over the
    re-scan.
    """
    from databricks_spark_sql_challenge1_spark.sources.ingest import (
        read_orc,
        write_orc,
    )

    return _roundtrip_checksum(
        spark, sf_dir, "orc", write_orc, read_orc, _ORC_SUMS, _ORC_DISTINCT
    )


# --- DSIR-style importance-resampling weights -------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023): score every
# document by how much more likely its hashed n-gram features are under a
# TARGET domain than under the corpus-wide PROPOSAL distribution —
# log w(d) = Σ_b n_d[b]·(ln p_target[b] − ln p_proposal[b]) over hashed
# feature buckets. Target here = the 'en' slice (the fixture's stand-in
# for "high-quality reference domain"); features = word bigrams hashed
# into DSIR_BUCKETS via the repo's portable md5 slice; Laplace +1
# smoothing on both distributions.
#
# Engine-parity design: the per-BUCKET log-ratio is rounded once into
# integer micro-units (×10⁶) inside the 64-row distribution table — a
# single deterministic value per bucket, no summation involved — and the
# per-document weight is then a BIGINT sum of those integers, which is
# EXACT and order-free on both engines (the integer-cents rule from
# CLAUDE.md applied to log-space).
DSIR_BUCKETS = 64
DSIR_TARGET_LANG = "en"


@query(
    "docs_dsir_weights",
    oracle=f"""
WITH bg AS ({ngrams_sql(2, "bigram", ("doc_id", "lang"), lower=True)}),
tb AS (
    SELECT doc_id, lang,
           {hex_int_sql("md5(bigram)", 1, 8)} % {DSIR_BUCKETS} AS bucket
    FROM bg
),
spine AS (SELECT unnest(generate_series(0, {DSIR_BUCKETS - 1})) AS bucket),
tcnt AS (SELECT bucket, COUNT(*) AS ct FROM tb
         WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket),
pcnt AS (SELECT bucket, COUNT(*) AS cp FROM tb GROUP BY bucket),
tot AS (
    SELECT CAST((SELECT COUNT(*) FROM tb WHERE lang = '{DSIR_TARGET_LANG}')
               AS DOUBLE) AS nt,
           CAST((SELECT COUNT(*) FROM tb) AS DOUBLE) AS np
),
dist AS (
    SELECT s.bucket,
           CAST(ROUND((ln((COALESCE(t.ct, 0) + 1.0) / (tot.nt + {DSIR_BUCKETS}.0))
                       - ln((COALESCE(p.cp, 0) + 1.0) / (tot.np + {DSIR_BUCKETS}.0)))
                      * 1000000.0) AS BIGINT) AS term_e6
    FROM spine s
    LEFT JOIN tcnt t ON t.bucket = s.bucket
    LEFT JOIN pcnt p ON p.bucket = s.bucket
    CROSS JOIN tot
),
w AS (
    SELECT tb.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(d.term_e6) AS BIGINT) AS weight_e6
    FROM tb JOIN dist d ON d.bucket = tb.bucket
    GROUP BY tb.doc_id
)
SELECT doc.doc_id, doc.lang,
       CAST(COALESCE(w.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(w.weight_e6, 0) AS BIGINT) AS weight_e6,
       (COALESCE(w.weight_e6, 0) > 0) AS target_leaning
FROM documents doc LEFT JOIN w ON w.doc_id = doc.doc_id
ORDER BY doc.doc_id ASC
""",
)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights: hashed-bigram features scored
    by the target-vs-proposal log-likelihood ratio, Laplace-smoothed.
    Positive ``weight_e6`` = the document's feature profile looks more
    like the target domain than the corpus average — the resampling
    score a DSIR selection pass feeds into weighted sampling
    (``docs_weighted_sample`` is exactly the companion operator).

    Scale shape: one explode to bigram grain (the only corpus-sized
    shuffle — map-side combinable counts at bucket grain), a
    {DSIR_BUCKETS}-row distribution table built from two aggregates and
    broadcast back, and a per-document BIGINT sum. The log-ratio is
    rounded ONCE per bucket into integer micro-units, so the
    per-document aggregation is exact integer arithmetic — deterministic
    under any partitioning, any engine, any summation order; no
    floating-point ever crosses a shuffle boundary.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    bg = ngrams(docs, 2, "bigram", ("doc_id", "lang"), lower=True)
    tb = bg.select(
        "doc_id",
        "lang",
        (hex_int(F.md5("bigram"), 1, 8) % DSIR_BUCKETS).alias("bucket"),
    )
    spine = spark.range(DSIR_BUCKETS).select(F.col("id").alias("bucket"))
    tcnt = (
        tb.where(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    pcnt = tb.groupBy("bucket").agg(F.count(F.lit(1)).alias("cp"))
    tot = tb.agg(
        F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0))
        .cast("double")
        .alias("nt"),
        F.count(F.lit(1)).cast("double").alias("np"),
    )
    term = (
        F.log(
            (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
            / (F.col("nt") + float(DSIR_BUCKETS))
        )
        - F.log(
            (F.coalesce(F.col("cp"), F.lit(0)) + 1.0)
            / (F.col("np") + float(DSIR_BUCKETS))
        )
    )
    dist = (
        spine.join(tcnt, "bucket", "left")
        .join(pcnt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(term * 1000000.0, 0).cast("bigint").alias("term_e6"),
        )
    )
    w = (
        tb.join(F.broadcast(dist), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("term_e6").cast("bigint").alias("weight_e6"),
        )
    )
    return (
        docs.select("doc_id", "lang")
        .join(w, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce(F.col("weight_e6"), F.lit(0)).cast("bigint").alias("weight_e6"),
            (F.coalesce(F.col("weight_e6"), F.lit(0)) > 0).alias("target_leaning"),
        )
        .orderBy(F.col("doc_id").asc())
    )


# Incremental contamination admission (VERDICT r10 #4c): the per-batch
# shape of decontamination — ``dedup_incremental``'s O(batch) admission
# economics applied to the benchmark-overlap check. A daily ingest batch
# probes the PRECOMPUTED benchmark Bloom bitmap (stage 1, broadcast ~8 KB,
# no false negatives) and only the bloom-POSITIVE (doc, shingle)
# candidates — true overlaps plus the deterministic FP handful — reach the
# exact shingle equi-join (stage 2), which removes the FPs and restores
# exact set semantics. Cost: O(batch shingles) bitmap probes + an exact
# join whose left side is the candidate set, never the corpus; at 100 TB
# the bench shingle index is a bucketed table the candidates join against.
CONTAM_BATCH_RESIDUE = 1  # "today's batch" = doc_id % BENCH_MOD == 1


@query(
    "docs_contamination_incremental",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
batch AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} = {CONTAM_BATCH_RESIDUE}),
{_bloom_candidates_sql("bench", "batch")},
exact AS (
    SELECT c.doc_id, COUNT(*) AS x
    FROM cand c JOIN bench b ON b.shingle = c.shingle
    GROUP BY c.doc_id
),
ncand AS (SELECT doc_id, COUNT(*) AS k FROM cand GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n FROM batch GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n AS BIGINT) AS n_shingles,
       CAST(COALESCE(k.k, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(e.x, 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(k.k, 0) - COALESCE(e.x, 0) AS BIGINT) AS fp_filtered,
       ROUND(CAST(COALESCE(e.x, 0) AS DOUBLE) / t.n, 4) AS contamination,
       CAST(COALESCE(e.x, 0) AS DOUBLE) / t.n >= {CONTAMINATION_THRESHOLD}
           AS is_contaminated
FROM tot t
LEFT JOIN ncand k ON k.doc_id = t.doc_id
LEFT JOIN exact e ON e.doc_id = t.doc_id
ORDER BY t.doc_id ASC
""",
)
def docs_contamination_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (per-batch) benchmark decontamination [Q-contam-inc]:
    the ingest batch (doc_id % {BENCH_MOD} == {CONTAM_BATCH_RESIDUE})
    probes the broadcast benchmark Bloom bitmap first, then ONLY the
    bloom-positive (doc, shingle) candidates are confirmed by the exact
    shingle equi-join — Bloom's no-false-negative guarantee means the
    confirmed set IS the exact overlap (pinned against
    ``docs_contamination`` in tests/test_extensions.py), while the FP
    handful the exact join removes is surfaced per doc (``fp_filtered``).

    Composes ``docs_contamination_bloom``'s portable md5-slice bitmap
    (identical bits on both engines, deterministic FPs) with
    ``dedup_incremental``'s batch-admission economics: stage 1 touches
    only the batch's shingles against an 8 KB broadcast, stage 2's join
    left side is the candidate set (overlap + FPs), never the corpus —
    at 100 TB the benchmark shingle index is a bucketed table the tiny
    candidate relation joins against, and each daily batch pays
    O(batch), not O(corpus).
    """
    sh, bench = _bench_shingles(spark, sf_dir)
    batch = sh.where(F.col("doc_id") % BENCH_MOD == CONTAM_BATCH_RESIDUE)
    cand = _bloom_candidates(bench, batch)
    exact = (
        cand.join(bench, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    ncand = cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("k"))
    tot = batch.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x = F.coalesce(F.col("x"), F.lit(0))
    k = F.coalesce(F.col("k"), F.lit(0))
    frac = x.cast("double") / F.col("n")
    return (
        tot.join(ncand, "doc_id", "left")
        .join(exact, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_shingles"),
            k.cast("bigint").alias("n_candidates"),
            x.cast("bigint").alias("n_exact"),
            (k - x).cast("bigint").alias("fp_filtered"),
            F.round(frac, 4).alias("contamination"),
            (frac >= CONTAMINATION_THRESHOLD).alias("is_contaminated"),
        )
        .orderBy(F.col("doc_id").asc())
    )
