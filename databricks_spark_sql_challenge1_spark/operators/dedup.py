"""Deduplication over ``documents`` — extension surface (SURVEY.md §7):
exact (hash-groupBy), normalized fingerprint, n-gram Jaccard near-dup,
SimHash near-dup, and MinHash+LSH (spark.ml; rows-only check).

Hash-function policy: everything oracle-checked hashes via md5 (identical
hex output in Spark and DuckDB); token hashes for SimHash are the first 8
md5 hex chars parsed as a 32-bit integer — reproducible bit-for-bit on both
engines. spark.ml's MinHashLSH uses JVM-internal hashes → rows-only entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import load_table
from databricks_spark_sql_challenge1_spark.registry import query

SHINGLE_N = 3  # word 3-grams
JACCARD_THRESHOLD = 0.2
# Document-frequency cut for the inverted-index join: a shingle present in
# more than this many documents (stopword trigrams at corpus scale) is
# dropped from BOTH the index and the Jaccard universe. A hot shingle with
# df=d contributes d·(d-1)/2 candidate pairs, so the cut bounds per-shingle
# join fan-out at CAP²/2 regardless of corpus size — the standard skew
# guard for shingle-based near-dup at web scale. Mirrored bit-for-bit in
# the DuckDB oracle (same cut, same universe), so parity is exact.
NGRAM_DF_CAP = 128
SIMHASH_BITS = 32
# The fixture documents draw from a tiny shared vocabulary, so signatures
# cluster tightly; Hamming ≤ 3 keeps the near-dup output meaningfully sparse
# (≤ 6 marks nearly half of all pairs "near-dup" on this corpus).
HAMMING_MAX = 3


@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS text_hash,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS canonical_doc_id
FROM documents
GROUP BY text
ORDER BY text_hash ASC
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the full text, canonical = min doc_id.

    At 100 TB this is the standard one-shuffle dedup: group on md5(text)
    (fixed-width key → smaller shuffle than raw text) with partial
    aggregation map-side.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        docs.groupBy("text")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .select(
            F.md5("text").alias("text_hash"), "n_copies", "canonical_doc_id"
        )
        .orderBy(F.col("text_hash").asc())
    )


@query(
    "dedup_fingerprint",
    oracle="""
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_doc_id
FROM documents
GROUP BY 1
ORDER BY fingerprint ASC
""",
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-fingerprint dedup (case/whitespace-insensitive)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    fp = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    return (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .orderBy(F.col("fingerprint").asc())
    )


def _shingles_spark(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct word-3-grams, all JVM-side array ops.

    Docs with fewer than SHINGLE_N tokens are FILTERED, not clamped
    (the docs_substring_dedup idiom): Spark's ``sequence(1, 0)`` yields a
    DESCENDING [1, 0] — its 0 would reach ``slice(start=0)`` and error —
    while the oracle's ``generate_series(1, 0)`` is empty. Short docs have
    no shingle on either engine either way (round-13 fuzz-parity find)."""
    toks = F.split(F.trim("text"), r"\s+")
    shingles = F.expr(
        f"transform(sequence(1, size(tokens) - {SHINGLE_N - 1}), "
        f"i -> array_join(slice(tokens, i, {SHINGLE_N}), ' '))"
    )
    return (
        docs.select("doc_id", toks.alias("tokens"))
        .where(F.size("tokens") >= SHINGLE_N)
        .select("doc_id", F.explode(shingles).alias("shingle"))
        .distinct()
    )


_SHINGLES_SQL = f"""
    SELECT DISTINCT doc_id, shingle
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - {SHINGLE_N - 1}, 0)),
                   i -> array_to_string(toks[i:i+{SHINGLE_N - 1}], ' '))) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
              FROM documents)
    )
"""


# Shared inverted-index CTE chain (hot-shingle DF-cut applied to BOTH the
# index and the per-doc set sizes) ending in ``scored`` — one unrounded
# (doc_1, doc_2, cont, jac) row per shingle-sharing pair. Both n-gram
# metrics and the consolidated method surface's oracle read from it, so
# the legs can never desync.
_NGRAM_SCORED_SQL = f"""sh0 AS ({_SHINGLES_SQL}),
hot AS (SELECT shingle FROM sh0 GROUP BY shingle
        HAVING COUNT(*) > {NGRAM_DF_CAP}),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 ANTI JOIN hot USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_1, b.doc_id AS doc_2, COUNT(*) AS c
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
scored AS (
    SELECT doc_1, doc_2,
           CAST(c AS DOUBLE) / least(s1.n, s2.n) AS cont,
           CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jac
    FROM common
    JOIN sizes s1 ON s1.doc_id = doc_1
    JOIN sizes s2 ON s2.doc_id = doc_2
)"""


# Round-15 capacity policy: DEREGISTERED as a standalone name — its rows
# ride verbatim as the ``jaccard`` leg of ``dedup_ngram_methods`` (which
# shares the scored-pair pipeline bit-for-bit), freeing a rotation slot.
# The callable stays importable for the plan sweep and the leg-equality
# pin in tests/test_extensions.py.
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup: shingle → inverted-index self-join →
    |∩| / |∪|. The shingle equi-join IS the blocking step: only documents
    sharing at least one shingle ever meet, so the pair space stays sparse
    at scale (vs a quadratic crossJoin).

    Hot-shingle DF-cut (round 5): shingles with document frequency >
    NGRAM_DF_CAP are removed from the index AND the per-doc set sizes, so
    Jaccard is defined over the pruned shingle universe on both engines.
    The hot list is tiny by construction (only keys with df > CAP), so it
    ships as a broadcast left_anti join — no extra shuffle of the index.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return _ngram_jaccard(docs, NGRAM_DF_CAP)


def _ngram_scored(docs: DataFrame, df_cap: int) -> DataFrame:
    """The shared n-gram pair pipeline (mirror of _NGRAM_SCORED_SQL): DF-cut
    inverted index → shingle equi-join → one UNROUNDED (doc_1, doc_2, cont,
    jac) row per shingle-sharing pair. Both metric legs and the registered
    method surface filter/round from this single plan, so consolidating
    the two retired standalone names also removed a full second pass over
    the shingle index. Factored on ``df_cap`` so the binding-cap path
    (non-binding on the fixture corpus, max shingle df ≪ CAP) is unit-
    testable on synthetic hot-shingle data (tests/test_extensions.py)."""
    sh0 = _shingles_spark(docs)
    hot = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("shingle")
    )
    sh = sh0.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_1"), F.col("b.doc_id").alias("doc_2")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    cont = F.col("c").cast("double") / F.least(F.col("s1.n"), F.col("s2.n"))
    jac = F.col("c").cast("double") / (F.col("s1.n") + F.col("s2.n") - F.col("c"))
    return (
        common.join(s1, F.col("s1.doc_id") == F.col("doc_1"))
        .join(s2, F.col("s2.doc_id") == F.col("doc_2"))
        .select("doc_1", "doc_2", cont.alias("cont"), jac.alias("jac"))
    )


def _ngram_jaccard(docs: DataFrame, df_cap: int) -> DataFrame:
    """The jaccard leg in its retired standalone shape (kept for tests)."""
    s = _ngram_scored(docs, df_cap)
    return (
        s.where(F.col("jac") >= JACCARD_THRESHOLD)
        .select("doc_1", "doc_2", F.round("jac", 4).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), F.col("doc_1").asc(), F.col("doc_2").asc())
    )


# --- SimHash ---------------------------------------------------------------


def _simhash_exprs_spark(n_bits: int = SIMHASH_BITS, col: str = "h") -> str:
    """SUM-of-sign per bit, then recombine: Spark SQL expression string.
    Identical text is valid DuckDB SQL — both engines share the algebra."""
    bits = " + ".join(
        f"(CASE WHEN sum(CASE WHEN ({col} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(n_bits)
    )
    return bits


def _simhash_sql_duckdb() -> str:
    bits = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
    SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
    FROM documents
),
hashed AS (
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) AS BIGINT) AS h
    FROM toks
)
SELECT doc_id, {bits} AS simhash
FROM hashed
GROUP BY doc_id
ORDER BY doc_id ASC
"""



def _distinct_token_md5(docs: DataFrame) -> DataFrame:
    """(doc_id, hx): md5 hex of each DISTINCT (doc_id, token) — the shared
    prefix of every SimHash signature width (round-18: the 32/60/88-bit
    legs of ``dedup_simhash_methods`` all tokenize + distinct + md5 the
    corpus identically and then slice different hex ranges; the distinct
    runs BEFORE hashing so the dedup key is the token itself)."""
    return (
        docs.select(
            "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
        )
        .distinct()
        .select("doc_id", F.md5("tok").alias("hx"))
    )


# The registered oracle strips the helper's top-level ORDER BY: the
# registered form is deliberately UNSORTED (below), so a declared output
# order in the oracle is a contract the Spark side never promises — the
# r18 layout campaign caught exactly that (the single-file fixture
# happened to reproduce doc_id order; a resharded warehouse does not,
# and the ordered compare in tools/parity_names.run / the layout contract
# test rightly flagged it). Value-identical under the driver's
# sorted-row hash compare; the sorted presentation variant is
# ``text_simhash`` below.
@query(
    "text_simhash",
    oracle=_simhash_sql_duckdb().replace("ORDER BY doc_id ASC", ""),
)
def _text_simhash_unsorted(
    spark: SparkSession, sf_dir: str, _toks: DataFrame | None = None
) -> DataFrame:
    """``text_simhash`` without the presentation sort — the building-block
    form for downstream joins/bands, where a global range-partitioning
    sort before a shuffle is pure waste at scale. ``_toks`` injects the
    shared (doc_id, hx) token frame (see ``_distinct_token_md5``)."""
    if _toks is None:
        _toks = _distinct_token_md5(
            load_table(spark, sf_dir, "documents", spread=True)
        )
    toks = _toks.withColumn(
        "h", F.conv(F.substring("hx", 1, 8), 16, 10).cast("bigint")
    )
    return toks.groupBy("doc_id").agg(
        F.expr(_simhash_exprs_spark()).alias("simhash")
    )


def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash over distinct whitespace tokens.

    Token hash = first 8 md5 hex chars as int (engine-portable); bit b of
    the signature = sign of Σ ±1 over token-hash bit b. One explode + one
    groupBy — a single shuffle on doc_id at any scale.
    """
    return _text_simhash_unsorted(spark, sf_dir).orderBy(
        F.col("doc_id").asc()
    )


def _simhash_bands(
    sig: DataFrame, n_bits: int = SIMHASH_BITS, h_max: int = HAMMING_MAX
) -> DataFrame:
    """Explode a (doc_id, simhash) frame into pigeonhole bands.

    h_max + 1 bands: two signatures within Hamming distance h_max must
    agree exactly on ≥ 1 band, so an equi-join on (band_id, band_val)
    yields a candidate superset with no N² term.
    """
    n_bands = h_max + 1
    band_width = n_bits // n_bands  # default 4 bands × 8 bits
    band_mask = (1 << band_width) - 1
    return sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.expr(
                            f"(simhash >> {b * band_width}) & {band_mask}"
                        ).alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.band_val")


def _first_agreeing_band_sql(x: str, n: int, width: int, mask: int) -> str:
    """SQL CASE: smallest band index of ``x`` (an XOR of two signatures)
    whose ``width``-bit slice is all zeros. Well-defined whenever the two
    signatures are within Hamming ≤ n-1 (pigeonhole); the ELSE branch only
    fires on rows the exact Hamming filter discards anyway."""
    whens = " ".join(
        f"WHEN (({x} >> {b * width}) & {mask}) = 0 THEN {b}"
        for b in range(n - 1)
    )
    return f"(CASE {whens} ELSE {n - 1} END)"


def _simhash_true_pairs(
    sig: DataFrame, n_bits: int = SIMHASH_BITS, h_max: int = HAMMING_MAX
) -> DataFrame:
    """Exact near-dup pairs (doc_1, doc_2, hamming ≤ HAMMING_MAX), each
    emitted EXACTLY ONCE with no post-join distinct: a pair matching on
    several bands is kept only where band_id equals its FIRST agreeing
    band — computable from sh1 XOR sh2 on the joined row, so multi-band
    duplicates are dropped by a per-row expression instead of a shuffle
    over the full pair set.

    Measured alternatives (sf0.1, local[32], BENCH_NOTES.md §simhash r4):
    post-join ``.distinct()`` (previous shape) — equal cold, slower warm
    (the distinct re-shuffles ~6M matched rows); a second pigeonhole level
    splitting dense buckets on the out-of-band bits — SLOWER here, because
    the fixture's 3,058-doc hot bucket is true-dup-dominated (blocking can
    never cut below the true pair count) while the sub-band explode adds
    4× rows and wider join keys; a bloom/singleton bucket pre-pass —
    pointless (singleton buckets emit zero join rows; 134 of 537 buckets).
    At a real corpus where hot buckets are boilerplate-driven (few true
    pairs), the sub-band level becomes the right lever; it is kept in git
    history (commit adding it) and SCALE.md documents the trigger."""
    n_bands = h_max + 1
    band_width = n_bits // n_bands
    band_mask = (1 << band_width) - 1
    bands = _simhash_bands(sig, n_bits, h_max)
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.expr("bit_count(a.simhash ^ b.simhash)")
    first_band = _first_agreeing_band_sql(
        "(a.simhash ^ b.simhash)", n_bands, band_width, band_mask
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(ham <= h_max)
        .where(F.expr(f"a.band_id = {first_band}"))
        .select(
            F.col("a.doc_id").alias("doc_1"),
            F.col("b.doc_id").alias("doc_2"),
            ham.cast("int").alias("hamming"),
        )
    )


# Oracle kept as a module constant: since r13 the three SimHash pair scans
# register through the consolidated ``dedup_simhash_methods`` (capacity
# policy, same move as similarity_ann_methods), which unions these
# verbatim — each method's SQL stays single-sourced.
_SIMHASH_PAIRS_ORACLE_SQL = f"""
WITH sig AS ({_simhash_sql_duckdb().replace("ORDER BY doc_id ASC", "")})
SELECT a.doc_id AS doc_1, b.doc_id AS doc_2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


def dedup_simhash_pairs(
    spark: SparkSession, sf_dir: str, _toks: DataFrame | None = None
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ HAMMING_MAX.

    Scale path, exact: band-blocked candidate generation — the 32-bit
    signature splits into HAMMING_MAX+1 bands; by pigeonhole, two
    signatures within Hamming distance HAMMING_MAX MUST agree exactly on
    ≥ 1 band, so an equi-join on (band_id, band_value) produces a candidate
    superset. The exact bit_count filter keeps the true pairs, each
    emitted exactly once (first-agreeing-band rule in
    ``_simhash_true_pairs`` — no post-join distinct shuffle). Result is
    identical to the quadratic all-pairs join (the DuckDB oracle), but the
    join is an equi-join: no crossJoin, shuffles on band buckets only.
    """
    # Round-18: the unsorted signature form — the former sorted variant
    # paid a global range-partitioning sort that the band explode/join
    # immediately discards (exactly the waste _text_simhash_unsorted's
    # docstring names); the pair SET is order-independent.
    sig = _text_simhash_unsorted(spark, sf_dir, _toks=_toks).localCheckpoint()
    return _simhash_true_pairs(sig)


# Wide-signature variant: SCALE.md's round-5 growth curve measured the
# 32-bit/8-bit-band configuration saturating (256 band values → every
# bucket dense at 20 k docs). The 100 TB configuration is a wider
# signature with wider bands; 60 bits (= 15 md5 hex chars, fits signed
# 64-bit arithmetic on BOTH engines — same trick as the 60-bit rolling
# fingerprint) gives 4 bands × 15 bits → 32,768 band values.
SIMHASH_WIDE_BITS = 60

# Saturation guards (round-8, closing VERDICT r7 "What's wrong" #1/#2):
# both fixed-band variants below are retained as the measured fixture-scale
# baselines, but their band spaces are FIXED, so candidate volume
# Σ|bucket|² goes quadratic once the corpus outgrows them — measured, not
# hypothesized (SCALE.md r7 addendum §3: 60-bit SimHash knee ≈ 8·10⁴ docs,
# 1.1 s → 8.4 s in one doubling; r5 curve: 6-bit embedding LSH at
# 4.9×/doubling past ~10⁴ vectors). A copy-paste user must not be able to
# run them past the knee: each counts its corpus first (a cheap
# count-star, the bounded anchor-pull pattern) and raises toward the
# adaptive sibling — whose band space grows with log₂ N and is measured
# flat 1×–16× — instead of silently going quadratic.
SIMHASH_WIDE_SATURATION_DOCS = 80_000
EMB_LSH_SATURATION_VECS = 10_000


def _guard_fixed_band_corpus(n: int, knee: int, name: str, adaptive: str) -> None:
    """Raise-style saturation guard — kept ONLY for fixed-band baselines
    whose output contract the adaptive sibling cannot reproduce (r9,
    VERDICT r8 #5: `dedup_simhash_wide_pairs` emits exact Hamming over the
    60-bit signature, while the adaptive sibling hams an 88-bit one — the
    values differ, so silent delegation would change results). Variants
    whose contract DOES match delegate instead (see `dedup_embedding_lsh`)."""
    if n > knee:
        raise ValueError(
            f"{name}: corpus size {n} exceeds the measured band-saturation "
            f"knee ({knee}) of this fixed-band baseline — candidate volume "
            f"goes quadratic past it (SCALE.md). Use {adaptive}, whose "
            "band space adapts to corpus size and is measured flat 1x-16x "
            f"(not auto-delegated: {adaptive}'s signature width differs, "
            "so its hamming values are a different exact relation)."
        )


def _simhash_wide_sig(
    docs: DataFrame, _toks: DataFrame | None = None
) -> DataFrame:
    """(doc_id, simhash) with a 60-bit signature over distinct tokens."""
    if _toks is None:
        _toks = _distinct_token_md5(docs)
    toks = _toks.withColumn(
        "h", F.conv(F.substring("hx", 1, 15), 16, 10).cast("bigint")
    )
    return toks.groupBy("doc_id").agg(
        F.expr(_simhash_exprs_spark(SIMHASH_WIDE_BITS)).alias("simhash")
    )


_SIMHASH_WIDE_ORACLE_SQL = f"""
WITH toks AS (
    SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
    FROM documents
),
hashed AS (
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5(tok), 1, 15) AS UBIGINT) AS BIGINT) AS h
    FROM toks
),
sig AS (
    SELECT doc_id, {_simhash_exprs_spark(SIMHASH_WIDE_BITS)} AS simhash
    FROM hashed GROUP BY doc_id
)
SELECT a.doc_id AS doc_1, b.doc_id AS doc_2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


def dedup_simhash_wide_pairs(
    spark: SparkSession, sf_dir: str, _toks: DataFrame | None = None
) -> DataFrame:
    """Near-dup pairs on the 60-bit wide SimHash — the measured 100 TB
    configuration of ``dedup_simhash_pairs``.

    Round 5's growth curve (SCALE.md) showed the 32-bit signature's 8-bit
    bands saturating: 256 possible band values means every bucket is dense
    once the corpus passes ~10 k docs, and candidate volume grows
    quadratically regardless of true-dup density. With 15-bit bands
    (32,768 values) random band collisions stay rare until ~10⁶ docs per
    partition-disjoint corpus shard, and the candidate set tracks true
    pairs again (measured on the decorrelated 4× replica: cross-replica
    pair count collapses vs the 32-bit variant). Same band-blocked
    equi-join + first-agreeing-band emission; the exact Hamming filter
    makes the result identical to the oracle's quadratic all-pairs join.

    Scale posture (r8): the 4×15-bit band space is fixed, and the round-7
    sink-mode curve measured it saturating at ~8·10⁴ docs — so this
    baseline now guards its corpus size and raises toward
    ``dedup_simhash_adaptive`` (log₂N-derived band prefix, measured flat)
    past the knee rather than going quadratic.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    _guard_fixed_band_corpus(
        docs.count(),
        SIMHASH_WIDE_SATURATION_DOCS,
        "dedup_simhash_wide_pairs",
        "dedup_simhash_adaptive",
    )
    sig = _simhash_wide_sig(docs, _toks=_toks).localCheckpoint()
    return _simhash_true_pairs(sig, SIMHASH_WIDE_BITS, HAMMING_MAX)


# Incremental split: the fixture has no arrival timestamp on documents, so
# doc_id % 5 == 0 stands in for "today's incoming batch" (20% of the corpus)
# vs the already-ingested 80%. Fixtures contain NO exact-duplicate texts
# (verified: 0 groups with count>1), so incremental dedup is defined on the
# SimHash near-dup relation — the realistic production check anyway.
INCREMENTAL_MOD = 5


@query(
    "dedup_incremental",
    oracle=f"""
WITH sig AS ({_simhash_sql_duckdb().replace("ORDER BY doc_id ASC", "")}),
inc AS (SELECT * FROM sig WHERE doc_id % {INCREMENTAL_MOD} = 0),
ex  AS (SELECT * FROM sig WHERE doc_id % {INCREMENTAL_MOD} <> 0),
hits AS (
    SELECT i.doc_id, COUNT(*) AS n
    FROM inc i JOIN ex e
      ON bit_count(xor(i.simhash, e.simhash)) <= {HAMMING_MAX}
    GROUP BY i.doc_id
)
SELECT i.doc_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_near_dups,
       COALESCE(h.n, 0) > 0 AS is_dup
FROM inc i LEFT JOIN hits h ON h.doc_id = i.doc_id
ORDER BY i.doc_id ASC
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: flag incoming docs with a near-dup already in the
    ingested corpus (SimHash Hamming ≤ HAMMING_MAX), keep the rest.

    Same band-blocked equi-join as ``dedup_simhash_pairs`` but across the
    incoming/existing split — candidate generation touches only docs that
    collide on a band, so the incremental check costs O(batch) shuffles,
    not O(corpus²). At 100 TB the existing side's band table is a
    precomputed, bucketed index the daily batch joins against.

    Round-19 shape (VERDICT r18 #7): the signature frame feeds THREE plan
    references (incoming bands, existing bands, the incoming left-join
    back), and the r9-r18 form evaluated the tokenize+md5+simhash subtree
    once per SIDE (the incoming cache only covered its own two uses). One
    localCheckpoint of the (doc_id, simhash) frame — n_docs tiny rows,
    eager, recomputed per call — feeds both sides: one corpus pass total.
    Multi-band pair duplicates are dropped by the per-row
    first-agreeing-band rule instead of a post-join ``.distinct()``,
    removing a shuffle over the matched pair set (the
    ``_simhash_true_pairs`` trick applied across the split).
    """
    sig = _text_simhash_unsorted(spark, sf_dir).localCheckpoint()
    incoming = sig.where(F.col("doc_id") % INCREMENTAL_MOD == 0)
    existing = sig.where(F.col("doc_id") % INCREMENTAL_MOD != 0)
    i = _simhash_bands(incoming).alias("i")
    e = _simhash_bands(existing).alias("e")
    n_bands = HAMMING_MAX + 1
    band_width = SIMHASH_BITS // n_bands
    first_band = _first_agreeing_band_sql(
        "(i.simhash ^ e.simhash)", n_bands, band_width, (1 << band_width) - 1
    )
    hits = (
        i.join(
            e,
            (F.col("i.band_id") == F.col("e.band_id"))
            & (F.col("i.band_val") == F.col("e.band_val")),
        )
        .where(F.expr("bit_count(i.simhash ^ e.simhash)") <= HAMMING_MAX)
        # each colliding (incoming, existing) pair counted exactly once:
        # keep only the row whose band is the pair's first agreeing band
        .where(F.col("i.band_id") == F.expr(first_band))
        .groupBy(F.col("i.doc_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        incoming.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_near_dups"),
            (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("is_dup"),
        )
        .orderBy(F.col("doc_id").asc())
    )


# Fixture embeddings are random unit-scale vectors (max pairwise cosine
# ≈ 0.51 at sf0.01) — a production 0.99 dup-threshold would make the query
# vacuously empty, so the fixture threshold marks the top of the observed
# similarity distribution instead.
EMB_DUP_THRESHOLD = 0.4

# Past this corpus size the broadcast-matrix path would pull too much to the
# driver (~2M × d=64 float64 ≈ 1 GB); switch to the fully distributed
# chunk-pair GEMM, which never materializes the corpus on the driver.
EMB_BROADCAST_MAX_VECTORS = 2_000_000
# Chunk size for the blocked path: rows per chunk such that two chunks of
# float64 vectors (2 × rows × d × 8 B ≈ a few hundred MB at d ≤ 128) fit one
# executor task with room for the GEMM output.
EMB_CHUNK_TARGET_ROWS = 250_000


def _cosine_broadcast(spark: SparkSession, e: DataFrame) -> DataFrame:
    """Exact all-pairs cosine, small/medium corpus: normalize once, broadcast
    the corpus matrix, each Arrow batch computes ``block @ corpus.T`` in BLAS.
    Driver collect is bounded by EMB_BROADCAST_MAX_VECTORS (guarded by caller).
    """
    import numpy as np
    import pandas as pd

    corpus = e.toPandas()
    if not len(corpus):
        # np.stack([]) raises; the natural all-pairs result is zero pairs
        # (r15 empty-warehouse probe)
        return _empty_pairs(spark)
    ids_all = corpus["vec_id"].to_numpy()
    M = np.stack([np.asarray(v, dtype="float64") for v in corpus["embedding"]])
    # zero-norm convention (functions/vectors.cosine, r13 fuzz): a zero
    # vector's similarity is -1.0 on both engines — divide by 1 instead of 0
    # (no RuntimeWarning/NaN) and pin its S rows/cols to -1.0 explicitly so
    # the invariant doesn't rest on NaN failing the threshold comparison.
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    zero_all = (norms == 0).ravel()
    M /= np.where(norms == 0, 1.0, norms)
    bc = spark.sparkContext.broadcast((ids_all, M, zero_all))

    def block(batches):
        b_ids, b_m, b_zero = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            bids = pdf["vec_id"].to_numpy()
            B = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
            bn = np.linalg.norm(B, axis=1, keepdims=True)
            bz = (bn == 0).ravel()
            B /= np.where(bn == 0, 1.0, bn)
            S = np.round(B @ b_m.T, 6)
            if bz.any():
                S[bz, :] = -1.0
            if b_zero.any():
                S[:, b_zero] = -1.0
            bi, cj = np.nonzero(S >= EMB_DUP_THRESHOLD)
            v1, v2 = bids[bi], b_ids[cj]
            keep = v1 < v2
            yield pd.DataFrame(
                {"vec_1": v1[keep], "vec_2": v2[keep], "cosine": S[bi, cj][keep]}
            )

    return e.mapInPandas(block, "vec_1 long, vec_2 long, cosine double")


def _cosine_chunked(e: DataFrame, n_chunks: int) -> DataFrame:
    """Exact all-pairs cosine with BOTH sides chunked — no driver collect,
    no corpus broadcast.

    Vectors hash into ``n_chunks`` chunks; every unordered chunk pair (i ≤ j)
    becomes one ``applyInPandas`` group holding the two chunks' rows (each
    vector is replicated to the k+1 chunk pairs its chunk participates in —
    the inherent shuffle cost of exact blocked all-pairs). Each group runs one
    BLAS GEMM. K²/2 independent tasks spread across the cluster; per-task
    memory is two chunks, set by EMB_CHUNK_TARGET_ROWS, regardless of N.
    """
    import numpy as np
    import pandas as pd

    k = n_chunks
    e2 = e.withColumn("ck", F.pmod(F.hash("vec_id"), F.lit(k)).cast("int"))
    # role 'a' carries chunk i into pairs (i, j≥i); role 'b' carries chunk j
    # into pairs (i≤j, j). Diagonal groups (i == j) get both roles with the
    # same rows; the vec_1 < vec_2 filter dedups them.
    side_a = e2.select(
        "vec_id",
        "embedding",
        F.col("ck").alias("pi"),
        F.explode(F.sequence(F.col("ck"), F.lit(k - 1))).alias("pj"),
        F.lit("a").alias("role"),
    )
    side_b = e2.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.col("ck"))).alias("pi"),
        F.col("ck").alias("pj"),
        F.lit("b").alias("role"),
    )
    both = side_a.unionByName(side_b)

    def gemm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        diagonal = pdf["pi"].iat[0] == pdf["pj"].iat[0]
        a = pdf[pdf["role"] == "a"]
        b = a if diagonal else pdf[pdf["role"] == "b"]
        if not len(a) or not len(b):
            return pd.DataFrame({"vec_1": [], "vec_2": [], "cosine": []}).astype(
                {"vec_1": "int64", "vec_2": "int64", "cosine": "float64"}
            )
        a_ids = a["vec_id"].to_numpy()
        b_ids = b["vec_id"].to_numpy()
        A = np.stack([np.asarray(v, dtype="float64") for v in a["embedding"]])
        B = np.stack([np.asarray(v, dtype="float64") for v in b["embedding"]])
        # same zero-norm -1.0 convention as _cosine_broadcast (no NaN path)
        an = np.linalg.norm(A, axis=1, keepdims=True)
        bn = np.linalg.norm(B, axis=1, keepdims=True)
        az, bz = (an == 0).ravel(), (bn == 0).ravel()
        A /= np.where(an == 0, 1.0, an)
        B /= np.where(bn == 0, 1.0, bn)
        S = np.round(A @ B.T, 6)
        if az.any():
            S[az, :] = -1.0
        if bz.any():
            S[:, bz] = -1.0
        ai, bj = np.nonzero(S >= EMB_DUP_THRESHOLD)
        v1 = np.minimum(a_ids[ai], b_ids[bj])
        v2 = np.maximum(a_ids[ai], b_ids[bj])
        keep = v1 < v2
        return pd.DataFrame(
            {"vec_1": v1[keep], "vec_2": v2[keep], "cosine": S[ai, bj][keep]}
        )

    return both.groupBy("pi", "pj").applyInPandas(
        gemm, "vec_1 long, vec_2 long, cosine double"
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
SELECT a.vec_id AS vec_1, b.vec_id AS vec_2,
       ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 6) >= {EMB_DUP_THRESHOLD}
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: exact all-pairs via blocked matrix multiply.

    A pairwise crossJoin with per-pair expression folds is O(N²·d) through
    row-at-a-time codegen — 85 s at sf0.1. The dense-linear-algebra shape
    wants BLAS, picked by corpus size:

    - N ≤ EMB_BROADCAST_MAX_VECTORS: broadcast the normalized corpus matrix,
      each Arrow batch computes ``block @ corpus.T`` (one pass, fastest).
    - larger: chunk BOTH sides and GEMM every chunk pair in its own
      ``applyInPandas`` group (``_cosine_chunked``) — no driver collect, no
      broadcast, per-task memory bounded by EMB_CHUNK_TARGET_ROWS, so the
      exact computation survives 10⁹ vectors. (At dup-use thresholds the
      IVF bucketing of ``similarity_ivf`` is the cheaper approximate route.)

    Both paths produce identical output (tests/test_extensions.py pins the
    chunked path against the broadcast path and the DuckDB oracle).
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Bounded probe, not a full count: scan at most MAX+1 ids to learn
    # whether the corpus exceeds the broadcast budget.
    probe = e.select("vec_id").limit(EMB_BROADCAST_MAX_VECTORS + 1).count()
    if probe <= EMB_BROADCAST_MAX_VECTORS:
        return _cosine_broadcast(spark, e)
    n_chunks = -(-e.count() // EMB_CHUNK_TARGET_ROWS)
    return _cosine_chunked(e, n_chunks)


# --- portable MinHash (oracle-backed, unlike the spark.ml variant) ---------

# Universal-hash family h_i(x) = (a_i * x + b_i) mod P over the 60-bit
# md5-derived shingle hash reduced mod P. P = 2^31 - 1 (Mersenne prime);
# coefficients fixed (random.Random(7)) and embedded as literals so Spark and
# DuckDB compute bit-identical signatures. a_i*x < 2^62 fits BIGINT on both.
MINHASH_P = 2147483647
MINHASH_K = 16  # 4 bands × 4 rows
MINHASH_BANDS = 4
MINHASH_ROWS = 4
# banding already requires 4 consecutive equal slots (est ≥ 0.25); the est
# floor prunes single-band flukes. E[est] = true Jaccard (k=16 → σ ≤ 0.125).
MINHASH_EST_MIN = 0.375
_MINHASH_A = (
    695425565, 2035525363, 323946140, 847877000, 1397871145, 103694313,
    155555738, 1763673107, 1150797846, 202142729, 785310973, 1251527727,
    124551739, 1953574603, 1089709947, 461060839,
)
_MINHASH_B = (
    80521324, 184570285, 931247021, 898017869, 150013383, 516819858,
    194804716, 1183364967, 911648019, 126938843, 1775651415, 1214302567,
    265862673, 2034632750, 479402028, 1354258844,
)


def _minhash_sig_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, m0..m15) MinHash signature via one explode + one groupBy."""
    sh = _shingles_spark(load_table(spark, sf_dir, "documents", spread=True))
    x = (
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("bigint")
        % MINHASH_P
    )
    hashed = sh.select("doc_id", x.alias("x"))
    mins = [
        F.min(
            (F.col("x") * F.lit(a) + F.lit(b)) % MINHASH_P
        ).alias(f"m{i}")
        for i, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B))
    ]
    return hashed.groupBy("doc_id").agg(*mins)


def _minhash_sig_sql() -> str:
    mins = ", ".join(
        f"MIN((x * {a} + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B))
    )
    return f"""
sh AS ({_SHINGLES_SQL}),
hx AS (
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5(shingle), 1, 15) AS UBIGINT) AS BIGINT)
               % {MINHASH_P} AS x
    FROM sh
),
sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id)
"""


def _minhash_band_agree_sql() -> str:
    bands = []
    for band in range(MINHASH_BANDS):
        cols = range(band * MINHASH_ROWS, (band + 1) * MINHASH_ROWS)
        bands.append("(" + " AND ".join(f"a.m{i} = b.m{i}" for i in cols) + ")")
    return " OR ".join(bands)


_MINHASH_EST_SQL = (
    "("
    + " + ".join(f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(MINHASH_K))
    + f") / {MINHASH_K}.0"
)


@query(
    "dedup_minhash_portable",
    oracle=f"""
WITH {_minhash_sig_sql().lstrip()}
SELECT a.doc_id AS doc_1, b.doc_id AS doc_2,
       ROUND({_MINHASH_EST_SQL}, 4) AS est_jaccard
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE ({_minhash_band_agree_sql()})
  AND {_MINHASH_EST_SQL} >= {MINHASH_EST_MIN}
ORDER BY est_jaccard DESC, doc_1 ASC, doc_2 ASC
""",
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup with engine-portable hashes — every number the
    driver checks is reproducible bit-for-bit in DuckDB, unlike the spark.ml
    variant (``dedup_minhash_lsh``) whose JVM-internal seeds force a
    rows-only check.

    Scale shape = the classic banded LSH: one explode + one groupBy builds
    k=16 min-signatures (single shuffle on doc_id); candidates come from an
    equi-join on (band_id, band_key) — 4 bands of 4 slots — so only
    signature-colliding docs ever meet (no N² term); the estimated Jaccard
    (fraction of equal slots, E[est] = true Jaccard) is computed from the
    joined signatures and filtered. The oracle replicates the whole pipeline
    as all-pairs SQL with an explicit band-agreement predicate — feasible at
    oracle scale only, which is the point of the banding.
    """
    sig = _minhash_sig_spark(spark, sf_dir)
    band_structs = []
    for band in range(MINHASH_BANDS):
        cols = range(band * MINHASH_ROWS, (band + 1) * MINHASH_ROWS)
        band_structs.append(
            F.struct(
                F.lit(band).alias("band_id"),
                F.concat_ws("|", *[F.col(f"m{i}") for i in cols]).alias("band_key"),
            )
        )
    bands = (
        sig.select(
            "doc_id",
            *[F.col(f"m{i}") for i in range(MINHASH_K)],
            F.explode(F.array(*band_structs)).alias("band"),
        )
        .select("*", "band.band_id", "band.band_key")
        .drop("band")
        # materialize once: the md5-minhash signature pipeline feeds both
        # sides of the band self-join below
        .localCheckpoint()
    )
    a, b = bands.alias("a"), bands.alias("b")
    est = sum(
        F.when(F.col(f"a.m{i}") == F.col(f"b.m{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    ) / float(MINHASH_K)
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_1"),
            F.col("b.doc_id").alias("doc_2"),
            F.round(est, 4).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= MINHASH_EST_MIN)
        .distinct()  # a pair may collide in several bands
        .orderBy(F.col("est_jaccard").desc(), F.col("doc_1").asc(), F.col("doc_2").asc())
    )


@query("dedup_minhash_lsh")  # rows-only: spark.ml hash seeds are JVM-internal
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup via spark.ml (HashingTF → MinHashLSH →
    approxSimilarityJoin). Not DuckDB-expressible (internal hash seeds) →
    driver runs the weaker rows-only check; semantics are pinned by
    tests/test_extensions.py against the exact Jaccard query.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, RegexTokenizer

    docs = load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    tokenizer = RegexTokenizer(
        inputCol="text", outputCol="tokens", pattern=r"\s+", minTokenLength=1
    )
    # shingle (word 3-gram) space, same as the exact dedup_ngram_jaccard —
    # unigram Jaccard is near-1 for the fixtures' shared-vocabulary docs
    shingler = NGram(n=SHINGLE_N, inputCol="tokens", outputCol="shingles")
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    featured = tf.transform(shingler.transform(tokenizer.transform(docs)))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(featured)
    # distance threshold 0.5 → keep pairs with (approx) Jaccard ≥ 0.5; the
    # corpus's shared vocabulary makes looser thresholds near-all-pairs.
    pairs = model.approxSimilarityJoin(
        featured, featured, threshold=0.5, distCol="jaccard_dist"
    )
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_1"),
            F.col("datasetB.doc_id").alias("doc_2"),
            F.round(1 - F.col("jaccard_dist"), 4).alias("jaccard_approx"),
        )
        .orderBy(F.col("jaccard_approx").desc(), "doc_1", "doc_2")
    )


# Random-hyperplane LSH for embedding near-dup: bands × bits-per-band tunes
# recall at the target cosine threshold AND candidate volume (≈ bands ×
# N²/2^bits). Production near-dup (cosine ≥ 0.99, angle ~8°) would use 4×16;
# the fixture's similarity ceiling is ~0.5 (~66°, per-bit match p≈0.63), so
# bands are narrow (6 bits) and numerous (12) to keep recall meaningful
# (~0.55 at the 0.4 threshold; pinned in tests/test_extensions.py) without
# candidate blowup in the tiny 2^bits hash space.
EMB_LSH_BANDS = 12
EMB_LSH_BITS = 6
# Fixture embedding dimensionality — the oracle bakes the plane matrix in
# as literals, so it is generated for this dim; the Spark side still reads
# the dim off the data and produces the identical matrix when it is 64.
EMB_LSH_DIM = 64


def _lsh_planes(dim: int = EMB_LSH_DIM):
    """The seeded random-hyperplane matrix (dim × bands·bits), shared
    bit-for-bit by the Spark kernel and the oracle generator."""
    import numpy as np

    return np.random.RandomState(42).normal(size=(dim, EMB_LSH_BANDS * EMB_LSH_BITS))


def _emb_lsh_oracle_sql() -> str:
    """DuckDB oracle for the random-hyperplane LSH: the plane matrix is
    embedded as full-precision double literals (repr round-trips exactly),
    signatures via list_dot_product sign bits over the DOUBLE-cast
    embeddings. numpy's dgemm and DuckDB's sequential dot differ only in
    summation order (~1e-13); a sign flip needs |dot| below that — never
    observed, and the exact ROUND(6) cosine verify behind it is the same
    expression the oracle-green ``dedup_embedding_cosine`` uses."""
    planes = _lsh_planes()
    bits, bands = EMB_LSH_BITS, EMB_LSH_BANDS

    def plane_lit(k: int) -> str:
        return "[" + ",".join(repr(float(x)) for x in planes[:, k]) + "]"

    band_exprs = []
    for b in range(bands):
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(v, {plane_lit(b * bits + k)}) >= 0"
            f" THEN {1 << k} ELSE 0 END)"
            for k in range(bits)
        )
        band_exprs.append(f"({terms}) AS bv{b}")
    bands_list = ",".join(str(b) for b in range(bands))
    bv_list = ",".join(f"bv{b}" for b in range(bands))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sigw AS (SELECT vec_id, {", ".join(band_exprs)} FROM e),
sig AS (
    SELECT vec_id, unnest([{bands_list}]) AS band,
           unnest([{bv_list}]) AS band_val
    FROM sigw
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_1, b.vec_id AS vec_2
    FROM sig a
    JOIN sig b ON a.band = b.band AND a.band_val = b.band_val
              AND a.vec_id < b.vec_id
),
ee AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
SELECT c.vec_1, c.vec_2,
       ROUND(list_cosine_similarity(x.emb, y.emb), 6) AS cosine
FROM cand c
JOIN ee x ON x.vec_id = c.vec_1
JOIN ee y ON y.vec_id = c.vec_2
WHERE ROUND(list_cosine_similarity(x.emb, y.emb), 6) >= {EMB_DUP_THRESHOLD}
ORDER BY vec_1 ASC, vec_2 ASC
"""


# Round-10 capacity policy: RETIRED from the registry (ADVICE r9 + VERDICT
# r9 #2). Above the saturation knee this baseline delegates to
# dedup_embedding_lsh_adaptive, whose count-derived band width would diverge
# from THIS query's fixed 6-bit oracle on any above-knee corpus — the
# registered name is now the adaptive variant alone, which carries a
# count-gated oracle valid at every size. The fixed-band callable (and its
# oracle builder, used by the below-knee bit-identity pin in
# tests/test_extensions.py) stays importable.
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup WITHOUT all-pairs: random-hyperplane LSH blocking.

    Signature = sign bits of ``v @ planes`` (seeded, broadcast — a few KB);
    band values become join keys, so candidate generation is a band-bucket
    equi-join exactly like ``dedup_simhash_pairs``; candidates are then
    verified with the exact JVM-side cosine (over DOUBLE-cast arrays, so
    products match the oracle's double arithmetic — float32 products would
    drift ~1e-7, past the ROUND(6) pin). Scale shape: shuffle on
    (band, value) — no N² term anywhere, the 10⁹-vector path the chunked
    GEMM cannot be. Recall is tunable (bands × bits); the subset property
    (output ⊆ exact all-pairs output) and recall floor are pinned in
    tests/test_extensions.py against ``dedup_embedding_cosine``. The seeded
    planes make even this "not SQL-expressible" op oracle-checkable: the
    matrix is baked into the DuckDB SQL as literals (_emb_lsh_oracle_sql).

    Scale posture (r9, VERDICT r8 #5): the 2⁶-value band space is fixed,
    and the round-5 growth curve measured it saturating (4.9×/doubling
    past ~10⁴ vectors) — past the knee this baseline now DELEGATES to
    ``dedup_embedding_lsh_adaptive`` instead of raising. The contracts
    match: both emit a recall-bounded subset of the exact cosine ≥
    threshold pairs with identical columns and identical verify
    arithmetic, and below the knee the adaptive clamp floor makes the two
    bit-identical (pinned in tests/test_extensions.py) — so delegation
    only ever swaps in a band space with BETTER collision behavior at a
    size where the fixed config's own recall envelope was never
    validated. (Contrast ``dedup_simhash_wide_pairs``, whose exact
    60-bit-hamming contract the adaptive sibling cannot reproduce — it
    keeps the raise.)
    """
    e = load_table(spark, sf_dir, "embeddings", spread=True).select("vec_id", "embedding")
    if e.count() > EMB_LSH_SATURATION_VECS:
        return dedup_embedding_lsh_adaptive(spark, sf_dir)
    dim = _emb_dim(e)
    if dim is None:
        return _empty_pairs(spark)
    # ADVICE r16: this non-delegating path builds its planes OUTSIDE
    # _lsh_planes_wide, so the family-wide dim guard there doesn't cover
    # it — yet its oracle builder (_emb_lsh_oracle_sql, still used by the
    # below-knee bit-identity pin) bakes plane literals at EMB_LSH_DIM
    # exactly like its registered siblings. Guard here too, so a future
    # re-registration cannot silently reopen the desync.
    _require_oracle_dim(dim)
    return _emb_lsh_pairs(spark, e, _lsh_planes(dim), EMB_LSH_BITS)


def _emb_dim(e: DataFrame) -> int | None:
    """Vector dimensionality off the first row (bounded driver pull), or
    None on an empty corpus — ``head()[0]`` on an empty table is a
    baffling NoneType TypeError (r15 empty-warehouse probe).

    FIXED-DIM ORACLE CONTRACT (ADVICE r15): every oracle-backed LSH query
    in this family bakes its hyperplane matrix into the DuckDB SQL as
    literals at ``EMB_LSH_DIM`` — the oracle string is built at import
    time and cannot see the data. The Spark side deriving ``dim`` from
    the data therefore only aligns when dim == EMB_LSH_DIM; any other
    dimensionality would silently desync the candidate sets (or abort
    DuckDB's list_dot_product on length mismatch). ``_require_oracle_dim``
    turns that latent desync into a loud ValueError, the same pattern as
    the trend-anchor guard (catalog.last_order_datetime)."""
    row = e.select("embedding").head()
    return None if row is None else len(row[0])


def _require_oracle_dim(dim: int) -> None:
    """Loud-fail for the fixed-dim oracle contract (see ``_emb_dim``)."""
    if dim != EMB_LSH_DIM:
        raise ValueError(
            f"embedding dim {dim} != EMB_LSH_DIM {EMB_LSH_DIM}: the "
            "oracle's hyperplane literals are baked at EMB_LSH_DIM, so "
            "any other dimensionality would desync Spark and DuckDB "
            "candidate sets (fixed-dim oracle contract, ADVICE r15)"
        )


def _empty_pairs(spark: SparkSession) -> DataFrame:
    """The natural near-dup result for an empty corpus: zero pairs, same
    schema — what every embedding-pair oracle returns on empty input."""
    return spark.createDataFrame([], "vec_1 long, vec_2 long, cosine double")


def _emb_signatures(
    spark: SparkSession, e: DataFrame, planes, bits: int
) -> DataFrame:
    """Hyperplane signature pass: sign bits of ``v @ planes`` (band-major
    columns: EMB_LSH_BANDS bands × ``bits`` planes each) → one
    (vec_id, band, band_val) row per band, materialized once via
    localCheckpoint so the Arrow/numpy kernel never reruns on both sides
    of the downstream band equi-joins."""
    import numpy as np
    import pandas as pd

    bc = spark.sparkContext.broadcast(planes)

    def signatures(batches):
        P = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
            sbits = (M @ P) >= 0  # (n, bands*bits)
            out = []
            for b in range(EMB_LSH_BANDS):
                chunk = sbits[:, b * bits : (b + 1) * bits]
                vals = chunk @ (1 << np.arange(bits))
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].to_numpy(),
                            "band": b,
                            "band_val": vals.astype("int64"),
                        }
                    )
                )
            yield pd.concat(out)

    return e.mapInPandas(
        signatures, "vec_id long, band int, band_val long"
    ).localCheckpoint()


def _emb_lsh_pairs(
    spark: SparkSession, e: DataFrame, planes, bits: int
) -> DataFrame:
    """Shared hyperplane-LSH kernel: signatures = sign bits of ``v @ planes``
    (band-major columns: EMB_LSH_BANDS bands × ``bits`` planes each), band
    equi-join candidates, exact DOUBLE-cosine verify at EMB_DUP_THRESHOLD.
    Used by ``dedup_embedding_lsh`` (fixed 6-bit bands) and
    ``dedup_embedding_lsh_adaptive`` (count-derived band width)."""
    sigs = _emb_signatures(spark, e, planes, bits)
    a, b_ = sigs.alias("a"), sigs.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_1"), F.col("b.vec_id").alias("vec_2")
        )
        .distinct()  # a pair may collide in several bands
    )
    # DOUBLE-cast before the fold: float32 products would drift past ROUND(6)
    ea = e.select(
        F.col("vec_id").alias("vec_1"),
        F.col("embedding").cast("array<double>").alias("emb_1"),
    )
    eb = e.select(
        F.col("vec_id").alias("vec_2"),
        F.col("embedding").cast("array<double>").alias("emb_2"),
    )
    # the shared cosine helper carries the zero-norm -> -1.0 convention
    # (matching DuckDB's list_cosine_similarity, which every embedding
    # oracle here uses) — a bare dot/norms division is an ANSI job abort
    # on a zero vector (round-13 fuzz-parity find)
    from databricks_spark_sql_challenge1_spark.functions.vectors import cosine

    return (
        candidates.join(ea, "vec_1")
        .join(eb, "vec_2")
        .withColumn(
            "cosine", F.round(cosine(F.col("emb_1"), F.col("emb_2")), 6)
        )
        .where(F.col("cosine") >= EMB_DUP_THRESHOLD)
        .select("vec_1", "vec_2", "cosine")
        .orderBy("vec_1", "vec_2")
    )


# Adaptive-width hyperplane bands: round 5's growth curve (SCALE.md) measured
# the fixed 6-bit configuration saturating — 64 values/band means every
# bucket is dense past ~10⁴ vectors and candidate volume grows quadratically
# (4.9×/doubling at 8×). The fix is the same family as
# ``dedup_simhash_wide_pairs`` but parameterized by corpus size: bits per
# band = 2·ceil(log2 N) − EMB_LSH_BITS_OFFSET (clamped to [6, 16]), so the
# band-value space 2^bits quadruples per corpus doubling — exactly matching
# the N² growth of random pairs, which pins expected random band collisions
# (≈ bands · N²/2^(bits+1)) CONSTANT. The offset calibrates the formula to
# reproduce the fixture-tuned 6-bit configuration at the 2 k-vector 1×
# fixture. Recall trade: at the production near-dup threshold (cosine 0.99,
# per-bit agreement p ≈ 0.97) twelve 16-bit bands hold recall ≈ 1−(1−0.97¹⁶)¹²
# ≈ 0.999997; only the fixture's deliberately loose 0.4 threshold (p ≈ 0.63)
# loses recall as bits widen — and at fixture sizes bits stays 6, where the
# first 6 planes of every band ARE the seed-42 planes of
# ``dedup_embedding_lsh``, making the two queries bit-identical there
# (pinned in tests/test_extensions.py).
EMB_LSH_MAX_BITS = 16
EMB_LSH_BITS_OFFSET = 16


def _emb_lsh_bits(n: int) -> int:
    """Band width for a corpus of n vectors (identical formula in the
    oracle's params CTE).

    INTEGER formulation (VERDICT r16 #6): ceil(log2 n) == (n-1).bit_length()
    for n >= 2, exactly — and the oracle computes the same thing as
    ``length(bin(n-1))`` — so the band width never touches float libm on
    either engine. The r16 pin (tests/test_extensions.py, every power of
    two ±1 to 2^40) is retained and now also asserts the integer and the
    historical float formulations agree."""
    return min(
        EMB_LSH_MAX_BITS,
        max(EMB_LSH_BITS, 2 * (max(n, 2) - 1).bit_length() - EMB_LSH_BITS_OFFSET),
    )


def _lsh_planes_wide(dim: int = EMB_LSH_DIM):
    """(dim, EMB_LSH_BANDS·EMB_LSH_MAX_BITS) plane matrix, band-major: band
    b's columns are [b·MAX_BITS, (b+1)·MAX_BITS). The first EMB_LSH_BITS
    columns of each band are the seed-42 planes of ``_lsh_planes`` (so the
    adaptive query degenerates to ``dedup_embedding_lsh`` exactly when
    bits == EMB_LSH_BITS); the widening columns come from an independent
    seeded draw.

    Every oracle-backed caller bakes this matrix into its DuckDB SQL at
    EMB_LSH_DIM, so the fixed-dim oracle contract (see ``_emb_dim``) is
    enforced HERE — one guard covers the whole family
    (``dedup_embedding_lsh_adaptive``, ``dedup_embedding_incremental``,
    and everything built on their signatures) instead of per-query
    call sites that can drift (r16-end review)."""
    _require_oracle_dim(dim)
    import numpy as np

    base = _lsh_planes(dim)  # (dim, BANDS*BITS), seed 42
    extra_per_band = EMB_LSH_MAX_BITS - EMB_LSH_BITS
    extra = np.random.RandomState(43).normal(
        size=(dim, EMB_LSH_BANDS * extra_per_band)
    )
    cols = []
    for b in range(EMB_LSH_BANDS):
        cols.append(base[:, b * EMB_LSH_BITS : (b + 1) * EMB_LSH_BITS])
        cols.append(extra[:, b * extra_per_band : (b + 1) * extra_per_band])
    return np.concatenate(cols, axis=1)


def _emb_lsh_adaptive_ctes() -> str:
    """The adaptive-band LSH pair pipeline as a reusable CTE chain ending
    in ``lshp`` (vec_1, vec_2, cosine) — shared by the pair query's oracle
    and the embedding-cluster dedup oracle so the two can never desync."""
    planes = _lsh_planes_wide()
    bands, maxb = EMB_LSH_BANDS, EMB_LSH_MAX_BITS

    def plane_lit(c: int) -> str:
        return "[" + ",".join(repr(float(x)) for x in planes[:, c]) + "]"

    band_exprs = []
    for b in range(bands):
        terms = " + ".join(
            f"(CASE WHEN {k} < p.bits AND"
            f" list_dot_product(v, {plane_lit(b * maxb + k)}) >= 0"
            f" THEN {1 << k} ELSE 0 END)"
            for k in range(maxb)
        )
        band_exprs.append(f"({terms}) AS bv{b}")
    bands_list = ",".join(str(b) for b in range(bands))
    bv_list = ",".join(f"bv{b}" for b in range(bands))
    return f"""params AS (
    SELECT LEAST({maxb}, GREATEST({EMB_LSH_BITS},
           2 * length(bin(GREATEST(COUNT(*), 2) - 1))
           - {EMB_LSH_BITS_OFFSET})) AS bits
    FROM embeddings
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sigw AS (SELECT vec_id, {", ".join(band_exprs)} FROM e CROSS JOIN params p),
sig AS (
    SELECT vec_id, unnest([{bands_list}]) AS band,
           unnest([{bv_list}]) AS band_val
    FROM sigw
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_1, b.vec_id AS vec_2
    FROM sig a
    JOIN sig b ON a.band = b.band AND a.band_val = b.band_val
              AND a.vec_id < b.vec_id
),
ee AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
lshp AS (
    SELECT c.vec_1, c.vec_2,
           ROUND(list_cosine_similarity(x.emb, y.emb), 6) AS cosine
    FROM cand c
    JOIN ee x ON x.vec_id = c.vec_1
    JOIN ee y ON y.vec_id = c.vec_2
    WHERE ROUND(list_cosine_similarity(x.emb, y.emb), 6)
          >= {EMB_DUP_THRESHOLD}
)"""


def _emb_lsh_adaptive_oracle_sql() -> str:
    """DuckDB oracle for the adaptive-band LSH: the wide plane matrix is
    baked as full-precision double literals; the band width comes from a
    params CTE computing the identical clamp(2·ceil(log2 N) − offset)
    formula off COUNT(*), and every bit term is gated on ``k < p.bits`` so
    the same SQL is correct at every corpus size (the sqrtk pattern —
    parameters derived in-query, never a second source of truth)."""
    return f"""
WITH {_emb_lsh_adaptive_ctes()}
SELECT vec_1, vec_2, cosine FROM lshp
ORDER BY vec_1 ASC, vec_2 ASC
"""


@query("dedup_embedding_lsh_adaptive", oracle=_emb_lsh_adaptive_oracle_sql())
def dedup_embedding_lsh_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup LSH with corpus-size-adaptive band width — the
    100 TB configuration of ``dedup_embedding_lsh``.

    Same plan shape (broadcast planes → Arrow-batched sign-bit GEMM → band
    equi-join → exact DOUBLE-cosine verify), but the band-value space grows
    with the corpus: bits = clamp(2·ceil(log2 N) − {off}, {lo}, {hi}), i.e.
    +2 bits per corpus doubling, quadrupling the bucket space exactly as
    fast as the random-pair count grows. Expected random band collisions
    stay ≈ bands·N²/2^(bits+1) = constant, so the candidate join is linear
    in N and the signature GEMM (linear, BLAS) dominates — vs the fixed
    6-bit variant whose measured 4.9×/doubling at 8× was pure band
    saturation (SCALE.md round-5 curve). N is read once via the bounded
    anchor-pull pattern (a count, not a collect); the oracle derives the
    identical width from COUNT(*) in its params CTE, so the two sides can
    never desync. At fixture sizes the clamp floor makes this query
    bit-identical to ``dedup_embedding_lsh`` (pinned in
    tests/test_extensions.py).
    """
    e = load_table(spark, sf_dir, "embeddings", spread=True).select("vec_id", "embedding")
    dim = _emb_dim(e)
    if dim is None:
        return _empty_pairs(spark)
    bits = _emb_lsh_bits(e.count())
    wide = _lsh_planes_wide(dim)
    cols = [
        b * EMB_LSH_MAX_BITS + k
        for b in range(EMB_LSH_BANDS)
        for k in range(bits)
    ]
    return _emb_lsh_pairs(spark, e, wide[:, cols], bits)


dedup_embedding_lsh_adaptive.__doc__ = dedup_embedding_lsh_adaptive.__doc__.format(
    off=EMB_LSH_BITS_OFFSET, lo=EMB_LSH_BITS, hi=EMB_LSH_MAX_BITS
)


def _emb_inc_oracle_sql() -> str:
    """DuckDB oracle for the embedding-side incremental admission: the wide
    plane matrix baked as full-precision double literals (repr round-trips
    exactly — the ``_emb_lsh_adaptive_oracle_sql`` technique), band width
    derived in a params CTE from the EXISTING-side count (the index's own
    size is the index parameter, never the batch's), every bit term gated
    on ``k < p.bits`` so the same SQL is correct at every corpus size."""
    planes = _lsh_planes_wide()
    bands, maxb, mod = EMB_LSH_BANDS, EMB_LSH_MAX_BITS, INCREMENTAL_MOD

    def plane_lit(c: int) -> str:
        return "[" + ",".join(repr(float(x)) for x in planes[:, c]) + "]"

    band_exprs = []
    for b in range(bands):
        terms = " + ".join(
            f"(CASE WHEN {k} < p.bits AND"
            f" list_dot_product(v, {plane_lit(b * maxb + k)}) >= 0"
            f" THEN {1 << k} ELSE 0 END)"
            for k in range(maxb)
        )
        band_exprs.append(f"({terms}) AS bv{b}")
    bands_list = ",".join(str(b) for b in range(bands))
    bv_list = ",".join(f"bv{b}" for b in range(bands))
    return f"""
WITH params AS (
    SELECT LEAST({maxb}, GREATEST({EMB_LSH_BITS},
           2 * length(bin(GREATEST(COUNT(*), 2) - 1))
           - {EMB_LSH_BITS_OFFSET})) AS bits
    FROM embeddings WHERE vec_id % {mod} <> 0
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sigw AS (SELECT vec_id, {", ".join(band_exprs)} FROM e CROSS JOIN params p),
sig AS (
    SELECT vec_id, unnest([{bands_list}]) AS band,
           unnest([{bv_list}]) AS band_val
    FROM sigw
),
cand AS (
    SELECT DISTINCT i.vec_id AS vec_id, x.vec_id AS vec_ex
    FROM sig i
    JOIN sig x ON i.band = x.band AND i.band_val = x.band_val
    WHERE i.vec_id % {mod} = 0 AND x.vec_id % {mod} <> 0
),
ee AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
hits AS (
    SELECT c.vec_id, COUNT(*) AS n,
           MAX(ROUND(list_cosine_similarity(a.emb, b.emb), 6)) AS mc
    FROM cand c
    JOIN ee a ON a.vec_id = c.vec_id
    JOIN ee b ON b.vec_id = c.vec_ex
    WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 6)
          >= {EMB_DUP_THRESHOLD}
    GROUP BY c.vec_id
)
SELECT i.vec_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_near_dups,
       COALESCE(h.n, 0) > 0 AS is_dup,
       h.mc AS max_cosine
FROM (SELECT vec_id FROM embeddings WHERE vec_id % {mod} = 0) i
LEFT JOIN hits h ON h.vec_id = i.vec_id
ORDER BY i.vec_id ASC
"""


@query("dedup_embedding_incremental", oracle=_emb_inc_oracle_sql())
def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding-side admission control (VERDICT r14 #5): flag
    incoming vectors whose near-dup (exact DOUBLE cosine ≥
    EMB_DUP_THRESHOLD) already sits in the ingested corpus — the embedding
    twin of ``dedup_incremental``'s SimHash check, completing the
    incremental family (text shingles → Bloom, SimHash bands, now
    hyperplane-LSH bands).

    Plan shape: ONE adaptive-band signature pass over the corpus
    (``_emb_signatures`` — Arrow-batched sign-bit GEMM, materialized once,
    the dedup_incremental push-below-the-split idiom), the ``vec_id % mod``
    split applied to the signature table, then an incoming×existing band
    equi-join for candidates and an exact DOUBLE-cosine verify on the
    collisions only. Band width derives from the EXISTING side's count —
    the index's own size is the index parameter; a small batch against a
    large corpus must probe the corpus's band space, not shrink it.

    At 100 TB the existing side's (band, band_val) table is the
    precomputed, bucketed LSH index maintained alongside the corpus; the
    daily batch GEMMs its own signatures (O(batch)) and equi-joins the
    index buckets it collides with — no full-corpus rescan, no N² term,
    the same O(batch) admission cost as the text-side check.
    """
    e = load_table(spark, sf_dir, "embeddings", spread=True).select("vec_id", "embedding")
    dim = _emb_dim(e)
    if dim is None:
        return spark.createDataFrame(
            [], "vec_id long, n_near_dups long, is_dup boolean, max_cosine double"
        )
    bits = _emb_lsh_bits(  # dim guard lives in _lsh_planes_wide below
        e.where(F.col("vec_id") % INCREMENTAL_MOD != 0).count()
    )
    wide = _lsh_planes_wide(dim)
    cols = [
        b * EMB_LSH_MAX_BITS + k
        for b in range(EMB_LSH_BANDS)
        for k in range(bits)
    ]
    sigs = _emb_signatures(spark, e, wide[:, cols], bits)
    i = sigs.where(F.col("vec_id") % INCREMENTAL_MOD == 0).alias("i")
    x = sigs.where(F.col("vec_id") % INCREMENTAL_MOD != 0).alias("x")
    cand = (
        i.join(
            x,
            (F.col("i.band") == F.col("x.band"))
            & (F.col("i.band_val") == F.col("x.band_val")),
        )
        .select(
            F.col("i.vec_id").alias("vec_id"),
            F.col("x.vec_id").alias("vec_ex"),
        )
        .distinct()  # a pair may collide in several bands
    )
    ea = e.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("emb_i"),
    )
    eb = e.select(
        F.col("vec_id").alias("vec_ex"),
        F.col("embedding").cast("array<double>").alias("emb_x"),
    )
    from databricks_spark_sql_challenge1_spark.functions.vectors import cosine

    hits = (
        cand.join(ea, "vec_id")
        .join(eb, "vec_ex")
        .withColumn("cosine", F.round(cosine(F.col("emb_i"), F.col("emb_x")), 6))
        .where(F.col("cosine") >= EMB_DUP_THRESHOLD)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("cosine").alias("max_cosine"),
        )
    )
    return (
        e.where(F.col("vec_id") % INCREMENTAL_MOD == 0)
        .select("vec_id")
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_near_dups"),
            (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("is_dup"),
            "max_cosine",
        )
        .orderBy(F.col("vec_id").asc())
    )


# Exact substring-grain dedup (Lee et al., "Deduplicating Training Data
# Makes Language Models Better"): a doc pair sharing any fixed-length token
# window is substring-duplicated even when the full texts differ. W=8 on
# the fixture corpus flags ~9% of docs (FIXTURES.md) — non-vacuous, sparse.
SUBSTR_WINDOW = 8


@query(
    "docs_substring_dedup",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents
),
win AS (
    SELECT doc_id, array_to_string(list_slice(t, i, i + {SUBSTR_WINDOW - 1}), ' ') AS w
    FROM toks, unnest(generate_series(1, len(t) - {SUBSTR_WINDOW - 1})) AS u(i)
    WHERE len(t) >= {SUBSTR_WINDOW}
),
tot AS (SELECT doc_id, COUNT(*) AS n_windows FROM win GROUP BY doc_id),
shared AS (SELECT w FROM win GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2),
dup AS (
    SELECT doc_id, COUNT(*) AS dup_windows
    FROM win JOIN shared USING (w)
    GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(tot.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(dup.dup_windows, 0) AS BIGINT) AS dup_windows,
       ROUND(CASE WHEN COALESCE(tot.n_windows, 0) = 0 THEN 0.0
                  ELSE CAST(COALESCE(dup.dup_windows, 0) AS DOUBLE)
                       / tot.n_windows END, 4) AS dup_fraction
FROM documents d
LEFT JOIN tot ON tot.doc_id = d.doc_id
LEFT JOIN dup ON dup.doc_id = d.doc_id
ORDER BY d.doc_id ASC
""",
)
def docs_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup at fixed window grain: per document, the count
    and fraction of its SUBSTR_WINDOW-token sliding windows that also occur
    verbatim in at least one OTHER document — the fixed-length-window
    approximation of suffix-array substring dedup used for training corpora.

    Scale shape: windows explode ~n_tokens rows per doc, then ONE shuffle
    on the window string for the cross-doc count-distinct (two-level
    partial agg), and one equi-join back. No pairwise term anywhere — cost
    is linear in corpus token count. At petabyte scale the group key would
    be ``xxhash64(w)`` to cut shuffle width (collision odds negligible);
    the fixture grain groups on the window text itself so the DuckDB oracle
    is byte-identical.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    w = SUBSTR_WINDOW
    base = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("t")
    )
    # sequence(1, n) with n < 1 would generate a DESCENDING sequence in
    # Spark, so short docs are filtered instead of clamped
    win = base.where(F.size("t") >= w).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {w - 1}),"
                f" i -> array_join(slice(t, i, {w}), ' '))"
            )
        ).alias("w"),
    )
    tot = win.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    shared = (
        win.groupBy("w")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("w")
    )
    dup = win.join(shared, "w").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dup_windows")
    )
    n_win = F.coalesce(F.col("n_windows"), F.lit(0))
    n_dup = F.coalesce(F.col("dup_windows"), F.lit(0))
    return (
        docs.select("doc_id")
        .join(tot, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            n_win.cast("bigint").alias("n_windows"),
            n_dup.cast("bigint").alias("dup_windows"),
            F.round(
                F.when(n_win == 0, F.lit(0.0)).otherwise(
                    n_dup.cast("double") / n_win
                ),
                4,
            ).alias("dup_fraction"),
        )
        .orderBy(F.col("doc_id").asc())
    )


# Adaptive-band SimHash (round 7). The sink-mode growth re-read (SCALE.md
# round-7 addendum) measured the 60-bit/15-bit-band config's band space
# saturating at ~8x10^4 docs (1.1 s -> 8.4 s across 8x->16x while output
# grew only 1.6x). Cure = the family rule proven on the embedding LSH in
# r6: derive band width from corpus size. SimHash needs one extra move:
# the pigeonhole argument fixes the BAND COUNT at HAMMING_MAX + 1, so the
# only lever is total signature width -> a two-limb 88-bit signature
# (2 x 44 bits; each limb fits signed-64 arithmetic on both engines),
# giving 4 pigeonhole regions of 22 bits. The runtime band KEY is the top
# `bpb` bits of each region (truncation preserves the pigeonhole: if two
# signatures agree on a whole region they agree on any prefix of it), and
# bpb = clamp(ceil(log2 N) + 2, 8, 22) keeps the expected random-collision
# bucket load < 1/4 doc per bucket at every corpus size up to ~10^6 docs
# per shard. Because the exact Hamming filter decides membership, the
# RESULT is band-width-invariant — the oracle is the quadratic all-pairs
# join and cannot desync from the band rule by construction.
SIMHASH_LIMB_BITS = 44
SIMHASH_REGION_BITS = 22  # 4 pigeonhole regions across the two limbs
SIMHASH_BPB_MIN = 8
SIMHASH_BPB_MAX = SIMHASH_REGION_BITS


def _adaptive_simhash_bpb(n_docs: int) -> int:
    import math

    return max(
        SIMHASH_BPB_MIN,
        min(SIMHASH_BPB_MAX, math.ceil(math.log2(max(n_docs, 2))) + 2),
    )


def _simhash_wide2_sig(
    docs: DataFrame, _toks: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sig_hi, sig_lo): 88-bit SimHash as two 44-bit limbs from
    disjoint md5 hex ranges (chars 1-11 and 12-22) of each distinct token."""
    if _toks is None:
        _toks = _distinct_token_md5(docs)
    toks = _toks.withColumn(
        "h1", F.conv(F.substring("hx", 1, 11), 16, 10).cast("bigint")
    ).withColumn(
        "h2", F.conv(F.substring("hx", 12, 11), 16, 10).cast("bigint")
    )
    return toks.groupBy("doc_id").agg(
        F.expr(_simhash_exprs_spark(SIMHASH_LIMB_BITS, "h1")).alias("sig_hi"),
        F.expr(_simhash_exprs_spark(SIMHASH_LIMB_BITS, "h2")).alias("sig_lo"),
    )


def _region_expr(prefix: str, band: int) -> str:
    """SQL expr for 22-bit pigeonhole region `band` (0-3) of a two-limb
    signature with columns {prefix}hi/{prefix}lo."""
    limb = f"{prefix}hi" if band < 2 else f"{prefix}lo"
    shift = SIMHASH_REGION_BITS if band % 2 == 0 else 0
    mask = (1 << SIMHASH_REGION_BITS) - 1
    return f"(({limb} >> {shift}) & {mask})"


_SIMHASH_ADAPTIVE_ORACLE_SQL = f"""
WITH toks AS (
    SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
    FROM documents
),
hashed AS (
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5(tok), 1, 11) AS UBIGINT) AS BIGINT) AS h1,
           CAST(CAST('0x' || substr(md5(tok), 12, 11) AS UBIGINT) AS BIGINT) AS h2
    FROM toks
),
sig AS (
    SELECT doc_id,
           {_simhash_exprs_spark(SIMHASH_LIMB_BITS, "h1")} AS sig_hi,
           {_simhash_exprs_spark(SIMHASH_LIMB_BITS, "h2")} AS sig_lo
    FROM hashed GROUP BY doc_id
)
SELECT a.doc_id AS doc_1, b.doc_id AS doc_2,
       CAST(bit_count(xor(a.sig_hi, b.sig_hi))
            + bit_count(xor(a.sig_lo, b.sig_lo)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig_hi, b.sig_hi))
      + bit_count(xor(a.sig_lo, b.sig_lo)) <= {HAMMING_MAX}
ORDER BY doc_1 ASC, doc_2 ASC
"""


def dedup_simhash_adaptive(
    spark: SparkSession,
    sf_dir: str,
    bpb: int | None = None,
    _toks: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs on an 88-bit two-limb SimHash with corpus-size-
    adaptive band keys — the SimHash family's answer to the band-space
    saturation the round-7 sink-mode curve measured on the 60-bit config
    (SCALE.md round-7 addendum): band key = top clamp(ceil(log2 N)+2,
    8, 22) bits of each of the four 22-bit pigeonhole regions, so random
    band collisions stay O(1) per bucket at every corpus size instead of
    going quadratic past ~10^5 docs. The exact Hamming <= HAMMING_MAX
    filter makes the output identical to the oracle's quadratic all-pairs
    join REGARDLESS of band width — band width is a pure performance
    parameter here (unlike the embedding LSH, where it trades recall), so
    the adaptive rule cannot desync the result.

    Scale shape: one corpus count (bounded scalar pull, the anchor-pull
    pattern), one signature agg shuffle, one equi-join on (band_id, key)
    with first-agreeing-band single-emission — no N^2 term, no post-join
    distinct.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    if bpb is None:
        bpb = _adaptive_simhash_bpb(docs.count())
    trunc = SIMHASH_REGION_BITS - bpb
    sig = _simhash_wide2_sig(docs, _toks=_toks).localCheckpoint()
    bands = sig.select(
        "doc_id",
        "sig_hi",
        "sig_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.expr(
                            f"{_region_expr('sig_', b)} >> {trunc}"
                        ).alias("band_key"),
                    )
                    for b in range(HAMMING_MAX + 1)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "sig_hi", "sig_lo", "band.band_id", "band.band_key")
    a = bands.alias("a")
    b = bands.alias("b")
    joined = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    hamming = sum(
        F.bit_count(
            F.expr(f"a.sig_{limb}").bitwiseXOR(F.expr(f"b.sig_{limb}"))
        )
        for limb in ("hi", "lo")
    )
    # first-agreeing-band single emission: keep the row only where band_id
    # is the FIRST band whose truncated keys agree (computable per joined
    # row from the two signatures — no distinct over the pair set).
    first_band = F.expr(
        "CASE "
        + " ".join(
            f"WHEN ({_region_expr('a.sig_', i)} >> {trunc}) = "
            f"({_region_expr('b.sig_', i)} >> {trunc}) THEN {i}"
            for i in range(HAMMING_MAX + 1)
        )
        + " END"
    )
    return (
        joined.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= HAMMING_MAX)
        .where(F.col("a.band_id") == first_band)
        .select(
            F.col("a.doc_id").alias("doc_1"),
            F.col("b.doc_id").alias("doc_2"),
            "hamming",
        )
        .orderBy(F.col("doc_1").asc(), F.col("doc_2").asc())
    )


# --- consolidated SimHash pair surface (r13 capacity policy) ----------------
# The three SimHash near-dup scans were separately-registered r4-r8
# queries; like the one-stage ANN scans they now verify as ONE multi-row
# oracle (method column), freeing two rotation slots while every
# signature width stays individually hash-checked — the per-method pair
# sets are disjoint keyspaces under the method tag, so a drift in any one
# flips the combined hash.

# One row per method: (name, leg function, leg oracle SQL) — the single
# registry both the Spark surface and the oracle union iterate, so a
# method cannot be added to one side and not the other (round-13 review).
_SIMHASH_METHODS = (
    ("adaptive88", dedup_simhash_adaptive, _SIMHASH_ADAPTIVE_ORACLE_SQL),
    ("narrow32", dedup_simhash_pairs, _SIMHASH_PAIRS_ORACLE_SQL),
    ("wide60", dedup_simhash_wide_pairs, _SIMHASH_WIDE_ORACLE_SQL),
)


def _simhash_methods_oracle() -> str:
    # No LIMIT → no top-level ORDER BY: the driver hash is
    # order-insensitive, and a total-order sort of the ~1.9 M-row sf0.1
    # union would be a single-partition stage bought for nothing.
    union = "\nUNION ALL\n".join(
        f"SELECT '{m}' AS method, doc_1, doc_2, hamming FROM ({sql})"
        for m, _fn, sql in _SIMHASH_METHODS
    )
    return f"""
SELECT method, doc_1, doc_2, hamming
FROM ({union})
"""


@query("dedup_simhash_methods", oracle=_simhash_methods_oracle())
def dedup_simhash_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pair surface: the 32-bit fixture baseline, the
    60-bit wide configuration and the 88-bit corpus-size-adaptive scan
    side by side under a method column — each method's (doc_1, doc_2,
    hamming) rows exactly as the three pre-r13 standalone registrations
    produced them. The per-method plans (band-blocked equi-joins with
    first-agreeing-band single emission) and saturation guards are
    untouched; this surface only unions their outputs, so the driver hash
    pins all three signature widths in one row budget.

    Round-18: all three legs tokenize + distinct + md5 the corpus
    identically before slicing different hex ranges; the shared
    (doc_id, hx) frame is materialized once and injected into each leg
    (values unchanged — the distinct runs on the token itself either
    way; 3-scale parity re-proven)."""
    toks = _distinct_token_md5(
        load_table(spark, sf_dir, "documents", spread=True)
    ).localCheckpoint()
    parts = [
        fn(spark, sf_dir, _toks=toks).select(
            F.lit(m).alias("method"), "doc_1", "doc_2", "hamming"
        )
        for m, fn, _sql in _SIMHASH_METHODS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- n-gram containment (asymmetric near-dup) ------------------------------
# Broder's other resemblance measure: containment C = |S(A) ∩ S(B)| /
# min(|S(A)|, |S(B)|). A 200-word document pasted inside a 5,000-word one
# scores near-zero Jaccard (the union is huge) but containment ≈ 1 — the
# doc-in-doc case a quote/boilerplate/aggregator dedup pass needs and the
# symmetric metrics miss. Same inverted-index blocking and hot-shingle
# DF-cut as dedup_ngram_jaccard; only the denominator changes.
CONTAINMENT_THRESHOLD = 0.8


# Round-15 capacity policy: DEREGISTERED as a standalone name — its rows
# ride verbatim as the ``containment`` leg of ``dedup_ngram_methods``
# (same shared scored-pair pipeline). Callable kept importable for tests.
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT (|∩| / min set
    size) next to the Jaccard the pair would have scored — surfacing
    doc-in-doc relations (quotes, boilerplate wrapping, aggregation)
    that the symmetric threshold never reaches.

    Scale shape: identical to ``dedup_ngram_jaccard`` — the shingle
    equi-join IS the blocking (only shingle-sharing docs meet; no
    quadratic term), the hot-shingle DF-cut bounds the index fanout, and
    the containment denominator is a broadcast-size lookup. One extra
    ``least`` per candidate pair is the entire added cost.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return _ngram_containment(docs, NGRAM_DF_CAP)


def _ngram_containment(docs: DataFrame, df_cap: int) -> DataFrame:
    """The containment leg in its retired standalone shape (kept so the
    asymmetric doc-in-doc catch stays unit-testable on synthetic corpora,
    tests/test_extensions.py)."""
    s = _ngram_scored(docs, df_cap)
    return (
        s.where(F.col("cont") >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_1",
            "doc_2",
            F.round("cont", 4).alias("containment"),
            F.round("jac", 4).alias("jaccard"),
        )
        .orderBy(
            F.col("containment").desc(), F.col("doc_1").asc(), F.col("doc_2").asc()
        )
    )


@query(
    "dedup_ngram_methods",
    oracle=f"""
WITH {_NGRAM_SCORED_SQL}
SELECT method, doc_1, doc_2,
       ROUND(cont, 4) AS containment,
       ROUND(jac, 4) AS jaccard
FROM (
    SELECT 'jaccard' AS method, * FROM scored
    WHERE jac >= {JACCARD_THRESHOLD}
    UNION ALL
    SELECT 'containment' AS method, * FROM scored
    WHERE cont >= {CONTAINMENT_THRESHOLD}
)
""",
)
def dedup_ngram_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram near-dup method surface (round-15 consolidation of the
    standalone ``dedup_ngram_jaccard`` + ``dedup_ngram_containment``
    registrations): the symmetric Jaccard (|∩|/|∪| ≥ JACCARD_THRESHOLD)
    and asymmetric containment (|∩|/min ≥ CONTAINMENT_THRESHOLD) filters
    side by side under a method column.
    Each leg's pair set and metric values are exactly the retired
    registration's rows; the surface adds the sibling metric per row —
    free, both derive from the same (|∩|, |A|, |B|) triple.

    Unlike a UNION of the two standalone plans, the shared scored-pair
    pipeline (DF-cut inverted index → shingle equi-join → sizes join) runs
    ONCE; the per-row method tags come from a 2-element array explode, so
    a pair passing both filters emits both rows without a second pass —
    the production shape (one candidate table, many admission filters).
    No LIMIT → no top-level sort: the driver hash is order-insensitive,
    and a total-order sort of the union buys nothing (the
    ``dedup_simhash_methods`` rule).
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    s = _ngram_scored(docs, NGRAM_DF_CAP)
    methods = F.array_compact(
        F.array(
            F.when(F.col("jac") >= JACCARD_THRESHOLD, F.lit("jaccard")),
            F.when(F.col("cont") >= CONTAINMENT_THRESHOLD, F.lit("containment")),
        )
    )
    return s.select(
        F.explode(methods).alias("method"),
        "doc_1",
        "doc_2",
        F.round("cont", 4).alias("containment"),
        F.round("jac", 4).alias("jaccard"),
    )
