"""Deduplication over ``documents`` — extension surface (SURVEY.md §7):
exact (hash-groupBy), normalized fingerprint, n-gram Jaccard near-dup,
SimHash near-dup, and MinHash+LSH (spark.ml; rows-only check).

Hash-function policy: everything oracle-checked hashes via md5 (identical
hex output in Spark and DuckDB); token hashes for SimHash are md5 hex
slices parsed as integers, one slice per signature limb (SIMHASH_LAYOUTS) —
reproducible bit-for-bit on both engines. spark.ml's MinHashLSH uses JVM-internal hashes → rows-only entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import load_table, share
from databricks_spark_sql_challenge1_spark.functions.hashing import (
    TEXT_FINGERPRINT_SQL,
    hex_int,
    hex_int_sql,
    text_fingerprint,
)
from databricks_spark_sql_challenge1_spark.functions.text import (
    ngrams,
    ngrams_sql,
    ws_tokens,
    ws_tokens_sql,
)
from databricks_spark_sql_challenge1_spark.registry import fill_doc, query

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
# The fixture documents draw from a tiny shared vocabulary, so signatures
# cluster tightly; Hamming ≤ 3 keeps the near-dup output meaningfully sparse
# (≤ 6 marks nearly half of all pairs "near-dup" on this corpus).
HAMMING_MAX = 3


def _ceil_log2(n: int) -> int:
    """ceil(log2 n) for n >= 2 (n < 2 counts as 2), in integer arithmetic:
    no float libm on the path to a band width (VERDICT r16 #6)."""
    return (max(n, 2) - 1).bit_length()


@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS text_hash,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS canonical_doc_id
FROM documents
GROUP BY text
ORDER BY text_hash ASC NULLS FIRST
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
    oracle=f"""
SELECT {TEXT_FINGERPRINT_SQL} AS fingerprint,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_doc_id
FROM documents
GROUP BY 1
ORDER BY fingerprint ASC NULLS FIRST
""",
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-fingerprint dedup (case/whitespace-insensitive)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        docs.groupBy(text_fingerprint().alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .orderBy(F.col("fingerprint").asc())
    )


def _shingles_spark(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): each document's distinct word SHINGLE_N-grams
    (documents with fewer tokens have none, see ``functions.text.ngrams``)."""
    return ngrams(docs, SHINGLE_N, "shingle").distinct()


_SHINGLES_SQL = f"""
    SELECT DISTINCT doc_id, shingle FROM ({ngrams_sql(SHINGLE_N, "shingle")})
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

# One row per signature layout: the md5 hex slices (start, length) of each
# limb. A limb of k hex chars is a 4k-bit signature word — at most 60 bits,
# so signed 64-bit arithmetic holds on both engines. Token hashes, bit
# algebra, Hamming distance and pigeonhole regions all derive from here.
#   narrow32    the 32-bit fixture baseline;
#   wide60      the measured 100 TB configuration (SCALE.md §Saturation
#               knees);
#   adaptive88  two 44-bit limbs, for the corpus-size-adaptive band keys of
#               ``dedup_simhash_adaptive``.
SIMHASH_LAYOUTS = {
    "narrow32": ((1, 8),),
    "wide60": ((1, 15),),
    "adaptive88": ((1, 11), (12, 11)),
}

# Incremental split: the fixture has no arrival timestamp on documents, so
# doc_id % 5 == 0 stands in for "today's incoming batch" (20% of the corpus)
# vs the already-ingested 80%. Fixtures contain NO exact-duplicate texts
# (verified: 0 groups with count>1), so incremental dedup is defined on the
# SimHash near-dup relation — the realistic production check anyway.
INCREMENTAL_MOD = 5

# DuckDB spells XOR ``xor(a, b)``: its ``^`` is POWER (Spark's is XOR).
_DUCK_XOR = "xor({}, {})"


def _simhash_regions(layout: str) -> tuple[tuple[int, int, int], ...]:
    """The HAMMING_MAX + 1 pigeonhole regions of a layout as (limb, shift,
    width): equal, disjoint bit slices, each inside one limb. Two
    signatures within Hamming HAMMING_MAX differ in at most HAMMING_MAX
    regions, so they agree exactly on at least one."""
    limbs = SIMHASH_LAYOUTS[layout]
    per_limb, rest = divmod(HAMMING_MAX + 1, len(limbs))
    width = 4 * limbs[0][1] // per_limb
    assert rest == 0 and all(4 * n == per_limb * width for _s, n in limbs)
    return tuple(
        (limb, r * width, width)
        for limb in range(len(limbs))
        for r in range(per_limb)
    )


def _limb_hashes(hx, layout: str) -> list:
    """One BIGINT token hash per limb of ``layout``, sliced from the md5 hex
    column ``hx`` (Spark side; ``_simhash_sig_sql`` slices the same chars)."""
    return [hex_int(hx, start, n) for start, n in SIMHASH_LAYOUTS[layout]]


def _simhash_bits(n_bits: int, h: str, fold: str = "sum({})") -> str:
    """SimHash bit algebra, one SQL expression (valid Spark SQL and DuckDB):
    bit b of the signature is set iff the ``fold`` of the tokens' ±1 votes
    on bit b of their hash ``h`` is positive. Batch folds rows with
    ``sum``; a stream folds a per-row array with ``aggregate``."""
    return " + ".join(
        f"(CASE WHEN {fold.format(f'CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END')} > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(n_bits)
    )


def _hamming_sql(layout: str, a: str, b: str, xor: str = "({} ^ {})") -> str:
    """Hamming distance between the signatures of relations ``a`` and
    ``b``: the bit counts of each limb's XOR, summed."""
    return " + ".join(
        f"bit_count({xor.format(f'{a}.s{i}', f'{b}.s{i}')})"
        for i in range(len(SIMHASH_LAYOUTS[layout]))
    )


def _distinct_token_md5(docs: DataFrame) -> DataFrame:
    """(doc_id, hx): md5 hex of each DISTINCT (doc_id, token) — the shared
    prefix of every SimHash layout (the distinct runs BEFORE hashing, so
    the dedup key is the token itself)."""
    return (
        docs.select("doc_id", F.explode(ws_tokens()).alias("tok"))
        .distinct()
        .select("doc_id", F.md5("tok").alias("hx"))
    )


def _simhash_sig(layout: str, toks: DataFrame) -> DataFrame:
    """(doc_id, s0[, s1]): the layout's SimHash limbs over a (doc_id, hx)
    token frame (``_distinct_token_md5``) — one groupBy, a single shuffle
    on doc_id at any scale."""
    hashed = toks.select(
        "doc_id",
        *[h.alias(f"h{i}") for i, h in enumerate(_limb_hashes("hx", layout))],
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.expr(_simhash_bits(4 * n, f"h{i}")).alias(f"s{i}")
            for i, (_start, n) in enumerate(SIMHASH_LAYOUTS[layout])
        ]
    )


def _simhash_sig_sql(layout: str, source: str = "documents") -> str:
    """The DuckDB twin of ``_simhash_sig``: the SELECT of a (doc_id, s0[, s1])
    CTE over ``source``, any relation with doc_id and text."""
    slices = SIMHASH_LAYOUTS[layout]
    hashes = ", ".join(
        f"{hex_int_sql('md5(tok)', start, n)} AS h{i}"
        for i, (start, n) in enumerate(slices)
    )
    limbs = ", ".join(
        f"{_simhash_bits(4 * n, f'h{i}')} AS s{i}"
        for i, (_start, n) in enumerate(slices)
    )
    return f"""
    SELECT doc_id, {limbs}
    FROM (
        SELECT doc_id, {hashes}
        FROM (SELECT DISTINCT doc_id, unnest({ws_tokens_sql()}) AS tok
              FROM {source})
    )
    GROUP BY doc_id"""


def _simhash_pairs_sql(layout: str, source: str = "documents") -> str:
    """DuckDB ground truth for a layout's near-dup pairs: the quadratic
    all-pairs join, (doc_1 < doc_2, hamming ≤ HAMMING_MAX)."""
    ham = _hamming_sql(layout, "a", "b", _DUCK_XOR)
    return f"""
WITH sig AS ({_simhash_sig_sql(layout, source)})
SELECT a.doc_id AS doc_1, b.doc_id AS doc_2,
       CAST({ham} AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE {ham} <= {HAMMING_MAX}
"""


# The incremental split's ground truth as a CTE chain ending in ``hits``:
# per incoming doc, the number of existing docs within HAMMING_MAX (all
# pairs, narrow32). ``dedup_incremental`` and its streaming twin read it.
_SIMHASH_SPLIT_HITS_SQL = f"""sig AS ({_simhash_sig_sql("narrow32")}),
inc AS (SELECT * FROM sig WHERE doc_id % {INCREMENTAL_MOD} = 0),
ex  AS (SELECT * FROM sig WHERE doc_id % {INCREMENTAL_MOD} <> 0),
hits AS (
    SELECT a.doc_id, COUNT(*) AS n
    FROM inc a JOIN ex b
      ON {_hamming_sql("narrow32", "a", "b", _DUCK_XOR)} <= {HAMMING_MAX}
    GROUP BY a.doc_id
)"""


# The registered form is deliberately UNSORTED, so its oracle declares no
# output order: the r18 layout campaign caught a declared doc_id order
# that only the single-file fixture happened to reproduce.
@query(
    "text_simhash",
    oracle=f"SELECT doc_id, s0 AS simhash FROM ({_simhash_sig_sql('narrow32')})",
)
def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash over distinct whitespace tokens.

    Token hash = first 8 md5 hex chars as int (engine-portable); bit b of
    the signature = sign of Σ ±1 over token-hash bit b. One explode + one
    groupBy — a single shuffle on doc_id at any scale. Unsorted: the
    building-block form for downstream joins/bands, where a global
    range-partitioning sort before a shuffle is pure waste at scale.
    """
    toks = _distinct_token_md5(load_table(spark, sf_dir, "documents", spread=True))
    return _simhash_sig("narrow32", toks).select(
        "doc_id", F.col("s0").alias("simhash")
    )


def _simhash_band_join(
    layout: str,
    left: DataFrame,
    right: DataFrame,
    pred=None,
    trunc: int = 0,
) -> DataFrame:
    """Exact near-dup pairs (doc_1 from ``left``, doc_2 from ``right``,
    hamming ≤ HAMMING_MAX) of two (doc_id, s0[, s1]) signature frames, each
    pair emitted EXACTLY ONCE with no post-join distinct.

    Blocking: both sides explode into the layout's pigeonhole regions; a
    pair within HAMMING_MAX agrees on at least one, so the equi-join on
    (band_id, band_key) yields a candidate superset with no N² term.
    ``trunc`` keeps only the top bits of each region as the band key (a
    prefix of an agreeing region agrees too). The exact Hamming filter
    keeps the true pairs, and a pair matching on several bands survives
    only on its FIRST agreeing band — computable from the XOR of the two
    signatures on the joined row, so multi-band duplicates drop by a
    per-row expression instead of a shuffle over the matched pair set.
    ``pred`` is an extra join predicate on the aliases ``a`` (left) and
    ``b`` (right), e.g. ``a.doc_id < b.doc_id`` for a self-join.

    Measured alternatives (sf0.1, local[32], BENCH_NOTES.md §simhash r4):
    post-join ``.distinct()`` — equal cold, slower warm (it re-shuffles
    ~6M matched rows); a second pigeonhole level splitting dense buckets
    on the out-of-band bits — SLOWER on the fixture, whose 3,058-doc hot
    bucket is true-dup-dominated, while the sub-band explode adds 4× rows
    and wider join keys. At a real corpus where hot buckets are
    boilerplate-driven, the sub-band level becomes the right lever
    (SCALE.md §Saturation knees documents the trigger)."""
    regions = _simhash_regions(layout)

    def region_key(limb: str, r: int) -> str:
        i, shift, width = regions[r]
        key = f"(({limb.format(i)} >> {shift}) & {(1 << width) - 1})"
        return f"({key} >> {trunc})" if trunc else key

    def bands(sig: DataFrame) -> DataFrame:
        return sig.select(
            *sig.columns,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("band_id"),
                            F.expr(region_key("s{}", r)).alias("band_key"),
                        )
                        for r in range(len(regions))
                    ]
                )
            ).alias("band"),
        ).select(*sig.columns, "band.band_id", "band.band_key")

    last = len(regions) - 1
    whens = " ".join(
        f"WHEN {region_key('(a.s{0} ^ b.s{0})', r)} = 0 THEN {r}"
        for r in range(last)
    )
    on = (F.col("a.band_id") == F.col("b.band_id")) & (
        F.col("a.band_key") == F.col("b.band_key")
    )
    if pred is not None:
        on = on & pred
    return (
        bands(left).alias("a")
        .join(bands(right).alias("b"), on)
        .withColumn("hamming", F.expr(_hamming_sql(layout, "a", "b")).cast("int"))
        .where(F.col("hamming") <= HAMMING_MAX)
        .where(F.expr(f"a.band_id = (CASE {whens} ELSE {last} END)"))
        .select(
            F.col("a.doc_id").alias("doc_1"),
            F.col("b.doc_id").alias("doc_2"),
            "hamming",
        )
    )


def _simhash_self_pairs(layout: str, toks: DataFrame, trunc: int = 0) -> DataFrame:
    """Near-dup pairs within one corpus: the layout's signatures over the
    (doc_id, hx) token frame, materialized once (n_docs tiny rows, both
    join sides read them), band-self-joined on ``a.doc_id < b.doc_id``."""
    sig = share(_simhash_sig(layout, toks), "simhash_self_pairs.sig")
    return _simhash_band_join(
        layout, sig, sig, F.col("a.doc_id") < F.col("b.doc_id"), trunc
    )


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 32-bit SimHash Hamming distance ≤ HAMMING_MAX.

    Scale path, exact: the band-blocked equi-join of
    ``_simhash_band_join`` (HAMMING_MAX+1 pigeonhole bands, exact
    bit_count filter, first-agreeing-band single emission). Result is
    identical to the quadratic all-pairs join (the DuckDB oracle), but the
    join is an equi-join: no crossJoin, shuffles on band buckets only.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return _narrow32_leg(docs, _distinct_token_md5(docs))


def _narrow32_leg(docs: DataFrame, toks: DataFrame) -> DataFrame:
    return _simhash_self_pairs("narrow32", toks)


# Saturation guard (round-8, closing VERDICT r7 "What's wrong" #1/#2): the
# wide60 baseline below is retained as the measured fixture-scale
# configuration, but its band space is FIXED, so candidate volume
# Σ|bucket|² goes quadratic once the corpus outgrows it — measured, not
# hypothesized. The knee is 8·10⁴ docs: on the decorrelated stress
# replicas, to a parquet sink, the wide60 pairs took 0.9 / 0.8 / 1.1 /
# 8.4 s at 1×/4×/8×/16× (5 k → 80 k docs) — 1.1 s → 8.4 s in one
# doubling while output grew only 1.6× (commit 7d3ddbd; SCALE.md
# §Saturation knees). A copy-paste user must not be able to run it past
# the knee: it counts its corpus first (a cheap count-star, the bounded
# anchor-pull pattern) and raises toward the adaptive sibling — whose band
# space grows with log₂ N and is measured flat 1×–16× — instead of
# silently going quadratic.
SIMHASH_WIDE_SATURATION_DOCS = 80_000


def _guard_fixed_band_corpus(n: int, knee: int, name: str, adaptive: str) -> None:
    """Raise-style saturation guard for a fixed-band baseline whose output
    contract the adaptive sibling cannot reproduce (r9, VERDICT r8 #5:
    ``dedup_simhash_wide_pairs`` emits exact Hamming over the 60-bit
    signature, while the adaptive sibling hams an 88-bit one — the values
    differ, so silent delegation would change results)."""
    if n > knee:
        raise ValueError(
            f"{name}: corpus size {n} exceeds the measured band-saturation "
            f"knee ({knee}) of this fixed-band baseline — candidate volume "
            "goes quadratic past it (SCALE.md §Saturation knees). Use "
            f"{adaptive}, whose band space adapts to corpus size and is "
            f"measured flat 1x-16x (not auto-delegated: {adaptive}'s "
            "signature width differs, so its hamming values are a "
            "different exact relation)."
        )


def dedup_simhash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs on the 60-bit wide SimHash — the measured 100 TB
    configuration of ``dedup_simhash_pairs``.

    Round 5's growth curve (SCALE.md §Saturation knees) showed the 32-bit
    signature's 8-bit bands saturating: 256 possible band values means
    every bucket is dense once the corpus passes ~10 k docs, and candidate
    volume grows quadratically regardless of true-dup density. With 15-bit
    bands (32,768 values) random band collisions stay rare until ~10⁶ docs
    per partition-disjoint corpus shard, and the candidate set tracks true
    pairs again (measured on the decorrelated 4× replica: cross-replica pair
    count collapses vs the 32-bit variant). Same band join; the exact
    Hamming filter makes the result identical to the oracle's quadratic
    all-pairs join.

    Scale posture (r8): the 4×15-bit band space is fixed, and the round-7
    sink-mode curve measured it saturating at ~8·10⁴ docs — so this
    baseline guards its corpus size and raises toward
    ``dedup_simhash_adaptive`` (log₂N-derived band prefix, measured flat)
    past the knee rather than going quadratic.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return _wide60_leg(docs, _distinct_token_md5(docs))


def _wide60_leg(docs: DataFrame, toks: DataFrame) -> DataFrame:
    _guard_fixed_band_corpus(
        docs.count(),
        SIMHASH_WIDE_SATURATION_DOCS,
        "dedup_simhash_wide_pairs",
        "dedup_simhash_adaptive",
    )
    return _simhash_self_pairs("wide60", toks)


@query(
    "dedup_incremental",
    oracle=f"""
WITH {_SIMHASH_SPLIT_HITS_SQL}
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

    Same band join as ``dedup_simhash_pairs`` but across the
    incoming/existing split — candidate generation touches only docs that
    collide on a band, so the incremental check costs O(batch) shuffles,
    not O(corpus²). At 100 TB the existing side's band table is a
    precomputed, bucketed index the daily batch joins against.

    Round-19 shape (VERDICT r18 #7): the signature frame feeds THREE plan
    references (incoming bands, existing bands, the incoming left-join
    back). One shared (doc_id, s0) frame — n_docs tiny rows — feeds both
    sides: one corpus pass total. Each colliding (incoming, existing) pair is counted exactly
    once by the band join's first-agreeing-band rule.
    """
    toks = _distinct_token_md5(load_table(spark, sf_dir, "documents", spread=True))
    sig = share(_simhash_sig("narrow32", toks), "dedup_incremental.sig")
    incoming = sig.where(F.col("doc_id") % INCREMENTAL_MOD == 0)
    existing = sig.where(F.col("doc_id") % INCREMENTAL_MOD != 0)
    hits = (
        _simhash_band_join("narrow32", incoming, existing)
        .groupBy(F.col("doc_1").alias("doc_id"))
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
    x = hex_int(F.md5("shingle"), 1, 15) % MINHASH_P
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
    SELECT doc_id, {hex_int_sql("md5(shingle)", 1, 15)} % {MINHASH_P} AS x
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
    # shared: the md5-minhash signature pipeline feeds both sides of the
    # band self-join below
    bands = share(
        sig.select(
            "doc_id",
            *[F.col(f"m{i}") for i in range(MINHASH_K)],
            F.explode(F.array(*band_structs)).alias("band"),
        )
        .select("*", "band.band_id", "band.band_key")
        .drop("band"),
        "minhash_portable.bands",
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

# Adaptive-width hyperplane bands: round 5's growth curve (SCALE.md
# §Saturation knees) measured a fixed 6-bit configuration saturating — 64
# values/band means every bucket is dense past ~10⁴ vectors and candidate
# volume grows quadratically (4.9×/doubling at 8×). The fix is the same
# family as ``dedup_simhash_wide_pairs`` but parameterized by corpus size:
# bits per band = 2·ceil(log2 N) − EMB_LSH_BITS_OFFSET (clamped to [6, 16]),
# so the band-value space 2^bits quadruples per corpus doubling — exactly
# matching the N² growth of random pairs, which pins expected random band
# collisions (≈ bands · N²/2^(bits+1)) CONSTANT. The offset calibrates the
# formula to reproduce the fixture-tuned 6-bit configuration at the 2
# k-vector 1× fixture. Recall trade: at the production near-dup threshold
# (cosine 0.99, per-bit agreement p ≈ 0.97) twelve 16-bit bands hold recall
# ≈ 1−(1−0.97¹⁶)¹² ≈ 0.999997; only the fixture's deliberately loose 0.4
# threshold (p ≈ 0.63) loses recall as bits widen — and at fixture sizes
# bits stays 6.
EMB_LSH_MAX_BITS = 16
EMB_LSH_BITS_OFFSET = 16


def _emb_lsh_bits(n: int) -> int:
    """Band width for an index of n vectors. The oracle's params CTE
    computes the same integer formula, ceil(log2 n) as
    ``length(bin(n-1))``, so the band width never touches float libm on
    either engine (pinned at every power of two ±1 to 2^40 in
    tests/test_extensions.py)."""
    return min(
        EMB_LSH_MAX_BITS,
        max(EMB_LSH_BITS, 2 * _ceil_log2(n) - EMB_LSH_BITS_OFFSET),
    )


def _lsh_planes_wide(dim: int = EMB_LSH_DIM):
    """The one seeded random-hyperplane matrix, (dim,
    EMB_LSH_BANDS·EMB_LSH_MAX_BITS), band-major: band b's columns are
    [b·MAX_BITS, (b+1)·MAX_BITS). Each band's first EMB_LSH_BITS columns
    come from a seed-42 draw and its widening columns from an independent
    seed-43 draw; a band width of ``bits`` uses each band's first ``bits``
    columns. Shared bit-for-bit by the Spark kernel and the oracle.

    Every oracle-backed caller bakes this matrix into its DuckDB SQL at
    EMB_LSH_DIM, so the fixed-dim oracle contract (see ``_emb_dim``) is
    enforced HERE — one guard covers the whole family
    (``dedup_embedding_lsh_adaptive``, ``dedup_embedding_incremental``,
    and everything built on their signatures) instead of per-query
    call sites that can drift (r16-end review)."""
    _require_oracle_dim(dim)
    import numpy as np

    base, extra = (
        np.random.RandomState(seed)
        .normal(size=(dim, EMB_LSH_BANDS * k))
        .reshape(dim, EMB_LSH_BANDS, k)
        for seed, k in ((42, EMB_LSH_BITS), (43, EMB_LSH_MAX_BITS - EMB_LSH_BITS))
    )
    return np.concatenate([base, extra], axis=2).reshape(dim, -1)


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
    (vec_id, band, band_val) row per band, shared so the Arrow/numpy
    kernel never reruns on both sides of the downstream band
    equi-joins."""
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

    return share(
        e.mapInPandas(signatures, "vec_id long, band int, band_val long"),
        "emb_lsh.sigs",
    )


def _emb_lsh_pairs(
    spark: SparkSession, e: DataFrame, dim: int, n_index: int, pairing
) -> DataFrame:
    """(vec_1, vec_2, cosine): the one hyperplane-LSH candidate join and
    verify. Band width comes from ``n_index``, the size of the index being
    probed; one signature pass over ``e`` (``_emb_signatures``) feeds a
    band equi-join whose extra predicate ``pairing`` (on the aliases ``a``
    and ``b``) picks which vectors may pair; a pair colliding in several
    bands is one candidate, verified by the exact JVM-side cosine at
    EMB_DUP_THRESHOLD (over DOUBLE-cast arrays, so products match the
    oracle's double arithmetic — float32 products would drift ~1e-7, past
    the ROUND(6) pin)."""
    bits = _emb_lsh_bits(n_index)
    cols = [b * EMB_LSH_MAX_BITS + k for b in range(EMB_LSH_BANDS) for k in range(bits)]
    sigs = _emb_signatures(spark, e, _lsh_planes_wide(dim)[:, cols], bits)
    a, b_ = sigs.alias("a"), sigs.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & pairing,
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
    )


def _emb_lsh_ctes(
    count_from: str = "embeddings", pairing: str = "a.vec_id < b.vec_id"
) -> str:
    """The DuckDB twin of ``_emb_lsh_pairs``: a CTE chain ending in
    ``lshp`` (vec_1, vec_2, cosine), shared by the pair, incremental and
    embedding-cluster oracles. The wide plane matrix is baked as
    full-precision double literals (repr round-trips exactly); the band
    width comes from a params CTE computing the identical clamp(2·ceil(log2
    N) − offset) off COUNT(*) over ``count_from``, and every bit term is
    gated on ``k < p.bits``, so the same SQL is correct at every corpus
    size (the sqrtk pattern — parameters derived in-query, never a second
    source of truth). Candidates are band collisions whose aliases ``a``
    and ``b`` satisfy ``pairing``. numpy's dgemm and DuckDB's sequential
    dot differ only in summation order (~1e-13); a sign flip needs |dot|
    below that — never observed, and the exact ROUND(6) cosine verify is
    the expression the oracle-green ``dedup_embedding_cosine`` uses."""
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
    FROM {count_from}
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
              AND {pairing}
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


@query(
    "dedup_embedding_lsh_adaptive",
    oracle=f"""
WITH {_emb_lsh_ctes()}
SELECT vec_1, vec_2, cosine FROM lshp
ORDER BY vec_1 ASC, vec_2 ASC
""",
)
def dedup_embedding_lsh_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup WITHOUT all-pairs: random-hyperplane LSH blocking
    with a corpus-size-adaptive band width.

    Plan shape (``_emb_lsh_pairs``): broadcast planes → Arrow-batched
    sign-bit GEMM → band equi-join → exact DOUBLE-cosine verify. Scale
    shape: shuffle on (band, value) — no N² term anywhere, the
    10⁹-vector path the chunked GEMM of ``dedup_embedding_cosine`` cannot
    be. The band-value space grows with the corpus: bits = clamp(2·ceil
    (log2 N) − {off}, {lo}, {hi}), i.e. +2 bits per corpus doubling,
    quadrupling the bucket space exactly as fast as the random-pair count
    grows. Expected random band collisions stay ≈ bands·N²/2^(bits+1) =
    constant, so the candidate join is linear in N and the signature GEMM
    (linear, BLAS) dominates — where a fixed 6-bit band space measured
    4.9×/doubling at 8× from pure band saturation (SCALE.md §Saturation
    knees). N is read once via the bounded anchor-pull pattern (a count,
    not a collect); the oracle derives the identical width from COUNT(*)
    in its params CTE, so the two sides can never desync. Recall is
    tunable (bands × bits); the subset property (output ⊆ exact all-pairs
    output) and recall floor are pinned in tests/test_extensions.py
    against ``dedup_embedding_cosine``. The seeded planes make even this
    "not SQL-expressible" op oracle-checkable: the matrix is baked into
    the DuckDB SQL as literals (``_emb_lsh_ctes``).
    """
    e = load_table(spark, sf_dir, "embeddings", spread=True).select("vec_id", "embedding")
    dim = _emb_dim(e)
    if dim is None:
        return _empty_pairs(spark)
    return _emb_lsh_pairs(
        spark, e, dim, e.count(), F.col("a.vec_id") < F.col("b.vec_id")
    ).orderBy("vec_1", "vec_2")


fill_doc(
    dedup_embedding_lsh_adaptive,
    off=EMB_LSH_BITS_OFFSET,
    lo=EMB_LSH_BITS,
    hi=EMB_LSH_MAX_BITS,
)


def _emb_inc_oracle_sql() -> str:
    """DuckDB oracle for the embedding-side incremental admission: the one
    LSH CTE chain with the band width derived from the EXISTING side's
    count (the index's own size is the index parameter, never the
    batch's) and candidates pairing an incoming vector with an existing
    one."""
    mod = INCREMENTAL_MOD
    ctes = _emb_lsh_ctes(
        f"embeddings WHERE vec_id % {mod} <> 0",
        f"a.vec_id % {mod} = 0 AND b.vec_id % {mod} <> 0",
    )
    return f"""
WITH {ctes},
hits AS (
    SELECT vec_1 AS vec_id, COUNT(*) AS n, MAX(cosine) AS mc
    FROM lshp GROUP BY vec_1
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

    Plan shape: the one LSH candidate join and verify
    (``_emb_lsh_pairs``) — ONE adaptive-band signature pass over the
    corpus, materialized once, then an incoming×existing band equi-join
    (the ``vec_id % mod`` split is the join's pairing predicate) and an
    exact DOUBLE-cosine verify on the collisions only. Band width derives
    from the EXISTING side's count — the index's own size is the index
    parameter; a small batch against a large corpus must probe the
    corpus's band space, not shrink it.

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
    hits = (
        _emb_lsh_pairs(
            spark,
            e,
            dim,
            e.where(F.col("vec_id") % INCREMENTAL_MOD != 0).count(),
            (F.col("a.vec_id") % INCREMENTAL_MOD == 0)
            & (F.col("b.vec_id") % INCREMENTAL_MOD != 0),
        )
        .groupBy(F.col("vec_1").alias("vec_id"))
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
WITH win AS ({ngrams_sql(SUBSTR_WINDOW, "w", lower=True)}),
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
    win = ngrams(docs, SUBSTR_WINDOW, "w", lower=True)
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


# Adaptive-band SimHash (round 7). The sink-mode growth re-read (commit
# 7d3ddbd, SCALE.md §Saturation knees) measured the 60-bit/15-bit-band
# config's band space saturating at ~8x10^4 docs (1.1 s -> 8.4 s across
# 8x->16x while output grew only 1.6x). Cure = the family rule proven on the
# embedding LSH in r6: derive band width from corpus size. SimHash needs one
# extra move: the pigeonhole argument fixes the BAND COUNT at HAMMING_MAX +
# 1, so the only lever is total signature width -> the two-limb adaptive88
# layout (2 x 44 bits), giving 4 pigeonhole regions of 22 bits. The runtime
# band KEY is the top `bpb` bits of each region (truncation preserves the
# pigeonhole: if two signatures agree on a whole region they agree on any
# prefix of it), and bpb = clamp(ceil(log2 N) + 2, 8, 22) keeps the expected
# random-collision bucket load < 1/4 doc per bucket at every corpus size up
# to ~10^6 docs per shard. Because the exact Hamming filter decides
# membership, the RESULT is band-width-invariant — the oracle is the
# quadratic all-pairs join and cannot desync from the band rule by
# construction.
SIMHASH_BPB_MIN = 8
SIMHASH_BPB_MAX = _simhash_regions("adaptive88")[0][2]


def _adaptive_simhash_bpb(n_docs: int) -> int:
    return max(SIMHASH_BPB_MIN, min(SIMHASH_BPB_MAX, _ceil_log2(n_docs) + 2))


def dedup_simhash_adaptive(
    spark: SparkSession, sf_dir: str, bpb: int | None = None
) -> DataFrame:
    """Near-dup pairs on an 88-bit two-limb SimHash with corpus-size-
    adaptive band keys — the SimHash family's answer to the band-space
    saturation the round-7 sink-mode curve measured on the 60-bit config
    (SCALE.md §Saturation knees): band key = top clamp(ceil(log2 N)+2,
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
    return _adaptive88_leg(docs, _distinct_token_md5(docs), bpb)


def _adaptive88_leg(
    docs: DataFrame, toks: DataFrame, bpb: int | None = None
) -> DataFrame:
    if bpb is None:
        bpb = _adaptive_simhash_bpb(docs.count())
    return _simhash_self_pairs("adaptive88", toks, SIMHASH_BPB_MAX - bpb)


# --- consolidated SimHash pair surface (r13 capacity policy) ----------------
# The three SimHash near-dup scans were separately-registered r4-r8
# queries; like the one-stage ANN scans they now verify as ONE multi-row
# oracle (method column), freeing two rotation slots while every
# signature width stays individually hash-checked — the per-method pair
# sets are disjoint keyspaces under the method tag, so a drift in any one
# flips the combined hash. One method per layout: both the Spark surface
# and the oracle union iterate SIMHASH_LAYOUTS, so a layout cannot reach
# one side and not the other. Each leg takes the corpus (for its guard or
# band-width count) and the shared (doc_id, hx) token frame.
_SIMHASH_METHODS = {
    "narrow32": _narrow32_leg,
    "wide60": _wide60_leg,
    "adaptive88": _adaptive88_leg,
}


def _simhash_methods_oracle() -> str:
    # No LIMIT → no top-level ORDER BY: the driver hash is
    # order-insensitive, and a total-order sort of the ~1.9 M-row sf0.1
    # union would be a single-partition stage bought for nothing.
    union = "\nUNION ALL\n".join(
        f"SELECT '{m}' AS method, doc_1, doc_2, hamming"
        f" FROM ({_simhash_pairs_sql(m)})"
        for m in SIMHASH_LAYOUTS
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
    produced them. The per-method plans (the one band join) and the
    saturation guard are untouched; this surface only unions their
    outputs, so the driver hash pins all three signature widths in one row
    budget.

    Round-18: all three legs tokenize + distinct + md5 the corpus
    identically before slicing different hex ranges; the shared
    (doc_id, hx) frame is materialized once and passed to each leg
    (values unchanged — the distinct runs on the token itself either
    way; 3-scale parity re-proven)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = share(_distinct_token_md5(docs), "simhash_methods.toks")
    parts = [
        _SIMHASH_METHODS[m](docs, toks).select(
            F.lit(m).alias("method"), "doc_1", "doc_2", "hamming"
        )
        for m in SIMHASH_LAYOUTS
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
