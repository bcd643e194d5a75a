"""Lexical retrieval over ``documents`` — extension surface (SURVEY.md §7):
Okapi BM25 scoring, the classic sparse-retrieval baseline every RAG /
training-data curation stack keeps next to its embedding ANN index
(Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework").

Engine-parity policy: the per-term score is generated from ONE Python
template into both the Spark expression and the DuckDB oracle SQL, so the
floating-point evaluation order is textually identical on both sides; the
query-term partial scores are pivoted into fixed columns and added in a
fixed order (never SUM over rows, whose accumulation order differs per
engine/partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databricks_spark_sql_challenge1_spark.catalog import load_table, share
from databricks_spark_sql_challenge1_spark.functions.text import ws_tokens, ws_tokens_sql
from databricks_spark_sql_challenge1_spark.functions.vectors import cosine
from databricks_spark_sql_challenge1_spark.operators.similarity import _emb
from databricks_spark_sql_challenge1_spark.registry import query

# Fixed retrieval query — terms from the fixture vocabulary (FIXTURES.md:
# documents share a tiny vocabulary, so df spans low/mid/high and the
# score surface is non-degenerate).
BM25_QUERY_TERMS: tuple[str, ...] = ("hash", "merge", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def _bm25_term_score_sql(t: str) -> str:
    """One query-term's BM25 partial, as SQL shared verbatim by both
    engines: idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with the
    Lucene-style always-positive idf ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return (
        f"(ln(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * (tf_{t} * {BM25_K1 + 1.0})"
        f" / (tf_{t} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl)))"
    )


_BM25_SCORE_SQL = " + ".join(_bm25_term_score_sql(t) for t in BM25_QUERY_TERMS)


def _bm25_cte() -> str:
    """Shared oracle CTE chain ending in ``bm(doc_id, raw)`` — the DuckDB
    twin of ``_bm25_scored``."""
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}"
        for t in BM25_QUERY_TERMS
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in BM25_QUERY_TERMS
    )
    return f"""d AS (
    SELECT doc_id, {ws_tokens_sql()} AS toks FROM documents
),
dd AS (
    SELECT doc_id, len(toks) AS dl, {tf_cols}
    FROM d
),
st AS (
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
           {df_cols}
    FROM dd
),
bm AS (
    SELECT doc_id, {_BM25_SCORE_SQL} AS raw
    FROM dd, st
)"""


def _bm25_oracle() -> str:
    # Top-k MEMBERSHIP is decided on the ROUNDED score (ADVICE r9): ln()
    # is not bit-identical between DuckDB's libm and the JVM, so a sub-ulp
    # near-tie at the k boundary on the raw double could select different
    # row sets per engine. Rounding first + doc_id tiebreak makes the
    # selected set ulp-drift-immune (the RRF lexical leg already does this).
    return f"""
WITH {_bm25_cte()}
SELECT doc_id, ROUND(raw, 4) + 0 AS bm25
FROM bm
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOP_K}
"""


@query("docs_bm25_topk", oracle=_bm25_oracle())
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k over the corpus for a fixed query-term set.

    Scale shape (the part that matters at 100 TB): two scan-resident
    passes and nothing else — a stats pass (N, Σdl, per-term df via one
    partial-aggregated ``agg`` whose 1-row result is broadcast back) and a
    scoring pass where dl and the |Q| term frequencies are filtered-
    ``size`` expressions inside the scan's codegen stage. No exploded
    token table, no
    term-level shuffle: the only exchange in the plan is the final
    TakeOrderedAndProject top-k merge (per-partition heaps, driver-side
    k-way merge of 32 rows). Contrast with the inverted-index layout
    (``text_tfidf_top_terms``) which pays a term-grain shuffle — right
    for ALL terms, wasteful for a fixed |Q|=3 probe. The scored relation
    never materializes: scoring is a scalar expression over (dl, tf_t)
    joined to the broadcast stats row.
    """
    dd = _bm25_doc_feats(load_table(spark, sf_dir, "documents", spread=True))
    scored = _bm25_scored(dd, _bm25_stats(dd))
    raw = F.col("_raw")
    return (
        scored.select(
            "doc_id", (F.round(raw, 4) + F.lit(0)).alias("bm25")
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP_K)
    )


def _bm25_doc_feats(docs: DataFrame) -> DataFrame:
    """Per-document BM25 features (doc_id, dl, tf_<term>...) as scan-stage
    expressions over whatever ``docs`` frame is passed — the full corpus
    for the stats/scoring passes, or a K-row shortlist probe for
    ``retrieval_rrf_rerank``'s stage 2."""
    return docs.select("doc_id", ws_tokens().alias("toks")).select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[
            F.expr(f"size(filter(toks, x -> x = '{t}'))").alias(f"tf_{t}")
            for t in BM25_QUERY_TERMS
        ],
    )


def _bm25_stats(dd: DataFrame) -> DataFrame:
    """Corpus-constant BM25 statistics (1 row: n_docs, avgdl, df_<term>...)
    aggregated from the full-corpus feature frame."""
    return dd.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in BM25_QUERY_TERMS
        ],
    )


def _bm25_scored(dd: DataFrame, st: DataFrame) -> DataFrame:
    """Shared BM25 scoring frame: (doc_id, _raw score) for the fixed query
    terms over the feature frame ``dd`` and the 1-row corpus statistics
    ``st`` — the lexical leg of ``docs_bm25_topk`` and
    ``retrieval_hybrid_rrf``, and ``retrieval_rrf_rerank``'s stage-2
    shortlist scorer (round 19: that query computes the stats once and
    feeds both of its stages — one corpus aggregate instead of two)."""
    return dd.crossJoin(F.broadcast(st)).select(
        "doc_id", F.expr(_BM25_SCORE_SQL).alias("_raw")
    )


# --- hybrid retrieval: reciprocal-rank fusion -------------------------------
# The combiner every hybrid search stack runs (Cormack, Clarke & Büttcher
# 2009, "Reciprocal rank fusion outperforms Condorcet and individual rank
# learning methods"): fuse a lexical ranking and a dense ranking by
# rrf(d) = Σ_legs 1/(K + rank_leg(d)). Rank-based fusion needs no score
# calibration between legs — which is why it composes BM25 and cosine
# without normalizing either.
RRF_K = 60
RRF_LEG_N = 50  # candidates taken from each leg
RRF_TOP_K = 20
RRF_PROBE_VEC_ID = 0  # dense probe = this vector (aligned: vec_id == doc_id)


def _rrf_fused_sql() -> str:
    """Oracle CTE chain ending in ``short(doc_id, lr, dr)`` — the RRF
    top-{RRF_TOP_K} shortlist, ``retrieval_hybrid_rrf``'s rows."""
    return f"""{_bm25_cte()},
lex AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY ROUND(raw, 4) DESC, doc_id ASC) AS lr
    FROM bm
),
lexn AS (SELECT doc_id, lr FROM lex WHERE lr <= {RRF_LEG_N}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
qv AS (SELECT emb AS qemb FROM e WHERE vec_id = {RRF_PROBE_VEC_ID}),
den AS (
    SELECT vec_id,
           row_number() OVER (
               ORDER BY ROUND(list_cosine_similarity(qemb, emb), 6) DESC,
                        vec_id ASC) AS dr
    FROM e, qv
),
denn AS (SELECT vec_id, dr FROM den WHERE dr <= {RRF_LEG_N}),
short AS (
    SELECT COALESCE(l.doc_id, d.vec_id) AS doc_id, l.lr, d.dr
    FROM lexn l FULL JOIN denn d ON d.vec_id = l.doc_id
    ORDER BY COALESCE(1.0 / ({RRF_K} + l.lr), 0.0)
             + COALESCE(1.0 / ({RRF_K} + d.dr), 0.0) DESC NULLS LAST,
             COALESCE(l.doc_id, d.vec_id) ASC NULLS FIRST
    LIMIT {RRF_TOP_K}
)"""


@query(
    "retrieval_hybrid_rrf",
    oracle=f"""
WITH {_rrf_fused_sql()}
SELECT doc_id,
       CAST(lr AS BIGINT) AS lex_rank,
       CAST(dr AS BIGINT) AS dense_rank,
       ROUND(COALESCE(1.0 / ({RRF_K} + lr), 0.0)
             + COALESCE(1.0 / ({RRF_K} + dr), 0.0), 6) AS rrf_score
FROM short
ORDER BY COALESCE(1.0 / ({RRF_K} + lr), 0.0)
         + COALESCE(1.0 / ({RRF_K} + dr), 0.0) DESC,
         doc_id ASC
""",
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical leg + brute-force cosine dense leg
    (probe = the vec_id-{RRF_PROBE_VEC_ID} embedding; the fixture aligns
    vec_id 1:1 with doc_id), top-{RRF_LEG_N} candidates per leg, fused by
    reciprocal-rank fusion with the standard K={RRF_K}. A document
    missing from one leg simply contributes nothing from it — exactly
    RRF's robustness property, and why no score normalization exists
    anywhere in this plan.

    Scale shape: each leg is the already-audited scan shape (BM25 =
    broadcast-stats scoring pass; dense = broadcast-probe zip_with
    products) truncated to a {RRF_LEG_N}-row TakeOrdered head, so the
    fusion itself — a full-outer join of two {RRF_LEG_N}-row frames and
    a rank-arithmetic projection — is driver-trivial at ANY corpus
    size: the legs' top-k machinery is what scales, the fusion never
    grows. Ranks are integers, so the fused score is bit-identical
    arithmetic on both engines — no FP drift surface beyond the legs'
    already-immunized rounding.
    """
    dd = _bm25_doc_feats(load_table(spark, sf_dir, "documents", spread=True))
    return _rrf_fused(spark, sf_dir, _bm25_scored(dd, _bm25_stats(dd)))


def _rrf_fused(spark: SparkSession, sf_dir: str, scored: DataFrame) -> DataFrame:
    """``retrieval_hybrid_rrf``'s rows with the BM25 leg's (doc_id, _raw)
    frame ``scored`` passed in."""
    lex = (
        scored.select(
            "doc_id",
            F.row_number()
            .over(
                Window.orderBy(
                    F.round("_raw", 4).desc(), F.col("doc_id").asc()
                )
            )
            .alias("lr"),
        )
        .where(F.col("lr") <= RRF_LEG_N)
    )
    e = _emb(spark, sf_dir)
    qv = e.where(F.col("vec_id") == RRF_PROBE_VEC_ID).select(
        F.col("emb").alias("qemb")
    )
    den = (
        e.join(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(cosine(F.col("qemb"), F.col("emb")), 6).alias("sim"),
        )
        .select(
            "vec_id",
            F.row_number()
            .over(Window.orderBy(F.col("sim").desc(), F.col("vec_id").asc()))
            .alias("dr"),
        )
        .where(F.col("dr") <= RRF_LEG_N)
    )
    fused = lex.join(den, lex["doc_id"] == den["vec_id"], "full_outer")
    rrf = F.coalesce(1.0 / (F.lit(RRF_K) + F.col("lr")), F.lit(0.0)) + F.coalesce(
        1.0 / (F.lit(RRF_K) + F.col("dr")), F.lit(0.0)
    )
    return (
        fused.select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
            F.col("lr").cast("bigint").alias("lex_rank"),
            F.col("dr").cast("bigint").alias("dense_rank"),
            F.round(rrf, 6).alias("rrf_score"),
            rrf.alias("_rrf_raw"),
        )
        .orderBy(F.col("_rrf_raw").desc(), F.col("doc_id").asc())
        .limit(RRF_TOP_K)
        .drop("_rrf_raw")
    )


# --- two-stage retrieval: RRF shortlist -> exact re-rank --------------------
# The text-side twin of ``similarity_pq_rerank``'s retrieve-then-rerank
# shape (VERDICT r10 #4b): a cheap rank-fusion stage-1 shortlist, then an
# "expensive" stage-2 scorer evaluated ONLY on the K shortlist rows — the
# cross-encoder serving pattern with the neural scorer stood in by a
# deterministic feature blend (exact cosine + shortlist-normalized BM25),
# so the oracle can replay it bit-for-bit. The economics are the point:
# stage 2's cost is O(K) joins against the feature sources regardless of
# corpus size; only stage 1's already-audited top-k machinery scales with N.
RERANK_ALPHA = 0.5  # blend weight: alpha * cosine + (1-alpha) * bm25_norm


@query(
    "retrieval_rrf_rerank",
    oracle=f"""
WITH {_rrf_fused_sql()},
ranked AS (
    SELECT doc_id,
           row_number() OVER (
               ORDER BY ROUND(COALESCE(1.0 / ({RRF_K} + lr), 0.0)
                              + COALESCE(1.0 / ({RRF_K} + dr), 0.0), 6)
                        DESC, doc_id ASC) AS rrf_rank
    FROM short
),
feats AS (
    SELECT r.doc_id, r.rrf_rank,
           COALESCE(ROUND(list_cosine_similarity(qv.qemb, e.emb), 6), 0.0)
               + 0 AS cos6,
           ROUND(bm.raw, 4) + 0 AS bm4
    FROM ranked r
    LEFT JOIN e ON e.vec_id = r.doc_id
    CROSS JOIN qv
    JOIN bm ON bm.doc_id = r.doc_id
),
normed AS (
    SELECT doc_id, rrf_rank, cos6,
           CASE WHEN MAX(bm4) OVER () > 0
                THEN bm4 / MAX(bm4) OVER () ELSE 0.0 END AS bmn
    FROM feats
),
scored AS (
    SELECT doc_id, rrf_rank, cos6,
           ROUND(bmn, 6) + 0 AS bm25_norm,
           ROUND({RERANK_ALPHA} * cos6 + {1.0 - RERANK_ALPHA} * bmn, 6) + 0
               AS rerank_score
    FROM normed
)
SELECT doc_id,
       CAST(rrf_rank AS BIGINT) AS rrf_rank,
       cos6 AS cos_sim,
       bm25_norm,
       rerank_score,
       CAST(row_number() OVER (ORDER BY rerank_score DESC, doc_id ASC)
            AS BIGINT) AS final_rank
FROM scored
ORDER BY final_rank ASC
""",
)
def retrieval_rrf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage hybrid retrieval [Q-rerank]: the RRF top-{RRF_TOP_K}
    shortlist (stage 1 — ``retrieval_hybrid_rrf``'s exact fused frame,
    reused as a composition) re-scored by an exact per-candidate blend
    (stage 2): rerank_score = {RERANK_ALPHA}*cosine(query, doc) +
    (1 - {RERANK_ALPHA})*BM25/max(BM25 over shortlist). Mirrors
    ``similarity_pq_rerank``'s retrieve-then-rerank shape on the text
    side: the stage-2 scorer touches only K rows, so its joins back to
    the embedding and lexical feature sources are broadcast-trivial at
    any corpus size — the production cross-encoder serving economics
    with a deterministic, oracle-replayable scorer.

    Parity notes: stage-1 membership is ulp-drift-immune (integer-rank
    RRF, rounded leg scores); stage-2 features are ROUNDed before the
    blend (cos to 6, BM25 to 4) so both engines blend identical doubles;
    the final rank orders on the rounded blend with a doc_id tiebreak.
    ``+ 0`` on the DuckDB side normalizes -0.0 (CLAUDE.md).

    Scale shape: one new narrow stage over the audited stage-1 plan —
    a {RRF_TOP_K}-row frame joined to embeddings/bm25 (broadcast the
    K rows, not the corpus), two windows over K rows. Stage 2's only
    full-corpus work is the BM25 statistics aggregate (one narrow scan,
    1-row broadcast) — needed because a dense-leg shortlist doc's BM25
    score isn't in the lexical top-N frame; per-doc tokenize+score runs
    on just the K key-matched rows. No new corpus-scale shuffle anywhere.
    """
    # Round-19 (VERDICT r18 #8): stage 2 used to re-derive the BM25
    # statistics with a SECOND full-corpus aggregate, and `short` fed three
    # consumers unmaterialized (the feature join + both key probes), so the
    # whole stage-1 plan — BM25 scoring pass, dense leg, fusion — evaluated
    # three times per run. Now the 1-row stats frame is computed once and
    # passed to stage 1 (`_rrf_fused` over `_bm25_scored(dd, st)`), and the
    # tiny {RRF_TOP_K}-row shortlist is shared, so stage 1 runs exactly once.
    docs = load_table(spark, sf_dir, "documents", spread=True)
    dd = _bm25_doc_feats(docs)
    st = share(_bm25_stats(dd), "rrf_rerank.bm25_stats")
    short = share(
        _rrf_fused(spark, sf_dir, _bm25_scored(dd, st)).select(
            "doc_id",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("rrf_score").desc(), F.col("doc_id").asc()
                )
            )
            .alias("rrf_rank"),
        ),
        "rrf_rerank.shortlist",
    )
    e = _emb(spark, sf_dir)
    qv = e.where(F.col("vec_id") == RRF_PROBE_VEC_ID).select(
        F.col("emb").alias("qemb")
    )
    # Scale-shaped K-row lookups: the corpus-sized feature sources are
    # probed with the BROADCAST shortlist keys (one scan each, tiny build
    # side), and only the <= K matched rows flow into the small-frame
    # left join — never a broadcast of the corpus side. The BM25 score of
    # a shortlist doc that entered via the DENSE leg isn't in the lexical
    # top-N frame, so stage 2 must re-derive it — but only the
    # corpus-CONSTANT statistics (the shared 1-row frame above) need
    # full-corpus work; per-doc tokenize+score runs on just the K
    # key-matched rows, not a second corpus-wide scoring pass.
    keys = F.broadcast(short.select("doc_id"))
    emb_hits = e.withColumnRenamed("vec_id", "doc_id").join(keys, "doc_id")
    bm_hits = _bm25_scored(_bm25_doc_feats(docs.join(keys, "doc_id")), st)
    feats = (
        short.join(F.broadcast(emb_hits), "doc_id", "left")
        .join(F.broadcast(qv))
        .join(F.broadcast(bm_hits), "doc_id")
        .select(
            "doc_id",
            "rrf_rank",
            F.coalesce(F.round(cosine(F.col("qemb"), F.col("emb")), 6), F.lit(0.0)).alias("cos6"),
            F.round(F.col("_raw"), 4).alias("bm4"),
        )
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    max_bm = F.max("bm4").over(w_all)
    bmn = F.when(max_bm > 0, F.col("bm4") / max_bm).otherwise(F.lit(0.0))
    scored = feats.select(
        "doc_id",
        "rrf_rank",
        "cos6",
        F.round(bmn, 6).alias("bm25_norm"),
        F.round(
            RERANK_ALPHA * F.col("cos6") + (1.0 - RERANK_ALPHA) * bmn, 6
        ).alias("rerank_score"),
    )
    return (
        scored.select(
            "doc_id",
            F.col("rrf_rank").cast("bigint").alias("rrf_rank"),
            F.col("cos6").alias("cos_sim"),
            "bm25_norm",
            "rerank_score",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("rerank_score").desc(), F.col("doc_id").asc()
                )
            )
            .cast("bigint")
            .alias("final_rank"),
        )
        .orderBy(F.col("final_rank").asc())
    )
