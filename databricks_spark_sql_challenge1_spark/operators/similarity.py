"""Similarity search over ``embeddings.embedding`` (array<float>[64]) —
extension surface (SURVEY.md §7 Stage 3).

Every query here is composed from one small ANN toolkit, each piece written
once per engine (a Spark builder beside its DuckDB SQL twin):

  - ``_centroids``: the deterministic centroid subset (every stride-th
    vector, optionally capped) that stands in for a sampled k-means fit,
    so the DuckDB oracle can replay the exact same computation;
  - ``_assign``: nearest-centroid assignment — broadcast the centroids,
    cross join (or join per PQ subspace), keep each point's ``probes``
    nearest under a rounded metric (cosine descending or squared L2
    ascending) with a centroid-id tiebreak. IVF routing, multi-probe,
    SemDeDup cells, each Lloyd round and the PQ encoder are this one call;
  - ``_topk``: the per-partition ``row_number`` cut every ranking uses
    (``_neighbors`` adds the per-query output order);
  - ``_sqdist``: the one in-order squared-L2 fold;
  - ``_pq_codes_dtable``: the PQ encode pass and query distance table
    (optionally with a capped codebook), scanned in full by ``_adc``.

The ANN legs (``_ivf_leg``, ``_pq_leg``, ``_ivfpq_leg``) take their frames
as arguments. The public callables run the stride guard and build the
frames; ``similarity_ann_methods`` builds each shared frame once.

All arithmetic is cast to double on both engines; similarities are rounded
to 6 decimals and ranked on the rounded value with an id tiebreak, so
float-summation drift cannot flip a top-k cut.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databricks_spark_sql_challenge1_spark.catalog import load_table
from databricks_spark_sql_challenge1_spark.functions.vectors import cosine, l2_norm
from databricks_spark_sql_challenge1_spark.operators.dedup import EMB_DUP_THRESHOLD
from databricks_spark_sql_challenge1_spark.registry import fill_doc, query

N_QUERIES = 10  # query set = vec_id < 10
TOP_K = 5
CENTROID_STRIDE = 50  # centroids = vec_id % 50 == 0  → 10 buckets at sf0.01

# Stride-saturation guard (round 8): the fixture rule "every 50th vector
# is a centroid / code vector" grows K linearly with N, so centroid
# assignment and PQ encoding each do N·K = N²/50 distance folds — measured
# quadratic, twice: similarity_pq_rerank's stride codebook at 3.2×/doubling
# (r6 curve, fixed by the capped codebook), and similarity_ivfpq directly
# at 2.15 s → 23.1 s → 103.9 s across 1×/4×/8× (r8 re-measure, closing
# VERDICT r7 #6). The four stride-parameterized fixture baselines below
# therefore guard their corpus size at the knee and raise toward the
# committed scale configs — same pattern as the fixed-band dedup guards
# (dedup.py): a copy-paste user cannot silently run a measured-quadratic
# config at scale.
STRIDE_SATURATION_VECS = 5_000


def _guard_stride_corpus(n: int, name: str, scale_config: str) -> None:
    if n > STRIDE_SATURATION_VECS:
        raise ValueError(
            f"{name}: corpus size {n} exceeds the stride-parameterized "
            f"baseline's measured saturation knee ({STRIDE_SATURATION_VECS})"
            " — the every-50th-vector centroid/codebook rule makes "
            "assignment/encoding O(N^2/50) past it (SCALE.md r6/r8 curves)."
            f" Use {scale_config}, whose index parameters follow a rule "
            "that holds at scale."
        )


def _emb(spark, sf_dir) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )


_E_CTE = "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)"


# --- the ANN toolkit ---------------------------------------------------------
# A points frame carries (vec_id, emb[, m]), a centroid frame
# (centroid_id, cemb[, m]); ``m`` is a PQ subspace. Each Spark builder is
# followed by its DuckDB twin.


def _sqdist(a, b):
    """Σ (a_i - b_i)² as an in-order JVM fold (matches ``_SQDIST_SQL``:
    DuckDB list_sum over list_transform, element order preserved on both
    engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_SQDIST_SQL = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def _centroids(e: DataFrame, stride=CENTROID_STRIDE, cap: int | None = None) -> DataFrame:
    """(centroid_id, cemb): every ``stride``-th vector of ``e``; with
    ``cap``, only the first ``cap`` of them."""
    cent = e.where(F.col("vec_id") % stride == 0)
    if cap is not None:
        cent = cent.where(F.col("vec_id") < stride * cap)
    return cent.select(F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb"))


def _centroids_sql(stride=CENTROID_STRIDE, cap: int | None = None) -> str:
    """``stride`` may be a SQL scalar expression."""
    cut = "" if cap is None else f" AND vec_id < {stride} * {cap}"
    return (
        "SELECT vec_id AS centroid_id, emb AS cemb FROM e "
        f"WHERE vec_id % {stride} = 0{cut}"
    )


def _topk(df: DataFrame, keys, order, k: int) -> DataFrame:
    """The first ``k`` rows of each ``keys`` partition under ``order``, a
    total order (every caller ends it with an id tiebreak)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k).drop("rk")


def _topk_sql(source: str, keys: str, order: str, k: int, drop: str = "rk") -> str:
    return f"""SELECT * EXCLUDE ({drop}) FROM (
    SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY {order}) AS rk
    FROM {source}
) WHERE rk <= {k}"""


def _neighbors(scored: DataFrame, score, k: int = TOP_K) -> DataFrame:
    """(query_id, neighbor_id, …) → each query's ``k`` best neighbours
    under ``score`` (a sort column) with a neighbor-id tiebreak, sorted
    for output."""
    order = [score, F.col("neighbor_id").asc()]
    return _topk(scored, ["query_id"], order, k).orderBy(
        F.col("query_id").asc(), *order
    )


def _neighbors_sql(source: str, score: str, k: int = TOP_K) -> str:
    order = f"{score}, neighbor_id ASC"
    return f"{_topk_sql(source, 'query_id', order, k)}\nORDER BY query_id ASC, {order}"


# Assignment metrics, rounded so float drift cannot flip a rank: cosine is
# a similarity (nearest = largest), squared L2 a distance (nearest = least).
_METRICS = {
    "cos": lambda a, b: F.round(cosine(a, b), 6).desc(),
    "l2": lambda a, b: F.round(_sqdist(a, b), 6).asc(),
}
_METRICS_SQL = {
    "cos": "ROUND(list_cosine_similarity({a}, {b}), 6) DESC",
    "l2": f"ROUND({_SQDIST_SQL}, 6) ASC",
}


def _assign(
    points: DataFrame, cent: DataFrame, metric: str, probes: int, by=()
) -> DataFrame:
    """Nearest-centroid assignment → (vec_id, *by, emb, centroid_id): each
    point's ``probes`` nearest centroids under the rounded ``metric``,
    centroid-id tiebreak. The centroid frame is broadcast-tiny and joined
    on ``by`` (a PQ subspace) or, without ``by``, cross-joined."""
    keys = ["vec_id", *by]
    cb = F.broadcast(cent)
    joined = points.join(cb, list(by)) if by else points.crossJoin(cb)
    order = [_METRICS[metric](F.col("emb"), F.col("cemb")), F.col("centroid_id").asc()]
    return _topk(joined, keys, order, probes).select(*keys, "emb", "centroid_id")


def _assign_sql(points: str, cent: str, metric: str, probes: int, by=()) -> str:
    if by:
        join = f"JOIN {cent} c ON " + " AND ".join(f"c.{k} = p.{k}" for k in by)
    else:
        join = f"CROSS JOIN {cent} c"
    order = _METRICS_SQL[metric].format(a="emb", b="cemb") + ", centroid_id ASC"
    return _topk_sql(
        f"(SELECT p.*, c.centroid_id, c.cemb FROM {points} p {join})",
        ", ".join(["vec_id", *by]),
        order,
        probes,
        drop="rk, cemb",
    )


# --- Product quantization (IVF-PQ's compression half) ----------------------
# Codebooks are deterministic (sub-vectors of every CENTROID_STRIDE-th
# vector) so DuckDB can replay the exact computation — same trick as the
# IVF centroid set. Production fits codebooks with sampled k-means; the
# encode/score algebra below is unchanged by where codebooks come from.
PQ_M = 8  # subspaces
PQ_SUB = 8  # dims per subspace (embedding dim 64 = 8 × 8)


def _subspaces(df: DataFrame, id_col: str = "vec_id", emb_col: str = "emb") -> DataFrame:
    """(id, emb) → (id, m, emb): one row per PQ subspace slice."""
    return df.select(
        id_col,
        F.posexplode(
            F.array(*[F.slice(emb_col, m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
        ).alias("m", emb_col),
    )


def _subspaces_sql(source: str, id_col: str = "vec_id", emb_col: str = "emb") -> str:
    return (
        f"SELECT {id_col}, m, {emb_col}[m * {PQ_SUB} + 1:m * {PQ_SUB} + {PQ_SUB}]"
        f" AS {emb_col}\n    FROM {source}, "
        f"(SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)"
    )


def _pq_codes_dtable(
    e: DataFrame, codebook_cap: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """The PQ encode pass (vec_id, m, code) — each subspace slice's nearest
    codebook entry in squared L2 — and the query distance table
    (query_id, m, code, d).

    ``codebook_cap`` bounds the codebook at a FIXED number of code vectors
    (the first ``cap`` stride multiples) regardless of corpus size — real
    PQ has a constant K (typically 256/subspace), and without the cap the
    stride-derived codebook makes encoding N·K = N²/stride sqdist folds
    (measured 3.2×/doubling on the round-6 growth curve). None keeps the
    uncapped stride rule (the ``similarity_pq`` fixture baseline)."""
    sub = _subspaces(e)
    cb = _subspaces(_centroids(e, cap=codebook_cap), "centroid_id", "cemb")
    codes = _assign(sub, cb, "l2", 1, by=("m",)).select(
        "vec_id", "m", F.col("centroid_id").alias("code")
    )
    dtable = (
        sub.where(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cb), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            F.col("centroid_id").alias("code"),
            _sqdist(F.col("emb"), F.col("cemb")).alias("d"),
        )
    )
    return codes, dtable


def _pq_ctes(codebook_cap: int | None = None) -> str:
    """The sub, cb, codes and dtable CTEs (after ``e``) of ``_pq_codes_dtable``."""
    cent = f"({_centroids_sql(cap=codebook_cap)})"
    return f"""sub AS ({_subspaces_sql("e")}),
cb AS ({_subspaces_sql(cent, "centroid_id", "cemb")}),
codes AS (
    SELECT vec_id, m, centroid_id AS code
    FROM ({_assign_sql("sub", "cb", "l2", 1, by=("m",))})
),
dtable AS (
    SELECT s.vec_id AS query_id, s.m, cb.centroid_id AS code,
           {_SQDIST_SQL.format(a="s.emb", b="cb.cemb")} AS d
    FROM sub s JOIN cb ON cb.m = s.m
    WHERE s.vec_id < {N_QUERIES}
)"""


def _adc(codes: DataFrame, dtable: DataFrame) -> DataFrame:
    """Full ADC scoring set (query_id, neighbor_id, adist), no top-k cut:
    codes ⋈ broadcast(dtable), one shuffle for the per-pair sum."""
    return (
        codes.join(F.broadcast(dtable), ["m", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d"), 4).alias("adist"))
    )


_ADC_SQL = """
    SELECT d.query_id, c.vec_id AS neighbor_id, ROUND(SUM(d.d), 4) AS adist
    FROM codes c JOIN dtable d ON d.m = c.m AND d.code = c.code
    WHERE c.vec_id <> d.query_id
    GROUP BY d.query_id, c.vec_id
"""


# --- exact and approximate top-k ---------------------------------------------


@query(
    "similarity_topk",
    oracle=f"""
WITH {_E_CTE},
q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           ROUND(list_cosine_similarity(q.qemb, e.emb), 6) + 0 AS sim
    FROM q JOIN e ON e.vec_id <> q.query_id
)
{_neighbors_sql("scored", "sim DESC")}
""",
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: crossJoin(broadcast queries) → zip_with dot
    products → per-query window top-k (reuses the reference's W1/O3
    machinery)."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("qemb"), F.col("emb")), 6).alias("sim"),
    )
    return _neighbors(scored, F.col("sim").desc())


# The one-stage ANN oracles are module constants: since r13 the three scans
# register through the consolidated ``similarity_ann_methods`` (capacity
# policy), which unions them verbatim — and the recall audit composes the
# ivfpq one — so each method's SQL remains single-sourced.
_IVF_ORACLE_SQL = f"""
WITH {_E_CTE},
cent AS ({_centroids_sql()}),
assigned AS ({_assign_sql("e", "cent", "cos", 1)}),
q AS (SELECT vec_id AS query_id, emb AS qemb, centroid_id AS qc
      FROM assigned WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.query_id, a.vec_id AS neighbor_id,
           ROUND(list_cosine_similarity(q.qemb, a.emb), 6) + 0 AS sim
    FROM q JOIN assigned a ON a.centroid_id = q.qc AND a.vec_id <> q.query_id
)
{_neighbors_sql("scored", "sim DESC")}
"""


def _ivf_leg(assigned: DataFrame) -> DataFrame:
    """IVF top-k over a (vec_id, emb, centroid_id) assignment: each query
    probes only its own cell."""
    q = assigned.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("centroid_id").alias("qc"),
    )
    scored = assigned.join(
        F.broadcast(q),
        (F.col("centroid_id") == F.col("qc")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("qemb"), F.col("emb")), 6).alias("sim"),
    )
    return _neighbors(scored, F.col("sim").desc())


def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k: assign → probe own bucket only.

    Vectors are assigned to their nearest of K centroids once (K small →
    the centroid table broadcasts), then each query probes only its own
    bucket: the crossJoin shrinks from N·Q to (N/K)·Q per probe. The bucket
    join is an equi-join on centroid_id (shuffle/broadcast on a
    low-cardinality key) instead of a full crossJoin — the plan that still
    works when N is 10^9. At real scale the centroid set comes from a
    sampled k-means (spark.ml KMeans fits here); the fixture variant uses
    the deterministic centroid subset so the DuckDB oracle can replay it.
    """
    e = _emb(spark, sf_dir)
    _guard_stride_corpus(e.count(), "similarity_ivf", "dedup_semantic_ivf's sqrt-N sibling rule (dedup_semantic_sqrtk) or similarity_pq_rerank")
    return _ivf_leg(_assign(e, _centroids(e), "cos", 1))


_PQ_ORACLE_SQL = f"""
WITH {_E_CTE},
{_pq_ctes()},
scored AS ({_ADC_SQL})
{_neighbors_sql("scored", "adist ASC")}
"""


def _pq_leg(codes: DataFrame, dtable: DataFrame) -> DataFrame:
    return _neighbors(_adc(codes, dtable), F.col("adist").asc())


def similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ (product-quantization) approximate top-k — the memory half of
    IVF-PQ: vectors live as {PQ_M} one-byte codes, queries scan codes via a
    precomputed subspace distance table (ADC).

    Shapes: codebook (K×M sub-vectors, a few KB) broadcasts for encoding;
    the query distance table (Q×M×K rows) broadcasts for scoring, so the
    scan is codes ⋈ broadcast(dtable) → one shuffle for the per-(query,
    neighbor) sum. At 10⁹ vectors the codes table is ~{PQ_M} GB — the
    point of PQ — and production fuses the dtable lookup into the scan
    (mapPartitions over packed codes); the relational plan here keeps the
    identical algebra oracle-checkable.
    """
    e = _emb(spark, sf_dir)
    _guard_stride_corpus(e.count(), "similarity_pq", "similarity_pq_rerank")
    return _pq_leg(*_pq_codes_dtable(e))

fill_doc(similarity_pq, PQ_M=PQ_M)


# IVF-PQ probes: queries scan their IVFPQ_PROBES nearest cells (standard
# multi-probe; same constant family as SEMANTIC_PROBES below).
IVFPQ_PROBES = 2


_QUERIES_SQL = f"(SELECT * FROM e WHERE vec_id < {N_QUERIES})"

_IVFPQ_ORACLE_SQL = f"""
WITH {_E_CTE},
cent AS ({_centroids_sql()}),
assigned AS ({_assign_sql("e", "cent", "cos", 1)}),
qprobe AS (
    SELECT vec_id AS query_id, centroid_id AS qc
    FROM ({_assign_sql(_QUERIES_SQL, "cent", "cos", IVFPQ_PROBES)})
),
{_pq_ctes()},
cand AS (
    SELECT q.query_id, a.vec_id
    FROM assigned a JOIN qprobe q ON a.centroid_id = q.qc
    WHERE a.vec_id <> q.query_id
),
scored AS (
    SELECT c.query_id, c.vec_id AS neighbor_id, ROUND(SUM(d.d), 4) AS adist
    FROM cand c
    JOIN codes k ON k.vec_id = c.vec_id
    JOIN dtable d ON d.query_id = c.query_id AND d.m = k.m AND d.code = k.code
    GROUP BY c.query_id, c.vec_id
)
{_neighbors_sql("scored", "adist ASC")}
"""


def _ivfpq_leg(
    e: DataFrame, assigned: DataFrame, codes: DataFrame, dtable: DataFrame
) -> DataFrame:
    """IVF routing over ``assigned`` composed with ADC scoring over
    ``codes``/``dtable``: queries probe their IVFPQ_PROBES nearest cells of
    ``e``'s centroid subset."""
    qprobe = _assign(
        e.where(F.col("vec_id") < N_QUERIES), _centroids(e), "cos", IVFPQ_PROBES
    ).select(F.col("vec_id").alias("query_id"), F.col("centroid_id").alias("qc"))
    cand = (
        assigned.select("vec_id", "centroid_id")
        .join(F.broadcast(qprobe), F.col("centroid_id") == F.col("qc"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    scored = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(dtable), ["query_id", "m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d"), 4).alias("adist"))
    )
    return _neighbors(scored, F.col("adist").asc())


def similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the full production ANN plan — IVF coarse routing composed
    with PQ/ADC scoring (the two halves already proven separately in
    ``similarity_ivf`` and ``similarity_pq``). Queries probe their
    IVFPQ_PROBES nearest cells (multi-probe recall lift, same as
    ``dedup_semantic_ivf``); only vectors in probed cells are scored, and
    scoring reads ONLY the M one-byte PQ codes plus the broadcast query
    distance table — never the raw vectors.

    Scale shape (the 10⁹-vector plan): candidate selection is an equi-join
    of assignments against the broadcast (query, cell) probe list —
    Σ|cell|·probes candidates, no N·Q term; scoring joins candidates to
    the ~{PQ_M}-bytes/vector code table (the only corpus-sized state) and
    a broadcast Q×M×K distance table, then one shuffle for the per-(query,
    neighbor) ADC sum. Codebooks/centroids are the deterministic subset
    (production fits them with sampled k-means; the algebra is unchanged).

    Accuracy on the fixture corpus is decomposed in
    tests/test_extensions.py::test_ivfpq_is_pq_restricted_to_probed_cells:
    the composition is pinned EXACTLY (ivfpq ≡ top-k of similarity_pq's
    full ADC scores restricted to probed-cell candidates); absolute recall
    vs exact L2 is low here (~0.1) because the fixture vectors are
    near-uniform random — the known worst case for PQ with tiny
    deterministic codebooks (measured: full-ADC PQ alone recalls 0.08-0.14;
    cosine routing at 2 probes ceilings at ~0.4). With k-means codebooks on
    real clustered embeddings the same plan is the FAISS IVF-PQ shape.
    """
    e = _emb(spark, sf_dir)
    _guard_stride_corpus(e.count(), "similarity_ivfpq", "similarity_pq_rerank")
    return _ivfpq_leg(
        e, _assign(e, _centroids(e), "cos", 1), *_pq_codes_dtable(e)
    )

fill_doc(similarity_ivfpq, PQ_M=PQ_M)


# --- consolidated one-stage ANN surface (r13 capacity policy) ---------------
# The three one-stage scans above were separately-registered r5-r6 queries;
# with the registry at the 3-round-cadence ceiling they now verify as ONE
# multi-row oracle (the r10 widgets→assemblies precedent): same three
# pipelines, same values, one method column — freeing two rotation slots
# while every method stays individually hash-checked (the per-method rows
# are disjoint, so a drift in any one method flips the combined hash).

# One row per method: (name, leg oracle SQL, native score column) — the one
# list both the Spark surface and the oracle union iterate.
_ANN_METHODS = (
    ("ivf", _IVF_ORACLE_SQL, "sim"),
    ("ivfpq", _IVFPQ_ORACLE_SQL, "adist"),
    ("pq", _PQ_ORACLE_SQL, "adist"),
)


def _ann_methods_oracle() -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT '{m}' AS method, query_id, neighbor_id, "
        f"{score} AS score FROM ({sql})"
        for m, sql, score in _ANN_METHODS
    )
    return f"""
SELECT method, query_id, neighbor_id, score
FROM ({union})
ORDER BY method ASC, query_id ASC, neighbor_id ASC
"""


@query("similarity_ann_methods", oracle=_ann_methods_oracle())
def similarity_ann_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stage ANN method surface: the IVF (bucketed exact-cosine), PQ
    (full-scan ADC) and IVF-PQ (routed ADC) top-{k} result sets side by
    side under a method column — ``score`` is the method's native metric
    (cosine sim for ivf, ADC distance for pq/ivfpq), exactly the values
    the three pre-r13 standalone registrations produced. The per-method
    plans are untouched (each is still the individually-documented scale
    shape); this surface only unions their outputs, so the driver hash
    pins all three methods in one row budget.

    The legs overlap — ivf and ivfpq run the identical IVF assignment, and
    ivfpq and pq the identical uncapped PQ encode and query distance table
    — so the surface materializes each shared frame ONCE (localCheckpoint)
    and passes it to the legs; the frames are deterministic, so every
    leg's rows are those of its standalone callable."""
    e = _emb(spark, sf_dir)
    _guard_stride_corpus(
        e.count(), "similarity_ann_methods", "similarity_pq_rerank"
    )
    assigned = _assign(e, _centroids(e), "cos", 1).localCheckpoint()
    codes, dtable = [f.localCheckpoint() for f in _pq_codes_dtable(e)]
    legs = {
        "ivf": _ivf_leg(assigned),
        "ivfpq": _ivfpq_leg(e, assigned, codes, dtable),
        "pq": _pq_leg(codes, dtable),
    }
    parts = [
        legs[m].select(
            F.lit(m).alias("method"),
            "query_id",
            "neighbor_id",
            F.col(score).alias("score"),
        )
        for m, _sql, score in _ANN_METHODS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(
        F.col("method").asc(), F.col("query_id").asc(), F.col("neighbor_id").asc()
    )


fill_doc(similarity_ann_methods, k=TOP_K)


@query(
    "embedding_centroids",
    oracle="""
SELECT label, CAST(i - 1 AS INTEGER) AS pos, ROUND(AVG(emb[i]), 6) + 0 AS centroid_val
FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
     unnest(generate_series(1, len(emb))) AS t(i)
GROUP BY label, i
ORDER BY label ASC NULLS FIRST, pos ASC
""",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors via built-in array ops (posexplode → avg
    per dimension) — the Spark-first alternative to a Pandas-UDF mean, and
    the k-means-update shape: one shuffle on (label, pos)."""
    e = _emb(spark, sf_dir)
    return (
        e.select("label", F.posexplode("emb").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("centroid_val"))
        .orderBy(F.col("label").asc(), F.col("pos").asc())
    )


# Shared CTE fragments for the consolidated `embedding_profile` oracle:
# each leg's SQL is the retired standalone registration's text verbatim
# (modulo the trailing ORDER BY), so every value the old driver rows pinned
# is pinned by the consolidated surface too.
_NORM_STATS_CTE = """norm_rows AS (
    SELECT label,
           COUNT(*) AS n_vectors,
           ROUND(AVG(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                  x -> x * x)))), 6)
               AS avg_l2_norm
    FROM embeddings
    GROUP BY label
)"""

_DIM_STATS_CTE = """dim_rows AS (
    SELECT CAST(i - 1 AS INTEGER) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           -- + 0 maps -0.0 -> 0.0: DuckDB ROUND preserves the sign of a tiny
           -- negative (ROUND(-1e-9, 4) = -0.0) while Spark HALF_UP rounding
           -- returns +0.0 — hash-mismatch measured on dim 24 at sf0.1
           -- (no apostrophes in this comment: a quote here would desync
           -- literal-stripping SQL scanners once real literals follow)
           ROUND(AVG(emb[i]), 4) + 0 AS mean_val,
           ROUND(stddev_pop(emb[i]), 4) AS std_val,
           ROUND(MIN(emb[i]), 6) + 0 AS min_val,
           ROUND(MAX(emb[i]), 6) + 0 AS max_val
    FROM (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         unnest(generate_series(1, len(emb))) AS t(i)
    GROUP BY i
)"""


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm stats (F.aggregate fold — JVM-side). Since r14
    the label_norm LEG of the registered ``embedding_profile`` surface
    (capacity-policy consolidation); kept public for tests."""
    e = _emb(spark, sf_dir)
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg(l2_norm(F.col("emb"))), 6).alias("avg_l2_norm"),
        )
        .orderBy(F.col("label").asc())
    )


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics (mean/std/min/max) — the whitening /
    normalization moments an embedding pipeline computes before indexing
    (and the standard drift check between embedding batches). Since r14
    the dim LEG of the registered ``embedding_profile`` surface.

    posexplode → one groupBy on the dimension index: d groups regardless of
    corpus size, partial aggregation map-side, all JVM codegen. Moments are
    rounded (4) on both engines so float summation order cannot flip the
    value hash; min/max are exact and rounded at 6 for presentation only.
    """
    e = _emb(spark, sf_dir)
    return (
        e.select(F.posexplode("emb").alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("v"), 4).alias("mean_val"),
            F.round(F.stddev_pop("v"), 4).alias("std_val"),
            F.round(F.min("v"), 6).alias("min_val"),
            F.round(F.max("v"), 6).alias("max_val"),
        )
        .orderBy(F.col("pos").asc())
    )


@query(
    "embedding_profile",
    oracle=f"""
WITH {_NORM_STATS_CTE},
{_DIM_STATS_CTE}
SELECT 'dim' AS section,
       pos AS key, n, mean_val, std_val, min_val, max_val
FROM dim_rows
UNION ALL
SELECT 'label_norm' AS section,
       CAST(label AS INTEGER) AS key,
       CAST(n_vectors AS BIGINT) AS n,
       avg_l2_norm AS mean_val,
       CAST(NULL AS DOUBLE) AS std_val,
       CAST(NULL AS DOUBLE) AS min_val,
       CAST(NULL AS DOUBLE) AS max_val
FROM norm_rows
ORDER BY section ASC, key ASC NULLS FIRST
""",
)
def embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus QA profile: the per-dimension moment table
    (`embedding_dim_stats` — whitening/drift check) and the per-label norm
    summary (`embedding_norm_stats`) side by side under a section column —
    the r13 method-surface consolidation pattern applied to the embedding
    stat pair (r14 capacity policy), so one driver hash pins both.

    Every value is the retired standalone registration's value verbatim
    (dim rows keep their scale-4/6 roundings, label_norm keeps its scale-6
    mean under ``mean_val``; inapplicable columns are NULL). The per-leg
    plans are untouched — one posexplode+groupBy for dims, one groupBy for
    norms — this surface only relabels and unions their outputs; the
    oracle is assembled from the retired oracles' texts as CTEs.
    """
    nd = F.lit(None).cast("double")
    dim = embedding_dim_stats(spark, sf_dir).select(
        F.lit("dim").alias("section"),
        F.col("pos").cast("int").alias("key"),
        "n",
        "mean_val",
        "std_val",
        "min_val",
        "max_val",
    )
    norm = embedding_norm_stats(spark, sf_dir).select(
        F.lit("label_norm").alias("section"),
        F.col("label").cast("int").alias("key"),
        F.col("n_vectors").cast("bigint").alias("n"),
        F.col("avg_l2_norm").alias("mean_val"),
        nd.alias("std_val"),
        nd.alias("min_val"),
        nd.alias("max_val"),
    )
    return dim.unionByName(norm).orderBy(
        F.col("section").asc(), F.col("key").asc()
    )



# --- SemDeDup-style semantic dedup ------------------------------------------
# Same duplicate threshold as dedup_embedding_cosine (operators/dedup.py).
SEMANTIC_DUP_MIN = EMB_DUP_THRESHOLD
# Multi-probe assignment: each vector indexes into its SEMANTIC_PROBES
# nearest cells, so duplicate pairs that straddle a cell boundary still meet
# (standard IVF multi-probe; measured on the fixtures it lifts pair recall
# vs the exact all-pairs set from 0.26/0.41 to 0.64/0.71 at sf0.001/sf0.01
# for ~4x the within-cell candidate volume).
SEMANTIC_PROBES = 2
# dedup_semantic_sqrtk's stride ceil(N / ceil(sqrt(N))) as a DuckDB scalar
_SQRTK_STRIDE_SQL = (
    "(SELECT CAST(ceil(COUNT(*) / ceil(sqrt(COUNT(*)))) AS BIGINT) FROM e)"
)


def _semantic_oracle(stride) -> str:
    return f"""
WITH {_E_CTE},
cent AS ({_centroids_sql(stride)}),
assigned AS ({_assign_sql("e", "cent", "cos", SEMANTIC_PROBES)}),
pairs AS (
    SELECT vec_id, MIN(via) AS via_centroid, dup_of, MIN(sim) AS sim
    FROM (
        SELECT b.vec_id AS vec_id, a.vec_id AS dup_of, a.centroid_id AS via,
               ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS sim
        FROM assigned a JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    )
    GROUP BY vec_id, dup_of
),
dups AS (SELECT * FROM pairs WHERE sim >= {SEMANTIC_DUP_MIN})
{_topk_sql("dups", "vec_id", "sim DESC, dup_of ASC", 1)}
ORDER BY vec_id ASC
"""


def _semantic_dedup(e: DataFrame, stride: int) -> DataFrame:
    """The SemDeDup body both cell-count rules share: multi-probe
    assignment to the ``stride`` centroid subset, within-cell pair pruning,
    keep-lowest-id rank."""
    assigned = _assign(
        e, _centroids(e, stride), "cos", SEMANTIC_PROBES
    ).localCheckpoint()  # feeds both join sides; avoid double assignment
    a, b = assigned.alias("a"), assigned.alias("b")
    # a pair sharing both probed cells would appear twice: aggregate to one
    # row per (vec_id, dup_of), keeping the smallest shared cell. sim is
    # constant within the group (same two vectors), so MIN is its identity.
    pairs = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("a.vec_id").alias("dup_of"),
            F.col("a.centroid_id").alias("via"),
            F.round(cosine(F.col("a.emb"), F.col("b.emb")), 6).alias("sim"),
        )
        .groupBy("vec_id", "dup_of")
        .agg(F.min("via").alias("via_centroid"), F.min("sim").alias("sim"))
        .where(F.col("sim") >= SEMANTIC_DUP_MIN)
    )
    return (
        _topk(pairs, ["vec_id"], [F.col("sim").desc(), F.col("dup_of").asc()], 1)
        .select("vec_id", "via_centroid", "dup_of", "sim")
        .orderBy(F.col("vec_id").asc())
    )


@query("dedup_semantic_ivf", oracle=_semantic_oracle(CENTROID_STRIDE))
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space, then prune
    near-identical vectors WITHIN cells only — the scalable surrogate for
    all-pairs cosine dedup.

    Every vector indexes into its SEMANTIC_PROBES nearest deterministic
    IVF centroids (multi-probe soft assignment — pairs straddling one
    cell boundary still meet); within a shared cell, any vector whose
    cosine to a lower-id cell-mate reaches SEMANTIC_DUP_MIN is flagged as
    a duplicate of its most-similar such neighbor (rounded-sim rank,
    dup_of tiebreak — keep-lowest-id policy). Output: flagged vectors
    only (vec_id, via_centroid = smallest shared cell, dup_of, sim).

    Scale shape: the centroid table is broadcast-tiny, assignment is a
    narrow crossJoin + rank window, and the pair join is an equi-join on
    centroid_id — candidate volume is Σ |cell|²·probes²/2, not N²/2, and
    each cell's pairs hash to one shuffle partition. At 10⁹ vectors with
    k ≈ √N cells this is the exact plan SemDeDup runs (their k-means
    becomes the centroid fit; the within-cell pruning algebra is
    unchanged). Versus ``dedup_embedding_cosine`` (exact all-pairs): this
    trades cross-cell duplicate pairs for a candidate set that never
    leaves the probed cells — the standard recall/cost trade, measured in
    tests/test_extensions.py against the exact pair set (subset property
    + recall floor).
    """
    e = _emb(spark, sf_dir)
    _guard_stride_corpus(e.count(), "dedup_semantic_ivf", "dedup_semantic_sqrtk")
    return _semantic_dedup(e, CENTROID_STRIDE)


@query("dedup_semantic_sqrtk", oracle=_semantic_oracle(_SQRTK_STRIDE_SQL))
def dedup_semantic_sqrtk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_semantic_ivf`` with the centroid count scaled as K ≈ √N —
    the production rule, applied after the round-5 growth curve measured
    the fixed-stride variant's flaw: stride-derived K = N/50 makes the
    assignment crossJoin do N·K = N²/50 cosine evaluations (16× work at
    4× data). With K = √N the assignment is N^1.5 and each cell holds
    ~√N vectors, so within-cell candidates are Σ|cell|²·probes²/2 ≈
    N^1.5·probes²/2 too — the balanced SemDeDup operating point.

    The stride is ceil(N / ceil(√N)), computed from the corpus count —
    on the Spark side as a bounded driver scalar (same pattern as the
    S11 anchor pull, catalog.last_order_datetime), in the oracle as a
    scalar subquery evaluating the identical formula. Everything
    downstream (multi-probe assignment, within-cell pruning,
    keep-lowest-id rank) is the dedup_semantic_ivf algebra unchanged.
    """
    e = _emb(spark, sf_dir)
    n = e.count()  # bounded driver scalar (anchor-pull pattern)
    # n = 0 would be 0/0 on the driver; any stride works on an empty
    # corpus (the oracle's NULL stride filters everything the same way —
    # r15 empty-warehouse probe)
    stride = math.ceil(n / math.ceil(math.sqrt(n))) if n else 1
    return _semantic_dedup(e, stride)


# --- fixed-round Lloyd refinement (k-means as a DataFrame loop) -------------
KMEANS_ITERS = 2
KMEANS_ROUND = 6  # means rounded per iteration on BOTH engines (parity)
EMB_DIM = PQ_M * PQ_SUB  # 64


def _km_oracle_sql(iters: int = KMEANS_ITERS) -> str:
    """DuckDB oracle for ``embedding_kmeans_refine``, its CTE chain
    GENERATED from KMEANS_ITERS so the Spark loop and the oracle can never
    silently desync when the constant changes (ADVICE r4): per iteration,
    an assign CTE (a_i from c_{i-1}) and — for all but the last — a
    list-reassembled means CTE (m_i) merged into the next centroid table
    (c_i) with the same empty-cluster COALESCE as the Spark side."""
    assert iters >= 1
    ctes = [_E_CTE, f"c0 AS ({_centroids_sql()})"]
    for i in range(1, iters):
        ctes.append(f"a{i} AS ({_assign_sql('e', f'c{i - 1}', 'l2', 1)})")
        ctes.append(
            f"""m{i} AS (
    SELECT centroid_id, list(cv ORDER BY pos) AS cemb FROM (
        SELECT a{i}.centroid_id, i - 1 AS pos,
               ROUND(AVG(emb[i]), {KMEANS_ROUND}) AS cv
        FROM a{i}, unnest(generate_series(1, {EMB_DIM})) AS t(i)
        GROUP BY a{i}.centroid_id, i
    ) GROUP BY centroid_id
)"""
        )
        ctes.append(
            f"c{i} AS (SELECT c{i - 1}.centroid_id, "
            f"COALESCE(m{i}.cemb, c{i - 1}.cemb) AS cemb\n"
            f"       FROM c{i - 1} LEFT JOIN m{i} "
            f"ON m{i}.centroid_id = c{i - 1}.centroid_id)"
        )
    last = iters
    ctes.append(f"a{last} AS ({_assign_sql('e', f'c{last - 1}', 'l2', 1)})")
    ctes.append(
        f"sizes AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members\n"
        f"          FROM a{last} GROUP BY centroid_id)"
    )
    ctes.append(
        f"""mfin AS (
    SELECT a{last}.centroid_id, CAST(i - 1 AS INTEGER) AS pos,
           ROUND(AVG(emb[i]), {KMEANS_ROUND}) + 0 AS centroid_val
    FROM a{last}, unnest(generate_series(1, {EMB_DIM})) AS t(i)
    GROUP BY a{last}.centroid_id, i
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT mfin.centroid_id, s.n_members, mfin.pos, mfin.centroid_val
FROM mfin JOIN sizes s ON s.centroid_id = mfin.centroid_id
ORDER BY mfin.centroid_id ASC, mfin.pos ASC
"""
    )


@query("embedding_kmeans_refine", oracle=_km_oracle_sql())
def embedding_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round Lloyd (k-means) refinement over the embedding corpus —
    the iterative-ML pattern as a declarative DataFrame loop: seed with the
    deterministic IVF centroid subset, then KMEANS_ITERS rounds of
    assign-to-nearest (squared L2) → per-dimension mean update. Output: the
    refined centroids (one row per centroid × dimension) with final member
    counts — the "fit" half that similarity_ivf's assignment would consume
    at production scale (spark.ml KMeans is this exact loop with sampled
    init).

    Determinism across engines: distances are ranked on ROUND(d², 6) with a
    centroid-id tiebreak, and means are rounded to KMEANS_ROUND per
    iteration on BOTH engines, so the assignment fixpoint is bit-identical
    and the DuckDB oracle unrolls the same KMEANS_ITERS iterations as a
    CTE chain *generated from the constant* (_km_oracle_sql) — changing
    the iteration count changes both engines together.

    Scale shape per iteration: centroid table is k×d (broadcast-tiny even
    at k = 10⁵), assignment is a narrow crossJoin + rank-1 window (no
    shuffle of the corpus), the update is one shuffle on (centroid_id,
    pos) with map-side partial aggregation — the canonical distributed
    k-means round. The loop localCheckpoints the k-row centroid table per
    iteration, so plan depth stays constant in ITERS. Empty clusters keep
    their previous centroid (COALESCE on both engines).
    """
    e = _emb(spark, sf_dir).select("vec_id", "emb")
    return _kmeans_refine(e)


def _kmeans_refine(e: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """The Lloyd loop over a (vec_id, emb) frame — factored out so the
    empty-cluster COALESCE path (never exercised by the fixture corpus,
    where every seed self-assigns on round 1) can be unit-tested on
    synthetic data (tests/test_extensions.py)."""
    cent = _centroids(e)
    assigned = None
    means = None
    for it in range(iters):
        assigned = _assign(e, cent, "l2", 1)
        means = (
            assigned.select("centroid_id", F.posexplode("emb").alias("pos", "v"))
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("v"), KMEANS_ROUND).alias("cv"))
        )
        if it < iters - 1:
            reassembled = means.groupBy("centroid_id").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                    lambda x: x["cv"],
                ).alias("memb")
            )
            cent = (
                cent.join(reassembled, "centroid_id", "left")
                .select(
                    "centroid_id", F.coalesce("memb", "cemb").alias("cemb")
                )
                .localCheckpoint()
            )
    sizes = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return (
        means.join(sizes, "centroid_id")
        .select(
            "centroid_id",
            "n_members",
            F.col("pos").cast("int").alias("pos"),
            F.col("cv").alias("centroid_val"),
        )
        .orderBy(F.col("centroid_id").asc(), F.col("pos").asc())
    )


# --- storage-path quantization -------------------------------------------

# Symmetric per-vector int8: scale = max|x| / 127, code = floor(x/scale + .5).
# floor(+0.5) instead of round() because the two engines' round() tie-break
# conventions are not guaranteed identical on doubles, while floor is exact
# IEEE on both. All-zero vectors coalesce scale to 1.0 (codes all 0, recon
# exact, cosine defined as 1.0) — guarded identically on both engines.
INT8_LEVELS = 127


@query(
    "embedding_quantize_int8",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) AS maxabs,
           CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
                ELSE list_max(list_transform(v, x -> abs(x))) / {INT8_LEVELS}.0
           END AS scale
    FROM e
),
r AS (
    SELECT vec_id, v, maxabs, scale,
           list_transform(v, x -> floor(x / scale + 0.5) * scale) AS recon
    FROM s
)
SELECT vec_id,
       ROUND(scale, 8) AS scale,
       ROUND(list_avg(list_transform(v,
             x -> (x - floor(x / scale + 0.5) * scale)
                  * (x - floor(x / scale + 0.5) * scale))), 8) AS mse,
       ROUND(list_max(list_transform(v,
             x -> abs(x - floor(x / scale + 0.5) * scale))), 8) AS max_abs_err,
       CASE WHEN maxabs = 0 THEN 1.0
            ELSE ROUND(list_cosine_similarity(v, recon), 6)
       END AS recon_cosine
FROM r
ORDER BY vec_id ASC
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization with reconstruction-error
    audit: scale = max|x|/127, code = floor(x/scale + 0.5), and per vector
    the MSE, max absolute error, and cosine between the original and the
    dequantized reconstruction — the storage-path compression a 100 TB
    embedding corpus ships (4× smaller than float32, 8× than the DOUBLE
    the exact dedup math uses), with the audit row telling you whether the
    ANN index downstream can be built on codes.

    Scale shape: a pure per-row expression pipeline (transform/aggregate
    higher-order functions inside whole-stage codegen) — no shuffle, no
    UDF, no driver state; the one scan reads 2 columns. The quantization
    rule is floor-based so both engines' IEEE doubles agree bit-for-bit
    (round() tie-breaks are engine-specific); the DuckDB oracle replays the
    identical lambda algebra over DOUBLE[] lists.
    """
    e = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # Zero-vector guard (ADVICE r6): an all-zero embedding would make
    # scale = 0 and every downstream division NaN; coalesce scale to 1.0
    # (codes are then exactly 0, recon exact, cosine defined as 1.0).
    s = e.withColumn(
        "maxabs", F.expr("array_max(transform(v, x -> abs(x)))")
    ).withColumn(
        "scale",
        F.when(F.col("maxabs") == 0, F.lit(1.0)).otherwise(
            F.col("maxabs") / float(INT8_LEVELS)
        ),
    )
    err = "(x - floor(x / scale + 0.5) * scale)"
    recon = s.withColumn(
        "recon", F.expr("transform(v, x -> floor(x / scale + 0.5) * scale)")
    )
    dot = (
        "aggregate(zip_with(v, recon, (a, b) -> a * b), 0D, (a, x) -> a + x)"
    )
    nrm = "sqrt(aggregate({c}, 0D, (a, x) -> a + x * x))"
    return (
        recon.select(
            "vec_id",
            F.round("scale", 8).alias("scale"),
            F.round(
                F.expr(
                    f"aggregate(transform(v, x -> {err} * {err}), 0D,"
                    " (a, x) -> a + x)"
                )
                / F.size("v"),
                8,
            ).alias("mse"),
            F.round(
                F.expr(f"array_max(transform(v, x -> abs({err})))"), 8
            ).alias("max_abs_err"),
            F.when(F.col("maxabs") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.expr(dot)
                    / (
                        F.expr(nrm.format(c="v"))
                        * F.expr(nrm.format(c="recon"))
                    ),
                    6,
                )
            )
            .alias("recon_cosine"),
        )
        .orderBy(F.col("vec_id").asc())
    )


# --- two-stage retrieval: ADC shortlist -> exact re-rank -------------------

# Shortlist depth: PQ recall losses are recovered by re-ranking a shortlist
# 4x deeper than the final k with exact distances — the standard two-stage
# retrieval shape (quantized scan for recall, exact math only on candidates).
RERANK_SHORTLIST = 20
# FIXED codebook size for the production-shaped path: real PQ keeps K
# constant (256/subspace typically); the fixture's stride rule would grow
# K with the corpus and make encoding quadratic (measured 3.2x/doubling,
# SCALE.md round-6). 40 = exactly the stride-derived count at the 1x
# stress fixture (2,000 vectors / stride 50), so fixture outputs are
# unchanged by the cap.
PQ_CODEBOOK_VECS = 40


@query(
    "similarity_pq_rerank",
    oracle=f"""
WITH {_E_CTE},
{_pq_ctes(PQ_CODEBOOK_VECS)},
scored AS ({_ADC_SQL}),
shortlist AS (
    {_topk_sql("scored", "query_id", "adist ASC, neighbor_id ASC", RERANK_SHORTLIST)}
),
exact AS (
    SELECT sl.query_id, sl.neighbor_id,
           ROUND({_SQDIST_SQL.format(a="q.emb", b="n.emb")}, 6)
               AS exact_sqdist,
           sl.adist
    FROM shortlist sl
    JOIN e q ON q.vec_id = sl.query_id
    JOIN e n ON n.vec_id = sl.neighbor_id
)
{_neighbors_sql("exact", "exact_sqdist ASC")}
""",
)
def similarity_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: PQ/ADC scan selects a RERANK_SHORTLIST-deep
    candidate list per query, then EXACT squared-L2 re-ranks the shortlist
    down to top-k — the production ANN serving shape (quantized codes give
    recall over the full corpus at PQ_M = 8 bytes/vector; exact math runs only
    on Q × shortlist rows, so its cost is independent of corpus size).

    Scale shapes: stage 1 is ``similarity_pq``'s plan (codes ⋈ broadcast
    distance table, one shuffle for the ADC sum); stage 2 joins the tiny
    shortlist back to the corpus on vec_id — at 10⁹ vectors that is a
    Q·shortlist-row probe-side join against the (bucketed) embedding table,
    never a scan. The exact re-rank fold runs in-order on both engines and
    ROUNDs to 6 before ranking so tie-break order is engine-stable.

    Codebook rule: FIXED at PQ_CODEBOOK_VECS code vectors (production PQ
    keeps K constant), unlike ``similarity_pq``'s fixture-baseline stride
    rule whose K = N/stride made encoding N·K·M sqdist folds — the round-6
    growth curve measured 3.2×/doubling before the cap (SCALE.md). At
    fixture sizes the cap is not binding, so outputs there are identical
    either way.
    """
    e = _emb(spark, sf_dir)
    shortlist = _topk(
        _adc(*_pq_codes_dtable(e, PQ_CODEBOOK_VECS)),
        ["query_id"],
        [F.col("adist").asc(), F.col("neighbor_id").asc()],
        RERANK_SHORTLIST,
    )
    q = e.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb"))
    n = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("n_emb")
    )
    exact = (
        shortlist.join(q, "query_id")
        .join(n, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_sqdist(F.col("q_emb"), F.col("n_emb")), 6).alias("exact_sqdist"),
            "adist",
        )
    )
    return _neighbors(exact, F.col("exact_sqdist").asc())


# Johnson-Lindenstrauss sign-random-projection: K output dims, sign matrix
# derived from a Knuth-style multiplicative hash of (j, d) so BOTH engines
# regenerate the identical +-1 matrix from pure integer arithmetic — no
# stored projection table, nothing to desync (the derive-from-a-rule
# pattern the LSH/PQ configs use).
RP_OUT_DIMS = 8
RP_HASH_A = 2654435761
RP_HASH_B = 40503


def _rp_sign_sql(j: str, d: str) -> str:
    """+-1 sign for projection row j, input dim d — bit 16 of the mixed
    32-bit hash (low bits of multiplicative hashes are weak; bit 16 is in
    the well-mixed middle). Engine-portable: %, integer //, no xor/shift."""
    h = f"(({j} * {RP_HASH_A} + {d} * {RP_HASH_B}) % 4294967296)"
    return f"(1 - 2 * (({h} // 65536) % 2))"


@query(
    "embedding_random_projection",
    oracle=f"""
SELECT vec_id,
       {", ".join(
           f'''ROUND(list_sum(list_transform(generate_series(1, {EMB_DIM}),
               d -> CAST(embedding[d] AS DOUBLE)
                    * {_rp_sign_sql(str(j), "d")}))
               / sqrt({RP_OUT_DIMS}), 4) + 0 AS p{j}'''
           for j in range(RP_OUT_DIMS)
       )}
FROM embeddings
ORDER BY vec_id ASC
""",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality reduction by sign random projection (Johnson-
    Lindenstrauss): 64-dim float embeddings down to 8 dense features,
    y_j = sum_d x_d * s(j,d) / sqrt(K) with the +-1 sign matrix derived
    from a multiplicative hash of (j, d) — the cheap preprocessing step
    before clustering / ANN when the full dimension is too wide to ship.

    Pure codegen higher-order functions (aggregate over sequence(1, 64)
    with an integer-arithmetic sign term): no UDF, no shuffle except the
    presentation sort, JL matrix regenerated identically inside DuckDB's
    list_transform — the projection is a RULE, not data. At 100 TB this is
    a narrow map over the embedding scan, K x D multiply-adds per row;
    both engines fold d = 1..64 in sequence order and the oracle rounds to
    the shared 4-decimal scale.
    """
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    cols = [
        F.expr(
            f"""round(aggregate(sequence(1, {EMB_DIM}), cast(0 as double),
                (acc, d) -> acc + cast(element_at(embedding, d) as double)
                    * {_rp_sign_sql(str(j), "d").replace("//", "div")})
                / sqrt({RP_OUT_DIMS}), 4)"""
        ).alias(f"p{j}")
        for j in range(RP_OUT_DIMS)
    ]
    return emb.select("vec_id", *cols).orderBy(F.col("vec_id").asc())


# --- ANN accuracy audit -----------------------------------------------------


def _recall_audit_oracle() -> str:
    """Composed from the single-source oracles of the exact baseline and
    the IVF-PQ plan (the registered similarity_topk oracle and the
    _IVFPQ_ORACLE_SQL constant the consolidated ANN surface unions), so
    any future change to either base query propagates to both sides of
    the audit automatically (same lockstep trick as the generated k-means
    oracle above)."""
    from databricks_spark_sql_challenge1_spark.registry import ORACLES

    return f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({ORACLES["similarity_topk"]})),
approx AS (SELECT query_id, neighbor_id FROM ({_IVFPQ_ORACLE_SQL})),
hit AS (
    SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS hits
    FROM exact e JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
),
ek AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS exact_k
       FROM exact GROUP BY query_id),
ak AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS approx_k
       FROM approx GROUP BY query_id)
SELECT ek.query_id,
       ek.exact_k,
       COALESCE(ak.approx_k, 0) AS approx_k,
       COALESCE(hit.hits, 0) AS hits,
       ROUND(CAST(COALESCE(hit.hits, 0) AS DOUBLE) / ek.exact_k, 4) AS recall
FROM ek
LEFT JOIN ak ON ak.query_id = ek.query_id
LEFT JOIN hit ON hit.query_id = ek.query_id
ORDER BY ek.query_id ASC
"""


@query("similarity_recall_audit", oracle=_recall_audit_oracle())
def similarity_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the production ANN plan against the exact baseline,
    as driver-verified integers: per query, how many of
    ``similarity_topk``'s exact cosine top-{TOP_K} does ``similarity_ivfpq``
    (cosine cell routing at {IVFPQ_PROBES} probes + PQ/ADC scoring)
    retrieve? Turns the documented IVF/PQ accuracy trade-off (low absolute
    recall on this near-uniform random fixture — see similarity_ivfpq's
    docstring) into a pinned, hash-checked number instead of prose.

    Both legs are the REGISTERED queries called verbatim, and the oracle
    composes their registered SQL as CTEs, so the audit can never drift
    from what the driver separately verifies. Cost: the two legs' own
    plans plus three joins over Q-row frames (Q = {N_QUERIES}) — the
    audit overhead is negligible at any corpus scale; at 10^9 vectors the
    exact leg is the expensive half, which is exactly what a production
    recall audit pays (run on a sampled query set, as here).
    """
    # Each leg feeds two aggregates below (hits + its per-query count);
    # unmaterialized, the whole leg plan evaluated twice per run — one
    # materialization per leg halves the audit's cost (Q·k rows each).
    # Eager localCheckpoint (round 19): each leg runs its own jobs at build
    # time, once per call — nothing is cached across calls — and both
    # aggregates read the checkpointed rows.
    exact = (
        similarity_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    approx = (
        similarity_ivfpq(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    # Explicit broadcasts: unconditional by design, justified by the
    # sampled-query contract (Q·k <= N_QUERIES*TOP_K rows per leg — see the
    # docstring) rather than by the planner's threshold, which sees only
    # the legs' plan-time size estimates, not their row counts.
    hits = (
        exact.join(F.broadcast(approx), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    ek = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_k")
    )
    ak = approx.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("approx_k")
    )
    return (
        ek.join(F.broadcast(ak), "query_id", "left")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "exact_k",
            F.coalesce("approx_k", F.lit(0).cast("bigint")).alias("approx_k"),
            F.coalesce("hits", F.lit(0).cast("bigint")).alias("hits"),
            F.round(
                F.coalesce("hits", F.lit(0).cast("bigint")).cast("double")
                / F.col("exact_k"),
                4,
            ).alias("recall"),
        )
        .orderBy(F.col("query_id").asc())
    )
