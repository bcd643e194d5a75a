"""Accuracy pinning for the approximate (sketch-based) scale-path variants
against their exact counterparts."""

from __future__ import annotations

import os
import tempfile

import pytest

from databricks_spark_sql_challenge1_spark.operators.abandonment import (
    top_abandoned_products,
)
from databricks_spark_sql_challenge1_spark.operators.analytics_ext import (
    _approx_percentiles_raw,
    _approx_topk_raw,
    approx_price_percentiles,
    approx_topk_products,
    price_percentiles,
)
from tests.conftest import SF_DIR


def test_approx_topk_close_to_exact(spark):
    exact = {
        r["partkey"]: r["total_abandoned_orders"]
        for r in top_abandoned_products(spark, SF_DIR).collect()
    }
    approx = {
        r["partkey"]: r["approx_abandoned_orders"]
        for r in _approx_topk_raw(spark, SF_DIR).collect()
    }
    # top sets largely overlap and counts are within 10%
    overlap = set(exact) & set(approx)
    assert len(overlap) >= 0.8 * len(exact)
    for k in overlap:
        assert abs(approx[k] - exact[k]) <= max(2, 0.1 * exact[k])


def test_approx_topk_bounds_check_holds_in_engine(spark):
    """The registered bounds-check variant: every exact-top-100 row's
    in-engine sketch-error verdict is true (what the DuckDB oracle
    asserts via literal TRUE)."""
    rows = approx_topk_products(spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r["approx_ok"] for r in rows)


def test_approx_percentiles_close_to_exact(spark):
    exact = {r["o_orderstatus"]: (r["p50"], r["p90"], r["p99"])
             for r in price_percentiles(spark, SF_DIR).collect()}
    approx = {r["o_orderstatus"]: (r["p50"], r["p90"], r["p99"])
              for r in _approx_percentiles_raw(spark, SF_DIR).collect()}
    assert exact.keys() == approx.keys()
    for k in exact:
        for e, a in zip(exact[k], approx[k]):
            assert abs(a - e) / e < 0.05


def test_approx_percentiles_bounds_check_holds_in_engine(spark):
    rows = approx_price_percentiles(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["ok_p50"] and r["ok_p90"] and r["ok_p99"], r


def test_cosine_chunked_matches_broadcast(spark):
    """The distributed chunk-pair GEMM path (no driver collect, no corpus
    broadcast) must produce exactly the broadcast path's pairs — forced here
    with several chunks so off-diagonal and diagonal groups both execute."""
    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        _cosine_broadcast,
        _cosine_chunked,
    )

    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    want = {
        (r["vec_1"], r["vec_2"], r["cosine"])
        for r in _cosine_broadcast(spark, e).collect()
    }
    got = {
        (r["vec_1"], r["vec_2"], r["cosine"])
        for r in _cosine_chunked(e, 5).collect()
    }
    assert want and got == want


def test_embedding_lsh_subset_and_recall(spark):
    """LSH near-dup must be a subset of the exact all-pairs output (candidates
    are exact-cosine-verified) with usable recall at the fixture's similarity
    ceiling (deterministic: seeded planes, fixed data; at fixture size the
    adaptive band width sits on its 6-bit clamp floor)."""
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        dedup_embedding_cosine,
        dedup_embedding_lsh_adaptive,
    )

    lsh = {
        (r["vec_1"], r["vec_2"])
        for r in dedup_embedding_lsh_adaptive(spark, SF_DIR).collect()
    }
    exact = {
        (r["vec_1"], r["vec_2"])
        for r in dedup_embedding_cosine(spark, SF_DIR).collect()
    }
    assert lsh <= exact
    assert len(lsh & exact) / len(exact) >= 0.5


def test_emb_lsh_bits_formula():
    """Band width grows +2 bits per corpus doubling between the clamps, so
    the band-value space 2^bits tracks the N^2 random-pair growth exactly."""
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        EMB_LSH_BITS,
        EMB_LSH_MAX_BITS,
        _emb_lsh_bits,
    )

    assert _emb_lsh_bits(500) == EMB_LSH_BITS
    assert _emb_lsh_bits(2_000) == 6
    assert _emb_lsh_bits(4_000) == 8
    assert _emb_lsh_bits(8_000) == 10
    assert _emb_lsh_bits(16_000) == 12
    assert _emb_lsh_bits(10**9) == EMB_LSH_MAX_BITS


def test_emb_lsh_bits_cross_engine_at_powers_of_two():
    """ADVICE r15 / VERDICT r16 #6: the band-width formula originally
    touched float log2 on both engines, and a count near an exact power of
    two is where a libm could in principle round to k−ε (ceil → k) vs
    exactly k, flipping the band width and silently desyncing the
    candidate sets at that one corpus size. Round 17 replaced the float
    path with the INTEGER formulation on both sides — Python
    ``(n-1).bit_length()``, DuckDB ``length(bin(n-1))`` — removing the
    libm dependency instead of pinning around it. This test retains the
    pin at every power of two a corpus count could reach (±1 neighbors
    where ceil steps): Spark-side == the oracle's params-CTE expression ==
    the historical float formulation, so the migration is provably
    value-identical everywhere it could ever bind. The adaptive SimHash
    band-key width rides the same integer ceil-log2 and is one more input:
    it must equal its historical float formulation at every count too."""
    import math

    import duckdb

    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        EMB_LSH_BITS,
        EMB_LSH_BITS_OFFSET,
        EMB_LSH_MAX_BITS,
        SIMHASH_BPB_MAX,
        SIMHASH_BPB_MIN,
        _adaptive_simhash_bpb,
        _emb_lsh_bits,
    )

    counts = sorted(
        {m for k in range(1, 41) for m in (2**k - 1, 2**k, 2**k + 1)}
    )
    con = duckdb.connect()
    rows = con.execute(
        "SELECT n, LEAST(?, GREATEST(?, "
        "2 * length(bin(GREATEST(n, 2) - 1)) - ?)) "
        "FROM (SELECT unnest(?::BIGINT[]) AS n) ORDER BY n",
        [EMB_LSH_MAX_BITS, EMB_LSH_BITS, EMB_LSH_BITS_OFFSET, counts],
    ).fetchall()
    for n, duck_bits in rows:
        assert _emb_lsh_bits(n) == duck_bits, (n, _emb_lsh_bits(n), duck_bits)
        float_bits = min(
            EMB_LSH_MAX_BITS,
            max(
                EMB_LSH_BITS,
                2 * math.ceil(math.log2(max(n, 2))) - EMB_LSH_BITS_OFFSET,
            ),
        )
        assert _emb_lsh_bits(n) == float_bits, (n, _emb_lsh_bits(n), float_bits)
        float_bpb = max(
            SIMHASH_BPB_MIN,
            min(SIMHASH_BPB_MAX, math.ceil(math.log2(max(n, 2))) + 2),
        )
        assert _adaptive_simhash_bpb(n) == float_bpb, (n, float_bpb)


def test_require_oracle_dim_is_loud():
    """The fixed-dim oracle contract (ADVICE r15): the LSH oracles bake
    hyperplane literals at EMB_LSH_DIM, so a warehouse with any other
    embedding dimensionality must fail loudly instead of silently
    desyncing the Spark and DuckDB candidate sets."""
    import pytest

    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        EMB_LSH_DIM,
        _require_oracle_dim,
    )

    _require_oracle_dim(EMB_LSH_DIM)  # the contract dimension passes
    with pytest.raises(ValueError, match="fixed-dim oracle contract"):
        _require_oracle_dim(EMB_LSH_DIM + 1)


def test_pq_quantization_signal(spark):
    """PQ approximates squared-L2; on the random fixture vectors a 10-code ×
    8-subspace codebook is deliberately coarse, so the pin is signal-vs-
    chance, not high recall: recall@5 well above the ~1% random floor, and
    the true L2 nearest neighbor ranked inside the top decile of the full PQ
    ordering for most queries (measured at sf0.001: recall ≈ 0.14, 9/10
    queries' true top-1 inside the top 2.5%)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from databricks_spark_sql_challenge1_spark.operators.similarity import (
        N_QUERIES,
        _adc,
        _emb,
        _pq_codes_dtable,
        _sqdist,
        similarity_pq,
    )

    e = _emb(spark, SF_DIR)
    n_corpus = e.count()
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id").asc()
    )
    ranked = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _sqdist(F.col("qemb"), F.col("emb")).alias("d"),
        )
        .withColumn("rk", F.row_number().over(w))
    )
    exact_top5, exact_top1 = {}, {}
    for r in ranked.where(F.col("rk") <= 5).collect():
        exact_top5.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        if r["rk"] == 1:
            exact_top1[r["query_id"]] = r["neighbor_id"]

    pq_top5 = {}
    for r in similarity_pq(spark, SF_DIR).collect():
        pq_top5.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(
        len(exact_top5[q_] & pq_top5[q_]) / 5 for q_ in exact_top5
    ) / len(exact_top5)
    assert recall >= 0.08  # ≥ 8× the 5/n random floor

    # full PQ ordering: the true L2 top-1 must land in the top decile for
    # most queries (quantization preserves coarse geometry)
    pq_w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    pq_rank = {
        (r["query_id"], r["neighbor_id"]): r["rk"]
        for r in _adc(*_pq_codes_dtable(e)).withColumn(
            "rk", F.row_number().over(pq_w)
        ).collect()
    }
    in_decile = sum(
        1
        for q_, top1 in exact_top1.items()
        if pq_rank[(q_, top1)] <= 0.1 * n_corpus
    )
    assert in_decile >= 0.7 * len(exact_top1)


def test_semantic_ivf_subset_of_exact_pairs(spark):
    """Every SemDeDup flag must correspond to a true exact-cosine duplicate
    pair (within-cell pruning can MISS cross-cell pairs, never invent one),
    and with 2-probe soft assignment the cell-local candidate set must
    retain a usable fraction of the exactly-duplicated vectors
    (deterministic: fixed centroid stride, fixed data; measured vector
    recall 0.65/0.75 at sf0.001/sf0.01)."""
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        dedup_embedding_cosine,
    )
    from databricks_spark_sql_challenge1_spark.operators.similarity import (
        dedup_semantic_ivf,
    )

    exact_pairs = {
        (r["vec_1"], r["vec_2"])
        for r in dedup_embedding_cosine(spark, SF_DIR).collect()
    }
    flagged = dedup_semantic_ivf(spark, SF_DIR).collect()
    for r in flagged:
        assert (r["dup_of"], r["vec_id"]) in exact_pairs, (
            f"{r['vec_id']} flagged dup_of {r['dup_of']} "
            "but that pair is not an exact duplicate"
        )
    # recall over dup'd vectors: each exact pair's higher id is a vector an
    # all-pairs dedup would drop; the cell-local pass must find many of them
    exact_dropped = {b for (_, b) in exact_pairs}
    found = {r["vec_id"] for r in flagged}
    assert len(found & exact_dropped) / len(exact_dropped) >= 0.5


def test_bloom_contamination_superset_of_exact(spark):
    """Bloom decontamination must never produce a false negative: per doc,
    n_bloom_overlap >= the exact n_overlap and every exactly-contaminated
    doc must be flagged; and the deterministic FP load must stay tiny
    (< 0.5% of probes on the fixtures)."""
    from databricks_spark_sql_challenge1_spark.operators.traindata import (
        docs_contamination,
        docs_contamination_bloom,
    )

    exact = {r["doc_id"]: r for r in docs_contamination(spark, SF_DIR).collect()}
    bloom = {r["doc_id"]: r for r in docs_contamination_bloom(spark, SF_DIR).collect()}
    assert exact.keys() == bloom.keys()
    fp = tot = 0
    for d, e in exact.items():
        b = bloom[d]
        assert b["n_bloom_overlap"] >= e["n_overlap"], d
        if e["is_contaminated"]:
            assert b["is_flagged"], d
        fp += b["n_bloom_overlap"] - e["n_overlap"]
        tot += e["n_shingles"]
    assert fp / tot < 0.005, (fp, tot)


def test_kmeans_empty_cluster_keeps_seed(spark):
    """A cluster that loses every member must keep its previous centroid
    (COALESCE path) instead of crashing or emitting NULL means — never
    exercised by the fixture corpus, where every stride-seed self-assigns.
    Construction: vec 50 duplicates vec 0, so on round 1 the centroid-id
    tiebreak sends BOTH to cluster 0 and cluster 50 is immediately empty."""
    from databricks_spark_sql_challenge1_spark.operators.similarity import (
        _kmeans_refine,
    )

    base = [float(i % 7) for i in range(64)]
    off = [v + 1.0 for v in base]
    rows = [
        (0, base),
        (50, base),  # duplicate of the seed 0 vector → cluster 50 empties
        (1, off),
        (2, off),
    ]
    e = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    out = _kmeans_refine(e).collect()
    # Round 1: every vector ties between the two identical seeds and the
    # centroid-id tiebreak sends ALL FOUR to cluster 0 — cluster 50 is
    # empty, so its round-2 centroid must COALESCE back to the seed (a
    # NULL/crash here is the bug this test pins). Round 2 then re-splits:
    # the kept seed (= base) wins back the two base vectors while the
    # moved cluster-0 centroid (the 4-vector mean) keeps the off pair.
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["centroid_id"], []).append(r)
    assert set(by_cluster) == {0, 50}, set(by_cluster)
    assert {r["n_members"] for r in by_cluster[0]} == {2}
    assert {r["n_members"] for r in by_cluster[50]} == {2}
    got0 = [
        r["centroid_val"] for r in sorted(by_cluster[0], key=lambda r: r["pos"])
    ]
    got50 = [
        r["centroid_val"] for r in sorted(by_cluster[50], key=lambda r: r["pos"])
    ]
    assert got0 == [round(v, 6) for v in off]
    assert got50 == [round(v, 6) for v in base]


def test_ngram_df_cut_binding(spark):
    """The hot-shingle DF-cut is non-binding on the fixture corpus (max
    shingle df ≪ NGRAM_DF_CAP, verified r5) — pin the binding behavior on a
    synthetic corpus where one stopword trigram spans every document."""
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        _ngram_jaccard,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c d"),
            (3, "a b c x"),
            (4, "a b c y"),
        ],
        "doc_id long, text string",
    )
    # cap 10: nothing cut; every pair shares the hot "a b c" shingle.
    uncut = {
        (r["doc_1"], r["doc_2"]): r["jaccard"]
        for r in _ngram_jaccard(docs, 10).collect()
    }
    assert len(uncut) == 6
    assert uncut[(1, 2)] == 1.0
    assert uncut[(3, 4)] == round(1 / 3, 4)
    # cap 3: "a b c" (df=4) is cut from index AND sizes; only the exact
    # duplicate pair survives, over the pruned universe {"b c d"}.
    cut = {
        (r["doc_1"], r["doc_2"]): r["jaccard"]
        for r in _ngram_jaccard(docs, 3).collect()
    }
    assert cut == {(1, 2): 1.0}


def test_kmeans_oracle_generated_from_constant(spark, duck):
    """ADVICE r4: the registered oracle must be the generator's output for
    KMEANS_ITERS, and the generator must stay in sync with the Spark loop
    at a DIFFERENT iteration count (run both at iters=3 and compare)."""
    from databricks_spark_sql_challenge1_spark.operators.similarity import (
        KMEANS_ITERS,
        _emb,
        _km_oracle_sql,
        _kmeans_refine,
    )
    from databricks_spark_sql_challenge1_spark.registry import ORACLES

    assert ORACLES["embedding_kmeans_refine"] == _km_oracle_sql(KMEANS_ITERS).strip()
    sp = sorted(
        tuple(r) for r in _kmeans_refine(_emb(spark, SF_DIR), iters=3).collect()
    )
    orc = sorted(tuple(r) for r in duck.sql(_km_oracle_sql(3)).fetchall())
    assert sp == orc


def test_cosine_helper_zero_norm_and_null_contract(spark):
    """Pin the shared cosine() edge contract (round-13 fuzz + review):
    a ZERO-norm vector scores -1.0 (DuckDB's list_cosine_similarity
    convention, so Spark and oracle rank it identically), while a NULL
    input stays NULL (retrieval builds vectors through joins whose
    misses are NULL — a coalesce-style -1.0 for NULLs silently re-ranked
    sf0.1 rerank rows when tried). Normal vectors score the plain
    dot/norms value."""
    from pyspark.sql import functions as F

    from databricks_spark_sql_challenge1_spark.functions.vectors import cosine

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),   # identical -> 1.0
            (2, [1.0, 0.0], [-1.0, 0.0]),  # opposite -> -1.0
            (3, [0.0, 0.0], [1.0, 2.0]),   # zero norm -> -1.0 (convention)
            (4, [0.0, 0.0], [0.0, 0.0]),   # both zero -> -1.0
            (5, None, [1.0, 2.0]),         # NULL input -> NULL
        ],
        "id long, a array<double>, b array<double>",
    )
    got = {
        r.id: r.c
        for r in df.select(
            "id", F.round(cosine(F.col("a"), F.col("b")), 6).alias("c")
        ).collect()
    }
    assert got[1] == 1.0
    assert got[2] == -1.0
    assert got[3] == -1.0
    assert got[4] == -1.0
    assert got[5] is None


def test_ivfpq_is_pq_restricted_to_probed_cells(spark):
    """similarity_ivfpq must equal EXACTLY the top-k (by ADC distance,
    neighbor-id tiebreak) of similarity_pq's full ADC scoring restricted
    to the IVF candidate set (data's rank-1 cell ∈ query's top-2 probed
    cells, cosine routing) — the compositional claim in the docstring,
    pinned without any recall slack."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from databricks_spark_sql_challenge1_spark.functions.vectors import cosine
    from databricks_spark_sql_challenge1_spark.operators.similarity import (
        CENTROID_STRIDE,
        IVFPQ_PROBES,
        N_QUERIES,
        TOP_K,
        _adc,
        _assign,
        _centroids,
        _emb,
        _pq_codes_dtable,
        similarity_ivfpq,
    )

    e = _emb(spark, SF_DIR)
    cent = e.where(F.col("vec_id") % CENTROID_STRIDE == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb")
    )
    probe_w = Window.partitionBy("vec_id").orderBy(
        F.round(cosine(F.col("emb"), F.col("cemb")), 6).desc(),
        F.col("centroid_id").asc(),
    )
    qprobe = (
        e.where(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cent))
        .withColumn("rk", F.row_number().over(probe_w))
        .where(F.col("rk") <= IVFPQ_PROBES)
        .select(F.col("vec_id").alias("query_id"), F.col("centroid_id").alias("qc"))
    )
    cand = (
        _assign(e, _centroids(e), "cos", 1)
        .select("vec_id", "centroid_id")
        .join(F.broadcast(qprobe), F.col("centroid_id") == F.col("qc"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    expected = sorted(
        tuple(r)
        for r in _adc(*_pq_codes_dtable(e))
        .join(cand, ["query_id", "neighbor_id"])
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "adist")
        .collect()
    )
    got = sorted(tuple(r) for r in similarity_ivfpq(spark, SF_DIR).collect())
    assert got == expected and len(got) > 0


def test_pq_rerank_improves_or_matches_pq_order(spark):
    """The exact re-rank's #1 neighbor must be at least as close (exact
    squared-L2) as the neighbor pure-PQ ordering would have returned first
    — the property that justifies the second stage."""
    from databricks_spark_sql_challenge1_spark.operators.similarity import (
        _emb,
        similarity_pq,
        similarity_pq_rerank,
    )

    rerank_first = {}
    for r in similarity_pq_rerank(spark, SF_DIR).collect():
        rerank_first.setdefault(r["query_id"], r["exact_sqdist"])
    pq_first = {}
    for r in similarity_pq(spark, SF_DIR).collect():
        pq_first.setdefault(r["query_id"], r["neighbor_id"])
    emb = {r["vec_id"]: r["emb"] for r in _emb(spark, SF_DIR).collect()}

    def sqdist(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    assert rerank_first and pq_first.keys() == rerank_first.keys()
    for qid, pq_n1 in pq_first.items():
        exact_of_pq_choice = round(sqdist(emb[qid], emb[pq_n1]), 6)
        assert rerank_first[qid] <= exact_of_pq_choice + 1e-9, qid


def test_ann_recall_floors(spark):
    """VERDICT r6 #6: pin recall@TOP_K of the approximate ANN queries
    against the exact ``similarity_topk`` ground truth — the regression
    tripwire for the quantization/routing stages (a broken code
    assignment or probe join sends recall to ~0, which no
    order-improvement property catches). The absolute numbers are
    fixture-grade: the deterministic stride/fixed codebooks are honest
    baselines, not fitted k-means, so PQ distortion dominates (full-ADC
    ``similarity_pq`` recall ~0.08-0.14). What the floors pin:

    - ``similarity_pq_rerank`` mean recall >= 0.3 and EVERY query >= 0.2
      (measured 0.38 / 0.2 at BOTH sf0.001 and sf0.01 — deterministic
      pipeline, stable values);
    - ``similarity_ivfpq`` mean recall >= 0.1 (measured 0.10 / 0.14);
    - the exact re-rank stage LIFTS recall strictly above both one-stage
      quantized scans — the measurable justification for stage 2
      (0.38 vs 0.14/0.08): recall lost to PQ distortion is recovered by
      exact math on a shortlist, which is why production serving uses the
      two-stage shape. Referenced from QUERIES.md §ann-recall.
    """
    from databricks_spark_sql_challenge1_spark.operators.similarity import (
        TOP_K,
        similarity_ivfpq,
        similarity_pq,
        similarity_pq_rerank,
        similarity_topk,
    )

    def groups(df):
        out: dict = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = groups(similarity_topk(spark, SF_DIR))
    assert exact, "ground truth empty"

    def per_query(g):
        return {q: len(g.get(q, set()) & exact[q]) / TOP_K for q in exact}

    def mean(d):
        return sum(d.values()) / len(d)

    pq = per_query(groups(similarity_pq(spark, SF_DIR)))
    ivfpq = per_query(groups(similarity_ivfpq(spark, SF_DIR)))
    rerank = per_query(groups(similarity_pq_rerank(spark, SF_DIR)))

    assert mean(rerank) >= 0.3, mean(rerank)
    assert min(rerank.values()) >= 0.2, rerank
    assert mean(ivfpq) >= 0.1, mean(ivfpq)
    # stage-2 lift: exact re-rank beats both one-stage quantized scans
    assert mean(rerank) > mean(pq) and mean(rerank) > mean(ivfpq)


def test_fixed_band_saturation_guards(spark, monkeypatch):
    """Past the measured saturation knee (candidate volume quadratic
    there) the wide-simhash baseline RAISES toward its adaptive sibling,
    whose 88-bit hamming is a different exact relation (r9, VERDICT r8
    #5)."""
    import pytest

    from databricks_spark_sql_challenge1_spark.operators import dedup

    monkeypatch.setattr(dedup, "SIMHASH_WIDE_SATURATION_DOCS", 1)
    with pytest.raises(ValueError, match="dedup_simhash_adaptive"):
        dedup.dedup_simhash_wide_pairs(spark, SF_DIR)


def test_stride_saturation_guards(spark, monkeypatch):
    """The four stride-parameterized fixture baselines refuse corpora past
    the measured quadratic knee (SCALE.md §Saturation knees) and direct the
    caller to the committed scale configs."""
    import pytest

    from databricks_spark_sql_challenge1_spark.operators import similarity

    monkeypatch.setattr(similarity, "STRIDE_SATURATION_VECS", 1)
    for fn, repl in (
        (similarity.similarity_pq, "similarity_pq_rerank"),
        (similarity.similarity_ivf, "sqrt"),
        (similarity.similarity_ivfpq, "similarity_pq_rerank"),
        (similarity.dedup_semantic_ivf, "dedup_semantic_sqrtk"),
    ):
        with pytest.raises(ValueError, match=repl):
            fn(spark, SF_DIR)


def test_ngram_containment_catches_doc_in_doc(spark):
    """Containment's reason to exist: a short document fully embedded in a
    long one scores high containment but LOW Jaccard — below the
    symmetric near-dup threshold — so only the asymmetric metric flags
    the pair. Pin both sides of that claim on a synthetic corpus."""
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _ngram_containment,
        _ngram_jaccard,
    )

    short = "q r s t u"  # 3 shingles: qrs rst stu
    filler = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, short + " " + filler), (3, "z1 z2 z3 z4")],
        "doc_id long, text string",
    )
    cont = {
        (r["doc_1"], r["doc_2"]): (r["containment"], r["jaccard"])
        for r in _ngram_containment(docs, 10_000).collect()
    }
    # doc 1's shingle set is a strict subset of doc 2's: containment 1.0
    assert set(cont) == {(1, 2)}
    c, j = cont[(1, 2)]
    assert c == 1.0
    # ... while the pair's Jaccard sits BELOW the symmetric threshold, so
    # the Jaccard query ignores it (3 shared / 44 union shingles)
    assert j < JACCARD_THRESHOLD
    jac_pairs = {
        (r["doc_1"], r["doc_2"]) for r in _ngram_jaccard(docs, 10_000).collect()
    }
    assert (1, 2) not in jac_pairs


def test_containment_dominates_jaccard(spark):
    """Mathematical invariant of the two resemblance measures: for any
    pair, |∩|/min(n1,n2) ≥ |∩|/|∪| and ≤ 1 — pin it over every pair the
    registered method surface emits on the fixture corpus."""
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    rows = QUERIES["dedup_ngram_methods"](spark, SF_DIR).collect()
    assert rows  # fixture corpus produces pairs (FIXTURES.md dense vocab)
    for r in rows:
        assert r["jaccard"] <= r["containment"] <= 1.0, r


def test_embedding_incremental_sound_and_recall_floor(spark):
    """The incremental admission check is SOUND by construction (every
    candidate is verified with the exact DOUBLE cosine, so n_near_dups
    can never exceed the exact cross-split near-dup count) and its LSH
    recall at the fixture's deliberately loose 0.4 threshold (per-bit
    agreement ≈ 0.63) stays above a measured floor — 0.783 measured at
    sf0.001; at a production 0.99 dup threshold the same 12-band config
    holds recall ≈ 1 (the dedup_embedding_lsh_adaptive envelope)."""
    from collections import Counter

    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        INCREMENTAL_MOD,
    )
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    inc = {
        r["vec_id"]: r
        for r in QUERIES["dedup_embedding_incremental"](spark, SF_DIR).collect()
    }
    exact_counts = Counter()
    for r in QUERIES["dedup_embedding_cosine"](spark, SF_DIR).collect():
        a, b = r["vec_1"], r["vec_2"]
        if (a % INCREMENTAL_MOD == 0) != (b % INCREMENTAL_MOD == 0):
            exact_counts[a if a % INCREMENTAL_MOD == 0 else b] += 1
    assert inc and exact_counts
    for v, row in inc.items():
        assert row["n_near_dups"] <= exact_counts.get(v, 0), (v, row)
        if row["is_dup"]:
            assert v in exact_counts  # no false positives, ever
    flagged = {v for v, r in inc.items() if r["is_dup"]}
    recall = len(flagged & set(exact_counts)) / len(exact_counts)
    assert recall >= 0.6, recall


def test_ngram_methods_legs_match_retired_standalones(spark):
    """The r15 consolidation contract: each leg of ``dedup_ngram_methods``
    must reproduce the retired standalone registration's pair set and
    metric values exactly (the retired callables stay importable for
    this pin)."""
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        dedup_ngram_containment,
        dedup_ngram_jaccard,
    )
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    rows = QUERIES["dedup_ngram_methods"](spark, SF_DIR).collect()
    jac_leg = {
        (r["doc_1"], r["doc_2"]): r["jaccard"]
        for r in rows
        if r["method"] == "jaccard"
    }
    old_jac = {
        (r["doc_1"], r["doc_2"]): r["jaccard"]
        for r in dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    assert jac_leg == old_jac and jac_leg
    cont_leg = {
        (r["doc_1"], r["doc_2"]): (r["containment"], r["jaccard"])
        for r in rows
        if r["method"] == "containment"
    }
    old_cont = {
        (r["doc_1"], r["doc_2"]): (r["containment"], r["jaccard"])
        for r in dedup_ngram_containment(spark, SF_DIR).collect()
    }
    assert cont_leg == old_cont and cont_leg


def test_rrf_score_recomputes_from_ranks(spark):
    """RRF's defining property: the fused score is pure rank arithmetic.
    Recompute 1/(K+lex) + 1/(K+dense) from the emitted ranks and demand
    exact agreement with the emitted score (modulo the output ROUND)."""
    from databricks_spark_sql_challenge1_spark.operators.retrieval import RRF_K
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    rows = QUERIES["retrieval_hybrid_rrf"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        expect = sum(
            1.0 / (RRF_K + rank)
            for rank in (r["lex_rank"], r["dense_rank"])
            if rank is not None
        )
        assert r["lex_rank"] is not None or r["dense_rank"] is not None, r
        assert abs(r["rrf_score"] - round(expect, 6)) < 1e-12, r


def test_weighted_sample_is_deterministic(spark):
    """A-ES keys are a pure function of doc_id — two invocations must
    return byte-identical samples (membership survives re-planning)."""
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    a = [tuple(r) for r in QUERIES["docs_weighted_sample"](spark, SF_DIR).collect()]
    b = [tuple(r) for r in QUERIES["docs_weighted_sample"](spark, SF_DIR).collect()]
    assert a == b and len(a) > 0


def test_kmv_rollup_merge_is_exact(spark):
    """Bottom-K merge loses nothing by construction — the query's
    merge_exact certification must hold on every group (the oracle
    hash-checks the same, this pins the claim in-tree)."""
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    rows = QUERIES["distinct_orders_kmv_rollup"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["merge_exact"] is True, r
        assert r["kmv_merged"] == r["kmv_direct"], r


def test_dsir_weights_lean_toward_target_lang(spark):
    """DSIR's point: documents from the target domain score higher under
    the target-vs-proposal ratio. Pin the separation on the fixture
    corpus (measured r9: en mean ≈ +95k micro-units, others ≈ −219k)."""
    from databricks_spark_sql_challenge1_spark.operators.traindata import (
        DSIR_TARGET_LANG,
    )
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    rows = QUERIES["docs_dsir_weights"](spark, SF_DIR).collect()
    target = [r["weight_e6"] for r in rows if r["lang"] == DSIR_TARGET_LANG]
    rest = [r["weight_e6"] for r in rows if r["lang"] != DSIR_TARGET_LANG]
    assert target and rest
    assert sum(target) / len(target) > 0 > sum(rest) / len(rest)


def test_rrf_rerank_is_a_rescoring_permutation_of_the_shortlist(spark):
    """The rerank never changes MEMBERSHIP — stage 2 re-orders exactly the
    stage-1 RRF top-k — and the emitted blend recomputes from the emitted
    features (modulo output ROUND), with bm25_norm hitting 1.0 on the
    shortlist's lexical maximum."""
    from databricks_spark_sql_challenge1_spark.operators.retrieval import (
        RERANK_ALPHA,
    )
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    short = QUERIES["retrieval_hybrid_rrf"](spark, SF_DIR).collect()
    rer = QUERIES["retrieval_rrf_rerank"](spark, SF_DIR).collect()
    assert {r["doc_id"] for r in rer} == {r["doc_id"] for r in short}
    assert sorted(r["final_rank"] for r in rer) == list(
        range(1, len(rer) + 1)
    )
    assert max(r["bm25_norm"] for r in rer) == 1.0
    for r in rer:
        # the query blends the UNROUNDED normalization (both engines,
        # identically); recomputing from the ROUNDED output column can
        # differ by up to (1-alpha)*5e-7 + the output-round half-ulp
        expect = RERANK_ALPHA * r["cos_sim"] + (1 - RERANK_ALPHA) * r["bm25_norm"]
        assert abs(r["rerank_score"] - expect) < 1e-6, r


def test_incremental_contamination_equals_exact_check_on_the_batch(spark):
    """Bloom has no false negatives, so after the exact-confirm stage the
    incremental result must agree with ``docs_contamination`` (the
    set-based check) on every batch doc — same n_exact/contamination/
    flag — while n_candidates >= n_exact bounds the FP handful the
    confirm stage removed."""
    from databricks_spark_sql_challenge1_spark.operators.traindata import (
        BENCH_MOD,
        CONTAM_BATCH_RESIDUE,
    )
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    inc = {
        r["doc_id"]: r
        for r in QUERIES["docs_contamination_incremental"](
            spark, SF_DIR
        ).collect()
    }
    full = {
        r["doc_id"]: r
        for r in QUERIES["docs_contamination"](spark, SF_DIR).collect()
        if r["doc_id"] % BENCH_MOD == CONTAM_BATCH_RESIDUE
    }
    assert inc and set(inc) == set(full)
    for doc_id, r in inc.items():
        f = full[doc_id]
        assert r["n_shingles"] == f["n_shingles"], doc_id
        assert r["n_exact"] == f["n_overlap"], doc_id
        assert r["contamination"] == f["contamination"], doc_id
        assert r["is_contaminated"] == f["is_contaminated"], doc_id
        assert r["n_candidates"] >= r["n_exact"] >= 0, doc_id
        assert r["fp_filtered"] == r["n_candidates"] - r["n_exact"], doc_id


# --- round-12 additions -----------------------------------------------------


def test_bpe_merges_equal_reference_trainer(spark):
    """The distributed BPE merge table must equal a from-scratch
    sequential reference trainer (classic Sennrich get_stats/merge loop
    over the word-frequency dict) — the union-find-style independent
    oracle, stronger than the DuckDB replay because it shares no
    relational machinery with the implementation."""
    from databricks_spark_sql_challenge1_spark.operators.textstats import (
        BPE_ROUNDS,
        BPE_TOP_WORDS,
        corpus_bpe_merges,
    )
    from tests.conftest import SF_DIR

    got = [tuple(r) for r in corpus_bpe_merges(spark, SF_DIR).collect()]

    from collections import Counter

    from databricks_spark_sql_challenge1_spark.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents").select("text").collect()
    freq = Counter(w for (t,) in docs for w in t.strip().split())
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_WORDS]
    model = {tuple(word): f for word, f in top}

    expect = []
    for rnd in range(1, BPE_ROUNDS + 1):
        pairs: Counter = Counter()
        for syms, f in model.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        (l, r), pf = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expect.append((rnd, l, r, l + r, pf))
        new_model = {}
        for syms, f in model.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2  # greedy leftmost non-overlapping
                else:
                    out.append(syms[i])
                    i += 1
            new_model[tuple(out)] = f
        model = new_model
    assert got == expect


def test_recall_audit_consistent_with_its_legs(spark):
    from databricks_spark_sql_challenge1_spark.operators.similarity import (
        TOP_K,
        similarity_ivfpq,
        similarity_recall_audit,
        similarity_topk,
    )
    from tests.conftest import SF_DIR

    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity_topk(spark, SF_DIR).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity_ivfpq(spark, SF_DIR).collect()
    }
    audit = similarity_recall_audit(spark, SF_DIR).collect()
    assert len(audit) == len({q for q, _ in exact})
    for row in audit:
        want = len(
            {(q, n) for q, n in exact if q == row.query_id}
            & {(q, n) for q, n in approx if q == row.query_id}
        )
        assert row.hits == want
        assert row.exact_k == TOP_K
        assert 0 <= row.hits <= min(row.exact_k, row.approx_k)
        assert abs(row.recall - round(row.hits / row.exact_k, 4)) < 1e-12


def test_zorder_interleave_matches_python_bit_interleave():
    """The arithmetic Morton expression must equal true bit interleaving
    for every (x, y) corner and a lattice of interior points."""
    import duckdb

    from databricks_spark_sql_challenge1_spark.operators.layout import (
        Z_BITS,
        _bit_interleave,
    )

    def py_morton(x: int, y: int) -> int:
        z = 0
        for i in range(Z_BITS):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    con = duckdb.connect()
    pts = [(0, 0), (127, 127), (1, 0), (0, 1), (85, 42)] + [
        (x, y) for x in range(0, 128, 17) for y in range(0, 128, 23)
    ]
    expr = _bit_interleave("x", "y", "//")
    for x, y in pts:
        got = con.execute(
            f"SELECT {expr} FROM (SELECT {x} AS x, {y} AS y)"
        ).fetchone()[0]
        assert got == py_morton(x, y), (x, y)


def test_zorder_layout_prunes_no_worse_than_linear_on_2d_probes(spark):
    """The audit's point of existence: on the 2-D point probe and the
    customer slab, Z-order must scan no more files than insertion order
    (strictly fewer on the customer slab — insertion order has no customer
    locality at all), and every layout's scan must cover the matches."""
    from databricks_spark_sql_challenge1_spark.operators.layout import (
        N_FILES,
        zorder_file_skipping,
    )
    from tests.conftest import SF_DIR

    rows = {
        (r.layout, r.predicate): r
        for r in zorder_file_skipping(spark, SF_DIR).collect()
    }
    assert len(rows) == 6
    for (layout, pred), r in rows.items():
        assert 1 <= r.files_scanned <= N_FILES, (layout, pred)
        assert r.rows_scanned >= r.match_rows, (layout, pred)
    for pred in ("point_both_dims", "customer_slab"):
        assert (
            rows[("zorder", pred)].files_scanned
            <= rows[("linear", pred)].files_scanned
        ), pred
    assert (
        rows[("zorder", "customer_slab")].files_scanned
        < rows[("linear", "customer_slab")].files_scanned
    )


def test_scd2_interval_invariants(spark):
    """SCD2 contract: per customer, versions are contiguous from 1, exactly
    one open (is_current) interval, each closed interval's valid_to equals
    its successor's valid_from, adjacent versions change tier, and the
    island months tie out against the monthly snapshot count."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.operators.analytics_ext import (
        SCD2_CUST_MOD,
        scd2_customer_history,
    )
    from tests.conftest import SF_DIR

    by_cust = defaultdict(list)
    for r in scd2_customer_history(spark, SF_DIR).collect():
        by_cust[r.c_custkey].append(r)
    assert by_cust

    observed_months = {
        r.c_custkey: r.n
        for r in (
            load_table(spark, SF_DIR, "orders")
            .where(F.col("o_custkey") % SCD2_CUST_MOD == 0)
            .groupBy(
                F.col("o_custkey").alias("c_custkey"),
                F.trunc("o_orderdate", "month").alias("m"),
            )
            .count()
            .groupBy("c_custkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    for cust, rows in by_cust.items():
        rows.sort(key=lambda r: r.version)
        assert [r.version for r in rows] == list(range(1, len(rows) + 1))
        assert sum(r.is_current for r in rows) == 1
        assert rows[-1].is_current and rows[-1].valid_to is None
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from, cust
            assert a.tier != b.tier, cust
            assert a.valid_from < b.valid_from, cust
        assert sum(r.n_months for r in rows) == observed_months[cust], cust


def test_bpe_encode_equals_reference_tokenizer(spark):
    """The distributed encode (vocabulary-side merge replay + broadcast
    join back to occurrences) must equal a from-scratch sequential
    tokenizer: apply the learned merges in order, greedy leftmost
    non-overlapping, word by word over every document."""
    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.operators.textstats import (
        corpus_bpe_encode,
        corpus_bpe_merges,
    )
    from tests.conftest import SF_DIR

    merges = [
        (r.left_sym, r.right_sym)
        for r in corpus_bpe_merges(spark, SF_DIR).collect()
    ]

    def encode_word(word: str) -> list[str]:
        syms = list(word)
        for l, r in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2  # greedy leftmost non-overlapping
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    cache: dict[str, tuple[int, int]] = {}
    expect = {}
    for row in docs:
        n_tok = w_sum = 0
        for w in row.text.strip().split():
            if w not in cache:
                toks = encode_word(w)
                cache[w] = (
                    len(toks),
                    sum(100 * len(t) + ord(t[0]) for t in toks),
                )
            n, s = cache[w]
            n_tok += n
            w_sum += s
        expect[row.doc_id] = (n_tok, w_sum)

    got = {
        r.doc_id: (r.n_tokens, r.token_weight_sum)
        for r in corpus_bpe_encode(spark, SF_DIR).collect()
    }
    assert got == expect


def test_bpe_apply_merge_kernel_on_overlapping_repeats():
    """Adversarial words the fixture vocabulary may never produce: runs of
    the same symbol ('aaaa' under merge (a,a)) force the greedy
    leftmost-non-overlapping rule to skip alternate matches. Pin the
    shared trainer/encoder kernel against an independently-written
    sequential rule (and so, transitively, against the DuckDB odd-rank
    template pinned on the same words below)."""
    from databricks_spark_sql_challenge1_spark.operators.textstats import (
        _bpe_apply_merge,
    )

    def reference(word: str, l: str, r: str) -> list[str]:
        syms, out, i = list(word), [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    words = ["aaaa", "aaaaa", "aa", "a", "ababab", "baaab", "aabaa"]
    for w in words:
        assert _bpe_apply_merge(list(w), "a", "a") == reference(w, "a", "a"), w
    # multi-char fused symbols merge on too (round >= 2 inputs)
    assert _bpe_apply_merge(["ab", "c", "ab", "c"], "ab", "c") == ["abc", "abc"]
    assert _bpe_apply_merge([], "a", "a") == []


def test_bpe_merge_round_sql_on_overlapping_repeats():
    """The DuckDB-side merge-round template must handle the same
    overlapping-repeat words identically (the fixture vocabulary may
    never exercise this path, so the sf parity sweeps cannot pin it)."""
    import duckdb

    def reference(word: str, l: str, r: str) -> list[str]:
        syms, out, i = list(word), [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    # Build the SQL from the SAME emitter the registered trainer and
    # encoder oracles use (round-13 review: a hand-copied template here
    # could drift from the one actually shipped), seeding the symbol
    # frame and the round-0 argmax with VALUES.
    from databricks_spark_sql_challenge1_spark.operators.textstats import (
        _bpe_merge_round_ctes,
    )

    words = ["aaaa", "aaaaa", "aa", "a", "ababab", "baaab", "aabaa"]
    values = ", ".join(
        f"('{w}', {p + 1}, '{c}')"
        for w in words
        for p, c in enumerate(w)
    )
    round_ctes = ",\n".join(_bpe_merge_round_ctes(0, "v", carry_freq=False))
    sql = f"""
WITH vsyms0(word, pos, sym) AS (VALUES {values}),
best0(lsym, rsym) AS (VALUES ('a', 'a')),
{round_ctes}
SELECT word, pos, sym FROM vsyms1
ORDER BY word, pos
"""
    got: dict = {}
    for w, _p, s in duckdb.connect().execute(sql).fetchall():
        got.setdefault(w, []).append(s)
    assert got == {w: reference(w, "a", "a") for w in words}


def test_kmv_setops_identities_and_estimator_sanity(spark):
    """Structural identities the sketch algebra must satisfy regardless of
    fixture: exact inclusion-exclusion ties out, the IE estimate is the
    integer identity over the three estimates, membership counts are
    bounded by the sketch size, and both intersection estimators land
    within 60% of the exact intersection on the deterministic fixture
    (sigma = 1/sqrt(64) = 12.5% per estimate; the observed worst case
    across SFs is ~40%)."""
    from databricks_spark_sql_challenge1_spark.operators.analytics_ext import (
        KMV_K,
        KMV_SETOPS_PAIRS,
        customers_kmv_setops,
    )
    from tests.conftest import SF_DIR

    rows = customers_kmv_setops(spark, SF_DIR).collect()
    assert len(rows) == len(KMV_SETOPS_PAIRS)
    for r in rows:
        assert r.exact_intersection == r.exact_a + r.exact_b - r.exact_union
        assert r.kmv_intersect_ie == r.kmv_a + r.kmv_b - r.kmv_union
        assert 0 <= r.n_both <= KMV_K
        assert r.exact_union <= r.exact_a + r.exact_b
        assert r.kmv_union >= max(0, min(r.kmv_a, r.kmv_b))
        for est in (r.kmv_intersect_ie, r.kmv_intersect_ratio):
            assert abs(est - r.exact_intersection) * 10 <= 6 * r.exact_intersection, (
                r.pair,
                est,
                r.exact_intersection,
            )


def test_scd2_cdc_apply_equals_full_rebuild(spark):
    """The CDC merge's whole contract: applying the last month's batch to
    the prior-history snapshot must reproduce the full rebuild row-for-row
    (the same invariant the shared full-rebuild oracle hash-checks at the
    driver, asserted here directly between the two Spark plans)."""
    from databricks_spark_sql_challenge1_spark.operators.analytics_ext import (
        scd2_cdc_apply,
        scd2_customer_history,
    )
    from tests.conftest import SF_DIR

    merged = sorted(map(tuple, scd2_cdc_apply(spark, SF_DIR).collect()))
    rebuilt = sorted(map(tuple, scd2_customer_history(spark, SF_DIR).collect()))
    assert merged == rebuilt
    # and the merge actually exercised every branch worth having: some row
    # is open (extended or appended) and some customer has >1 version
    assert any(r[-1] for r in merged)
    from collections import Counter

    versions = Counter(r[0] for r in merged)
    assert max(versions.values()) > 1


def test_zorder_range_writer_prunes_and_covers(spark):
    """The production repartitionByRange writer: its real files' zone maps
    must cover every predicate's matches, agree with the ntile audit on
    the true match counts, and actually prune the 2-D point probe (the
    reason the writer exists)."""
    from databricks_spark_sql_challenge1_spark.operators.layout import (
        N_FILES,
        PREDICATES,
        zorder_file_skipping,
        zorder_range_writer,
    )
    from tests.conftest import SF_DIR

    rows = {r.predicate: r for r in zorder_range_writer(spark, SF_DIR).collect()}
    assert set(rows) == {p[0] for p in PREDICATES}
    audit_matches = {
        r.predicate: r.match_rows
        for r in zorder_file_skipping(spark, SF_DIR).collect()
        if r.layout == "zorder"
    }
    for pred, r in rows.items():
        assert r.layout == "zorder_range"
        assert 1 <= r.files_scanned <= N_FILES, pred
        assert r.rows_scanned >= r.match_rows, pred
        assert r.match_rows == audit_matches[pred], pred
    assert rows["point_both_dims"].files_scanned < N_FILES


def test_zorder_range_writer_keeps_zero_match_predicates(spark, monkeypatch):
    """Fixed row-count contract (r14 review): a predicate rectangle that
    matches no rows (and overlaps no file zone map) must still appear in
    the writer's output with zero counts — the driver's rows-only
    evidence is the row count, so a dropped row would silently change it.
    The oracle-backed ntile audit deliberately keeps the inner-join shape
    its DuckDB oracle mirrors, so only the writer gets this pin."""
    from databricks_spark_sql_challenge1_spark.operators import layout
    from tests.conftest import SF_DIR

    impossible = ("outside_data", 300, 310, 300, 310)  # x,y live in [0,127]
    monkeypatch.setattr(
        layout, "PREDICATES", layout.PREDICATES + (impossible,)
    )
    rows = {
        r.predicate: r
        for r in layout.zorder_range_writer(spark, SF_DIR).collect()
    }
    assert set(rows) == {p[0] for p in layout.PREDICATES}
    ghost = rows["outside_data"]
    assert ghost.files_scanned == 0
    assert ghost.rows_scanned == 0
    assert ghost.match_rows == 0


@pytest.mark.parametrize(
    "writer",
    ["zorder_range_writer", "jsonl_roundtrip_checksum", "orc_roundtrip_checksum"],
)
def test_zorder_range_writer_earlier_result_survives_next_call(
    spark, writer, tmp_path, monkeypatch
):
    """Every registered query that writes files while its frame is built
    (catalog.scratch_dir + share): a second call must NOT invalidate the
    frame the first call returned — an overwrite in place would delete the
    part files the first frame listed — and the calls leave no entry
    behind under ``spark-warehouse/`` or the temp dir. The temp dir is a
    private one for this test, so another process writing to /tmp cannot
    fail it. Both results are collected AFTER the later call ran."""
    import databricks_spark_sql_challenge1_spark.operators  # noqa: F401
    from databricks_spark_sql_challenge1_spark import catalog
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def entries() -> set[str]:
        dirs = (catalog._SCRATCH_BASE, tempfile.gettempdir())
        return {
            os.path.join(d, e) for d in dirs if os.path.isdir(d) for e in os.listdir(d)
        }

    before = entries()
    first = QUERIES[writer](spark, SF_DIR)
    second = QUERIES[writer](spark, SF_DIR)
    second_rows = sorted(map(tuple, second.collect()))
    # the first result is collected LAST: with an overwrite-in-place
    # layout this read would hit deleted or replaced files
    first_rows = sorted(map(tuple, first.collect()))
    assert entries() <= before
    if writer == "zorder_range_writer":
        # files_scanned comes from a sampled range split, so only the
        # (layout, predicate) keys are compared
        first_rows, second_rows = (
            [r[:2] for r in rows] for rows in (first_rows, second_rows)
        )
    assert first_rows == second_rows


def test_gapfill_methods_covers_both_legs(spark):
    """Consolidation contract (r14 capacity policy): every retired
    standalone value appears verbatim in the consolidated surface —
    locf rows carry events_gapfill_stats' values (n_hours dropped as
    n_observed + n_filled), interp rows carry events_gapfill_interp's."""
    from databricks_spark_sql_challenge1_spark.operators.temporal import (
        events_gapfill_interp,
        events_gapfill_methods,
        events_gapfill_stats,
    )
    from tests.conftest import SF_DIR

    rows = events_gapfill_methods(spark, SF_DIR).collect()
    locf = {r.user_id: r for r in rows if r.method == "locf"}
    interp = {r.user_id: r for r in rows if r.method == "interp"}
    stats = {r.user_id: r for r in events_gapfill_stats(spark, SF_DIR).collect()}
    interp_leg = {
        r.user_id: r for r in events_gapfill_interp(spark, SF_DIR).collect()
    }
    assert locf.keys() == stats.keys()
    for uid, s in stats.items():
        m = locf[uid]
        assert (m.n_observed, m.n_filled, m.longest_gap_hours) == (
            s.n_observed,
            s.n_filled,
            s.longest_gap_hours,
        )
        assert m.fill_sum_cents == s.ffill_sum_cents
        assert s.n_hours == m.n_observed + m.n_filled
        assert m.fill_min_cents is None and m.fill_max_cents is None
    assert interp.keys() == interp_leg.keys()
    for uid, i in interp_leg.items():
        m = interp[uid]
        assert (m.n_filled, m.fill_sum_cents, m.fill_min_cents, m.fill_max_cents) == (
            i.n_interp,
            i.interp_sum_cents,
            i.interp_min_cents,
            i.interp_max_cents,
        )
        assert m.n_observed is None and m.longest_gap_hours is None


def test_embedding_profile_covers_both_legs(spark):
    """Same consolidation contract for the embedding stat pair: dim rows
    carry embedding_dim_stats verbatim, label_norm rows carry
    embedding_norm_stats (its avg_l2_norm under mean_val)."""
    from databricks_spark_sql_challenge1_spark.operators.similarity import (
        embedding_dim_stats,
        embedding_norm_stats,
        embedding_profile,
    )
    from tests.conftest import SF_DIR

    rows = embedding_profile(spark, SF_DIR).collect()
    dim = {r.key: r for r in rows if r.section == "dim"}
    norm = {r.key: r for r in rows if r.section == "label_norm"}
    dim_leg = {r.pos: r for r in embedding_dim_stats(spark, SF_DIR).collect()}
    norm_leg = {r.label: r for r in embedding_norm_stats(spark, SF_DIR).collect()}
    assert dim.keys() == dim_leg.keys()
    for pos, d in dim_leg.items():
        m = dim[pos]
        assert (m.n, m.mean_val, m.std_val, m.min_val, m.max_val) == (
            d.n,
            d.mean_val,
            d.std_val,
            d.min_val,
            d.max_val,
        )
    assert norm.keys() == norm_leg.keys()
    for label, nrm in norm_leg.items():
        m = norm[label]
        assert (m.n, m.mean_val) == (nrm.n_vectors, nrm.avg_l2_norm)
        assert m.std_val is None and m.min_val is None and m.max_val is None


def test_one_near_dup_family():
    """Structural guard (no Spark): each near-dup building block exists once
    in the package — the md5 token hex slicing (DuckDB ``md5(tok)`` and its
    Spark twin, ``hex_int`` on the ``hx`` column), the first-agreeing-band
    CASE, the hyperplane literal renderer and the seeded plane draw — and no oracle
    strips another's ORDER BY by string surgery, so a new SimHash or LSH
    query reuses the pieces instead of growing a copy."""
    import pathlib
    import re

    import databricks_spark_sql_challenge1_spark as pkg

    src = "\n".join(
        p.read_text()
        for p in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py"))
    )
    assert src.count("md5(tok)") == 1
    assert len(re.findall(r'(?<!def )hex_int\(\s*"?hx\b', src)) == 1
    assert len(re.findall(r"THEN \{[a-z]\}", src)) == 1
    assert src.count("def plane_lit") == 1
    assert src.count("RandomState(") == 1
    assert '.replace("ORDER BY' not in src


def test_one_ann_toolkit():
    """Structural guard (no Spark): in operators/similarity.py each ANN
    building block exists once per engine — the centroid-subset filter,
    the ``row_number`` rank that nearest-centroid assignment and every
    top-k cut share, the squared-L2 fold and the PQ codes frame/CTE — and
    no function under operators/ or streaming/ takes a frame-injection
    hook (a ``_``-prefixed parameter defaulting to None): legs take their
    frames as arguments, and the public callables build them."""
    import importlib
    import inspect
    import pkgutil
    import re

    import databricks_spark_sql_challenge1_spark.operators as operators
    import databricks_spark_sql_challenge1_spark.streaming as streaming
    from databricks_spark_sql_challenge1_spark.operators import similarity

    src = inspect.getsource(similarity)
    assert len(re.findall(r'"vec_id"\) % \w+ == 0', src)) == 1  # centroid subset
    assert len(re.findall(r"% \{?[\w.]+\}? = 0", src)) == 1  # DuckDB twin
    assert src.count("F.row_number().over") == 1
    assert src.count("row_number() OVER") == 1
    assert src.count("(x - y) * (x - y)") == 1
    assert src.count("- {b}[i]) * ({a}[i] -") == 1
    assert len(re.findall(r"^\s+codes = ", src, re.M)) == 1
    assert src.count("codes AS (") == 1
    hooks = set()
    for pkg in (operators, streaming):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if fn.__module__ != mod.__name__:
                    continue
                hooks |= {
                    f"{mod.__name__}.{name}({p.name})"
                    for p in inspect.signature(fn).parameters.values()
                    if p.name.startswith("_") and p.default is None
                }
    assert hooks == set()


def test_public_docstrings_are_filled():
    """No public function under operators/ or streaming/ shows a raw
    ``{CONSTANT}`` field in its docstring: each template is filled by
    ``registry.fill_doc``, so ``help()`` and generated catalogs print the
    values (no Spark session involved)."""
    import importlib
    import inspect
    import pkgutil
    import re

    import databricks_spark_sql_challenge1_spark.operators as operators
    import databricks_spark_sql_challenge1_spark.streaming as streaming

    raw = set()
    for pkg in (operators, streaming):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if fn.__module__ != mod.__name__ or name.startswith("_"):
                    continue
                if re.search(r"\{[A-Z][A-Z0-9_]*\}", fn.__doc__ or ""):
                    raw.add(f"{mod.__name__}.{name}")
    assert raw == set()


def test_package_imports_under_python_OO():
    """``python -OO`` strips docstrings; every docstring fill goes through
    ``registry.fill_doc``, which skips a stripped one, so the package
    still imports (no Spark session involved)."""
    import pathlib
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-OO", "-c", "import databricks_spark_sql_challenge1_spark.operators"],
        cwd=pathlib.Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
