"""Physical-plan assertions — the 100 TB posture checks (SURVEY.md §4):
filters reach the parquet scan, scans are column-pruned, dims broadcast,
nothing degenerates into a cartesian product, and every query's physical
operator counts equal its committed PLANS.json line."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import load_table
from databricks_spark_sql_challenge1_spark.operators.abandonment import (
    top_abandoned_products,
)
from databricks_spark_sql_challenge1_spark.operators.states import nations_by_customer
from databricks_spark_sql_challenge1_spark.plans.explain import (
    formatted_plan,
    pushed_filters,
    read_schemas,
    simple_plan,
    uses_broadcast_join,
)
from tests.conftest import SF_DIR
from tools.gen_plans import PLANS_JSON, SWEEP_NAMES, build_and_fingerprint



def _is_spread_exchange(line: str) -> bool:
    """The round-18 input-parallelism floor (catalog._maybe_spread) adds one
    explicit hash repartition by the TABLE ID right above a byte-small scan
    so narrow compute-heavy stages parallelize (no-op at sf0.001 where every
    table is under the 256 KB gate); it is the only non-range exchange the
    narrow-map plans may carry. ADVICE r18: also require the explicit
    df.repartition origin tag (REPARTITION_BY_NUM/_COL) so a future
    planner-introduced hash shuffle on the same key can't slip past the
    narrow-plan pins."""
    return ("hashpartitioning(doc_id" in line or "hashpartitioning(vec_id" in line) \
        and "REPARTITION_BY" in line

def test_filter_pushdown_to_scan(spark):
    """The status filter must reach the orders parquet scan."""
    df = top_abandoned_products(spark, SF_DIR)
    filters = " ".join(pushed_filters(df))
    assert "o_orderstatus" in filters, f"status filter not pushed: {filters}"


def test_column_pruning(spark):
    """The flagship reads 2 columns of lineitem and 2 of orders — scans must
    not read full rows."""
    df = top_abandoned_products(spark, SF_DIR)
    schemas = read_schemas(df)
    joined = " ".join(schemas)
    assert "l_extendedprice" not in joined and "o_totalprice" not in joined, schemas



def test_dim_joins_broadcast(spark):
    """nation (25 rows) must come in as a broadcast join, not a shuffle."""
    df = nations_by_customer(spark, SF_DIR)
    assert uses_broadcast_join(df), simple_plan(df)


def test_partial_aggregation_present(spark):
    """COUNT(DISTINCT) plans as two-phase (partial_count under HashAggregate)."""
    df = (
        load_table(spark, SF_DIR, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_orderkey").alias("n"))
    )
    plan = formatted_plan(df)
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_corpus_filter_dedups_on_fingerprint(spark):
    """Regression (round-1 advice): canonical-copy dedup must key on fp. The
    original groupBy+self-join collapsed to a trivially-true ``fp == fp``
    predicate; the fix computes min(doc_id) OVER (PARTITION BY fp) — assert
    the plan has a Window partitioned on fp and no join at all (one shuffle,
    the 100 TB shape)."""
    from databricks_spark_sql_challenge1_spark.operators.textstats import (
        corpus_filter_pipeline,
    )

    df = corpus_filter_pipeline(spark, SF_DIR)
    plan = simple_plan(df)
    assert "Join" not in plan, plan
    window_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert any("fp#" in ln for ln in window_lines), plan


def test_contamination_benchmark_broadcasts(spark):
    """The benchmark shingle set must come in as a broadcast semi-join side,
    and the corpus side must never cross-join."""
    from databricks_spark_sql_challenge1_spark.operators.traindata import (
        docs_contamination,
    )

    df = docs_contamination(spark, SF_DIR)
    assert uses_broadcast_join(df), simple_plan(df)


def test_chunk_windows_is_narrow(spark):
    """Chunking must stay a narrow map (sequence→slice→explode): no join, no
    aggregate; the only exchange allowed is the presentation-time sort."""
    from databricks_spark_sql_challenge1_spark.operators.traindata import (
        docs_chunk_windows,
    )

    plan = simple_plan(docs_chunk_windows(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all(
        "rangepartitioning" in ln or _is_spread_exchange(ln) for ln in exchanges
    ), plan




def test_bloom_bitmap_joins_as_broadcast(spark):
    """The bloom bitmap (≤ 2,048 word rows) must come in as a broadcast
    hash join — a shuffled bitmap join would defeat the operator's point."""
    from databricks_spark_sql_challenge1_spark.operators.traindata import (
        docs_contamination_bloom,
    )

    assert uses_broadcast_join(docs_contamination_bloom(spark, SF_DIR))


# Every caller of the one SimHash band join (dedup._simhash_band_join):
# its module, and whether it counts hits per incoming doc (a groupBy on
# the band join's doc_1 by design).
BAND_JOIN_CALLERS = {
    "dedup_simhash_pairs": ("operators.dedup", False),
    "dedup_simhash_wide_pairs": ("operators.dedup", False),
    "dedup_simhash_adaptive": ("operators.dedup", False),
    "dedup_incremental": ("operators.dedup", True),
    "streaming_incremental_dedup": ("streaming.events_stream", True),
    "corpus_dedup_pipeline": ("operators.traindata", False),
}


@pytest.mark.parametrize("name", sorted(BAND_JOIN_CALLERS))
def test_simhash_pairs_no_pair_set_reshuffle(spark, monkeypatch, name):
    """The first-agreeing-band emission replaced the post-join distinct:
    no plan that runs the band join may hash-partition on the output pair
    key (that exchange over the full matched-pair set is exactly what was
    removed). A pair-emitting caller has no doc_1-keyed exchange at all; a
    per-incoming-doc count has one on doc_1 alone. The streaming caller
    is planned as the stream itself rather than drained into its memory
    table."""
    import importlib

    from databricks_spark_sql_challenge1_spark.streaming import events_stream

    monkeypatch.setattr(
        events_stream, "_drain_to_memory", lambda stream, spark: stream
    )
    module, per_doc = BAND_JOIN_CALLERS[name]
    fn = getattr(
        importlib.import_module(f"databricks_spark_sql_challenge1_spark.{module}"),
        name,
    )
    plan = formatted_plan(fn(spark, SF_DIR))
    assert "band_key" in plan, plan
    doc_1_keyed = [ln for ln in plan.splitlines() if "hashpartitioning(doc_1" in ln]
    if per_doc:
        assert all("doc_2" not in ln for ln in doc_1_keyed), plan
    else:
        assert doc_1_keyed == [], plan


def test_round5_operators_plan_shapes(spark):
    """Round-5 operators: no cartesian products anywhere; the ngram hot-
    shingle cut must arrive as a BROADCAST left_anti join (a shuffled
    anti-join over the full shingle index would cost more than the skew it
    guards against); the nested-JSON query must stay a single scan with no
    join at all."""
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )
    from databricks_spark_sql_challenge1_spark.operators.json_ops import (
        events_json_nested,
    )

    ngram = dedup_ngram_jaccard(spark, SF_DIR)
    plan = formatted_plan(ngram)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan

    nested = events_json_nested(spark, SF_DIR)
    nplan = simple_plan(nested)
    assert "Join" not in nplan and "CartesianProduct" not in nplan, nplan



def test_round6_operators_plan_shapes(spark):
    """Round-6 operators: int8 quantization must be a pure narrow
    expression pipeline (single scan, no join, no aggregate — the only
    exchange is the presentation sort)."""
    from databricks_spark_sql_challenge1_spark.operators.similarity import (
        embedding_quantize_int8,
    )

    qplan = simple_plan(embedding_quantize_int8(spark, SF_DIR))
    assert "Join" not in qplan and "HashAggregate" not in qplan, qplan
    exchanges = [ln for ln in qplan.splitlines() if "Exchange" in ln]
    assert all(
        "rangepartitioning" in ln or _is_spread_exchange(ln) for ln in exchanges
    ), qplan


def test_round6_retrieval_and_skew_plan_shapes(spark):
    """partkey_skew_histogram must push the status filter to the orders
    scan."""
    from databricks_spark_sql_challenge1_spark.operators.analytics_ext import (
        partkey_skew_histogram,
    )

    df = partkey_skew_histogram(spark, SF_DIR)
    assert "o_orderstatus" in " ".join(pushed_filters(df))


def test_multimodal_raw_kernels_are_narrow(spark):
    """The PCM and thumbnail kernels must stay narrow Arrow maps: a
    MapInPandas node, no join, no aggregate; the only exchange is the
    presentation sort."""
    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        multimodal_audio_pcm_stats,
        multimodal_image_thumbnail,
    )

    for q in (multimodal_audio_pcm_stats, multimodal_image_thumbnail):
        plan = simple_plan(q(spark, SF_DIR))
        assert "MapInPandas" in plan, plan
        assert "Join" not in plan and "HashAggregate" not in plan, plan
        exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
        assert all(
            "rangepartitioning" in ln or _is_spread_exchange(ln)
            for ln in exchanges
        ), plan



def test_round7_operators_plan_shapes(spark):
    """Round-7 operators: the corpus-scan-shaped PII scrub and JL
    projection must be narrow maps — no join at all before the
    presentation sort — and the gapfill spine join must not degenerate
    into a CartesianProduct (events_gapfill_stats is not registered, so
    the plan sweep does not cover it)."""
    from databricks_spark_sql_challenge1_spark.operators.similarity import (
        embedding_random_projection,
    )
    from databricks_spark_sql_challenge1_spark.operators.temporal import (
        events_gapfill_stats,
    )
    from databricks_spark_sql_challenge1_spark.operators.textstats import (
        docs_pii_redact,
    )

    for q in (docs_pii_redact, embedding_random_projection):
        plan = simple_plan(q(spark, SF_DIR))
        assert "Join" not in plan, f"{q.__name__} should be join-free:\n{plan}"
    plan = simple_plan(events_gapfill_stats(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_rfm_approx_no_global_sort(spark):
    """customer_rfm_segments_approx is the documented 100 TB escape hatch
    for the exact ntile family (VERDICT r9 #4): tile cutoffs come from a
    broadcast 1-row percentile/sketch aggregate, so the plan must contain
    NO window function and NO sort over the customer dimension — the only
    Sort allowed is the 3-row presentation ORDER BY dim."""
    from databricks_spark_sql_challenge1_spark.operators.analytics_ext import (
        customer_rfm_segments_approx,
    )

    plan = simple_plan(customer_rfm_segments_approx(spark, SF_DIR))
    assert "Window" not in plan, plan
    sort_lines = [ln for ln in plan.splitlines() if "Sort [" in ln]
    assert all("dim#" in ln for ln in sort_lines), sort_lines


# --------------------------------------------------------------------------
# Registry-wide plan-regression sweep (VERDICT r7 #4): every registered
# query is plan-checked BY DEFAULT — no more per-round hand lists — and its
# physical-operator counts must equal its PLANS.json line (regenerated by
# tools/gen_plans.py). The targeted tests above remain as directed
# regressions for richer invariants (pushdown, broadcast sides,
# narrowness, no-pair-reshuffle).
# --------------------------------------------------------------------------

# BroadcastNestedLoopJoin is allowed ONLY where a prior-round audit showed
# the nested-loop side is broadcast-tiny BY CONSTRUCTION (a 1-row scalar
# aggregate spread via crossJoin, or a <= O(sqrt N)/fixed-K centroid /
# probe-query table). Everything else must plan as equi/broadcast-hash
# joins. A new registration that needs BNLJ must be audited and added here
# with the same justification — the default is NO.
BNLJ_ALLOWED = {
    # 1-row scalar-aggregate spreads (crossJoin(broadcast(agg)) pattern;
    # VERDICT r6/r7 anti-pattern audits: textstats/traindata scalar CTEs)
    "count_distinct_orders",
    "orders_dq_audit",
    "copurchase_lift",
    "corpus_mixture_weights",
    "corpus_temperature_mixture",
    "customer_rfm_segments",
    # r10 audit: 1-row anchor + 1-row percentile/sketch-cutoff aggregates
    # spread back over the customer aggregate (the no-global-sort design)
    "customer_rfm_segments_approx",
    "docs_bm25_topk",  # r9 audit: 1-row corpus-stats agg broadcast to the scoring scan
    "docs_dsir_weights",  # r9 audit: 1-row totals spread over the 64-row dist table
    "docs_lang_rebalance",
    "docs_perplexity_buckets",
    "docs_quality_tiers",
    "text_tfidf_top_terms",
    # broadcast-tiny centroid / probe-query tables (VERDICT r3 BNLJ audit:
    # fixed-K probes and sqrt(N) centroids, deliberately nested-loop)
    "embedding_kmeans_refine",
    "retrieval_hybrid_rrf",  # r9 audit: 1-row BM25-stats spread + 1-row dense probe
    # r11 audit: stage 1 is retrieval_hybrid_rrf's audited shape; stage 2
    # adds only 1-row qv probe spreads over <= K-row frames
    "retrieval_rrf_rerank",
    "similarity_topk",
    # r12 audit: the recall audit is the composition of the two audited
    # legs above (its own joins are Q-row equi-joins on query_id)
    "similarity_recall_audit",
    # r13 audit: the consolidated ANN surface unions the ivf/pq/ivfpq
    # legs, whose BNLJs are the broadcast-tiny centroid/probe tables
    # audited when they were standalone registrations (r3)
    "similarity_ann_methods",
    # r13 audit: zone-map pruning joins the 2*N_FILES-row file-stats table
    # and the orders scan against the broadcast 3-row predicate table
    # (rectangle-overlap inequalities — nested loop over 3 rows by design)
    "zorder_file_skipping",
    # r13 audit: per-pair assembly crossJoins seven 1-row broadcast
    # aggregates (the scalar-spread pattern); sketches are 64-row frames
    "customers_kmv_setops",
    # r14 audit: the production range writer runs zorder_file_skipping's
    # audited pruning shape over its real files — the N_FILES-row
    # zone-map table and the (x, y) read-back join the broadcast 3-row
    # predicate table on rectangle-overlap inequalities
    "zorder_range_writer",
}

def test_round15_operators_plan_shapes(spark):
    """Round-15 operators: the consolidated n-gram method surface must run
    ONE shared scored-pair pipeline — its plan holds exactly as many
    hot-shingle LeftAnti cuts as a SINGLE retired standalone leg (the
    static plan repeats the shingle subtree per self-join/sizes
    reference; AQE exchange reuse collapses those at runtime — what the
    pin must catch is a UNION of both standalone plans, which would show
    DOUBLE); the embedding-side incremental admission must generate
    candidates through the (band, band_val) equi-join, never a cartesian
    or full self-join of the vectors."""
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        dedup_embedding_incremental,
        dedup_ngram_jaccard,
        dedup_ngram_methods,
    )

    plan = formatted_plan(dedup_ngram_methods(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    one_leg = formatted_plan(dedup_ngram_jaccard(spark, SF_DIR))
    key = "BroadcastHashJoin LeftAnti"
    assert plan.count(key) == one_leg.count(key) > 0, plan

    plan2 = formatted_plan(dedup_embedding_incremental(spark, SF_DIR))
    assert "CartesianProduct" not in plan2
    assert "band_val" in plan2, plan2


@pytest.fixture(scope="module")
def plans_json():
    with open(PLANS_JSON) as f:
        return json.load(f)


@pytest.mark.parametrize("name", SWEEP_NAMES)
def test_plan_sweep_no_cartesian_no_unaudited_bnlj(name, spark, plans_json):
    """One build per name, one operator fingerprint (PLANS.json's
    pinned shuffle partitions) for three checks: no CartesianProduct, no
    unaudited BroadcastNestedLoopJoin, and the fingerprint equal to the
    name's committed PLANS.json line."""
    df, fp = build_and_fingerprint(spark, name, SF_DIR)
    assert "CartesianProduct" not in fp, f"{name}:\n{simple_plan(df)}"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in fp, (
            f"{name} plans an unaudited BroadcastNestedLoopJoin — if the "
            f"nested-loop side is broadcast-tiny by construction, audit it "
            f"and add it to BNLJ_ALLOWED:\n{simple_plan(df)}"
        )
    fixture = os.path.basename(os.path.normpath(SF_DIR))
    if fixture != plans_json["fixture"]:
        pytest.skip(
            f"PLANS.json records the {plans_json['fixture']} fixture; "
            f"TEST_SF_DIR is {fixture}, so the fingerprint is not compared"
        )
    recorded = plans_json["plans"].get(name, {})
    moved = {
        op: f"{recorded.get(op, 0)} -> {fp.get(op, 0)}"
        for op in sorted(set(recorded) | set(fp))
        if recorded.get(op, 0) != fp.get(op, 0)
    }
    assert not moved, (
        f"{name}'s physical operators moved (PLANS.json -> now): {moved}. "
        f"If the change is meant, run `python tools/gen_plans.py` and say "
        f"in CHANGES.md why {name} moved."
    )


def test_plans_json_names_are_the_sweep_names(plans_json):
    """PLANS.json has one line for every swept name and none for a name
    that is no longer registered."""
    recorded = set(plans_json["plans"])
    assert recorded == set(SWEEP_NAMES), (
        f"missing: {sorted(set(SWEEP_NAMES) - recorded)}, "
        f"not registered: {sorted(recorded - set(SWEEP_NAMES))}; "
        f"run `python tools/gen_plans.py`"
    )


def test_fingerprint_is_stable_within_a_session(spark):
    """Two builds of the same query in one session count the same
    operators, although their plan text differs: the multi-distinct
    Expand orders its projections per build (valid_orders) and Python
    lambdas take a session-counter variable name (lang_id_heuristic)."""
    for name in ("valid_orders", "lang_id_heuristic"):
        _df, first = build_and_fingerprint(spark, name, SF_DIR)
        _df, second = build_and_fingerprint(spark, name, SF_DIR)
        assert first == second, name


def test_bnlj_allowlist_has_no_dead_names():
    dead = BNLJ_ALLOWED - set(SWEEP_NAMES)
    assert not dead, f"allowlisted but not swept: {dead}"
