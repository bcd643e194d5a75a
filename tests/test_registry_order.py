"""The driver verifies only the first 50 entries of ``queries()`` — pin the
window contents (see registry.DRIVER_PRIORITY)."""

from __future__ import annotations

import ast
import inspect

import databricks_spark_sql_challenge1_spark.operators  # noqa: F401
from databricks_spark_sql_challenge1_spark.registry import (
    DRIVER_PRIORITY,
    NEXT_WINDOW,
    ORACLES,
    QUERIES,
    ROWS_ONLY_STAND_INS,
    ordered_oracles,
    ordered_queries,
)

DRIVER_WINDOW = 50

# Round-10 must-verify: an EXPLICIT literal of this round's changed/new
# names (ADVICE r9: deriving this set from DRIVER_PRIORITY made the
# assertion tautological — it must be able to catch a changed query that
# was accidentally left out of the window). Update this literal whenever
# a query is added or its output/oracle changes.
MUST_VERIFY = {
    # changed round 20: the export lands in a catalog.scratch_dir and the
    # one-row checksum is shared before the directory goes
    "jsonl_roundtrip_checksum",
    "orc_roundtrip_checksum",
    # changed round 20 by the one text toolkit in functions/text.py (the
    # DSIR bigram builder, the substring-dedup token array's name)
    "docs_dsir_weights",
    "docs_substring_dedup",
    # changed round 20 by the one ANN toolkit in operators/similarity.py
    # (one nearest-centroid assignment, top-k cut, PQ encoder, squared L2)
    "similarity_topk",
    "dedup_semantic_ivf",
    "dedup_semantic_sqrtk",
    "embedding_kmeans_refine",
    "similarity_pq_rerank",
    "similarity_recall_audit",
    # changed round 20 by the one SimHash band join and the one
    # hyperplane-LSH candidate join / oracle CTE in operators/dedup.py
    "corpus_dedup_pipeline",
    "dedup_embedding_lsh_adaptive",
    "dedup_embedding_incremental",
    # changed round 20: grouping id as the last sort key on both sides
    "rollup_order_values",
    # changed round 20 by the one codec-witness harness (_map_rows /
    # _codec_witness, unified bit I/O and CRC) in operators/multimodal.py
    "multimodal_audio_pcm_stats",
    "multimodal_image_thumbnail",
    "multimodal_wav_parse",
    "multimodal_bmp_parse",
    "multimodal_png_roundtrip",
    "multimodal_gif_roundtrip",
    "multimodal_jpeg_roundtrip",
    "multimodal_flac_roundtrip",
    "multimodal_mp3_frames",
    "multimodal_avi_frames",
    "multimodal_h264_nal",
    # changed round 20: oracles now run the shared min-label propagation
    # CTE (clustering._min_label_ctes) instead of a reachability closure
    "dedup_cluster_components",
    "dedup_keep_best",
    "copurchase_components",
    "dedup_embedding_clusters",
    # changed round 20 by the streaming one-pipeline consolidation: each
    # twin calls the rows-only query it stands in for (click attribution:
    # the shared join builder), and all of them drain through the one
    # memory-sink helper / scratch-dir context manager
    "streaming_parity_tumbling_1h",
    "streaming_parity_session_30m",
    "streaming_parity_dedup",
    "streaming_parity_nation_activity",
    "streaming_parity_click_attribution",
    "streaming_parity_user_state",
    "streaming_parity_gap_monitor",
    "streaming_parity_incremental_dedup",
    "streaming_parity_lateness",
    "streaming_parity_ingest_e2e",
    "streaming_parity_ingest_adversarial",
    "streaming_parity_ingest_skew",
    # changed in r18/r19 (plan-size rewrites, spread removal) with no
    # post-change CORRECTNESS row yet (VERDICT r19 #1)
    "customers_kmv_setops",
    "scd2_cdc_apply",
    "retrieval_rrf_rerank",
    "dedup_incremental",
    "dedup_simhash_methods",
    "similarity_ann_methods",
    "events_gapfill_methods",
    "order_export_denorm",
    "text_simhash",
}


def test_priority_names_are_registered_and_unique():
    assert len(DRIVER_PRIORITY) == len(set(DRIVER_PRIORITY))
    missing = [n for n in DRIVER_PRIORITY if n not in QUERIES]
    assert not missing, missing


def test_ordering_drops_nothing():
    assert set(ordered_queries()) == set(QUERIES)
    assert set(ordered_oracles()) == set(ORACLES)


def test_must_verify_set_inside_driver_window():
    window = list(ordered_queries())[:DRIVER_WINDOW]
    outside = MUST_VERIFY - set(window)
    assert not outside, f"need driver rows but ordered past {DRIVER_WINDOW}: {outside}"


def test_boundary_comment_matches_actual_window():
    """The '--- window boundary ---' comment in registry.py must sit after
    exactly the names that form the driver's first-50 window (caught an
    off-by-one in round 5)."""
    import re

    import databricks_spark_sql_challenge1_spark.registry as reg

    src = open(reg.__file__).read()
    before = re.findall(
        r'^\s+"([a-z0-9_]+)",', src.split("window boundary")[0], re.M
    )
    assert before == ordered_queries_names()[:DRIVER_WINDOW]


def ordered_queries_names():
    return list(ordered_queries())


def test_next_window_names_are_registered_unique_and_fit():
    """NEXT_WINDOW is the committed round-(N+1) rotation the phase-aware
    age gate relies on once the current round's CORRECTNESS artifact
    lands — it must be a valid window."""
    assert len(NEXT_WINDOW) == len(set(NEXT_WINDOW))
    assert len(NEXT_WINDOW) <= DRIVER_WINDOW
    missing = [n for n in NEXT_WINDOW if n not in QUERIES]
    assert not missing, missing


def test_no_evidence_older_than_two_rounds():
    """ADVICE r7: assert a maximum evidence age so the rotation invariant
    can't silently slip. Every registered query whose latest CORRECTNESS
    row is two or more rounds old (or which has never had one, except
    queries new THIS round) must be refreshed by the UPCOMING driver run
    — with a bounded allowance for deliberately parked rows-only names
    documented in registry.py.

    Phase-aware (ADVICE r8): the driver writes CORRECTNESS_r{N}.json at
    the END of round N, before round N+1 rotates DRIVER_PRIORITY — so
    when the max-round artifact has already verified the current window
    (every window name's latest evidence == max_round), the upcoming run
    is round N+1 and its refresher is the committed NEXT_WINDOW, not the
    already-spent current window. Without this, the gate is guaranteed
    red at judge time for any 3-cohort rotation (147 queries / 50-row
    window), which is exactly what happened in round 8."""
    import glob
    import json
    import os

    latest = {}
    max_round = 0
    for f in sorted(glob.glob(os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(f)[13:15])
        max_round = max(max_round, rnd)
        for name in json.load(open(f)):
            latest[name] = rnd
    if not latest:
        return  # fresh clone without driver artifacts
    window = set(list(ordered_queries())[:DRIVER_WINDOW])
    window_already_verified = all(
        latest.get(n) == max_round for n in window
    )
    refresher = window | (set(NEXT_WINDOW) if window_already_verified else set())
    # names whose evidence would be MORE than two rounds old after the
    # upcoming driver run (latest <= max_round - 2 — the upcoming run is
    # max_round + 1 in BOTH phases; the phases differ only in which
    # pinned window that run will execute) that the refresher misses
    stale_unrefreshed = sorted(
        n
        for n in QUERIES
        if latest.get(n, max_round) <= max_round - 2 and n not in refresher
    )
    # Rotation exemption (r10 capacity policy): ONLY rows-only queries
    # whose semantics are hash-checked by a registered oracle-backed
    # stand-in may ride outside the rotation (ROWS_ONLY_STAND_INS).
    for n in stale_unrefreshed:
        assert n not in ORACLES, (
            f"{n} is oracle-backed and stale but outside the window"
        )
        assert n in ROWS_ONLY_STAND_INS, (
            f"{n} is rows-only and stale but has no documented stand-in"
        )


def test_rows_only_stand_ins_are_sound():
    """The rotation exemption for rows-only queries rests on the stand-in
    map: it must cover exactly the rows-only names, and every stand-in
    must be a REGISTERED ORACLE-BACKED query (so the stand-in itself is
    subject to the normal 3-round age gate)."""
    rows_only = set(QUERIES) - set(ORACLES)
    assert rows_only == set(ROWS_ONLY_STAND_INS), (
        rows_only ^ set(ROWS_ONLY_STAND_INS)
    )
    for name, twin in ROWS_ONLY_STAND_INS.items():
        assert twin in ORACLES, f"stand-in for {name} not oracle-backed: {twin}"


# The one streaming stand-in that is a separate pipeline by design: the
# rows-only profile keeps float state, the twin integer-cents state, so
# only the twin is oracle-exact (registry.ROWS_ONLY_STAND_INS comment).
SEPARATE_PIPELINE_STAND_INS = {"streaming_user_state"}


def _calls(fn_node) -> set[str]:
    """Names of the plain functions called in a function's body."""
    return {
        n.func.id
        for stmt in fn_node.body
        for n in ast.walk(stmt)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    }


def test_streaming_stand_ins_call_the_query_they_vouch_for():
    """A streaming stand-in is evidence for its rows-only query only if it
    runs that query's pipeline: its body must call the rows-only function,
    or a streaming-module builder that the rows-only function also calls
    and no other registered query does. A statement-for-statement copy
    fails, because a copy can drift from the query it vouches for."""
    from databricks_spark_sql_challenge1_spark.streaming import (
        events_stream,
        ingest_sink,
        parity,
    )

    defs = {}
    for mod in (events_stream, ingest_sink, parity):
        for node in ast.parse(inspect.getsource(mod)).body:
            if isinstance(node, ast.FunctionDef):
                defs[node.name] = node
    calls = {name: _calls(node) for name, node in defs.items()}
    query_fns = {QUERIES[n].__name__ for n in QUERIES} & set(defs)
    callers = {f: {q for q in query_fns if f in calls[q]} for f in defs}

    unsound = []
    for name, twin in ROWS_ONLY_STAND_INS.items():
        if not name.startswith("streaming_") or name in SEPARATE_PIPELINE_STAND_INS:
            continue
        rows_fn, twin_fn = QUERIES[name].__name__, QUERIES[twin].__name__
        builders = {
            f
            for f in calls[rows_fn] & calls[twin_fn] & set(defs)
            if callers[f] == {rows_fn, twin_fn}
        }
        if rows_fn not in calls[twin_fn] and not builders:
            unsound.append((name, twin))
    assert not unsound, unsound
    assert SEPARATE_PIPELINE_STAND_INS <= set(ROWS_ONLY_STAND_INS)
