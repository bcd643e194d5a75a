"""Round-7 operators: PNG codec round-trip internals, gap-fill invariants,
PII redaction witness, and the DQ audit's non-vacuousness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import load_table
from databricks_spark_sql_challenge1_spark.operators.multimodal import (
    PNG_WIDTH,
    attach_png_media,
    parse_png_stats,
)
from databricks_spark_sql_challenge1_spark.operators.temporal import (
    events_gapfill_stats,
)
from databricks_spark_sql_challenge1_spark.operators.textstats import (
    docs_pii_redact,
)
from databricks_spark_sql_challenge1_spark.operators.analytics_ext import (
    orders_dq_audit,
)
from tests.conftest import SF_DIR


def _encode_one(spark, text: str) -> bytes:
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return attach_png_media(docs).collect()[0]["media_bytes"]


def test_png_roundtrip_known_text(spark):
    text = "ab" * 40  # 80 bytes -> 3 rows of 32, last padded
    blob = _encode_one(spark, text)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    media = spark.createDataFrame(
        [(1, bytearray(blob))], "doc_id long, media_bytes binary"
    )
    row = parse_png_stats(media).collect()[0]
    assert row["img_w"] == PNG_WIDTH
    assert row["img_h"] == 3
    assert row["n_pixels"] == 96
    assert row["pixel_sum"] == sum(text.encode())
    assert row["pixel_max"] == ord("b")
    assert row["sub_rows"] == 1  # row 1 of 3 is Sub-filtered


def test_png_corrupt_crc_rejected(spark):
    blob = bytearray(_encode_one(spark, "x" * 100))
    # flip one bit in the middle of the file (inside an IDAT chunk body)
    blob[len(blob) // 2] ^= 0x01
    media = spark.createDataFrame(
        [(1, blob)], "doc_id long, media_bytes binary"
    )
    with pytest.raises(Exception, match="CRC mismatch|PythonException"):
        parse_png_stats(media).collect()


def test_png_multi_idat_present(spark):
    # long text -> deflate stream > 64 bytes -> several IDAT chunks
    blob = _encode_one(spark, "the quick brown fox " * 50)
    assert blob.count(b"IDAT") > 1


def test_gapfill_invariants(spark):
    out = events_gapfill_stats(spark, SF_DIR).collect()
    assert out, "gapfill produced no users"
    for r in out:
        assert r["n_hours"] == r["n_observed"] + r["n_filled"]
        assert r["n_observed"] >= 1  # span endpoints are observed hours
        assert r["longest_gap_hours"] <= r["n_filled"]
        assert r["ffill_sum_cents"] is not None  # locf leaves no leading NULLs


def test_pii_redact_matches_injection_rule(spark):
    rows = docs_pii_redact(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_emails"] == (1 if r["doc_id"] % 3 == 0 else 0)
        assert r["n_phones"] == (1 if r["doc_id"] % 5 == 0 else 0)
        assert r["n_ips"] == (1 if r["doc_id"] % 7 == 0 else 0)


def test_dq_audit_nonzero_and_clean_rows(spark):
    rows = {r["check_name"]: r for r in orders_dq_audit(spark, SF_DIR).collect()}
    # fixtures are referentially intact -> orphan/dup/domain checks all clean
    for clean in (
        "customers_without_orders",
        "lineitem_orphan_orderkey",
        "lineitem_orphan_partkey",
        "orders_dup_orderkey",
        "orders_nonpositive_price",
        "orders_null_orderdate",
        "orders_orphan_custkey",
        "parts_never_ordered",
    ):
        assert rows[clean]["violations"] == 0, clean
    # the month-restricted coverage checks manufacture non-empty results
    assert rows["customers_quiet_199801"]["violations"] > 0
    assert rows["parts_unsold_199801"]["violations"] > 0


def test_simhash_adaptive_band_width_invariance(spark):
    """The exact Hamming filter makes the adaptive SimHash result
    independent of band width (the pigeonhole-truncation argument in the
    docstring) — run the narrowest and widest band keys and require
    row-identical pairs."""
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        SIMHASH_BPB_MAX,
        SIMHASH_BPB_MIN,
        dedup_simhash_adaptive,
    )

    narrow = sorted(
        map(tuple, dedup_simhash_adaptive(spark, SF_DIR, SIMHASH_BPB_MIN).collect())
    )
    wide = sorted(
        map(tuple, dedup_simhash_adaptive(spark, SF_DIR, SIMHASH_BPB_MAX).collect())
    )
    assert narrow == wide
    assert narrow, "fixture should produce near-dup pairs"


def test_multimodal_oracles_guard_empty_documents():
    """Fixtures have no empty documents, so pin the empty-payload guards
    in the BMP / thumbnail / PNG / WAV oracles directly: each oracle must
    run on a manufactured empty-text doc and produce the same zeros the
    Spark kernels emit (round-7 review: the unguarded BMP oracle returned
    NULLs via 0 // 0)."""
    import duckdb

    from databricks_spark_sql_challenge1_spark.registry import ORACLES
    from tools.parity_names import oracle_rows

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT CAST(0 AS BIGINT) AS doc_id, "
        "'' AS text, 'en' AS lang, 'web' AS source, CAST(0 AS BIGINT) AS n_chars"
    )

    def rows(name):
        return oracle_rows(con, ORACLES[name])[1]

    bmp = rows("multimodal_bmp_parse")
    assert bmp == [(0, 0, 0, 54, 0, 0)], bmp
    png = rows("multimodal_png_roundtrip")
    assert png == [(0, 32, 0, 0, 0, 0, 0)], png
    wav = rows("multimodal_wav_parse")
    assert wav == [(0, 16000, 0, 36, 0, 0, 0)], wav
    gif = rows("multimodal_gif_roundtrip")
    assert gif == [(0, 32, 0, 0, 0, 0, 0)], gif
    thumb = rows("multimodal_image_thumbnail")
    assert all(v is not None for row in thumb for v in row), thumb


def test_kmv_estimate_accuracy(spark):
    """KMV relative error must stay within the standard 2/sqrt(K) bound
    on every fixture group, for both the direct and the merged sketch
    (the estimates themselves are oracle-hash-checked; this pins that the
    CONFIG is accurate enough to be useful)."""
    from databricks_spark_sql_challenge1_spark.operators.analytics_ext import (
        KMV_K,
        distinct_orders_kmv_rollup,
    )

    bound = 2.0 / KMV_K**0.5
    for r in distinct_orders_kmv_rollup(spark, SF_DIR).collect():
        for col in ("kmv_direct", "kmv_merged"):
            rel = abs(r[col] - r["n_exact"]) / r["n_exact"]
            assert rel <= bound, (r, col, rel, bound)


def test_rfm_approx_bounds_oracle_is_falsifiable(spark):
    """The approx-RFM bounds oracle only has teeth if a BROKEN sketch
    flips its booleans. Recompute the query's own acceptance arithmetic
    with deliberately-garbage cutoffs (each dimension's min, i.e. a
    sketch stuck at p=0) and assert the rank bounds AND the
    tile-agreement floor both reject them — while the healthy query
    passes everything."""
    from databricks_spark_sql_challenge1_spark.operators.analytics_ext import (
        PCT_RANK_EPS,
        RFM_AGREE_MIN,
        _RFM_DIMS,
        _RFM_PS,
        customer_rfm_segments_approx,
    )

    healthy = customer_rfm_segments_approx(spark, SF_DIR).collect()
    assert len(healthy) == 3
    for r in healthy:
        assert r["ok_q25"] and r["ok_q50"] and r["ok_q75"], r
        assert r["tile_agreement_ok"], r

    # rebuild the per-customer frame the query aggregates
    orders = load_table(spark, SF_DIR, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("a"))
    m = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "custkey",
            F.datediff(F.col("a"), F.col("last_order"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    ).collect()
    n = len(m)
    eps = PCT_RANK_EPS + 1.5 / n

    import math

    for dim, col, asc in _RFM_DIMS:
        vals = sorted(r[col] for r in m)
        exact = [
            vals[math.floor(p * (n - 1))]
            + (p * (n - 1) - math.floor(p * (n - 1)))
            * (vals[min(math.floor(p * (n - 1)) + 1, n - 1)] - vals[math.floor(p * (n - 1))])
            for p in _RFM_PS
        ]
        garbage = [vals[0]] * 3  # a sketch stuck at the minimum

        # rank-bound acceptance must reject the garbage q75 cutoff
        p = _RFM_PS[2]
        le = sum(1 for v in vals if v <= garbage[2])
        lo = math.floor((p - eps) * n)
        assert le < lo, (dim, le, lo)

        # tile agreement between exact and garbage cutoffs must crater
        def tile(v, cuts):
            if asc:
                return 1 + sum(v > c for c in cuts)
            return 1 + sum(v <= c for c in cuts)

        agree = sum(
            tile(r[col], exact) == tile(r[col], garbage) for r in m
        ) / n
        assert agree < RFM_AGREE_MIN, (dim, agree)
