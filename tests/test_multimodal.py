"""Multimodal plumbing: binary columns, metadata structs, Arrow batch shape
through mapInPandas, and the stub-gating contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import load_table
from databricks_spark_sql_challenge1_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    attach_fake_media,
    extract_media_features,
)
from tests.conftest import SF_DIR


def test_binary_column_schema(spark):
    media = attach_fake_media(load_table(spark, SF_DIR, "documents"))
    dtypes = dict(media.dtypes)
    assert dtypes["media_bytes"] == "binary"
    assert dtypes["media_meta"].startswith("struct<mime:string,width:int,height:int")


def test_feature_extraction_schema_and_counts(spark):
    docs = load_table(spark, SF_DIR, "documents")
    feats = extract_media_features(attach_fake_media(docs))
    assert feats.schema == FEATURE_SCHEMA
    assert feats.count() == docs.count()
    row = feats.where(F.col("n_bytes") <= 0).count()
    assert row == 0  # every payload non-empty


def test_feature_extraction_preserves_partitioning(spark):
    docs = load_table(spark, SF_DIR, "documents").repartition(4)
    feats = extract_media_features(attach_fake_media(docs))
    # mapInPandas is a narrow transformation: partition count preserved
    assert feats.rdd.getNumPartitions() == 4


def test_resize_stub(spark):
    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        RESIZE_SCHEMA,
        resize_media,
    )

    media = attach_fake_media(load_table(spark, SF_DIR, "documents"))
    resized = resize_media(media, target_w=32, target_h=32)
    assert resized.schema == RESIZE_SCHEMA
    row = resized.first()
    assert len(row["media_bytes"]) == 32 * 32
    assert (row["width"], row["height"]) == (32, 32)
    with pytest.raises(NotImplementedError):
        resize_media(media, 8, 8, use_real_codec=True)


def test_frame_sampling_expansion(spark):
    from pyspark.sql import functions as F

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        sample_frames,
    )

    docs = load_table(spark, SF_DIR, "documents")
    media = attach_fake_media(docs)
    frames = sample_frames(media, frame_size=64, every_kth=4)
    # 1:N expansion: more frame rows than docs, all indices on the k-grid
    assert frames.count() > docs.count()
    assert frames.where(F.col("frame_index") % 4 != 0).count() == 0
    # every document is represented (frame 0 always sampled)
    assert frames.select("doc_id").distinct().count() == docs.count()


def test_real_codec_gate(spark):
    media = attach_fake_media(load_table(spark, SF_DIR, "documents"))
    with pytest.raises(NotImplementedError, match="codecs"):
        extract_media_features(media, use_real_codec=True)


def test_witness_text_bytes_guard():
    """The shared codec-witness byte==codepoint guard (ADVICE r10,
    centralized r11): ASCII passes through as its bytes; any non-ASCII
    text raises with the doc id, so a fixture regeneration fails loudly
    in whichever witness kernel hits it instead of as a silent driver
    hash mismatch."""
    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        _witness_text_bytes,
    )

    assert _witness_text_bytes(7, "plain ascii") == b"plain ascii"
    with pytest.raises(ValueError, match="doc 7.*non-ASCII"):
        _witness_text_bytes(7, "café")


def test_documents_text_is_ascii():
    """Pin the fixture assumption the multimodal oracles rely on (ADVICE
    r6): the PCM / thumbnail oracles equate DuckDB's per-character
    ord(text[i]) with Spark's UTF-8 *bytes*, which holds iff text is pure
    ASCII (every codepoint one byte). strlen (bytes) == length (chars) is
    exactly that condition; if a future fixture breaks it, this fails
    before the oracle silently desyncs."""
    import duckdb

    from tests.conftest import ORACLE_SF_DIR

    n = duckdb.sql(
        "SELECT COUNT(*) FROM "
        f"'{ORACLE_SF_DIR}/documents.parquet' "
        "WHERE strlen(text) <> length(text)"
    ).fetchone()[0]
    assert n == 0


def test_thumbnail_empty_payload_guard(spark):
    """ADVICE r6: a zero-length payload must not ZeroDivisionError — the
    kernel emits a 0x0 raster with zero checksum."""
    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        image_thumbnail_stats,
    )

    media = spark.createDataFrame(
        [(1, bytearray(b"")), (2, bytearray(bytes(range(16))))],
        "doc_id long, media_bytes binary",
    )
    rows = {r.doc_id: r for r in image_thumbnail_stats(media).collect()}
    assert rows[1].img_w == 0 and rows[1].img_h == 0
    assert rows[1].thumb_sum == 0
    assert rows[2].img_w == 4 and rows[2].img_h == 4


def test_empty_text_payload_parity_contract(spark, tmp_path):
    """r18 ASCII multimodal fuzz find (``tools/parity_names.py
    --perturb fuzz-multimodal``): an EMPTY-text document — empty
    synthesized payload — diverged from the oracle on two surfaces until
    the oracles replayed the kernels' empty-payload conventions:

    - ``multimodal_frame_stats``: the sampler's ``max(1, ceil(n/64))``
      floor means an empty payload is ONE empty frame; the oracle's raw
      ``(n+63)//64`` arithmetic said zero (now GREATEST(·, 1));
    - ``multimodal_audio_pcm_stats``: the DSP kernel guards n==0 with
      rms 0.0 / peak 0; the oracle's empty-list aggregates said NULL
      (now CASE WHEN n = 0 legs).

    Pinned here on a three-shape corpus (empty, whitespace-only, normal)
    across the full 13-name multimodal oracle surface — empty text is IN
    contract for the codec witnesses (NULL text is the loud-guard
    fixture-convention error; see test_witness_text_bytes_guard)."""
    import __spark_entry__ as entry
    from tests.test_fuzz_parity import _write_docs
    from tools.parity_names import run

    d = str(tmp_path)
    _write_docs(d, [("", "en", "src0"), ("   ", "en", "src1"),
                    ("hello world", "en", "src2")])
    names = sorted(n for n in entry.oracle_sql() if n.startswith("multimodal_"))
    bad = [str(oc) for oc in run(spark, names, d) if oc.status != "match"]
    assert bad == []


def test_container_parse_errors_name_the_document(spark):
    """Every codec error carries its document id (the ``_map_rows``
    wrapper): a float-PCM WAV (fmt tag 3) and an 8-bpp BMP are both
    refused with ``doc 42:`` in the message, exactly once."""
    import struct

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        parse_bmp_stats,
        parse_wav_stats,
    )

    wav = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36, b"WAVE", b"fmt ", 16, 3, 1, 16000, 64000, 4, 32,
        b"data", 0,
    )
    bmp = struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 0, 0, 1, 8, 0, 0, 2835, 2835, 0, 0
    )
    for parse, blob, msg in (
        (parse_wav_stats, wav, "expected mono PCM"),
        (parse_bmp_stats, bmp, "expected BITMAPINFOHEADER / 24 bpp"),
    ):
        media = spark.createDataFrame(
            [(42, bytearray(blob))], "doc_id long, media_bytes binary"
        )
        with pytest.raises(Exception, match=f"doc 42: {msg}") as exc:
            parse(media).collect()
        assert "doc 42: doc 42" not in str(exc.value)


def test_one_codec_harness():
    """Structural guard (no Spark): the module's Arrow plumbing exists
    once. ``.repartition(`` may appear only in ``_codec_witness`` and
    ``mapInPandas(`` only in ``_map_rows`` and the three vectorized stub
    kernels, so a new codec cannot grow its own prologue or batch loop."""
    import ast
    import inspect

    from databricks_spark_sql_challenge1_spark.operators import multimodal

    allowed = {
        "repartition": {"_codec_witness"},
        "mapInPandas": {
            "_map_rows",
            "extract_media_features",
            "resize_media",
            "sample_frames",
        },
    }
    found = {attr: set() for attr in allowed}
    tree = ast.parse(inspect.getsource(multimodal))
    for top in tree.body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in allowed
            ):
                found[node.func.attr].add(getattr(top, "name", "<module>"))
    assert found == allowed
    src = inspect.getsource(multimodal)
    assert src.count(".repartition(") == 1
    assert src.count("mapInPandas(") == 4
    assert src.count("rows = {k.name") == 1
