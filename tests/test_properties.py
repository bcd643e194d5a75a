"""Property-based tests (hypothesis) for the pure helper functions the
anchored queries depend on."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from databricks_spark_sql_challenge1_spark.functions.datetime import (
    date_literal,
    month_start,
    shift_months,
)
from databricks_spark_sql_challenge1_spark.operators.dedup import (
    HAMMING_MAX,
    SIMHASH_LAYOUTS,
    _simhash_regions,
)

ts_strategy = st.datetimes(
    min_value=dt.datetime(1990, 1, 1), max_value=dt.datetime(2100, 12, 31)
)


@given(ts_strategy, st.integers(min_value=-600, max_value=600))
@settings(max_examples=200)
def test_shift_months_roundtrip(ts, n):
    y, m = shift_months(ts, n)
    y2, m2 = shift_months(dt.datetime(y, m, 1), -n)
    assert (y2, m2) == (ts.year, ts.month)


@given(ts_strategy, st.integers(min_value=-600, max_value=600))
@settings(max_examples=200)
def test_shift_months_valid_month(ts, n):
    y, m = shift_months(ts, n)
    assert 1 <= m <= 12
    # total month delta is exactly n
    assert (y * 12 + m) - (ts.year * 12 + ts.month) == n


@given(ts_strategy)
def test_month_start_is_first_day(ts):
    y, m = ts.year, ts.month
    d = month_start(y, m)
    assert d.day == 1 and d.year == y and d.month == m


@given(ts_strategy)
def test_date_literal_formats(ts):
    assert len(date_literal(ts.date())) == 10
    assert len(date_literal(ts)) == 19


# --- distributed connected components vs pure-Python union-find ------------


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in component
    labels = {}
    for v in range(n_nodes):
        r = find(v)
        labels.setdefault(r, []).append(v)
    return {v: min(vs) for r, vs in labels.items() for v in vs}


@given(
    graph=st.integers(min_value=1, max_value=24).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=n - 1),
                    st.integers(min_value=0, max_value=n - 1),
                ),
                max_size=40,
            ),
        )
    )
)
@settings(max_examples=8, deadline=None)
def test_connected_components_matches_union_find(spark, graph):
    """The logarithmic-round label propagation must compute exactly the
    min-id component labels a sequential union-find computes, on arbitrary
    graphs (self-loops, duplicates, disconnected nodes included)."""
    from databricks_spark_sql_challenge1_spark.operators.clustering import (
        connected_components,
    )

    n, edges = graph
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = (
        spark.createDataFrame(list(edges), "doc_1 long, doc_2 long")
        if edges
        else spark.createDataFrame([], "doc_1 long, doc_2 long")
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(nodes, pairs).collect()
    }
    assert got == _union_find(n, edges)


def _numpy_pagerank(n_nodes, edges, iters=5, damping=0.85):
    """Reference synchronous power iteration with the same conventions as
    operators.clustering.pagerank: node set = ids appearing in edges,
    uniform start, dangling mass leaks (no redistribution), duplicate
    edges count as parallel edges."""
    import numpy as np

    seen = sorted({v for e in edges for v in e})
    n = len(seen)
    outdeg = np.zeros(n_nodes)
    for a, _ in edges:
        outdeg[a] += 1
    r = np.zeros(n_nodes)
    for v in seen:
        r[v] = 1.0 / n
    base = (1.0 - damping) / n
    for _ in range(iters):
        m = np.zeros(n_nodes)
        for a, b in edges:
            m[b] += r[a] / outdeg[a]
        r = np.zeros(n_nodes)
        for v in seen:
            r[v] = base + damping * m[v]
    return {v: r[v] for v in seen}


@given(
    graph=st.integers(min_value=2, max_value=16).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=n - 1),
                    st.integers(min_value=0, max_value=n - 1),
                ),
                min_size=1,
                max_size=30,
            ),
        )
    )
)
@settings(max_examples=6, deadline=None)
def test_pagerank_matches_numpy_power_iteration(spark, graph):
    """The DataFrame message-pass loop must reproduce dense power iteration
    exactly (same start, same per-iteration algebra) on arbitrary directed
    multigraphs — self-loops, parallel edges, and non-src nodes included."""
    from databricks_spark_sql_challenge1_spark.operators.clustering import pagerank

    n, edges = graph
    e = spark.createDataFrame(list(edges), "src long, dst long")
    got = {r["id"]: r["r"] for r in pagerank(e).collect()}
    want = _numpy_pagerank(n, edges)
    assert set(got) == set(want)
    for v in got:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])


@given(
    st.lists(
        st.floats(
            min_value=-100.0,
            max_value=100.0,
            allow_nan=False,
            allow_infinity=False,
        ).filter(lambda x: abs(x) > 1e-6),
        min_size=2,
        max_size=64,
    )
)
@settings(max_examples=200)
def test_int8_quantization_error_bound(vec):
    """The symmetric int8 rule (scale = max|x|/127, code = floor(x/scale
    + 0.5)) guarantees per-element reconstruction error <= scale/2 — the
    bound embedding_quantize_int8's audit columns report against. Pure-
    Python replica of the identical arithmetic both engines run."""
    import math

    scale = max(abs(x) for x in vec) / 127.0
    for x in vec:
        code = math.floor(x / scale + 0.5)
        err = abs(x - code * scale)
        assert err <= scale / 2 + 1e-12
        assert abs(code) <= 127  # symmetric range, no clipping needed


def test_int8_quantization_zero_vector_guard(spark):
    """ADVICE r6: an all-zero embedding must not NaN — scale coalesces to
    1.0, codes are exactly 0, and the cosine audit column is defined as
    1.0 (exact reconstruction). Runs the registered query's Spark side on
    a tiny in-session frame via the same expression pipeline."""
    from pyspark.sql import functions as F

    from databricks_spark_sql_challenge1_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, v array<double>",
    )
    s = df.withColumn(
        "maxabs", F.expr("array_max(transform(v, x -> abs(x)))")
    ).withColumn(
        "scale",
        F.when(F.col("maxabs") == 0, F.lit(1.0)).otherwise(
            F.col("maxabs") / float(similarity.INT8_LEVELS)
        ),
    )
    rows = {r.vec_id: r for r in s.collect()}
    assert rows[1].scale == 1.0
    assert abs(rows[2].scale - 2.0 / 127.0) < 1e-12


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=150, deadline=None)
def test_png_roundtrip_arbitrary_bytes(payload):
    """The PNG kernels must round-trip ANY byte string — including values
    128-255 the ASCII fixtures never produce — through the full deflate /
    CRC / filter chain."""
    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        PNG_WIDTH,
        png_decode_stats,
        png_encode_gray,
    )

    stats = png_decode_stats(png_encode_gray(payload))
    n = len(payload)
    h = (n + PNG_WIDTH - 1) // PNG_WIDTH
    assert stats["img_w"] == PNG_WIDTH
    assert stats["img_h"] == h
    assert stats["n_pixels"] == PNG_WIDTH * h
    assert stats["pixel_sum"] == sum(payload)
    assert stats["pixel_max"] == (max(payload) if n else 0)
    assert stats["sub_rows"] == h // 2


@given(st.binary(min_size=0, max_size=600))
@settings(max_examples=120, deadline=None)
def test_gif_roundtrip_arbitrary_bytes(payload):
    """The GIF/LZW kernels must round-trip ANY byte string through the
    variable-code-width LZW chain (bit packing, KwKwK, table growth)."""
    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        GIF_WIDTH,
        gif_decode_stats,
        gif_encode_gray,
    )

    stats = gif_decode_stats(gif_encode_gray(payload))
    n = len(payload)
    h = (n + GIF_WIDTH - 1) // GIF_WIDTH
    assert stats["img_w"] == GIF_WIDTH
    assert stats["img_h"] == h == stats["screen_h"]
    assert stats["pixel_sum"] == sum(payload)
    assert stats["pixel_max"] == (max(payload) if n else 0)


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=60, deadline=None)
def test_gif_lzw_stream_is_exact(payload):
    """LZW compress→decompress must reproduce the raster bytes exactly
    (stats equality above could in principle hide transpositions)."""
    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    assert _gif_lzw_decode(_gif_lzw_encode(payload)) == payload


def test_gif_lzw_final_code_width_boundary():
    """Directed regression: when the code-width growth boundary lands
    exactly on the LAST data code, the encoder's phantom registration must
    keep the EOI width in lockstep with the decoder (found on the sf0.1
    corpus, doc 264)."""
    import os

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    # the original triggering payload came from the sf0.1 corpus (doc 264);
    # re-check it only when that fixture exists — the deterministic boundary
    # sweep below covers the regression regardless (ADVICE r7: no hard
    # dependency on a regenerable fixture)
    fixture = "/root/testdata/sf0.1/documents.parquet"
    if os.path.exists(fixture):
        import duckdb

        con = duckdb.connect()
        row = con.sql(
            f"SELECT text FROM '{fixture}' WHERE doc_id = 264"
        ).fetchone()
        if row is not None:
            raw = row[0].encode()
            assert _gif_lzw_decode(_gif_lzw_encode(raw)) == raw
    # sweep lengths around every 2^k boundary region with a low-entropy
    # payload (dictionary grows fast) to keep hitting final-code edges
    base = (b"ab" * 4000)
    for n in range(500, 560):
        payload = base[:n]
        assert _gif_lzw_decode(_gif_lzw_encode(payload)) == payload


def test_gif_decode_truncation_always_valueerror():
    """Every truncation point of a valid GIF must raise ValueError (never a
    bare IndexError escaping the doc-id-labelled _parse wrapper, which only
    catches ValueError — ADVICE r7)."""
    import pytest

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        gif_decode_stats,
        gif_encode_gray,
    )

    blob = gif_encode_gray(b"truncation sweep payload for the gif decoder")
    assert gif_decode_stats(blob)["n_pixels"] > 0
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            gif_decode_stats(blob[:cut])


@given(st.binary(min_size=0, max_size=600))
@settings(max_examples=100, deadline=None)
def test_jpeg_roundtrip_arbitrary_bytes(payload):
    """The baseline JPEG kernels must round-trip ANY byte string: the
    entropy layer (Huffman, bit packing, stuffing, DC prediction, RLE) is
    lossless — decoded quantized coefficients equal the encoder's exactly —
    and pixel reconstruction stays inside the quantization error bound."""
    import numpy as np

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        JPEG_MAX_ABS_ERR,
        JPEG_WIDTH,
        _jpeg_quantize_blocks,
        jpeg_decode_gray,
        jpeg_encode_gray,
    )

    px, qb = jpeg_decode_gray(jpeg_encode_gray(payload))
    n = len(payload)
    true_h = max(1, (n + JPEG_WIDTH - 1) // JPEG_WIDTH)
    pad_h = (true_h + 7) // 8 * 8
    raster = np.zeros((pad_h, JPEG_WIDTH), np.uint8)
    raster.reshape(-1)[:n] = np.frombuffer(payload, np.uint8)
    assert np.array_equal(_jpeg_quantize_blocks(raster), qb)
    assert px.shape == (true_h, JPEG_WIDTH)
    err = np.abs(
        px.astype(np.int64) - raster[:true_h, :].astype(np.int64)
    ).max()
    assert err <= JPEG_MAX_ABS_ERR, err


def test_jpeg_decode_truncation_always_valueerror():
    """Every truncation of a valid JPEG must raise ValueError (the _parse
    wrapper catches only ValueError — same contract as the GIF decoder)."""
    import pytest

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        jpeg_decode_gray,
        jpeg_encode_gray,
    )

    blob = jpeg_encode_gray(b"jpeg truncation sweep payload " * 4)
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            jpeg_decode_gray(blob[:cut])


def test_jpeg_decode_corruption_always_valueerror():
    """Random byte corruptions of a valid JPEG must raise ValueError or
    decode — never escape with a low-level exception past the _parse
    wrapper (seeded fuzz; the full 4,000-trial sweep ran at guard time)."""
    import random

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        jpeg_decode_gray,
        jpeg_encode_gray,
    )

    rng = random.Random(7)
    blob = bytearray(jpeg_encode_gray(b"corruption fuzz payload " * 4))
    for _ in range(600):
        b = bytearray(blob)
        for _ in range(rng.randint(1, 3)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            jpeg_decode_gray(bytes(b))
        except ValueError:
            pass


def test_png_gif_decode_corruption_always_valueerror():
    """Random corruptions and truncations of valid PNG/GIF blobs must
    raise ValueError or decode — same contract as the JPEG fuzz."""
    import random

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        gif_decode_stats,
        gif_encode_gray,
        png_decode_stats,
        png_encode_gray,
    )

    rng = random.Random(11)
    for enc, dec in ((png_encode_gray, png_decode_stats),
                     (gif_encode_gray, gif_decode_stats)):
        blob = bytearray(enc(b"codec fuzz payload " * 5))
        for _ in range(400):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 3)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                dec(bytes(b))
            except ValueError:
                pass


def test_flac_decode_corruption_always_valueerror():
    """Random corruptions and every truncation of a valid FLAC stream must
    raise ValueError or decode — same contract as the other codec fuzzes.
    A corruption that still decodes must be one the three integrity
    layers genuinely cannot see (CRC-8/CRC-16 are 8/16-bit checks), so
    the decoded stats must still pass the MD5 gate by construction."""
    import random

    import pytest

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        flac_decode_stats,
        flac_encode,
    )

    blob = bytes(flac_encode(b"flac corruption fuzz payload " * 12))
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            flac_decode_stats(blob[:cut])
    rng = random.Random(13)
    for _ in range(600):
        b = bytearray(blob)
        for _ in range(rng.randint(1, 3)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            flac_decode_stats(bytes(b))
        except ValueError:
            pass


def test_flac_roundtrip_is_lossless_on_random_payloads():
    """Property: decode(encode(payload)) reproduces the exact PCM stats
    for arbitrary byte payloads (not just fixture ASCII), across block
    boundaries (n = 255, 256, 257) and degenerate lengths."""
    import random

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        flac_decode_stats,
        flac_encode,
    )

    rng = random.Random(17)
    lengths = [1, 2, 3, 255, 256, 257, 512, 1000]
    for n in lengths:
        raw = bytes(rng.randrange(256) for _ in range(n))
        x = [(v - 128) * 256 for v in raw]
        stats = flac_decode_stats(flac_encode(raw))
        assert stats["n_samples"] == n
        assert stats["n_frames"] == (n + 255) // 256
        assert stats["peak"] == max(abs(v) for v in x)
        assert stats["sample_sum"] == sum(x)
        assert stats["md5_ok"]


def test_mp3_decode_corruption_always_valueerror():
    """Same fuzz contract as the FLAC/GIF/JPEG witnesses: every truncation
    of a valid MP3 stream and random byte corruptions must raise
    ValueError or decode; a surviving corruption must be one the CRC-16 /
    parity / MD5 layers genuinely cannot see."""
    import random

    import pytest

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        mp3_decode_stats,
        mp3_encode,
    )

    blob = bytes(mp3_encode(b"mp3 corruption fuzz payload " * 40))
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            mp3_decode_stats(blob[:cut])
    rng = random.Random(29)
    for _ in range(600):
        b = bytearray(blob)
        for _ in range(rng.randint(1, 3)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            mp3_decode_stats(bytes(b))
        except ValueError:
            pass


def test_mp3_roundtrip_is_exact_on_random_payloads():
    """Property: decode(encode(payload)) reproduces the exact PCM stats
    for arbitrary byte payloads across frame-capacity boundaries
    (n = 393, 394, 395 at the 394-byte CBR capacity) and degenerate
    lengths, and the frame count matches the spec's length arithmetic."""
    import random

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        _MP3_CAP,
        mp3_decode_stats,
        mp3_encode,
    )

    rng = random.Random(31)
    lengths = [1, 2, _MP3_CAP - 1, _MP3_CAP, _MP3_CAP + 1, 3 * _MP3_CAP, 5000]
    for n in lengths:
        raw = bytes(rng.randrange(256) for _ in range(n))
        x = [(v - 128) * 256 for v in raw]
        stats = mp3_decode_stats(mp3_encode(raw))
        assert stats["n_samples"] == n
        assert stats["n_frames"] == max(1, (n + _MP3_CAP - 1) // _MP3_CAP)
        assert stats["peak"] == max(abs(v) for v in x)
        assert stats["sample_sum"] == sum(x)
        assert stats["crc_ok"] and stats["md5_ok"]


def test_avi_decode_corruption_always_valueerror():
    """Same fuzz contract as the other codec witnesses, lifted to the
    container level: every truncation of a valid MJPEG-AVI and random
    byte corruptions must raise ValueError or decode; a surviving
    corruption must be one the RIFF size accounting / header
    cross-checks / idx1 verification / JPEG entropy layer genuinely
    cannot see (e.g. a don't-care header byte like dwMaxBytesPerSec)."""
    import random

    import pytest

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        avi_decode_frames,
        avi_encode_mjpeg,
    )

    blob = bytes(avi_encode_mjpeg(b"avi corruption fuzz payload " * 30))
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            avi_decode_frames(blob[:cut])
    rng = random.Random(37)
    for _ in range(600):
        b = bytearray(blob)
        for _ in range(rng.randint(1, 3)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            avi_decode_frames(bytes(b))
        except ValueError:
            pass


def test_avi_roundtrip_reproduces_frames_exactly_at_entropy_layer():
    """Property: for arbitrary payloads across frame boundaries (the
    256-byte frame payload), the container walk returns the declared
    frame count and every frame's quantized coefficient blocks equal a
    direct re-encode of the zero-padded frame raster — the lossless
    entropy layer of the lossy stack, same split as the JPEG witness."""
    import random

    import numpy as np

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        AVI_FRAME_H,
        AVI_FRAME_PAYLOAD,
        AVI_FRAME_W,
        JPEG_MAX_ABS_ERR,
        _jpeg_quantize_blocks,
        avi_decode_frames,
        avi_encode_mjpeg,
    )

    rng = random.Random(41)
    lengths = [0, 1, AVI_FRAME_PAYLOAD - 1, AVI_FRAME_PAYLOAD,
               AVI_FRAME_PAYLOAD + 1, 3 * AVI_FRAME_PAYLOAD, 2000]
    for n in lengths:
        raw = bytes(rng.randrange(256) for _ in range(n))
        n_frames, frames = avi_decode_frames(avi_encode_mjpeg(raw))
        assert n_frames == max(
            1, (n + AVI_FRAME_PAYLOAD - 1) // AVI_FRAME_PAYLOAD
        )
        padded = raw + b"\x00" * (n_frames * AVI_FRAME_PAYLOAD - n)
        for f, (px, qb) in enumerate(frames):
            raster = np.frombuffer(
                padded[f * AVI_FRAME_PAYLOAD : (f + 1) * AVI_FRAME_PAYLOAD],
                np.uint8,
            ).reshape(AVI_FRAME_H, AVI_FRAME_W)
            assert np.array_equal(_jpeg_quantize_blocks(raster), qb)
            err = int(
                np.abs(px.astype(np.int64) - raster.astype(np.int64)).max()
            )
            assert err <= JPEG_MAX_ABS_ERR


def test_h264_decode_corruption_always_valueerror():
    """Fuzz contract for the NAL-layer witness: every truncation and
    random byte corruptions must raise ValueError or decode; survivors
    must be ones the start-code/header/Exp-Golomb/TLV/emulation layers
    genuinely cannot see."""
    import random

    import pytest

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        h264_decode_stats,
        h264_encode_annexb,
    )

    blob = bytes(h264_encode_annexb(b"h264 fuzz \x00\x00\x01\x02 " * 40))
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            h264_decode_stats(blob[:cut])
    rng = random.Random(47)
    for _ in range(600):
        b = bytearray(blob)
        for _ in range(rng.randint(1, 3)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            h264_decode_stats(bytes(b))
        except ValueError:
            pass


def test_h264_roundtrip_lossless_and_exercises_every_layer():
    """Property: payloads across SEI-chunk boundaries and with dense
    0x00-run content (forcing emulation-prevention splices) round-trip
    losslessly; the Exp-Golomb coders invert each other over a signed
    range; emulation prevention inverts exactly on adversarial inputs."""
    import hashlib
    import random

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        H264_SEI_CHUNK,
        _BitReader,
        _BitWriter,
        _h264_emulation_prevent,
        _h264_emulation_remove,
        _rbsp_check_trailing,
        _rbsp_trailing,
        h264_decode_stats,
        h264_encode_annexb,
    )

    rng = random.Random(53)
    lengths = [0, 1, H264_SEI_CHUNK - 1, H264_SEI_CHUNK,
               H264_SEI_CHUNK + 1, 3 * H264_SEI_CHUNK, 2000]
    for n in lengths:
        raw = bytes(rng.choice([0, 0, 0, 1, 2, 3, rng.randrange(256)])
                    for _ in range(n))
        stats = h264_decode_stats(h264_encode_annexb(raw))
        assert stats["n_bytes"] == n
        assert stats["n_sei"] == max(1, (n + H264_SEI_CHUNK - 1) // H264_SEI_CHUNK)
        assert stats["md5"] == hashlib.md5(raw).hexdigest()
        assert stats["payload_sum"] == sum(raw)

    # Exp-Golomb ue/se invert over a range including the signed mapping
    w = _BitWriter()
    vals = list(range(0, 40))
    svals = list(range(-20, 21))
    for v in vals:
        w.ue(v)
    for v in svals:
        w.se(v)
    r = _BitReader(_rbsp_trailing(w))
    assert [r.ue() for _ in vals] == vals
    assert [r.se() for _ in svals] == svals
    _rbsp_check_trailing(r)

    # emulation prevention inverts on adversarial zero runs
    for _ in range(200):
        raw = bytes(rng.choice([0, 0, 0, 1, 2, 3]) for _ in range(rng.randrange(64)))
        assert _h264_emulation_remove(_h264_emulation_prevent(raw)) == raw


_bit_ops = st.one_of(
    st.tuples(
        st.just("bits"), st.integers(0, 48), st.integers(0, (1 << 48) - 1)
    ).map(lambda t: (t[0], t[1], t[2] & ((1 << t[1]) - 1))),
    st.tuples(st.just("unary"), st.integers(0, 100)),
    st.tuples(st.just("ue"), st.integers(0, (1 << 31) - 2)),
    st.tuples(st.just("se"), st.integers(-(1 << 30), 1 << 30)),
)


@given(st.lists(_bit_ops, max_size=60), st.integers(0, 1))
@settings(max_examples=200, deadline=None)
def test_bit_writer_reader_roundtrip(ops, pad_bit):
    """The one MSB-first bit writer/reader pair (JPEG, FLAC and H.264 all
    use it): any mix of fixed-width fields — including zero-width ones —
    unary codes and Exp-Golomb ue/se codes reads back exactly, the pad
    bits ``align`` writes read back as ``pad_bit``, and one more read past
    the end raises the truncation error."""
    import pytest

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        _BitReader,
        _BitWriter,
    )

    w = _BitWriter()
    for op in ops:
        if op[0] == "bits":
            w.write(op[2], op[1])
        elif op[0] == "unary":
            w.write_unary(op[1])
        else:
            getattr(w, op[0])(op[1])
    pad = -w.nbits % 8
    w.align(pad_bit)
    data = w.getvalue()
    r = _BitReader(data)
    for op in ops:
        if op[0] == "bits":
            assert r.read(op[1]) == op[2]
        elif op[0] == "unary":
            assert r.read_unary() == op[1]
        else:
            assert getattr(r, op[0])() == op[1]
    assert r.align() == (pad_bit and (1 << pad) - 1)
    assert r.pos == len(data)
    with pytest.raises(ValueError, match="bitstream truncated"):
        r.read(1)


def test_bit_reader_overrun_guards():
    """The reader's caps: a run of zeros longer than the unary cap or the
    Exp-Golomb prefix cap raises instead of looping to the end."""
    import pytest

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        _BitReader,
    )

    with pytest.raises(ValueError, match="unterminated unary run"):
        _BitReader(bytes(1 << 18)).read_unary()
    with pytest.raises(ValueError, match="Exp-Golomb prefix overrun"):
        _BitReader(bytes(8)).ue()


@given(st.lists(st.sampled_from([0x00, 0xFF, 0xFF, 0xFF, 0xD9, 0x7F]), max_size=300))
@settings(max_examples=200, deadline=None)
def test_jpeg_stuffing_inverts_on_ff_dense_input(seg):
    """JPEG byte stuffing is a separate byte pass, the way H.264's
    emulation prevention is: unstuff(stuff(x)) == x on 0xFF-dense
    segments, the stuffed form carries no bare marker, and a 0xFF not
    followed by 0x00 is rejected as a marker."""
    import pytest

    from databricks_spark_sql_challenge1_spark.operators.multimodal import (
        _jpeg_stuff,
        _jpeg_unstuff,
    )

    raw = bytes(seg)
    stuffed = _jpeg_stuff(raw)
    assert _jpeg_unstuff(stuffed) == raw
    assert stuffed.count(b"\xff") == stuffed.count(b"\xff\x00") == raw.count(b"\xff")
    with pytest.raises(ValueError, match="unexpected marker in entropy segment"):
        _jpeg_unstuff(stuffed + b"\xff\xd9")


@given(st.sampled_from(sorted(SIMHASH_LAYOUTS)), st.data())
@settings(max_examples=300)
def test_simhash_regions_pigeonhole_complete(layout, data):
    """SimHash band blocking is complete: for every layout, two signatures
    within HAMMING_MAX bits agree exactly on at least one of the regions
    ``_simhash_regions`` returns — the table the band join generates its
    band keys and first-agreeing-band CASE from."""
    widths = [4 * n for _start, n in SIMHASH_LAYOUTS[layout]]
    a = [data.draw(st.integers(0, (1 << w) - 1)) for w in widths]
    flips = data.draw(
        st.sets(st.integers(0, sum(widths) - 1), max_size=HAMMING_MAX)
    )
    b = list(a)
    for bit in flips:
        limb = 0
        while bit >= widths[limb]:
            bit -= widths[limb]
            limb += 1
        b[limb] ^= 1 << bit
    assert any(
        ((a[limb] ^ b[limb]) >> shift) & ((1 << width) - 1) == 0
        for limb, shift, width in _simhash_regions(layout)
    )
