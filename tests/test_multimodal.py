"""Multimodal plumbing tests: schema, batching, stub seams."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from convert_parquet_to_csv_spark.operators import multimodal as M
from convert_parquet_to_csv_spark.sources import read_parquet


@pytest.fixture(scope="module")
def media(spark, sf_small):
    docs = read_parquet(spark, os.path.join(sf_small, "documents.parquet"))
    return M.media_table_from_documents(docs)


def test_media_schema(media):
    assert media.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,content:binary,"
        "meta:struct<width:int,height:int,sample_rate:int,n_frames:int>>"
    )
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_meta_typed_by_kind(media):
    rows = media.collect()
    for r in rows:
        if r["kind"] == "image":
            assert r["meta"]["width"] >= 1 and r["meta"]["sample_rate"] is None
        elif r["kind"] == "audio":
            assert r["meta"]["sample_rate"] == 16000
        else:
            assert r["meta"]["n_frames"] >= 1


def test_extract_features_shape_and_determinism(spark, media):
    f1 = M.extract_features(media).orderBy("media_id").collect()
    f2 = M.extract_features(media).orderBy("media_id").collect()
    assert len(f1) == media.count()
    for a, b in zip(f1, f2):
        assert len(a["feature"]) == M.FEATURE_DIM
        assert a["feature"] == b["feature"]  # stub is deterministic
        assert all(-1.0 <= v < 1.0 for v in a["feature"])


def test_real_decoder_raises_at_seam(media):
    with pytest.raises(NotImplementedError, match="pil"):
        M.extract_features(media, decoder="pil")


def test_sample_frames(media):
    frames = M.sample_frames(media, n_frames=4)
    rows = frames.collect()
    assert all(r["frame_bytes"] >= 1 for r in rows)
    # reassembling frames must reproduce a prefix of the content
    one = media.filter(
        (F.col("kind") == "video") & (F.octet_length("content") > 8)
    ).first()
    got = sorted(
        (r["frame_idx"], bytes(r["frame"]))
        for r in rows
        if r["media_id"] == one["media_id"]
    )
    joined = b"".join(b for _, b in got)
    assert bytes(one["content"]).startswith(joined[: len(bytes(one["content"]))])


def test_python_udf_runs_from_foreign_cwd(sf_small, tmp_path):
    """Regression: the driver harness imports this package from an
    arbitrary cwd; Python workers then hit ModuleNotFoundError unless
    the package is shipped via addPyFile (shipping.py). Runs the
    mapInPandas query in a fresh session whose cwd is NOT the repo."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import sys; sys.path.insert(0, {repo!r})
from convert_parquet_to_csv_spark.plans import registry
from pyspark.sql import SparkSession
registry.load_all()
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
df = registry.QUERIES["multimodal_features"](spark, {sf_small!r})
print("FOREIGN_CWD_ROWS", df.count())
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "FOREIGN_CWD_ROWS" in out.stdout


def test_feature_vectors_feed_similarity(spark, media):
    """Extracted features plug into the similarity operators —
    the multimodal→ANN integration path."""
    from convert_parquet_to_csv_spark.operators.similarity import (
        topk_bruteforce,
    )

    feats = M.extract_features(media).withColumnRenamed(
        "feature", "embedding"
    ).withColumnRenamed("media_id", "vec_id")
    q = feats.limit(2)
    out = topk_bruteforce(feats, q, k=2)
    assert out.count() == 4


def test_resize_block_means_hand_computed(spark):
    """4x4 known grid, factor 2 -> each output pixel is the exact
    integer mean of its 2x2 block; payload bytes match."""
    import pyspark.sql.functions as F

    from convert_parquet_to_csv_spark.operators import multimodal as M

    grid = bytes([0, 2, 10, 12,
                  4, 6, 14, 16,
                  100, 102, 200, 202,
                  104, 106, 204, 206])
    media = spark.createDataFrame(
        [(1, "image", grid)], "media_id long, kind string, content binary"
    ).select(
        "media_id", "kind", "content",
        F.expr(
            "named_struct('width', 4, 'height', 4, "
            "'sample_rate', CAST(NULL AS INT), "
            "'n_frames', CAST(NULL AS INT))"
        ).alias("meta"),
    )
    row = M.resize_images(media, factor=2).collect()[0]
    assert (row["new_width"], row["new_height"]) == (2, 2)
    # block means: (0+2+4+6)//4=3, (10+12+14+16)//4=13,
    #              (100+102+104+106)//4=103, (200+202+204+206)//4=203
    assert bytes(row["resized"]) == bytes([3, 13, 103, 203])
    assert row["out_bytes"] == 4


def test_resize_pads_short_payloads(spark):
    """Payload shorter than width*height is zero-padded before the
    grid reshape (the stub decode contract)."""
    import pyspark.sql.functions as F

    from convert_parquet_to_csv_spark.operators import multimodal as M

    media = spark.createDataFrame(
        [(2, "image", bytes([255, 255]))],
        "media_id long, kind string, content binary",
    ).select(
        "media_id", "kind", "content",
        F.expr(
            "named_struct('width', 2, 'height', 2, "
            "'sample_rate', CAST(NULL AS INT), "
            "'n_frames', CAST(NULL AS INT))"
        ).alias("meta"),
    )
    row = M.resize_images(media, factor=2).collect()[0]
    # grid = [[255,255],[0,0]] -> single block mean (255+255+0+0)//4
    assert bytes(row["resized"]) == bytes([127])
    assert (row["new_width"], row["new_height"]) == (1, 1)


# --- pure-Python PGM decoder (r10) -----------------------------------------

def test_decode_pgm_p5_and_p2_roundtrip():
    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_pgm,
    )

    px = bytes(range(12))
    p5 = b"P5\n# comment\n4 3\n255\n" + px
    assert decode_pgm(p5) == ("P5", 4, 3, 255, px)
    p2 = ("P2\n# c1\n# c2\n4 3\n255\n"
          + " ".join(str(b) for b in px)).encode()
    assert decode_pgm(p2) == ("P2", 4, 3, 255, px)
    # whitespace variety between header tokens
    assert decode_pgm(b"P5 4\t3  255\n" + px)[1:4] == (4, 3, 255)


def test_decode_pgm_p5_raster_starts_after_single_whitespace():
    """The P5 spec point parsers get wrong: exactly ONE whitespace
    byte after maxval, then raw raster — a raster whose FIRST byte
    is 0x0A (newline) must not be eaten as header whitespace."""
    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_pgm,
    )

    px = b"\n\x00\x20\xff"
    got = decode_pgm(b"P5\n2 2\n255\n" + px)
    assert got == ("P5", 2, 2, 255, px)


def test_decode_pgm_rejects_malformed():
    import pytest as _pytest

    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_pgm,
    )

    with _pytest.raises(ValueError, match="magic"):
        decode_pgm(b"P6\n1 1\n255\n\x00")      # PPM, not PGM
    with _pytest.raises(ValueError, match="short raster"):
        decode_pgm(b"P5\n4 4\n255\n\x00\x01")  # truncated
    with _pytest.raises(ValueError, match="geometry"):
        decode_pgm(b"P5\n0 3\n255\n")          # zero width
    with _pytest.raises(ValueError, match="geometry"):
        decode_pgm(b"P5\n2 2\n65535\n")        # 16-bit unsupported
    with _pytest.raises(ValueError, match="maxval"):
        decode_pgm(b"P2\n1 1\n100\n200")       # pixel above maxval
    with _pytest.raises(ValueError, match="malformed"):
        decode_pgm(b"P5\nab cd\n255\n")        # non-decimal header
    with _pytest.raises(ValueError, match="whitespace"):
        decode_pgm(b"P5\n1 1\n255")             # raster glued to maxval
    with _pytest.raises(ValueError, match="excess"):
        decode_pgm(b"P2\n1 1\n255\n7 8")       # too many pixels


def test_decode_pgm_table_stats_and_resize(spark):
    """decode → stats → factor-2 block-mean resize on a hand-checked
    4x4 gradient through the real mapInPandas stage."""
    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_pgm_table,
    )

    px = bytes(range(16))  # 4x4, sum 120
    payload = b"P5\n4 4\n255\n" + px
    media = spark.createDataFrame(
        [(7, bytearray(payload))], "media_id LONG, content BINARY"
    )
    [r] = decode_pgm_table(media, factor=2).collect()
    assert (r["fmt"], r["width"], r["height"]) == ("P5", 4, 4)
    assert (r["n_pixels"], r["pixel_sum"], r["mean_pixel"]) == (16, 120, 7)
    # blocks: [[0,1,4,5],[2,3,6,7],[8,9,12,13],[10,11,14,15]] sums
    # 10,18,42,50 -> //4 -> 2,4,10,12 -> rs sum 28
    assert (r["rs_width"], r["rs_height"], r["rs_pixel_sum"]) == (2, 2, 28)


def test_decode_ppm_p6_and_p3_roundtrip():
    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_ppm,
    )

    sm = bytes(range(36))  # 4x3 RGB
    p6 = b"P6\n# comment\n4 3\n255\n" + sm
    assert decode_ppm(p6) == ("P6", 4, 3, 255, sm)
    p3 = ("P3\n# c1\n4 3\n255\n"
          + " ".join(str(b) for b in sm)).encode()
    assert decode_ppm(p3) == ("P3", 4, 3, 255, sm)
    # P6 raster whose first byte is 0x0A must not be eaten as header
    # whitespace (the single post-maxval byte contract, PGM lesson)
    sm2 = b"\n\x00\x20\xff" * 3
    assert decode_ppm(b"P6\n2 2\n255\n" + sm2) == ("P6", 2, 2, 255, sm2)


def test_decode_ppm_rejects_malformed():
    import pytest as _pytest

    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_ppm,
    )

    with _pytest.raises(ValueError, match="magic"):
        decode_ppm(b"P5\n1 1\n255\n\x00")        # PGM, not PPM
    with _pytest.raises(ValueError, match="short raster"):
        decode_ppm(b"P6\n2 2\n255\n" + bytes(11))  # truncated
    with _pytest.raises(ValueError, match="geometry"):
        decode_ppm(b"P6\n0 3\n255\n")            # zero width
    with _pytest.raises(ValueError, match="geometry"):
        decode_ppm(b"P6\n2 2\n65535\n")          # 16-bit unsupported
    with _pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P3\n1 1\n100\n200 1 2")     # sample above maxval
    with _pytest.raises(ValueError, match="whitespace"):
        decode_ppm(b"P6\n1 1\n255" + bytes(3))   # raster glued to maxval
    with _pytest.raises(ValueError, match="excess"):
        decode_ppm(b"P3\n1 1\n255\n7 8 9 10")    # too many samples


def test_decode_ppm_table_channel_stats_and_resize(spark):
    """decode → per-channel stats → factor-2 per-channel block-mean
    resize on a hand-checked 4x4 RGB gradient through the real
    mapInPandas stage."""
    import numpy as np

    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_ppm_table,
    )

    sm = bytes(range(48))  # 4x4x3, channel c sum = sum(c, c+3, ...)
    payload = b"P6\n4 4\n255\n" + sm
    media = spark.createDataFrame(
        [(9, bytearray(payload))], "media_id LONG, content BINARY"
    )
    [r] = decode_ppm_table(media, factor=2).collect()
    assert (r["fmt"], r["width"], r["height"], r["n_pixels"]) == (
        "P6", 4, 4, 16,
    )
    g = np.frombuffer(sm, dtype=np.uint8).reshape(4, 4, 3)
    want = g.sum(axis=(0, 1))
    assert (r["r_sum"], r["g_sum"], r["b_sum"]) == tuple(want)
    rs = (
        g.reshape(2, 2, 2, 2, 3).astype(np.int64).sum(axis=(1, 3)) // 4
    )
    want_rs = rs.sum(axis=(0, 1))
    assert (r["rs_width"], r["rs_height"]) == (2, 2)
    assert (r["rs_r_sum"], r["rs_g_sum"], r["rs_b_sum"]) == tuple(want_rs)


def test_clip_score_pairs_vector_and_drops(spark):
    """The media block-sum vector matches a hand computation; pairs
    with short payloads or no embedding row drop; the keep flag
    follows tau; k returns the top-k most consistent pairs."""
    import math

    from convert_parquet_to_csv_spark.operators.multimodal import (
        clip_score_pairs,
    )

    payload = bytes(range(1, 9))  # 8 bytes, dim 4 -> blocks of 2
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(payload)),
            (2, "image", bytearray(b"ab")),      # shorter than dim
            (3, "audio", bytearray(payload)),    # wrong kind
            (4, "image", bytearray(payload)),    # no embedding row
            (5, "image", bytearray(payload)),
        ],
        "media_id LONG, kind STRING, content BINARY",
    )
    vectors = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0, 9.9]),
            (2, [1.0, 1.0, 1.0, 1.0, 9.9]),
            (3, [1.0, 1.0, 1.0, 1.0, 9.9]),
            (5, [3.0, 7.0, 11.0, 15.0, 9.9]),  # parallel to blocks
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    got = {
        r["media_id"]: r
        for r in clip_score_pairs(
            media, vectors, dim=4, tau=0.9
        ).collect()
    }
    # block sums of 1..8 in pairs: [3, 7, 11, 15]
    assert set(got) == {1, 5}
    v = [3.0, 7.0, 11.0, 15.0]
    n = math.sqrt(sum(x * x for x in v))
    assert got[1]["n_bytes"] == 8
    assert abs(got[1]["cosine"] - 3.0 / n) < 1e-12
    assert got[1]["keep"] is False
    assert abs(got[5]["cosine"] - 1.0) < 1e-12
    assert got[5]["keep"] is True
    top = clip_score_pairs(media, vectors, dim=4, tau=0.9, k=1).collect()
    assert [r["media_id"] for r in top] == [5]


def _wav(channels=1, rate=8000, bits=16, samples=(), fmt_code=1,
         extra_chunk=False):
    """Hand-built RIFF/WAVE: optional junk chunk before fmt to
    exercise the chunk walk."""
    import struct

    width = bits // 8
    if bits == 16:
        data = b"".join(struct.pack("<h", s) for s in samples)
    else:
        data = bytes(samples)
    fmt = struct.pack(
        "<HHIIHH", fmt_code, channels, rate,
        rate * channels * width, channels * width, bits,
    )
    chunks = b""
    if extra_chunk:
        chunks += b"JUNK" + struct.pack("<I", 3) + b"abc\x00"  # padded
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_wav_pcm16_and_pcm8_roundtrip():
    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_wav,
    )

    ch, rate, bits, n, data = decode_wav(
        _wav(samples=(0, 100, -100, 32767), extra_chunk=True)
    )
    assert (ch, rate, bits, n) == (1, 8000, 16, 4)
    import struct

    assert struct.unpack("<4h", data) == (0, 100, -100, 32767)
    ch, rate, bits, n, data = decode_wav(
        _wav(channels=2, bits=8, samples=(0, 128, 255, 1))
    )
    assert (ch, bits, n) == (2, 8, 4)
    assert data == bytes((0, 128, 255, 1))


def test_decode_wav_rejects_malformed():
    import pytest as _pytest

    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_wav,
    )

    with _pytest.raises(ValueError, match="magic"):
        decode_wav(b"RIFX" + b"\x00" * 20)
    with _pytest.raises(ValueError, match="format code"):
        decode_wav(_wav(samples=(1,), fmt_code=3))  # float PCM
    with _pytest.raises(ValueError, match="truncated"):
        decode_wav(_wav(samples=(1, 2, 3))[:-2])
    with _pytest.raises(ValueError, match="no data chunk"):
        wav = _wav(samples=())
        decode_wav(wav[: wav.index(b"data")])
    with _pytest.raises(ValueError, match="before fmt"):
        import struct as _s

        decode_wav(
            b"RIFF" + _s.pack("<I", 12) + b"WAVE"
            + b"data" + _s.pack("<I", 2) + b"\x00\x00"
        )


def test_wav_energy_table_hand_computed(spark):
    """frame_len=2 over 5 samples: frames |0|+|100|, |-100|+|200|,
    |300| -> energies 100, 300, 300; 8-bit is unsigned-centered."""
    from convert_parquet_to_csv_spark.operators.multimodal import (
        wav_energy_table,
    )

    p16 = _wav(samples=(0, 100, -100, 200, 300))
    p8 = _wav(bits=8, samples=(128, 130, 126))  # |s-128| = 0, 2, 2
    media = spark.createDataFrame(
        [(1, bytearray(p16)), (2, bytearray(p8))],
        "media_id LONG, content BINARY",
    )
    got = {
        r["media_id"]: r
        for r in wav_energy_table(media, frame_len=2).collect()
    }
    r = got[1]
    assert (r["bits"], r["n_samples"], r["n_frames"]) == (16, 5, 3)
    assert (r["total_energy"], r["max_frame_energy"]) == (700, 300)
    r = got[2]
    assert (r["bits"], r["n_samples"], r["n_frames"]) == (8, 3, 2)
    assert (r["total_energy"], r["max_frame_energy"]) == (4, 2)


# --- hypothesis roundtrips for the r11 decoders ------------------------------

from hypothesis import HealthCheck as _HC
from hypothesis import given as _given
from hypothesis import settings as _settings
from hypothesis import strategies as _st


@_settings(max_examples=40, deadline=None)
@_given(
    w=_st.integers(1, 9),
    h=_st.integers(1, 7),
    maxval=_st.integers(1, 255),
    binary=_st.booleans(),
    data=_st.data(),
)
def test_decode_ppm_roundtrip_property(w, h, maxval, binary, data):
    """encode(w, h, maxval, samples) -> decode is the identity for
    every geometry and sample content, P3 and P6 alike — including
    rasters whose first byte is whitespace-valued."""
    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_ppm,
    )

    n = w * h * 3
    samples = data.draw(
        _st.lists(
            _st.integers(0, maxval), min_size=n, max_size=n
        )
    )
    header = f"# c\n{w} {h}\n{maxval}\n"
    if binary:
        payload = b"P6\n" + header.encode() + bytes(samples)
    else:
        payload = (
            "P3\n" + header + " ".join(map(str, samples))
        ).encode()
    fmt, W, H, mv, sm = decode_ppm(payload)
    assert (fmt, W, H, mv) == ("P6" if binary else "P3", w, h, maxval)
    assert sm == bytes(samples)


@_settings(max_examples=40, deadline=None)
@_given(
    channels=_st.integers(1, 3),
    rate=_st.integers(1, 48000),
    bits=_st.sampled_from([8, 16]),
    junk=_st.booleans(),
    data=_st.data(),
)
def test_decode_wav_roundtrip_property(channels, rate, bits, junk, data):
    """encode -> decode identity over channel counts, rates, both
    sample widths, and optional unknown chunks before fmt."""
    import struct

    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_wav,
    )

    nf = data.draw(_st.integers(0, 20))
    n = nf * channels
    if bits == 16:
        samples = data.draw(
            _st.lists(
                _st.integers(-32768, 32767), min_size=n, max_size=n
            )
        )
    else:
        samples = data.draw(
            _st.lists(_st.integers(0, 255), min_size=n, max_size=n)
        )
    payload = _wav(
        channels=channels, rate=rate, bits=bits,
        samples=tuple(samples), extra_chunk=junk,
    )
    ch, r, b, count, raw = decode_wav(payload)
    assert (ch, r, b, count) == (channels, rate, bits, n)
    if bits == 16:
        got = list(struct.unpack(f"<{n}h", raw)) if n else []
    else:
        got = list(raw)
    assert got == samples


def test_clip_score_pairs_matches_python_reference(spark):
    """Random-ish payload sizes (coprime with dim, shorter/longer
    blocks) against a pure-Python block-sum + cosine reference —
    the block-partition formula and the float accumulation order
    both pinned."""
    import math

    from convert_parquet_to_csv_spark.operators.multimodal import (
        clip_score_pairs,
    )

    dim = 5
    payloads = {
        1: bytes(range(1, 6)),          # total == dim
        2: bytes(range(1, 18)),         # 17 bytes, coprime with 5
        3: bytes([7] * 64),             # uniform
        4: bytes(range(255, 249, -1)),  # 6 bytes, descending
    }
    emb = {
        1: [0.5, -1.0, 2.0, 0.25, -0.125, 9.9],
        2: [1.0, 1.0, 1.0, 1.0, 1.0, 9.9],
        3: [0.0, 0.0, 0.0, 0.0, 1.0, 9.9],
        4: [-1.0, 2.0, -3.0, 4.0, -5.0, 9.9],
    }
    media = spark.createDataFrame(
        [(k, "image", bytearray(v)) for k, v in payloads.items()],
        "media_id LONG, kind STRING, content BINARY",
    )
    vectors = spark.createDataFrame(
        [(k, v) for k, v in emb.items()],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    got = {
        r["media_id"]: r["cosine"]
        for r in clip_score_pairs(
            media, vectors, dim=dim, tau=0.0
        ).collect()
    }
    import struct as _s  # noqa: F401  (parity with wav test style)

    for k, payload in payloads.items():
        t = len(payload)
        mv = []
        for b in range(dim):
            lo = (b * t + dim - 1) // dim
            hi = ((b + 1) * t + dim - 1) // dim - 1
            mv.append(float(sum(payload[lo : hi + 1])))
        tv = [float(_s_cast) for _s_cast in emb[k][:dim]]
        # float32 storage of the embedding, then double accumulation
        import numpy as np

        tv = [float(np.float32(x)) for x in tv]
        dot = 0.0
        for a, c in zip(mv, tv):
            dot += a * c
        na = 0.0
        for a in mv:
            na += a * a
        nb = 0.0
        for c in tv:
            nb += c * c
        denom = math.sqrt(na) * math.sqrt(nb)
        want = dot / denom if denom > 0 else 0.0
        assert got[k] == want, (k, got[k], want)


def test_wav_energy_gate_prevalidation_duckdb_replay(spark, tmp_path):
    """r12 gate design pre-validated end-to-end (the r11 ledger's
    slated `multimodal_wav_energy` registration): the doc_id%47
    sf0.001 subset materializes as real .wav FILES (mono 16-bit PCM,
    samples = little-endian byte PAIRS of the even-padded utf-8
    text), scans back through binaryFile into wav_energy_table, and
    DuckDB replays the whole integer chain — byte pairing,
    sign-extension, frame split, Σ|sample| — from the documents
    table alone. When r12 registers the gate, this SQL becomes the
    oracle verbatim — with ONE addition: an empty-text doc yields a
    0-sample WAV and a (0, 0, 0) Spark row, but vanishes from the
    oracle's frame groupBy; the gate must either filter
    octet_length > 0 on both sides or spine empty docs back in
    (none exist in the %47 sf0.001 subset, so this test can't
    exercise it — flagged here so r12 doesn't rediscover it at
    another SF)."""
    import struct
    import duckdb

    from convert_parquet_to_csv_spark.operators.multimodal import (
        wav_energy_table,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(
        (F.col("doc_id") % 47 == 0) & F.col("text").isNotNull()
    ).select("doc_id", "text").collect()
    assert docs  # non-vacuous
    d = str(tmp_path / "wavfix")
    os.makedirs(d)
    for row in docs:
        raw = row.text.encode("utf-8")
        if len(raw) % 2:
            raw += b"\x00"
        n = len(raw) // 2
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        chunks = (b"fmt " + struct.pack("<I", 16) + fmt
                  + b"data" + struct.pack("<I", len(raw)) + raw)
        payload = (b"RIFF" + struct.pack("<I", 4 + len(chunks))
                   + b"WAVE" + chunks)
        with open(os.path.join(d, f"{row.doc_id}.wav"), "wb") as fh:
            fh.write(payload)
    media = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(d)
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.wav$", 1)
            .cast("bigint").alias("media_id"),
            "content",
        )
    )
    got = {
        r["media_id"]: (
            r["num_channels"], r["sample_rate"], r["bits"],
            r["n_samples"], r["n_frames"], r["total_energy"],
            r["max_frame_energy"],
        )
        for r in wav_energy_table(media, frame_len=64).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    oracle = """
WITH sub AS (
  SELECT doc_id, encode(text) AS raw
  FROM documents WHERE doc_id % 47 = 0 AND text IS NOT NULL
), padded AS (
  SELECT doc_id,
         hex(raw) ||
         CASE WHEN octet_length(raw) % 2 = 1 THEN '00' ELSE '' END
           AS h,
         (octet_length(raw) + octet_length(raw) % 2) // 2 AS n
  FROM sub
), smp AS (
  SELECT doc_id, n, CAST(u.i AS BIGINT) AS i,
         CAST('0x' || substring(h, CAST(u.i*4+3 AS INT), 2) AS BIGINT)
           * 256 +
         CAST('0x' || substring(h, CAST(u.i*4+1 AS INT), 2) AS BIGINT)
           AS u16
  FROM padded, LATERAL unnest(range(0, n)) AS u(i)
), mag AS (
  SELECT doc_id, n, i // 64 AS frame,
         abs(CASE WHEN u16 >= 32768 THEN u16 - 65536 ELSE u16 END)
           AS m
  FROM smp
), fr AS (
  SELECT doc_id, n, frame, CAST(sum(m) AS BIGINT) AS e
  FROM mag GROUP BY 1, 2, 3
)
SELECT doc_id AS media_id, 1 AS num_channels, 8000 AS sample_rate,
       16 AS bits, CAST(n AS BIGINT) AS n_samples,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(e) AS BIGINT) AS total_energy,
       CAST(max(e) AS BIGINT) AS max_frame_energy
FROM fr GROUP BY doc_id, n
"""
    want = {
        r[0]: tuple(r[1:]) for r in con.sql(oracle).fetchall()
    }
    assert got == want


# --- BMP (BI_RGB 24-bit): the r11-late real decoder ---------------------------

def _bmp(w, h, rgb_topdown, topdown=False, pad_byte=0, gap=0):
    """Encode a 24-bit BI_RGB BMP from TOP-DOWN RGB-interleaved
    samples; ``topdown`` picks the storage order (negative height),
    ``pad_byte`` fills the per-row 4-byte padding (contents are
    undefined by the format), ``gap`` inserts junk between the
    headers and the pixel array (the offset field spans it)."""
    import struct

    rowsize = (w * 3 + 3) // 4 * 4
    off = 54 + gap
    raster = bytearray()
    for r in range(h):
        src = r if topdown else h - 1 - r
        for i in range(w):
            base = (src * w + i) * 3
            rgb = rgb_topdown[base:base + 3]
            raster += bytes((rgb[2], rgb[1], rgb[0]))
        raster += bytes([pad_byte]) * (rowsize - w * 3)
    total = off + rowsize * h
    hdr = b"BM" + struct.pack("<IHHI", total, 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if topdown else h), 1, 24, 0,
        rowsize * h, 2835, 2835, 0, 0,
    )
    return hdr + dib + bytes([0xEE]) * gap + bytes(raster)


def test_decode_bmp_bottomup_and_topdown_roundtrip():
    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_bmp,
    )

    sm = bytes(range(36))  # 4x3 RGB, top-down logical order
    assert decode_bmp(_bmp(4, 3, sm, topdown=False)) == (
        "BM24BU", 4, 3, 255, sm,
    )
    assert decode_bmp(_bmp(4, 3, sm, topdown=True)) == (
        "BM24TD", 4, 3, 255, sm,
    )
    # row padding contents and a header->raster gap are both ignored
    assert decode_bmp(_bmp(3, 2, sm[:18], pad_byte=0xAB, gap=5)) == (
        "BM24BU", 3, 2, 255, sm[:18],
    )


def test_decode_bmp_rejects_malformed():
    import struct

    import pytest as _pytest

    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_bmp,
    )

    good = _bmp(2, 2, bytes(range(12)))
    with _pytest.raises(ValueError, match="magic"):
        decode_bmp(b"XX" + good[2:])
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp(good[:40])
    with _pytest.raises(ValueError, match="DIB"):
        decode_bmp(good[:14] + struct.pack("<I", 124) + good[18:])
    with _pytest.raises(ValueError, match="geometry"):
        decode_bmp(good[:18] + struct.pack("<ii", 0, 2) + good[26:])
    with _pytest.raises(ValueError, match="planes"):
        decode_bmp(good[:26] + struct.pack("<H", 3) + good[28:])
    with _pytest.raises(ValueError, match="bit depth"):
        decode_bmp(good[:28] + struct.pack("<H", 32) + good[30:])
    with _pytest.raises(ValueError, match="compressed"):
        decode_bmp(good[:30] + struct.pack("<I", 1) + good[34:])
    with _pytest.raises(ValueError, match="short pixel array"):
        decode_bmp(good[:-1])
    with _pytest.raises(ValueError, match="excess"):
        decode_bmp(good + b"\x00")
    with _pytest.raises(ValueError, match="offset inside header"):
        decode_bmp(good[:10] + struct.pack("<I", 20) + good[14:])


def test_decode_bmp_table_channel_stats_and_resize(spark):
    """Same hand-checked 4x4 RGB gradient as the PPM table test,
    through the shared mapInPandas stage fed by the BMP decoder —
    pins that the extracted _rgb_decode_table arithmetic is the
    gated PPM arithmetic."""
    import numpy as np

    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_bmp_table,
    )

    sm = bytes(range(48))  # 4x4x3 top-down RGB
    media = spark.createDataFrame(
        [
            (9, bytearray(_bmp(4, 4, sm, topdown=False))),
            (10, bytearray(_bmp(4, 4, sm, topdown=True))),
        ],
        "media_id LONG, content BINARY",
    )
    rows = {
        r["media_id"]: r
        for r in decode_bmp_table(media, factor=2).collect()
    }
    g = np.frombuffer(sm, dtype=np.uint8).reshape(4, 4, 3)
    want = tuple(g.sum(axis=(0, 1)))
    rs = (
        g.reshape(2, 2, 2, 2, 3).astype(np.int64).sum(axis=(1, 3)) // 4
    )
    want_rs = tuple(rs.sum(axis=(0, 1)))
    for mid, fmt in ((9, "BM24BU"), (10, "BM24TD")):
        r = rows[mid]
        assert (r["fmt"], r["width"], r["height"], r["n_pixels"]) == (
            fmt, 4, 4, 16,
        )
        assert (r["r_sum"], r["g_sum"], r["b_sum"]) == want
        assert (r["rs_width"], r["rs_height"]) == (2, 2)
        assert (r["rs_r_sum"], r["rs_g_sum"], r["rs_b_sum"]) == want_rs


@_settings(max_examples=40, deadline=None)
@_given(
    w=_st.integers(1, 9),
    h=_st.integers(1, 7),
    topdown=_st.booleans(),
    pad_byte=_st.integers(0, 255),
    gap=_st.integers(0, 7),
    data=_st.data(),
)
def test_decode_bmp_roundtrip_property(w, h, topdown, pad_byte, gap, data):
    """encode(w, h, samples) -> decode is the identity for every
    geometry, both storage orders, any pad-byte contents, and any
    header->raster gap."""
    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_bmp,
    )

    n = w * h * 3
    samples = bytes(
        data.draw(
            _st.lists(_st.integers(0, 255), min_size=n, max_size=n)
        )
    )
    fmt, W, H, mv, sm = decode_bmp(
        _bmp(w, h, samples, topdown=topdown, pad_byte=pad_byte, gap=gap)
    )
    assert (fmt, W, H, mv) == (
        "BM24TD" if topdown else "BM24BU", w, h, 255,
    )
    assert sm == samples


def test_bmp_gate_prevalidation_duckdb_replay(spark, tmp_path):
    """r13-slated gate design pre-validated end-to-end (the WAV-gate
    device, third real-codec member): the doc_id%53 sf0.001 subset
    materializes as real .bmp FILES — bottom-up storage for even
    ids, top-down for odd — whose TOP-DOWN logical samples are the
    padded text's character codes RGB-interleaved, scans back
    through binaryFile into decode_bmp_table, and DuckDB replays the
    whole integer chain (per-channel sums + factor-2 per-channel
    block-mean resize) from the documents table alone. When the gate
    registers, this SQL becomes the oracle verbatim."""
    import duckdb

    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_bmp_table,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(
        (F.col("doc_id") % 53 == 0) & F.col("text").isNotNull()
    ).select("doc_id", "text").collect()
    assert docs  # non-vacuous
    d = str(tmp_path / "bmpfix")
    os.makedirs(d)
    for row in docs:
        nc = len(row.text)
        w, h = nc % 9 + 2, nc % 5 + 2
        n = w * h * 3
        padded = (row.text + "x" * n)[:n]
        codes = [ord(c) for c in padded]
        assert max(codes) <= 255  # single-byte fixture vocabulary
        payload = _bmp(
            w, h, bytes(codes), topdown=(row.doc_id % 2 == 1),
            pad_byte=0x5A,
        )
        with open(os.path.join(d, f"{row.doc_id}.bmp"), "wb") as fh:
            fh.write(payload)
    media = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(d)
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bmp$", 1)
            .cast("bigint").alias("media_id"),
            "content",
        )
    )
    got = {
        r["media_id"]: (
            r["fmt"], r["width"], r["height"], r["maxval"],
            r["n_pixels"], r["r_sum"], r["g_sum"], r["b_sum"],
            r["rs_width"], r["rs_height"],
            r["rs_r_sum"], r["rs_g_sum"], r["rs_b_sum"],
        )
        for r in decode_bmp_table(media, factor=2).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    oracle = """
WITH sub AS (
  SELECT doc_id, text, length(text) AS nc
  FROM documents WHERE doc_id % 53 = 0 AND text IS NOT NULL
), geom AS (
  SELECT doc_id, text, nc % 9 + 2 AS w, nc % 5 + 2 AS h FROM sub
), pix AS (
  SELECT doc_id, w, h,
         CAST(u.i AS BIGINT) // 3 AS q,
         CAST(u.i AS BIGINT) % 3 AS c,
         ascii(substring(rpad(text, CAST(w * h * 3 AS INT), 'x'),
                         CAST(u.i + 1 AS INT), 1)) AS px
  FROM geom, LATERAL unnest(range(0, w * h * 3)) AS u(i)
), st AS (
  SELECT doc_id,
         CAST(sum(px) FILTER (WHERE c = 0) AS BIGINT) AS r_sum,
         CAST(sum(px) FILTER (WHERE c = 1) AS BIGINT) AS g_sum,
         CAST(sum(px) FILTER (WHERE c = 2) AS BIGINT) AS b_sum
  FROM pix GROUP BY 1
), bs AS (
  SELECT doc_id, c, (q // w) // 2 AS br, (q % w) // 2 AS bc,
         CAST(sum(px) // 4 AS BIGINT) AS bm
  FROM pix
  WHERE (q // w) < (h // 2) * 2 AND (q % w) < (w // 2) * 2
  GROUP BY 1, 2, 3, 4
), rs AS (
  SELECT doc_id,
         CAST(sum(bm) FILTER (WHERE c = 0) AS BIGINT) AS rs_r_sum,
         CAST(sum(bm) FILTER (WHERE c = 1) AS BIGINT) AS rs_g_sum,
         CAST(sum(bm) FILTER (WHERE c = 2) AS BIGINT) AS rs_b_sum
  FROM bs GROUP BY 1
)
SELECT g.doc_id AS media_id,
       CASE WHEN g.doc_id % 2 = 0 THEN 'BM24BU' ELSE 'BM24TD' END
         AS fmt,
       CAST(g.w AS INT) AS width,
       CAST(g.h AS INT) AS height,
       CAST(255 AS INT) AS maxval,
       CAST(g.w * g.h AS BIGINT) AS n_pixels,
       st.r_sum, st.g_sum, st.b_sum,
       CAST(g.w // 2 AS INT) AS rs_width,
       CAST(g.h // 2 AS INT) AS rs_height,
       rs.rs_r_sum, rs.rs_g_sum, rs.rs_b_sum
FROM geom g JOIN st USING (doc_id) JOIN rs USING (doc_id)
"""
    want = {
        r[0]: tuple(r[1:]) for r in con.sql(oracle).fetchall()
    }
    assert got == want


@_settings(max_examples=40, deadline=None)
@_given(
    w=_st.integers(1, 9),
    h=_st.integers(1, 7),
    maxval=_st.integers(1, 255),
    binary=_st.booleans(),
    data=_st.data(),
)
def test_decode_pgm_roundtrip_property(w, h, maxval, binary, data):
    """encode -> decode identity for the grayscale family founder
    (r11-late: PPM/WAV/BMP each carry one; PGM now matches), P2 and
    P5 alike — including rasters starting with whitespace bytes."""
    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_pgm,
    )

    n = w * h
    samples = data.draw(
        _st.lists(_st.integers(0, maxval), min_size=n, max_size=n)
    )
    header = f"# c\n{w} {h}\n{maxval}\n"
    if binary:
        payload = b"P5\n" + header.encode() + bytes(samples)
    else:
        payload = (
            "P2\n" + header + " ".join(map(str, samples))
        ).encode()
    fmt, W, H, mv, sm = decode_pgm(payload)
    assert (fmt, W, H, mv) == ("P5" if binary else "P2", w, h, maxval)
    assert sm == bytes(samples)


# --------------------------------------------------------------------------
# perceptual near-dup: aHash over real decoded pixels (slated future
# registration: multimodal_ahash_neardup)
# --------------------------------------------------------------------------

_AHASH_G = 4


def _ahash_oracle_hash_sql(sf_dir: str) -> str:
    g = _AHASH_G
    return f"""
WITH sub AS (
  SELECT doc_id, text, length(text) AS nc
  FROM '{sf_dir}/documents.parquet'
  WHERE doc_id % 41 = 0 AND text IS NOT NULL
), geom AS (
  SELECT doc_id, text, nc % 13 + 3 AS w, nc % 7 + 2 AS h FROM sub
), media AS (
  SELECT doc_id AS media_id, text, w, h FROM geom
  UNION ALL
  SELECT doc_id + 1000000000, text, w, h FROM geom
  WHERE doc_id % 82 = 0
), ok AS (
  SELECT media_id, text, w, h, h // {g} AS fh, w // {g} AS fw
  FROM media WHERE h // {g} > 0 AND w // {g} > 0
), pix AS (
  SELECT media_id, w, h, fh, fw, CAST(u.i AS BIGINT) AS i,
         ascii(substring(rpad(text, CAST(w * h AS INT), 'x'),
                         CAST(u.i + 1 AS INT), 1)) AS px
  FROM ok, LATERAL unnest(range(0, w * h)) AS u(i)
), cells AS (
  SELECT media_id, (i // w) // fh AS cr, (i % w) // fw AS cc,
         CAST(sum(px) // (fh * fw) AS BIGINT) AS m
  FROM pix
  WHERE (i // w) < fh * {g} AND (i % w) < fw * {g}
  GROUP BY media_id, fh, fw, cr, cc
), tot AS (
  SELECT media_id, sum(m) AS total FROM cells GROUP BY 1
), bits AS (
  SELECT c.media_id, cr, cc,
         CASE WHEN c.m * {g * g} > t.total THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot t USING (media_id)
), hv AS (
  SELECT media_id,
         CAST(sum(bit * (CAST(1 AS BIGINT)
              << CAST({g * g} - 1 - (cr * {g} + cc) AS INT)))
           AS BIGINT) AS ahash,
         CAST(sum(bit) AS INT) AS n_set_bits
  FROM bits GROUP BY 1
)
SELECT o.media_id, CAST(o.w AS INT) AS width,
       CAST(o.h AS INT) AS height, hv.ahash, hv.n_set_bits
FROM ok o JOIN hv USING (media_id)
"""


def _write_ahash_fixture(spark, sf_dir: str, dst: str) -> None:
    """The PGM gate's fixture device (doc_id%41, P5 even / P2 odd,
    text chars as pixel bytes) PLUS a byte-identical twin at
    media_id + 1e9 for every doc_id%82 image — guaranteed hamming-0
    near-dup pairs whatever the corpus text looks like."""
    import os
    import shutil

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter((F.col("doc_id") % 41 == 0) & F.col("text").isNotNull())
        .select("doc_id", "text")
        .collect()
    )
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for row in docs:
        nc = len(row.text)
        w, h = nc % 13 + 3, nc % 7 + 2
        padded = (row.text + "x" * (w * h))[: w * h]
        codes = [ord(c) for c in padded]
        assert max(codes) <= 255
        header = f"# ahash fixture\n{w} {h}\n255\n"
        if row.doc_id % 2 == 0:
            payload = b"P5\n" + header.encode("ascii") + bytes(codes)
        else:
            payload = (
                "P2\n" + header + " ".join(map(str, codes))
            ).encode("ascii")
        with open(os.path.join(dst, f"{row.doc_id}.pgm"), "wb") as fh:
            fh.write(payload)
        if row.doc_id % 82 == 0:
            with open(
                os.path.join(dst, f"{row.doc_id + 1000000000}.pgm"),
                "wb",
            ) as fh:
                fh.write(payload)


def test_ahash_gate_prevalidation_duckdb_replay(spark, tmp_path):
    """Future-registration gate pre-validated tri-SF (the WAV/BMP
    device): aHash fingerprints AND banded near-dup pairs vs the
    full DuckDB replay (fixture bytes -> pixels -> block means ->
    mean threshold -> packed hash -> hamming pairs). The pairs
    oracle is the NAIVE quadratic form — equality simultaneously
    proves the banded join's pigeonhole completeness
    (bands=4 > max_hamming=2)."""
    import os

    import duckdb

    from convert_parquet_to_csv_spark.operators.multimodal import (
        ahash_neardup_pairs,
        ahash_table,
    )

    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    for sf, n_imgs in (("sf0.001", 14), ("sf0.01", 9), ("sf0.1", 123)):
        sf_dir = os.path.join(base, sf)
        dst = str(tmp_path / f"ahash_{sf}")
        _write_ahash_fixture(spark, sf_dir, dst)
        media = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.pgm")
            .load(dst)
            .select(
                F.regexp_extract(F.col("path"), r"(\d+)\.pgm$", 1)
                .cast("bigint")
                .alias("media_id"),
                "content",
            )
        )
        ht = ahash_table(media, grid=_AHASH_G)
        got_h = {
            r["media_id"]: (
                r["width"], r["height"], r["ahash"], r["n_set_bits"]
            )
            for r in ht.collect()
        }
        got_p = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in ahash_neardup_pairs(
                ht, grid=_AHASH_G, bands=4, max_hamming=2
            ).collect()
        }
        con = duckdb.connect()
        hsql = _ahash_oracle_hash_sql(sf_dir)
        want_h = {
            r[0]: tuple(r[1:]) for r in con.sql(hsql).fetchall()
        }
        want_p = {
            (r[0], r[1]): r[2]
            for r in con.sql(
                f"""WITH hv AS ({hsql})
SELECT a.media_id, b.media_id,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INT)
FROM hv a JOIN hv b ON a.media_id < b.media_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 2"""
            ).fetchall()
        }
        assert got_h == want_h, sf
        assert len(got_h) == n_imgs, sf
        assert got_p == want_p, sf
        # every %82 twin survives as a hamming-0 pair
        twins = {
            (a, b) for (a, b) in got_p if b - a == 1000000000
        }
        assert all(got_p[t] == 0 for t in twins)
        assert len(twins) >= 1, sf


def test_ahash_packing_hand_computed(spark):
    """MSB-first row-major packing pinned by hand: a 4x4 ramp
    (pixels 0..15, grid=4 -> cells == pixels, total 120) sets
    exactly the cells 8..15 (16*i > 120 iff i >= 8), so the hash is
    the low byte 0x00FF = 255 and n_set_bits = 8."""
    from convert_parquet_to_csv_spark.operators.multimodal import (
        ahash_table,
    )

    payload = b"P5\n4 4\n255\n" + bytes(range(16))
    media = spark.createDataFrame(
        [(7, bytearray(payload))], "media_id LONG, content BINARY"
    )
    rows = ahash_table(media, grid=4).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["width"], r["height"], r["ahash"], r["n_set_bits"]) == (
        4, 4, 255, 8,
    )


def test_ahash_color_luma_hand_computed(spark):
    """Color payloads hash via integer luma (per-pixel channel mean):
    a P6 whose pixel i carries channels (i, i+1, i+2) has luma
    (3i+3)//3 = i+1 — a shifted ramp, same mean-threshold pattern as
    the grayscale ramp, so the hash is again 0x00FF."""
    from convert_parquet_to_csv_spark.operators.multimodal import (
        ahash_table,
        decode_ppm,
    )

    rgb = bytes(
        b for i in range(16) for b in (i, i + 1, i + 2)
    )
    payload = b"P6\n4 4\n255\n" + rgb
    media = spark.createDataFrame(
        [(9, bytearray(payload))], "media_id LONG, content BINARY"
    )
    rows = ahash_table(media, grid=4, decoder=decode_ppm).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["width"], r["height"], r["ahash"], r["n_set_bits"]) == (
        4, 4, 255, 8,
    )


def test_ahash_hypothesis_vs_loop_reference():
    """Decoder-family hypothesis pattern: ahash_of vs an independent
    numpy-free pure-int reference over random geometry, channel
    count, grid and pixel bytes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from convert_parquet_to_csv_spark.operators.multimodal import (
        ahash_of,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(1, 12),  # w
        st.integers(1, 12),  # h
        st.sampled_from([1, 2, 3, 4]),  # grid
        st.sampled_from([1, 3]),  # channels
        st.data(),
    )
    def run(w, h, g, nch, data):
        raw = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * nch,
                    max_size=w * h * nch,
                )
            )
        )
        got = ahash_of(raw, w, h, g)
        fh, fw = h // g, w // g
        if fh == 0 or fw == 0:
            assert got is None
            return
        # independent reference: plain loops, ints only
        luma = [
            sum(raw[p * nch + c] for c in range(nch)) // nch
            for p in range(w * h)
        ]
        cells = []
        for cr in range(g):
            for cc in range(g):
                s = 0
                for r in range(cr * fh, (cr + 1) * fh):
                    for c in range(cc * fw, (cc + 1) * fw):
                        s += luma[r * w + c]
                cells.append(s // (fh * fw))
        total = sum(cells)
        bits = [1 if m * g * g > total else 0 for m in cells]
        hv = 0
        for b in bits:
            hv = (hv << 1) | b
        assert got == (hv, sum(bits))

    run()


def test_ahash_max_bucket_drops_never_corrupts(spark):
    """The r12 hot-bucket guard (VERDICT r11 item 1): capping a
    popular (band, value) bucket may only DROP pairs — surviving
    pairs must be exactly a subset of the uncapped answer with
    identical exact hamming — and pairs whose every agreeing band
    is hot vanish while cold-bucket pairs survive. Mirrors
    lsh_candidate_pairs' max_bucket contract (dedup._bucket_pairs)."""
    from convert_parquet_to_csv_spark.operators.multimodal import (
        ahash_neardup_pairs,
    )

    # 12 hashes sharing bands 0..2 (hot at cap 8) and distinct in
    # band 3 (cold but valueless for joining), plus one twin pair in
    # a fully cold bucket.
    rows = [(i, 0xA000 | i) for i in range(12)]
    rows += [(100, 0x1234), (101, 0x1234)]
    hashes = spark.createDataFrame(rows, "media_id long, ahash long")

    def naive(rows, max_hamming=2):
        out = {}
        for ia, ha in rows:
            for ib, hb in rows:
                if ia < ib and bin(ha ^ hb).count("1") <= max_hamming:
                    out[(ia, ib)] = bin(ha ^ hb).count("1")
        return out

    want = naive(rows)
    got_uncapped = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_neardup_pairs(
            hashes, grid=4, bands=4, max_hamming=2, max_bucket=None
        ).collect()
    }
    # bands=4 > max_hamming=2: pigeonhole-complete == the quadratic
    assert got_uncapped == want
    # default cap (1000) leaves this tiny corpus untouched
    got_default = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_neardup_pairs(
            hashes, grid=4, bands=4, max_hamming=2
        ).collect()
    }
    assert got_default == want

    got_capped = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_neardup_pairs(
            hashes, grid=4, bands=4, max_hamming=2, max_bucket=8
        ).collect()
    }
    # drops only, never corrupts: subset with identical hamming
    assert set(got_capped) <= set(want)
    assert all(got_capped[p] == want[p] for p in got_capped)
    # the cold-bucket twins survive the cap...
    assert got_capped[(100, 101)] == 0
    # ...and the hot-band cluster's pairs are dropped (their every
    # agreeing band — 0, 1, 2 — holds all 12 members > cap 8)
    assert all(a == 100 for (a, b) in got_capped)
    assert len(want) > len(got_capped)


# --- PNG (8-bit non-interlaced, zlib-compressed): the r12 real codec --------

def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png(w, h, samples, color=True, filters=None, split_idat=1,
         ancillary=False):
    """Encode a REAL PNG (8-bit gray or RGB, non-interlaced) from
    row-major top-down samples, applying the requested per-row
    filter types (default all 0) before zlib compression —
    ``filters`` exercises the decoder's five defilter paths;
    ``split_idat`` splits the compressed stream into that many
    consecutive IDAT chunks; ``ancillary`` inserts a tEXt chunk."""
    import struct
    import zlib

    bpp = 3 if color else 1
    stride = w * bpp
    filters = filters or [0] * h
    raw = bytearray()
    prev = bytes(stride)
    for r in range(h):
        line = samples[r * stride : (r + 1) * stride]
        f = filters[r]
        enc = bytearray(line)
        if f == 1:
            for i in range(stride - 1, bpp - 1, -1):
                enc[i] = (enc[i] - line[i - bpp]) & 0xFF
        elif f == 2:
            for i in range(stride):
                enc[i] = (enc[i] - prev[i]) & 0xFF
        elif f == 3:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                enc[i] = (enc[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = (
                    a if pa <= pb and pa <= pc
                    else (b if pb <= pc else c)
                )
                enc[i] = (enc[i] - pred) & 0xFF
        raw.append(f)
        raw += enc
        prev = line
    comp = zlib.compress(bytes(raw))
    step = max(1, (len(comp) + split_idat - 1) // split_idat)
    idats = b"".join(
        _png_chunk(b"IDAT", comp[i : i + step])
        for i in range(0, len(comp), step)
    ) or _png_chunk(b"IDAT", b"")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if color else 0, 0, 0, 0)
    anc = _png_chunk(b"tEXt", b"k\x00v") if ancillary else b""
    return (
        b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr) + anc
        + idats + _png_chunk(b"IEND", b"")
    )


def test_decode_png_gray_and_rgb_all_filters():
    """Hand roundtrip through every filter type, both color types,
    split IDAT, and an ancillary chunk."""
    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_png,
    )

    w, h = 4, 5
    gray = bytes(range(7, 7 + w * h))
    fmt, W, H, mv, sm = decode_png(
        _png(w, h, gray, color=False, filters=[0, 1, 2, 3, 4])
    )
    assert (fmt, W, H, mv, sm) == ("PNG8G", w, h, 255, gray)
    rgb = bytes((i * 11) % 256 for i in range(w * h * 3))
    fmt, W, H, mv, sm = decode_png(
        _png(w, h, rgb, color=True, filters=[4, 3, 2, 1, 0],
             split_idat=3, ancillary=True)
    )
    assert (fmt, W, H, mv, sm) == ("PNG8RGB", w, h, 255, rgb)


def test_decode_png_rejects_malformed():
    """The family strictness contract for the compressed member."""
    import struct
    import zlib

    import pytest as _pytest

    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_png,
    )

    w, h = 3, 2
    rgb = bytes(range(w * h * 3))
    good = _png(w, h, rgb)

    def bad(mutant, match):
        with _pytest.raises(ValueError, match=match):
            decode_png(mutant)

    bad(b"JFIF" + good[4:], "signature")
    bad(good[:-1], "missing CRC|truncated")
    bad(good + b"\x00", "excess bytes")
    # flip one IDAT payload byte -> CRC mismatch
    at = good.index(b"IDAT") + 4
    bad(good[:at] + bytes([good[at] ^ 0xFF]) + good[at + 1 :],
        "CRC mismatch")
    # 16-bit depth / palette / interlaced all refuse
    for field, val, match in (
        (8, 16, "bit depth"), (9, 3, "color type"),
        (12, 1, "interlaced"),
    ):
        ihdr = bytearray(
            struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        )
        ihdr[field] = val
        bad(
            b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", bytes(ihdr))
            + good[8 + 25 :],
            match,
        )
    # short decompressed raster: drop the last row from the stream
    raw = bytearray()
    for r in range(h):
        raw.append(0)
        raw += rgb[r * w * 3 : (r + 1) * w * 3]
    comp_short = zlib.compress(bytes(raw[: -(w * 3 + 1)]))
    bad(
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        )
        + _png_chunk(b"IDAT", comp_short) + _png_chunk(b"IEND", b""),
        "decompressed size",
    )
    # unknown CRITICAL chunk refuses; same chunk as ancillary passes
    crit = _png_chunk(b"ZZZZ", b"x")
    at = good.index(b"IDAT") - 4
    bad(good[:at] + crit + good[at:], "critical chunk")
    anc = _png_chunk(b"zZZZ", b"x")
    fmt, W, H, mv, sm = decode_png(good[:at] + anc + good[at:])
    assert sm == rgb
    # non-consecutive IDAT runs refuse
    two = _png(w, h, rgb, split_idat=2)
    first_end = two.index(b"IDAT") - 4
    second = two.index(b"IDAT", first_end + 8) - 4
    interposed = two[:second] + anc + two[second:]
    bad(interposed, "consecutive")


@_settings(max_examples=40, deadline=None)
@_given(
    w=_st.integers(1, 9),
    h=_st.integers(1, 7),
    color=_st.booleans(),
    split_idat=_st.integers(1, 3),
    data=_st.data(),
)
def test_decode_png_roundtrip_property(w, h, color, split_idat, data):
    """encode(w, h, samples, filters) -> decode is the identity for
    every geometry, both color types, any per-row filter-type
    sequence, and any IDAT split — the compressed member of the
    decoder family carries the same roundtrip pin as its siblings."""
    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_png,
    )

    n = w * h * (3 if color else 1)
    samples = bytes(
        data.draw(
            _st.lists(_st.integers(0, 255), min_size=n, max_size=n)
        )
    )
    filters = data.draw(
        _st.lists(_st.integers(0, 4), min_size=h, max_size=h)
    )
    fmt, W, H, mv, sm = decode_png(
        _png(w, h, samples, color=color, filters=filters,
             split_idat=split_idat)
    )
    assert (fmt, W, H, mv) == (
        "PNG8RGB" if color else "PNG8G", w, h, 255,
    )
    assert sm == samples


def test_png_gate_prevalidation_duckdb_replay(spark, tmp_path):
    """Future-registration gate design pre-validated end-to-end (the
    WAV/BMP device, now through a REAL zlib inflate + defilter): the
    doc_id%59 sf0.001 subset materializes as real .png FILES — RGB,
    per-row filter types cycling (doc_id + row) % 5 so every
    defilter path runs — whose logical samples are the padded text's
    character codes RGB-interleaved; scans back through binaryFile
    into decode_png_table, and DuckDB replays the whole integer
    chain from the documents table alone. When the gate registers,
    this SQL becomes the oracle verbatim."""
    import duckdb

    from convert_parquet_to_csv_spark.operators.multimodal import (
        decode_png_table,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(
        (F.col("doc_id") % 59 == 0) & F.col("text").isNotNull()
    ).select("doc_id", "text").collect()
    assert docs  # non-vacuous
    d = str(tmp_path / "pngfix")
    os.makedirs(d)
    for row in docs:
        nc = len(row.text)
        w, h = nc % 8 + 2, nc % 6 + 2
        n = w * h * 3
        padded = (row.text + "x" * n)[:n]
        codes = [ord(c) for c in padded]
        assert max(codes) <= 255  # single-byte fixture vocabulary
        payload = _png(
            w, h, bytes(codes), color=True,
            filters=[(row.doc_id + r) % 5 for r in range(h)],
            split_idat=row.doc_id % 3 + 1,
        )
        with open(os.path.join(d, f"{row.doc_id}.png"), "wb") as fh:
            fh.write(payload)
    media = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(d)
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.png$", 1)
            .cast("bigint").alias("media_id"),
            "content",
        )
    )
    got = {
        r["media_id"]: (
            r["fmt"], r["width"], r["height"], r["maxval"],
            r["n_pixels"], r["r_sum"], r["g_sum"], r["b_sum"],
            r["rs_width"], r["rs_height"],
            r["rs_r_sum"], r["rs_g_sum"], r["rs_b_sum"],
        )
        for r in decode_png_table(media, factor=2).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    oracle = """
WITH sub AS (
  SELECT doc_id, text, length(text) AS nc
  FROM documents WHERE doc_id % 59 = 0 AND text IS NOT NULL
), geom AS (
  SELECT doc_id, text, nc % 8 + 2 AS w, nc % 6 + 2 AS h FROM sub
), pix AS (
  SELECT doc_id, w, h,
         CAST(u.i AS BIGINT) // 3 AS q,
         CAST(u.i AS BIGINT) % 3 AS c,
         ascii(substring(rpad(text, CAST(w * h * 3 AS INT), 'x'),
                         CAST(u.i + 1 AS INT), 1)) AS px
  FROM geom, LATERAL unnest(range(0, w * h * 3)) AS u(i)
), st AS (
  SELECT doc_id,
         CAST(sum(px) FILTER (WHERE c = 0) AS BIGINT) AS r_sum,
         CAST(sum(px) FILTER (WHERE c = 1) AS BIGINT) AS g_sum,
         CAST(sum(px) FILTER (WHERE c = 2) AS BIGINT) AS b_sum
  FROM pix GROUP BY 1
), bs AS (
  SELECT doc_id, c, (q // w) // 2 AS br, (q % w) // 2 AS bc,
         CAST(sum(px) // 4 AS BIGINT) AS bm
  FROM pix
  WHERE (q // w) < (h // 2) * 2 AND (q % w) < (w // 2) * 2
  GROUP BY 1, 2, 3, 4
), rs AS (
  SELECT doc_id,
         CAST(sum(bm) FILTER (WHERE c = 0) AS BIGINT) AS rs_r_sum,
         CAST(sum(bm) FILTER (WHERE c = 1) AS BIGINT) AS rs_g_sum,
         CAST(sum(bm) FILTER (WHERE c = 2) AS BIGINT) AS rs_b_sum
  FROM bs GROUP BY 1
)
SELECT g.doc_id AS media_id,
       'PNG8RGB' AS fmt,
       CAST(g.w AS INT) AS width,
       CAST(g.h AS INT) AS height,
       CAST(255 AS INT) AS maxval,
       CAST(g.w * g.h AS BIGINT) AS n_pixels,
       st.r_sum, st.g_sum, st.b_sum,
       CAST(g.w // 2 AS INT) AS rs_width,
       CAST(g.h // 2 AS INT) AS rs_height,
       rs.rs_r_sum, rs.rs_g_sum, rs.rs_b_sum
FROM geom g JOIN st USING (doc_id) JOIN rs USING (doc_id)
"""
    want = {
        r[0]: tuple(r[1:]) for r in con.sql(oracle).fetchall()
    }
    assert got == want
    # ahash over the PNG decoder: channel inference handles RGB
    from convert_parquet_to_csv_spark.operators.multimodal import (
        ahash_table, decode_png,
    )

    ah = ahash_table(media, grid=2, decoder=decode_png).collect()
    assert len(ah) == len(got)
