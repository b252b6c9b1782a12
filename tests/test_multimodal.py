"""Multimodal plumbing: binary columns through mapInPandas with typed
schemas, the shared decode pass's null contract, the JVM-side byte
builders, and the real PNG/JPEG/WAV codecs."""

from __future__ import annotations

import pytest

from cs422pp_mapreduce_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    encode_fake_image,
    extract_image_meta,
    media_metadata_filter_then_decode,
    sample_frames,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, encode_fake_image(1, 640, 480), "image/fake"),
        (2, encode_fake_image(2, 4, 4, 1), "image/fake"),  # 9+16=25 bytes
        (3, b"not-an-image", "application/octet-stream"),
        (4, None, "image/fake"),
    ]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def test_extract_image_meta(spark, media_df):
    got = {r["media_id"]: r for r in extract_image_meta(media_df).collect()}
    assert got[1]["width"] == 640 and got[1]["height"] == 480
    assert got[2]["channels"] == 1
    assert got[3]["ok"] is False and got[3]["width"] is None
    assert got[4]["ok"] is False and got[4]["n_bytes"] == 0


@pytest.mark.parametrize(
    "kernel", ["image", "audio", "video", "png", "jpeg"]
)
def test_meta_kernel_nulls_undecodable_blobs(spark, media_df, kernel):
    """Every metadata kernel maps a blob it cannot decode (garbage
    bytes, or a null blob) to ok=False with every decoded field null;
    n_bytes still counts the blob (0 when null) and PNG's crc_ok reads
    False, not null."""
    from cs422pp_mapreduce_spark.operators import multimodal as mm

    extract = getattr(mm, f"extract_{kernel}_meta")
    malformed = media_df.where(media_df.media_id.isin(3, 4))
    got = {r["media_id"]: r.asDict() for r in extract(malformed).collect()}
    assert set(got) == {3, 4}
    for mid, n_bytes in ((3, len(b"not-an-image")), (4, 0)):
        row = got[mid]
        del row["media_id"]
        assert row.pop("ok") is False
        if "n_bytes" in row:
            assert row.pop("n_bytes") == n_bytes
        if kernel == "png":
            assert row.pop("crc_ok") is False
        assert row and all(v is None for v in row.values()), row


def test_hex_byte_builders_match_struct_pack(spark):
    """_hex_le / _hex_be spell a value as n bytes exactly as struct
    packs it, at the byte-boundary edge values of each width."""
    import struct

    from pyspark.sql import functions as F

    from cs422pp_mapreduce_spark.operators.multimodal import _hex_be, _hex_le

    cases = [
        (v, n, code)
        for n, code in ((1, "B"), (2, "H"), (4, "I"))
        for v in (0, 255, 256, 65535, 2**32 - 1)
        if v < 256**n
    ]
    cols = [
        F.unhex(build(F.lit(v), n))
        for v, n, _ in cases
        for build in (_hex_le, _hex_be)
    ]
    got = spark.range(1).select(*cols).collect()[0]
    want = [
        struct.pack(order + code, v)
        for v, _, code in cases
        for order in ("<", ">")
    ]
    assert [bytes(b) for b in got] == want


def test_metadata_filter_prunes_before_decode(spark, media_df):
    got = media_metadata_filter_then_decode(media_df, min_bytes=50).collect()
    # only the 640x480 blob (9 header + 64 payload bytes) passes ≥50
    assert [r["media_id"] for r in got] == [1]


def test_sample_frames_shape(spark, media_df):
    frames = sample_frames(media_df, every_nth=4).collect()
    assert all(len(r["frame"]) == 1 for r in frames)
    ids = {r["media_id"] for r in frames}
    assert ids == {1, 2}  # undecodable blobs contribute no frames


def test_media_meta_contract_query(spark, sf_dir):
    """q_media_meta parses what synth_media built: cross-check against
    a pure-Python recomputation of the blob layout from doc_id."""
    from cs422pp_mapreduce_spark.operators.multimodal import q_media_meta

    got = {r["media_id"]: r for r in q_media_meta(spark, sf_dir).collect()}
    assert got and all(r["ok"] for r in got.values())
    for did, r in got.items():
        assert r["width"] == 16 + did % 485
        assert r["height"] == 16 + (did * 7) % 485
        assert r["channels"] == 1 + did % 4
        assert r["n_bytes"] == 10 + did % 8


def test_media_to_embedding_to_similarity(spark):
    """The full multimodal story: blob → (stub) feature extraction →
    embedding column → the engine's similarity operators. The feature
    extractor is a deterministic fake; the plumbing (mapInPandas,
    array<float> column, cosine ranking) is the real production path."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cs422pp_mapreduce_spark.operators.similarity import cosine

    rows = [(i, encode_fake_image(i, 16 + i, 16), "image/fake") for i in range(20)]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)

    emb_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def embed(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for blob in pdf["blob"]:
                rng = np.random.default_rng(len(blob))  # deterministic fake
                out.append(rng.standard_normal(8).astype(np.float32).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "embedding": out})

    embedded = media.mapInPandas(embed, schema=emb_schema)
    q = embedded.where(F.col("media_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qvec")
    )
    ranked = (
        embedded.where(F.col("media_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "media_id",
            cosine(
                F.col("embedding").cast("array<double>"), F.col("qvec")
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "media_id")
        .limit(5)
        .collect()
    )
    assert len(ranked) == 5
    sims = [r["sim"] for r in ranked]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_wav_decode_parses_python_built_header():
    # build a canonical PCM WAV header with struct (independent of the
    # Spark-side hex builder) and require exact field recovery
    import struct

    from cs422pp_mapreduce_spark.operators.multimodal import decode_wav_stub

    ch, sr, bits, n_samples = 2, 22050, 16, 123
    data_size = n_samples * ch * (bits // 8)
    blob = (
        b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sr,
                                sr * ch * bits // 8, ch * bits // 8, bits)
        + b"data" + struct.pack("<I", data_size) + b"\x00" * 8
    )
    got = decode_wav_stub(blob)
    assert got == {
        "n_channels": ch, "sample_rate": sr, "bits_per_sample": bits,
        "n_samples": n_samples,
        "duration_us": n_samples * 1_000_000 // sr,
    }
    assert decode_wav_stub(b"RIFX" + blob[4:]) is None
    assert decode_wav_stub(blob[:40]) is None
    assert decode_wav_stub(None) is None


def test_synth_audio_roundtrip_through_spark(spark, sf_dir):
    from cs422pp_mapreduce_spark.operators.multimodal import q_audio_meta

    rows = q_audio_meta(spark, sf_dir).collect()
    assert rows and all(r.ok for r in rows)
    for r in rows[:50]:
        assert r.n_channels == 1 + r.media_id % 2
        assert r.sample_rate == (8000, 16000, 22050, 44100)[r.media_id % 4]
        assert r.n_samples == 100 + r.media_id % 50
        assert r.duration_us == r.n_samples * 1_000_000 // r.sample_rate


def test_video_decode_parses_struct_built_header():
    import struct

    from cs422pp_mapreduce_spark.operators.multimodal import decode_video_stub

    blob = b"VID0" + struct.pack("<HHBH", 320, 240, 25, 500) + b"\x01" * 8
    assert decode_video_stub(blob) == {
        "width": 320, "height": 240, "fps": 25, "n_frames": 500,
        "duration_ms": 500 * 1000 // 25,
    }
    assert decode_video_stub(b"IMG0" + blob[4:]) is None
    assert decode_video_stub(blob[:10]) is None
    assert decode_video_stub(None) is None


def test_synth_video_roundtrip_through_spark(spark, sf_dir):
    from cs422pp_mapreduce_spark.operators.multimodal import q_video_meta

    rows = q_video_meta(spark, sf_dir).collect()
    assert rows and all(r.ok for r in rows)
    for r in rows[:50]:
        assert r.width == 64 + (r.media_id % 16) * 16
        assert r.height == 48 + (r.media_id % 9) * 16
        assert r.fps == (24, 25, 30)[r.media_id % 3]
        assert r.n_frames == 100 + r.media_id % 200
        assert r.duration_ms == r.n_frames * 1000 // r.fps


# --- r08: real JPEG pixel codec (baseline sequential grayscale) ---


def _jpeg_expected_gray(v: int) -> int:
    """The closed-form quantization round-trip for a constant block —
    the same arithmetic the DuckDB oracle replays (oracles.py
    _image_jpeg_ahash_sql)."""
    from cs422pp_mapreduce_spark.operators.multimodal import (
        JPEG_QTAB,
        _IDCT_K,
    )

    a = 8 * (v - 128)
    q0 = JPEG_QTAB[0]
    dcq = int(abs(a) / q0 + 0.5) * (1 if a >= 0 else -1)
    val = ((dcq * q0 * _IDCT_K[0][0] ** 2 + (1 << 29)) >> 30) + 128
    return min(255, max(0, val))


def test_jpeg_planted_blocks_decode_to_closed_form():
    from cs422pp_mapreduce_spark.operators.multimodal import (
        JPEG16_SIDE,
        decode_jpeg_gray,
        encode_jpeg_gray,
        jpeg_block_values,
    )

    for doc in (0, 1, 17, 256, 1234, 99999):
        vals = jpeg_block_values(doc)
        raster = [
            vals[(y // 8) * 2 + (x // 8)]
            for y in range(JPEG16_SIDE)
            for x in range(JPEG16_SIDE)
        ]
        w, h, px = decode_jpeg_gray(
            encode_jpeg_gray(raster, JPEG16_SIDE, JPEG16_SIDE)
        )
        assert (w, h) == (JPEG16_SIDE, JPEG16_SIDE)
        exp = [
            _jpeg_expected_gray(vals[(y // 8) * 2 + (x // 8)])
            for y in range(JPEG16_SIDE)
            for x in range(JPEG16_SIDE)
        ]
        assert px == exp


def test_jpeg_general_raster_roundtrip_accuracy():
    """The codec must be spec-general, not planted-shape-only: a
    smooth gradient (JPEG's good case) reconstructs within a few
    levels; the fixed-point IDCT agrees with a float IDCT reference
    within ±1 on every pixel of a structured raster."""
    import math
    import random

    from cs422pp_mapreduce_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    grad = [min(255, x * 8 + y) for y in range(16) for x in range(16)]
    w, h, out = decode_jpeg_gray(encode_jpeg_gray(grad, 16, 16))
    assert (w, h) == (16, 16)
    assert max(abs(a - b) for a, b in zip(out, grad)) <= 12
    assert sum(abs(a - b) for a, b in zip(out, grad)) / 256 <= 2.0

    # multi-block 32×24 with DC chains across blocks (checker + noise)
    random.seed(11)
    raster = [
        (128 + (60 if ((x // 8 + y // 8) % 2) else -60) + random.randrange(-8, 9))
        for y in range(24)
        for x in range(32)
    ]
    w, h, out = decode_jpeg_gray(encode_jpeg_gray(raster, 32, 24))
    assert (w, h) == (32, 24)
    # block means survive quantization well even when texture doesn't
    for by in range(3):
        for bx in range(4):
            src = [raster[(by * 8 + y) * 32 + bx * 8 + x] for y in range(8) for x in range(8)]
            dec = [out[(by * 8 + y) * 32 + bx * 8 + x] for y in range(8) for x in range(8)]
            assert abs(sum(src) / 64 - sum(dec) / 64) <= 4

    # fixed-point IDCT vs float reference: decode one block's coefs by
    # hand through a float IDCT and compare
    from cs422pp_mapreduce_spark.operators.multimodal import (
        _FCOS,
        _IDCT_K,
    )

    coef = [0] * 64
    coef[0], coef[1], coef[8], coef[9] = 400, -73, 55, 17
    flt = [
        0.25
        * sum(
            coef[u * 8 + v] * _FCOS[u][x] * _FCOS[v][y]
            for u in range(8)
            for v in range(8)
        )
        for y in range(8)
        for x in range(8)
    ]
    tmp = [
        [sum(coef[u * 8 + v] * _IDCT_K[v][y] for v in range(8)) for y in range(8)]
        for u in range(8)
    ]
    fix = [
        (sum(tmp[u][y] * _IDCT_K[u][x] for u in range(8)) + (1 << 29)) >> 30
        for y in range(8)
        for x in range(8)
    ]
    assert max(abs(f - round(g)) for f, g in zip(fix, flt)) <= 1


def test_jpeg_decoder_negative_space():
    from cs422pp_mapreduce_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    blob = encode_jpeg_gray([128] * 256, 16, 16)
    assert decode_jpeg_gray(None) is None
    assert decode_jpeg_gray(b"") is None
    assert decode_jpeg_gray(b"\x89PNG\r\n\x1a\n") is None
    assert decode_jpeg_gray(blob[:40]) is None  # truncated in headers
    assert decode_jpeg_gray(blob[: len(blob) // 2]) is None  # truncated scan
    prog = bytearray(blob)
    sof = blob.index(b"\xff\xc0")
    prog[sof + 1] = 0xC2  # claim progressive
    assert decode_jpeg_gray(bytes(prog)) is None
    nodht = blob[: blob.index(b"\xff\xc4")] + blob[blob.index(b"\xff\xda") :]
    assert decode_jpeg_gray(nodht) is None  # scan without Huffman tables
    # corrupt a DQT precision nibble
    dqt = bytearray(blob)
    at = blob.index(b"\xff\xdb")
    dqt[at + 4] = 0x10  # 16-bit quant precision unsupported
    assert decode_jpeg_gray(bytes(dqt)) is None
    # crafted SOF0 dims (ADVICE r08): a tiny blob declaring a
    # 65535x65535 frame must return None BEFORE allocating the ~4.3e9
    # pixel raster — the dims/scan-length guard, not MemoryError
    huge = bytearray(blob)
    sof_at = blob.index(b"\xff\xc0")
    huge[sof_at + 5 : sof_at + 9] = b"\xff\xff\xff\xff"  # h=w=65535
    assert decode_jpeg_gray(bytes(huge)) is None
    # and a large-but-under-cap frame with a scan far too short for
    # its MCU count trips the scan-length side of the guard
    big = bytearray(blob)
    big[sof_at + 5 : sof_at + 9] = b"\x0f\xff\x0f\xff"  # 4095x4095 < 2^24
    assert decode_jpeg_gray(bytes(big)) is None


def test_jpeg_ahash_query_matches_local_recompute(spark, sf_dir):
    """q_image_jpeg_ahash through Spark equals a driver-side recompute
    from the closed form, and dup groups collapse to one hash row."""
    from cs422pp_mapreduce_spark.operators.multimodal import (
        IMG_GROUPS,
        jpeg_block_values,
        q_image_jpeg_ahash,
    )
    from cs422pp_mapreduce_spark.sources.catalog import load_table

    rows = {
        r["ahash"]: (r["n_images"], r["min_media_id"], r["max_media_id"])
        for r in q_image_jpeg_ahash(spark, sf_dir).collect()
    }
    doc_ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]

    def ahash_of(doc: int) -> str:
        grays = [_jpeg_expected_gray(v) for v in jpeg_block_values(doc)]
        pp = [4 * grays[((k // 8) // 4) * 2 + (k % 8) // 4] for k in range(64)]
        total = sum(pp)
        return "".join(
            "0123456789abcdef"[
                sum(
                    (8 >> j) * (1 if pp[4 * k + j] * 64 > total else 0)
                    for j in range(4)
                )
            ]
            for k in range(16)
        )

    expect: dict = {}
    for d in doc_ids:
        hsh = ahash_of(d)
        n, lo, hi = expect.get(hsh, (0, d, d))
        expect[hsh] = (n + 1, min(lo, d), max(hi, d))
    assert rows == expect
    # same dup group -> same hash (planted exact-dup contract)
    groups = {}
    for d in doc_ids:
        groups.setdefault(d % IMG_GROUPS, []).append(d)
    some = [g for g, ds in groups.items() if len(ds) >= 2][:5]
    for g in some:
        ds = groups[g]
        assert len({ahash_of(d) for d in ds}) == 1
