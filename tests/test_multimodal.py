"""Real-format decoders (extensions/multimodal.py): P6 PPM and RIFF/WAVE
parsed from raw bytes, plus the hostile-input behavior a 100 TB media
pipeline needs (malformed payloads must fail loudly, not mis-decode)."""

from __future__ import annotations

import struct

import pytest

from databricks_sales_etl_pipeline_spark.extensions.multimodal import (
    decode_ppm,
    decode_wav,
    make_ppm,
    make_video,
    make_wav,
    video_container,
    video_frames,
)


def test_ppm_roundtrip_stats():
    p = make_ppm(7)
    meta = decode_ppm(p)
    w, h = 7 % 16 + 1, (7 * 3) % 12 + 1
    raster = bytes((7 * 31 + i * 7) % 256 for i in range(w * h * 3))
    assert meta == {
        "width": w,
        "height": h,
        "maxval": 255,
        "pixel_sum": sum(raster),
        "pixel_min": min(raster),
        "pixel_max": max(raster),
    }


def test_ppm_header_comments_and_whitespace():
    # comments may appear between any header tokens (netpbm spec)
    raster = bytes(range(2 * 1 * 3))
    p = b"P6 # trailing\n# full line\n 2\n# mid\n1\t255\n" + raster
    meta = decode_ppm(p)
    assert (meta["width"], meta["height"], meta["maxval"]) == (2, 1, 255)
    assert meta["pixel_sum"] == sum(raster)


def test_ppm_rejects_bad_magic_and_truncation():
    with pytest.raises(ValueError, match="not a P6"):
        decode_ppm(b"P5\n1 1\n255\n\x00")
    good = make_ppm(3)
    with pytest.raises(ValueError, match="raster"):
        decode_ppm(good[:-1])
    with pytest.raises(ValueError, match="raster"):
        decode_ppm(good + b"\x00")


def test_wav_roundtrip_stats():
    p = make_wav(11)
    meta = decode_wav(p)
    n = (11 % 50 + 1) * 16
    samples = [((11 * 13 + i * 5) % 4096) - 2048 for i in range(n)]
    assert meta == {
        "sample_rate": 8000 + (11 % 3) * 4000,
        "n_channels": 1,
        "bits": 16,
        "n_samples": n,
        "abs_sum": sum(abs(s) for s in samples),
        "peak": max(abs(s) for s in samples),
    }


def test_wav_chunk_order_and_padding():
    # data before fmt, plus an unknown odd-sized chunk that forces the
    # word-alignment pad — a chunk-walking decoder must handle both
    data = struct.pack("<4h", 100, -200, 300, -400)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    junk = b"junk" + struct.pack("<I", 3) + b"abc\x00"  # 3 bytes + pad
    body = (
        b"WAVE"
        + b"data" + struct.pack("<I", len(data)) + data
        + junk
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    p = b"RIFF" + struct.pack("<I", len(body)) + body
    meta = decode_wav(p)
    assert meta["n_samples"] == 4
    assert meta["abs_sum"] == 1000
    assert meta["peak"] == 400


def test_wav_rejects_malformed():
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"RIFX" + b"\x00" * 40)
    good = make_wav(2)
    with pytest.raises(ValueError, match="size"):
        decode_wav(good[:-2])  # truncation breaks the declared RIFF size
    # non-PCM format code must be refused, not mis-read
    bad_fmt = struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="PCM"):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_video_roundtrip_and_rejects_malformed():
    frames = [b"one", b"", b"three"]
    assert video_frames(video_container(frames)) == frames
    good = make_video(5)
    assert len(video_frames(good)) == 5 % 4 + 4
    with pytest.raises(ValueError, match="magic"):
        video_frames(b"VID1" + good[4:])
    with pytest.raises(ValueError, match="trailing"):
        video_frames(good + b"\x00")
    # the last frame's declared length runs past the end of the payload
    with pytest.raises(ValueError, match="past the end"):
        video_frames(good[:-1])
    with pytest.raises(ValueError, match="past the end"):
        video_frames(b"VID0" + struct.pack("<II", 1, 99) + b"short")
    with pytest.raises(ValueError, match="truncated"):
        video_frames(b"VID0")
    with pytest.raises(ValueError, match="truncated"):
        video_frames(video_container([b"a"])[:10])
