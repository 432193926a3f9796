"""Multimodal columns (BASELINE.json north star): image/audio/video as
opaque ``binary`` columns with typed metadata.

The decode step is REAL for the two classic dependency-free container
formats — binary P6 PPM (netpbm) and RIFF/WAVE PCM — parsed byte-by-byte
in pure Python inside the Arrow-batched ``mapInPandas`` stage. The older
deterministic fake (``fake_decode`` / ``mm_decode_stub``) is kept as a
plumbing demo.

Every query is built on one small codec layer:

- ``ppm_raster`` is the only P6 header parser and ``video_frames`` the only
  walker of the ``VID0`` container; ``gray8_ppm`` / ``video_container``
  write the fixtures they read back;
- ``ahash_bands`` is the 8×8 average hash, ``ahash_sql`` its DuckDB twin
  over a ``px(keys…, i, p)`` relation, and ``hamming4`` / ``hamming4_sql``
  the 4-band Hamming distance in both engines;
- ``map_rows`` is the one Arrow-batched Python stage and
  ``media_payloads`` the one payload generator.

What the 100 TB pipeline shape exercises here:

- binary payload column + typed metadata columns in one DataFrame,
- Arrow-batched ``mapInPandas`` with an explicit output schema (the decode /
  feature-extract / resize / frame-sample execution shape),
- partition sizing by byte volume, not row count (media rows are MBs —
  ``repartition`` on byte-weight before the UDF stage).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.text import tokens, tokens_sql
from databricks_sales_etl_pipeline_spark.registry import query

# ---- codec layer -----------------------------------------------------------


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str, *cols: str
) -> DataFrame:
    """The one Arrow-batched Python stage: ``mapInPandas`` over ``df`` that
    calls ``fn(*row)`` on the ``cols`` of every input row and collects the
    tuples it yields — none, one or many per row, in the column order of
    the DDL ``schema``. Values reach ``fn`` as Python objects (``int``,
    ``bytes``), not numpy scalars. One call is one Python stage: payloads
    stay in the worker, only ``schema``'s columns come out."""
    names = T.StructType.fromDDL(schema).fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                out
                for args in zip(*(pdf[c].tolist() for c in cols))
                for out in fn(*args)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema)


def _ppm_token(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Read one whitespace-delimited header token, skipping '#' comment
    lines (the netpbm spec allows them anywhere in the header)."""
    while pos < len(buf):
        c = buf[pos : pos + 1]
        if c == b"#":
            while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            break
    start = pos
    while pos < len(buf) and not buf[pos : pos + 1].isspace():
        pos += 1
    if start == pos:
        raise ValueError("truncated PPM header")
    return buf[start:pos], pos


def ppm_raster(payload: bytes) -> tuple[int, int, int, bytes]:
    """The P6 (binary netpbm) header parser: magic, width, height and
    maxval (comments allowed between tokens), one whitespace byte, then a
    raster of exactly width × height × 3 samples of 1 byte (maxval < 256)
    or 2 bytes. Returns (width, height, maxval, raster). Pure Python over
    bytes — no imaging library — so it runs in any executor environment."""
    if payload[:2] != b"P6":
        raise ValueError(f"not a P6 PPM (magic {payload[:2]!r})")
    pos = 2
    w_tok, pos = _ppm_token(payload, pos)
    h_tok, pos = _ppm_token(payload, pos)
    max_tok, pos = _ppm_token(payload, pos)
    width, height, maxval = int(w_tok), int(h_tok), int(max_tok)
    if not (0 < maxval < 65536):
        raise ValueError(f"bad maxval {maxval}")
    raster = payload[pos + 1 :]
    expect = width * height * 3 * (1 if maxval < 256 else 2)
    if len(raster) != expect:
        raise ValueError(f"raster is {len(raster)} bytes, expected {expect}")
    return width, height, maxval, raster


def gray8_ppm(px: list[int], comment: str | None = None) -> bytes:
    """An 8×8 grayscale image as P6 bytes: each of the 64 pixel values
    written to R, G and B, with an optional header comment line."""
    note = f"# {comment}\n".encode() if comment else b""
    return b"P6\n" + note + b"8 8\n255\n" + bytes(b for p in px for b in (p, p, p))


def video_container(frames: list[bytes]) -> bytes:
    """Naive video container: b'VID0', a u32 frame count, then each frame
    prefixed by its u32 length (little-endian)."""
    parts = [b"VID0", struct.pack("<I", len(frames))]
    for frame in frames:
        parts += [struct.pack("<I", len(frame)), frame]
    return b"".join(parts)


def video_frames(payload: bytes) -> list[bytes]:
    """The ``VID0`` walker: magic, frame count, length-prefixed frames and
    not one byte after the last frame."""
    if payload[:4] != b"VID0":
        raise ValueError(f"bad video magic {payload[:4]!r}")
    if len(payload) < 8:
        raise ValueError("truncated video header")
    (n_frames,) = struct.unpack_from("<I", payload, 4)
    pos, frames = 8, []
    for _ in range(n_frames):
        if pos + 4 > len(payload):
            raise ValueError("truncated frame length")
        (flen,) = struct.unpack_from("<I", payload, pos)
        pos += 4
        if pos + flen > len(payload):
            raise ValueError(f"frame of {flen} bytes runs past the end")
        frames.append(payload[pos : pos + flen])
        pos += flen
    if pos != len(payload):
        raise ValueError("trailing bytes after last frame")
    return frames


def ahash_bands(payload: bytes) -> tuple[int, int, int, int]:
    """aHash of an 8×8 8-bit P6 image: R channel of the raster, strict
    above-mean threshold (p·64 > Σp — integer compare, no float mean),
    64 bits packed little-endian into four 16-bit band ints."""
    w, h, maxval, raster = ppm_raster(payload)
    if maxval != 255:
        raise ValueError(f"aHash expects an 8-bit raster, maxval {maxval}")
    if w * h != 64:
        raise ValueError(f"aHash expects 8x8 images, got {w}x{h}")
    gray = raster[0::3]
    s = sum(gray)
    bits = [1 if p * 64 > s else 0 for p in gray]
    return tuple(sum(bits[16 * j + k] << k for k in range(16)) for j in range(4))


def ahash_sql(keys: str) -> str:
    """DuckDB twin of :func:`ahash_bands`: the CTEs that follow a
    ``px(keys…, i, p)`` CTE (one row per pixel ``i`` of each image
    ``keys``): ``sums(keys…, s)`` the pixel sum, ``bands(keys…, j, b)``
    one row per 16-bit band and ``fbands(keys…, b0, b1, b2, b3)``."""
    return f"""sums AS (
        SELECT {keys}, CAST(SUM(p) AS BIGINT) AS s FROM px GROUP BY {keys}
    ), bands AS (
        SELECT {keys}, CAST(i // 16 AS BIGINT) AS j,
               CAST(SUM(CASE WHEN p * 64 > s THEN 1 ELSE 0 END
                        * CAST(power(2, i % 16) AS BIGINT)) AS BIGINT) AS b
        FROM px JOIN sums USING ({keys})
        GROUP BY {keys}, i // 16
    ), fbands AS (
        SELECT {keys},
               MAX(CASE WHEN j = 0 THEN b END) AS b0,
               MAX(CASE WHEN j = 1 THEN b END) AS b1,
               MAX(CASE WHEN j = 2 THEN b END) AS b2,
               MAX(CASE WHEN j = 3 THEN b END) AS b3
        FROM bands GROUP BY {keys}
    )"""


def hamming4(a: str, b: str) -> Column:
    """Hamming distance of two 4-band hashes; ``a`` and ``b`` name band
    ``{j}`` (``"b{j}"`` → b0..b3)."""
    return sum(
        F.bit_count(F.expr(f"{a.format(j=j)} ^ {b.format(j=j)}")) for j in range(4)
    )


def hamming4_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`hamming4`."""
    return " + ".join(
        f"bit_count(xor({a.format(j=j)}, {b.format(j=j)}))" for j in range(4)
    )


# ---- decoders --------------------------------------------------------------


def decode_ppm(payload: bytes) -> dict:
    """REAL binary-PPM decode: the parsed header plus integer pixel
    statistics over the validated raster, keys in the column order of
    ``mm_decode_real``'s output."""
    width, height, maxval, raster = ppm_raster(payload)
    return {
        "width": width,
        "height": height,
        "maxval": maxval,
        "pixel_sum": sum(raster),
        "pixel_min": min(raster) if raster else 0,
        "pixel_max": max(raster) if raster else 0,
    }


def wav_samples(payload: bytes) -> tuple[int, int, int, tuple]:
    """REAL RIFF/WAVE chunk walk (fmt / data in any order, odd-size
    padding per the RIFF spec): returns (sample_rate, n_channels, bits,
    samples). struct + bytes only — no audio library."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    riff_size = struct.unpack_from("<I", payload, 4)[0]
    if riff_size + 8 != len(payload):
        raise ValueError(f"RIFF size {riff_size} + 8 != {len(payload)}")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        csize = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            audio_fmt, n_channels, sample_rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt != 1:
                raise ValueError(f"only PCM supported, got format {audio_fmt}")
            fmt = (n_channels, sample_rate, bits)
        elif cid == b"data":
            data = body
        pos += 8 + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    n_channels, sample_rate, bits = fmt
    if bits != 16:
        raise ValueError(f"only 16-bit PCM supported, got {bits}")
    n = len(data) // 2
    return sample_rate, n_channels, bits, struct.unpack(f"<{n}h", data[: n * 2])


def decode_wav(payload: bytes) -> dict:
    """Aggregate integer sample statistics from a real WAV parse, keys in
    the column order of ``mm_decode_wav``'s output."""
    sample_rate, n_channels, bits, samples = wav_samples(payload)
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "bits": bits,
        "n_samples": len(samples) // n_channels,
        "abs_sum": sum(abs(s) for s in samples),
        "peak": max((abs(s) for s in samples), default=0),
    }


def fake_decode(payload: bytes) -> tuple[int, int, float]:
    """Deterministic fake 'decode': dimensions + mean byte derived purely
    from the payload bytes (reproducible in the SQL oracle)."""
    n = len(payload)
    width = n % 640 + 1
    height = (n * 7) % 480 + 1
    mean_byte = (sum(payload) / n) if n else 0.0
    return width, height, mean_byte


# ---- plumbing over document text as the binary payload ---------------------


def _text_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload): each document's UTF-8 text as a binary column."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))


@query(
    "mm_binary_meta",
    oracle="""
    SELECT doc_id,
           strlen(text) AS n_bytes,
           substring(text, 1, 8) AS head_chars
    FROM documents
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing 1 — opaque binary payload + typed metadata.
    Documents' text is encoded to a real BinaryType column (the stand-in for
    image bytes); metadata is computed on the binary column itself."""
    return _text_payloads(spark, sf_dir).select(
        "doc_id",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.decode(F.substring("payload", 1, 8), "UTF-8").alias("head_chars"),
    )


FRAME_BYTES = 64
FRAME_STRIDE = 4


def sample_frames(doc_id: int, payload: bytes) -> Iterator[tuple]:
    """Frame-sampling rows: treat the payload as fixed-size frames, keep
    every FRAME_STRIDE-th, emit per-frame metadata + digest — rows out ≠
    rows in (the flatMap shape a video pipeline needs)."""
    n_frames = (len(payload) + FRAME_BYTES - 1) // FRAME_BYTES
    for i in range(0, n_frames, FRAME_STRIDE):
        frame = payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
        yield doc_id, i, len(frame), hashlib.md5(frame).hexdigest()


@query(
    "mm_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(i * {FRAME_STRIDE} AS INT) AS frame_idx,
           CAST(length(substring(text, i * {FRAME_STRIDE} * {FRAME_BYTES} + 1,
                                 {FRAME_BYTES})) AS INT) AS frame_len,
           md5(substring(text, i * {FRAME_STRIDE} * {FRAME_BYTES} + 1,
                         {FRAME_BYTES})) AS frame_md5
    FROM documents,
         unnest(range(0, (CAST(ceil(strlen(text) / {FRAME_BYTES}.0) AS BIGINT)
                          + {FRAME_STRIDE} - 1) // {FRAME_STRIDE})) AS t(i)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing 3 — frame sampling over an opaque binary column
    (every {stride}-th 64-byte frame with its md5), executed as an
    Arrow-batched mapInPandas flatMap. ASCII text payloads make the digest
    oracle-checkable (bytes == chars); a real video decoder swaps into
    sample_frames without touching the dataflow."""
    return map_rows(
        _text_payloads(spark, sf_dir),
        sample_frames,
        "doc_id long, frame_idx int, frame_len int, frame_md5 string",
        "doc_id",
        "payload",
    )


RESIZE_STRIDE = 2


def resize_payload(doc_id: int, payload: bytes) -> Iterator[tuple]:
    """'Resize' stage stub: byte-stride downsampling (every
    RESIZE_STRIDE-th byte) — the shape of an image-resize /
    audio-downsample stage: payload in, smaller payload out, per row. A
    real resampler replaces the slice; schema and batch flow stay."""
    resized = payload[::RESIZE_STRIDE]
    yield doc_id, len(payload), len(resized), hashlib.md5(resized).hexdigest()


@query(
    "mm_resize_stub",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, strlen(text) AS orig_bytes,
               array_to_string(list_transform(
                   range(1, strlen(text) + 1, {RESIZE_STRIDE}),
                   i -> substring(text, CAST(i AS INT), 1)), '') AS resized
        FROM documents
    )
    SELECT doc_id,
           CAST(orig_bytes AS INT) AS orig_bytes,
           CAST(strlen(resized) AS INT) AS resized_bytes,
           md5(resized) AS resized_md5
    FROM r
    """,
)
def mm_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing 4 — the resize/downsample stage over binary
    payloads (ASCII text bytes make the digest oracle-checkable)."""
    return map_rows(
        _text_payloads(spark, sf_dir),
        resize_payload,
        "doc_id long, orig_bytes int, resized_bytes int, resized_md5 string",
        "doc_id",
        "payload",
    )


@query(
    "mm_decode_stub",
    oracle="""
    SELECT doc_id,
           strlen(text) AS n_bytes,
           CAST(strlen(text) % 640 + 1 AS INT) AS width,
           CAST((strlen(text) * 7) % 480 + 1 AS INT) AS height
    FROM documents
    """,
)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing 2 — the decode/feature-extract stage as an
    Arrow-batched mapInPandas with a deterministic fake decoder. The oracle
    reproduces the fake's integer arithmetic (mean_byte is excluded from the
    checked columns: summing bytes in SQL would need an unnest per byte)."""
    return map_rows(
        _text_payloads(spark, sf_dir),
        lambda doc_id, p: [(doc_id, len(p), *fake_decode(p))],
        "doc_id long, n_bytes long, width int, height int, mean_byte double",
        "doc_id",
        "payload",
    ).select("doc_id", "n_bytes", "width", "height")


# ---- real-format fixtures + decode queries ---------------------------------
#
# The payloads are REAL files (any netpbm/audio tool can open them), built
# deterministically from doc_id so the DuckDB oracle can recompute the
# decoded statistics from first principles — proving the parser actually
# read the header and raster rather than echoing the generator.

MM_DOC_LIMIT = 1500


def make_ppm(doc_id: int) -> bytes:
    """Synthesize a valid binary-PPM (P6) image: header with a comment
    line (exercises the spec's comment handling) + deterministic raster."""
    w = doc_id % 16 + 1
    h = (doc_id * 3) % 12 + 1
    header = f"P6\n# synthetic fixture {doc_id}\n{w} {h}\n255\n".encode()
    raster = bytes((doc_id * 31 + i * 7) % 256 for i in range(w * h * 3))
    return header + raster


def make_wav(doc_id: int) -> bytes:
    """Synthesize a valid RIFF/WAVE file: PCM fmt chunk + 16-bit LE mono
    samples from a deterministic ramp."""
    sr = 8000 + (doc_id % 3) * 4000
    n = (doc_id % 50 + 1) * 16
    samples = [((doc_id * 13 + i * 5) % 4096) - 2048 for i in range(n)]
    data = struct.pack(f"<{n}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def media_payloads(
    spark: SparkSession, sf_dir: str, make: Callable[[int], bytes]
) -> DataFrame:
    """(doc_id, payload): ``make(doc_id)`` for every document below
    MM_DOC_LIMIT, synthesized in its own Python stage (the stand-in for
    reading media blobs off object storage)."""
    ids = load(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < MM_DOC_LIMIT
    )
    return map_rows(
        ids,
        lambda doc_id: [(doc_id, make(doc_id))],
        "doc_id long, payload binary",
        "doc_id",
    )


@query(
    "mm_decode_real",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 16 + 1 AS BIGINT) AS w,
               CAST((doc_id * 3) % 12 + 1 AS BIGINT) AS h
        FROM documents WHERE doc_id < {MM_DOC_LIMIT}
    ), px AS (
        SELECT doc_id, w, h, (doc_id * 31 + i * 7) % 256 AS p
        FROM dims, unnest(range(0, w * h * 3)) AS t(i)
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(255 AS INT) AS maxval,
           CAST(SUM(p) AS BIGINT) AS pixel_sum,
           CAST(MIN(p) AS INT) AS pixel_min,
           CAST(MAX(p) AS INT) AS pixel_max
    FROM px GROUP BY doc_id, w, h
    """,
)
def mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode, REAL: synthesize genuine binary P6 PPM images
    (header + comment + raster) per doc_id, then PARSE them back in an
    Arrow-batched mapInPandas stage — magic check, comment-skipping header
    tokenizer, raster-length validation, integer pixel stats. The oracle
    recomputes every stat from the generator arithmetic, so a parser that
    misread the header or raster cannot hash-match."""
    return map_rows(
        media_payloads(spark, sf_dir, make_ppm),
        lambda doc_id, p: [(doc_id, *decode_ppm(p).values())],
        "doc_id long, width int, height int, maxval int, pixel_sum long, "
        "pixel_min int, pixel_max int",
        "doc_id",
        "payload",
    )


@query(
    "mm_decode_wav",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id,
               8000 + (doc_id % 3) * 4000 AS sr,
               CAST((doc_id % 50 + 1) * 16 AS BIGINT) AS n
        FROM documents WHERE doc_id < {MM_DOC_LIMIT}
    ), smp AS (
        SELECT doc_id, sr, n,
               ABS(((doc_id * 13 + i * 5) % 4096) - 2048) AS a
        FROM dims, unnest(range(0, n)) AS t(i)
    )
    SELECT doc_id,
           CAST(sr AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST(16 AS INT) AS bits,
           CAST(n AS INT) AS n_samples,
           CAST(SUM(a) AS BIGINT) AS abs_sum,
           CAST(MAX(a) AS INT) AS peak
    FROM smp GROUP BY doc_id, sr, n
    """,
)
def mm_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of mm_decode_real: genuine RIFF/WAVE PCM files parsed by
    a chunk-walking decoder (fmt + data in any order, word alignment,
    PCM/16-bit validation), emitting integer sample stats the oracle
    recomputes from the generator ramp."""
    return map_rows(
        media_payloads(spark, sf_dir, make_wav),
        lambda doc_id, p: [(doc_id, *decode_wav(p).values())],
        "doc_id long, sample_rate int, n_channels int, bits int, "
        "n_samples int, abs_sum long, peak int",
        "doc_id",
        "payload",
    )


# --- perceptual-hash image dedup --------------------------------------------

#: aHash geometry: 8×8 grayscale → 64 bits, stored as four 16-bit bands.
#: Near-dup = banded candidate (≥1 identical band) with Hamming ≤ PHASH_T.
#: Pigeonhole: any pair with Hamming ≤ 3 ALWAYS shares a clean band, so
#: recall is exact up to 3 flipped bits; 4..PHASH_T-bit pairs are admitted
#: when the flips avoid one band (standard banded-LSH semantics, identical
#: in both engines, so the output is still hash-checkable).
PHASH_T = 6
_PHASH_CLUSTER = 50  # generator: doc_id % 50 picks the base image


def make_ppm_cluster(doc_id: int) -> bytes:
    """8×8 grayscale P6 with PLANTED near-duplicate structure: docs
    sharing doc_id % 50 render the same base pattern plus a ±1 per-pixel
    perturbation — the fixture a perceptual hash must collapse while
    keeping different bases apart."""
    base = doc_id % _PHASH_CLUSTER
    px = [((base * 37 + i * 11) % 200) + (doc_id * 7 + i) % 2 for i in range(64)]
    return gray8_ppm(px, "phash fixture")


#: ``px(doc_id, i, p)``: the pixels of :func:`make_ppm_cluster`.
_PHASH_PX_SQL = f"""px AS (
        SELECT doc_id, i,
               ((doc_id % {_PHASH_CLUSTER}) * 37 + i * 11) % 200
                   + (doc_id * 7 + i) % 2 AS p
        FROM documents, unnest(range(0, 64)) AS t(i)
        WHERE doc_id < {MM_DOC_LIMIT}
    )"""

_PHASH_ORACLE = f"""
    WITH {_PHASH_PX_SQL}, {ahash_sql("doc_id")}, cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON b.j = a.j AND b.b = a.b AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
        SELECT doc_a, doc_b,
               CAST({hamming4_sql("sa.b{j}", "sb.b{j}")} AS BIGINT) AS hamming
        FROM cand
        JOIN fbands sa ON sa.doc_id = doc_a
        JOIN fbands sb ON sb.doc_id = doc_b
    ) WHERE hamming <= {PHASH_T}
"""


@query("mm_image_phash", oracle=_PHASH_ORACLE)
def mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup via perceptual hashing — the visual analogue
    of MinHash: synthesize REAL P6 bytes (planted ±1-perturbed clusters),
    parse them back, aHash each image to 64 bits (above-mean threshold,
    integer-exact), band the hash 4×16 bits, join candidates on any
    identical band, verify by exact Hamming distance (xor + bit_count,
    JVM-side). The oracle recomputes everything from the generator
    arithmetic, so decode, hash, banding AND verify are all hash-checked.

    Scale: hashing is an embarrassingly parallel byte scan (images never
    shuffle — 8 bytes of signature per image do); the band join is the
    same bounded-candidates LSH shape as the MinHash pipeline."""
    sig = map_rows(
        media_payloads(spark, sf_dir, make_ppm_cluster),
        lambda doc_id, p: [(doc_id, *ahash_bands(p))],
        "doc_id long, b0 long, b1 long, b2 long, b3 long",
        "doc_id",
        "payload",
    ).localCheckpoint()  # signature table feeds bands + both verify sides

    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("bigint").alias("j"),
                        F.col(f"b{j}").alias("b"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("jb"),
    ).select("doc_id", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    a = bands.select(F.col("doc_id").alias("doc_a"), "j", "b")
    b = bands.select(F.col("doc_id").alias("doc_b"), "j", "b")
    cand = (
        a.join(b, ["j", "b"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{j}").alias(f"a{j}") for j in range(4)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{j}").alias(f"bb{j}") for j in range(4)],
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", hamming4("a{j}", "bb{j}").cast("long").alias("hamming")
        )
        .where(F.col("hamming") <= PHASH_T)
    )


# --- video near-dup via frame-hash overlap ----------------------------------

#: video fixture geometry: doc_id % 40 picks the base clip, 4..7 frames,
#: ±1 per-pixel noise per doc — same planted-cluster idea as the image
#: fixture, one dimension up.
_VID_CLUSTER = 40
_VID_MIN_SHARED = 2


def make_video(doc_id: int) -> bytes:
    """VID0 container of 8×8 grayscale P6 frames. Frames of docs sharing
    doc_id % 40 differ only by the ±1 noise."""
    base = doc_id % _VID_CLUSTER
    return video_container(
        [
            gray8_ppm(
                [
                    ((base * 37 + f * 13 + i * 11) % 200) + (doc_id * 7 + i + f) % 2
                    for i in range(64)
                ]
            )
            for f in range(doc_id % 4 + 4)
        ]
    )


def _frame_hash_rows(doc_id: int, payload: bytes) -> Iterator[tuple]:
    """(doc_id, hex band-concat aHash, n_frames) per frame of a video."""
    frames = video_frames(payload)
    for frame in frames:
        yield doc_id, "%04x%04x%04x%04x" % ahash_bands(frame), len(frames)


_VIDEO_ORACLE = f"""
    WITH meta AS (
        SELECT doc_id, CAST(doc_id % 4 + 4 AS BIGINT) AS n_frames
        FROM documents WHERE doc_id < {MM_DOC_LIMIT}
    ), px AS (
        SELECT doc_id, f, i,
               ((doc_id % {_VID_CLUSTER}) * 37 + f * 13 + i * 11) % 200
                   + (doc_id * 7 + i + f) % 2 AS p
        FROM meta,
             unnest(range(0, n_frames)) AS tf(f),
             unnest(range(0, 64)) AS ti(i)
    ), {ahash_sql("doc_id, f")}, fhash AS (
        SELECT doc_id, f, printf('%04x%04x%04x%04x', b0, b1, b2, b3) AS h
        FROM fbands
    ), shared AS (
        SELECT a.doc_id AS vid_a, b.doc_id AS vid_b,
               CAST(COUNT(DISTINCT a.h) AS BIGINT) AS shared_frames
        FROM fhash a JOIN fhash b ON b.h = a.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(DISTINCT a.h) >= {_VID_MIN_SHARED}
    )
    SELECT s.vid_a, s.vid_b, s.shared_frames,
           ma.n_frames AS n_frames_a, mb.n_frames AS n_frames_b
    FROM shared s
    JOIN meta ma ON ma.doc_id = s.vid_a
    JOIN meta mb ON mb.doc_id = s.vid_b
"""


@query("mm_video_neardup", oracle=_VIDEO_ORACLE)
def mm_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup detection: synthesize REAL container bytes (magic +
    frame count + length-prefixed P6 frames), walk them back frame by
    frame, aHash every frame, and pair videos sharing >= 2 distinct frame
    hashes via the inverted frame-hash index — the shot-level near-dup
    join video pipelines run (a re-encode or trim shares most frame
    hashes; unrelated clips share none). Decode, per-frame hashing,
    indexing and pair counts are all hash-checked against the
    generator-arithmetic oracle.

    Scale: payloads never shuffle — only (video, frame-hash) pairs do;
    candidates are bounded by frame-hash bucket occupancy, the same
    LSH-inverted-index shape as MinHash banding."""
    fh = map_rows(
        media_payloads(spark, sf_dir, make_video),
        _frame_hash_rows,
        "doc_id long, h string, n_frames long",
        "doc_id",
        "payload",
    ).localCheckpoint()  # feeds both sides of the pair join + the meta join
    a = fh.select(
        F.col("doc_id").alias("vid_a"), "h", F.col("n_frames").alias("nfa")
    )
    b = fh.select(
        F.col("doc_id").alias("vid_b"), "h", F.col("n_frames").alias("nfb")
    )
    pairs = (
        a.join(b, "h")
        .where(F.col("vid_a") < F.col("vid_b"))
        .groupBy("vid_a", "vid_b", "nfa", "nfb")
        .agg(F.countDistinct("h").alias("shared_frames"))
        .where(F.col("shared_frames") >= _VID_MIN_SHARED)
    )
    return pairs.select(
        "vid_a",
        "vid_b",
        "shared_frames",
        F.col("nfa").alias("n_frames_a"),
        F.col("nfb").alias("n_frames_b"),
    )


# --- audio frame features ---------------------------------------------------

AUDIO_FRAME = 16  # samples per analysis frame (generator n is a multiple)


def _audio_energy_row(doc_id: int, payload: bytes) -> Iterator[tuple]:
    """Per-doc frame-energy features of one WAV payload."""
    _, _, _, samples = wav_samples(payload)
    frames = [
        samples[i : i + AUDIO_FRAME] for i in range(0, len(samples), AUDIO_FRAME)
    ]
    energies = [sum(s * s for s in fr) for fr in frames]
    zcs = [
        sum(1 for a, b in zip(fr, fr[1:]) if (a >= 0) != (b >= 0)) for fr in frames
    ]
    mx = max(energies)
    yield (
        doc_id, len(frames), sum(energies), mx, energies.index(mx), sum(zcs),
    )


@query(
    "mm_audio_energy",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id, CAST((doc_id % 50 + 1) * 16 AS BIGINT) AS n
        FROM documents WHERE doc_id < {MM_DOC_LIMIT}
    ), smp AS (
        SELECT doc_id, i, i // {AUDIO_FRAME} AS frame,
               ((doc_id * 13 + i * 5) % 4096) - 2048 AS s
        FROM dims, unnest(range(0, n)) AS t(i)
    ), zc AS (
        SELECT doc_id, frame, s,
               CASE WHEN lag(s) OVER w IS NOT NULL
                         AND ((s >= 0) <> (lag(s) OVER w >= 0))
                    THEN 1 ELSE 0 END AS x
        FROM smp
        WINDOW w AS (PARTITION BY doc_id, frame ORDER BY i)
    ), per_frame AS (
        SELECT doc_id, frame,
               CAST(SUM(s * s) AS BIGINT) AS energy,
               CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
               CAST(SUM(x) AS BIGINT) AS n_zc
        FROM zc GROUP BY doc_id, frame
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS total_energy,
           CAST(MAX(energy) AS BIGINT) AS max_frame_energy,
           CAST(MIN(CASE WHEN energy = m THEN frame END) AS BIGINT)
               AS loudest_frame,
           CAST(SUM(n_zc) AS BIGINT) AS total_zero_cross
    FROM (SELECT *, MAX(energy) OVER (PARTITION BY doc_id) AS m
          FROM per_frame)
    GROUP BY doc_id
    """,
)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio features: REAL WAV bytes parsed back to samples,
    cut into {AUDIO_FRAME}-sample frames, per-frame energy (Σs²), peak
    and zero-crossing counts — the VAD/loudness feature pass an audio
    training pipeline runs after decode — reduced to per-doc feature rows
    (frame count, total/max energy, loudest frame with min-index
    tiebreak, crossing total). All integers; the oracle recomputes every
    frame from the generator ramp without touching bytes.

    Shape: decode and frame-fold happen INSIDE one Arrow-batched
    mapInPandas (payloads never shuffle; 6 small ints per doc come out)."""
    return map_rows(
        media_payloads(spark, sf_dir, make_wav),
        _audio_energy_row,
        "doc_id bigint, n_frames bigint, total_energy bigint, "
        "max_frame_energy bigint, loudest_frame bigint, total_zero_cross bigint",
        "doc_id",
        "payload",
    )


# --- image-text pair construction -------------------------------------------


@query(
    "mm_pair_dataset",
    oracle=f"""
    WITH {_PHASH_PX_SQL}, img AS (
        SELECT doc_id, CAST(SUM(p) AS BIGINT) AS pix_checksum
        FROM px GROUP BY doc_id
    )
    SELECT d.doc_id,
           i.pix_checksum,
           CAST(len({tokens_sql('d.text')}) AS BIGINT) AS n_caption_tokens,
           md5(CAST(i.pix_checksum AS VARCHAR) || ':'
               || md5(COALESCE(d.text, ''))) AS pair_fingerprint
    FROM documents d JOIN img i ON i.doc_id = d.doc_id
    WHERE d.doc_id < {MM_DOC_LIMIT}
    """,
)
def mm_pair_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal PAIR construction (the CLIP-style training-set join):
    real image payloads decoded to an integer pixel checksum, joined to
    their text captions with token counts and a deterministic pair
    fingerprint — the keyed (image, text) manifest a contrastive trainer
    consumes. The oracle rebuilds the checksum from generator arithmetic
    and the fingerprint from the same string recipe.

    Shape: payload decode is Arrow-batched and emits ONE int per image;
    the join shuffles (id, checksum) pairs, never bytes."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < MM_DOC_LIMIT)
    img = map_rows(
        media_payloads(spark, sf_dir, make_ppm_cluster),
        lambda doc_id, p: [(doc_id, sum(ppm_raster(p)[3][0::3]))],
        "doc_id bigint, pix_checksum bigint",
        "doc_id",
        "payload",
    )
    toks = tokens("text")
    return (
        d.select("doc_id", "text")
        .join(img, "doc_id")
        .select(
            "doc_id",
            "pix_checksum",
            F.size(toks).cast("bigint").alias("n_caption_tokens"),
            F.md5(
                F.concat(
                    F.col("pix_checksum").cast("string"),
                    F.lit(":"),
                    F.md5(F.coalesce(F.col("text"), F.lit(""))),
                )
            ).alias("pair_fingerprint"),
        )
    )


# --- video scene cuts and keyframes -----------------------------------------

_SCENE_HAM_T = 10  # consecutive-frame hamming above this = a cut


def make_scene_video(doc_id: int) -> bytes:
    """Scene-structured video: n_scenes blocks of frames_per_scene frames;
    within a scene every frame has IDENTICAL pixels (the noise term is
    frame-independent), across scenes the base pattern reshuffles — so
    consecutive-frame hamming is 0 inside a scene and ~32 bits at a
    boundary. Same VID0 container as make_video."""
    n_scenes = doc_id % 3 + 2
    per_scene = doc_id % 2 + 2
    return video_container(
        [
            gray8_ppm(
                [
                    ((doc_id % 40) * 31 + (f // per_scene) * 97 + i * 11) % 200
                    + (doc_id * 7 + i) % 2
                    for i in range(64)
                ]
            )
            for f in range(n_scenes * per_scene)
        ]
    )


def _scene_frame_rows(doc_id: int, payload: bytes) -> Iterator[tuple]:
    """(doc_id, f, b0..b3, psum) per frame: the aHash bands and the grey
    pixel sum (every 3rd raster byte, r == g == b)."""
    for f, frame in enumerate(video_frames(payload)):
        _, _, _, raster = ppm_raster(frame)
        yield (doc_id, f, *ahash_bands(frame), sum(raster[0::3]))


def _scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, f, psum, is_cut) per frame of the scene videos: is_cut is
    1 where the aHash hamming to the previous frame exceeds
    _SCENE_HAM_T. Frame band ints shuffle (payloads never move); the lag
    rides a per-video window partition."""
    fb = map_rows(
        media_payloads(spark, sf_dir, make_scene_video),
        _scene_frame_rows,
        "doc_id long, f long, b0 long, b1 long, b2 long, b3 long, psum long",
        "doc_id",
        "payload",
    )
    w = Window.partitionBy("doc_id").orderBy("f")
    lagged = fb.select(
        "doc_id",
        "f",
        "psum",
        *[F.lag(f"b{j}").over(w).alias(f"p{j}") for j in range(4)],
        *[F.col(f"b{j}") for j in range(4)],
    )
    return lagged.select(
        "doc_id",
        "f",
        "psum",
        (F.col("p0").isNotNull() & (hamming4("b{j}", "p{j}") > _SCENE_HAM_T))
        .cast("bigint")
        .alias("is_cut"),
    )


#: meta → per-frame pixels → aHash → cut flags of :func:`make_scene_video`,
#: the prefix the scene-cut and keyframe oracles share.
_SCENE_FLAGS_SQL = f"""meta AS (
        SELECT doc_id,
               CAST(doc_id % 3 + 2 AS BIGINT) AS n_scenes,
               CAST(doc_id % 2 + 2 AS BIGINT) AS per_scene
        FROM documents WHERE doc_id < {MM_DOC_LIMIT}
    ), px AS (
        SELECT doc_id, f, i,
               ((doc_id % 40) * 31 + (f // per_scene) * 97 + i * 11) % 200
                   + (doc_id * 7 + i) % 2 AS p
        FROM meta,
             unnest(range(0, n_scenes * per_scene)) AS tf(f),
             unnest(range(0, 64)) AS ti(i)
    ), {ahash_sql("doc_id, f")}, flags AS (
        SELECT doc_id, f,
               CASE WHEN lag(b0) OVER w IS NOT NULL AND
                    {hamming4_sql("b{j}", "lag(b{j}) OVER w")} > {_SCENE_HAM_T}
                    THEN 1 ELSE 0 END AS is_cut
        FROM fbands WINDOW w AS (PARTITION BY doc_id ORDER BY f)
    )"""

_SCENE_ORACLE = f"""
    WITH {_SCENE_FLAGS_SQL}, cuts AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               CAST(SUM(is_cut) AS BIGINT) AS n_cuts
        FROM flags GROUP BY doc_id
    )
    SELECT c.doc_id, c.n_frames, c.n_cuts,
           CAST(c.n_cuts + 1 AS BIGINT) AS n_scenes_detected,
           m.n_scenes AS n_scenes_true
    FROM cuts c JOIN meta m ON m.doc_id = c.doc_id
"""


@query("mm_video_scene_cut", oracle=_SCENE_ORACLE)
def mm_video_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary (scene cut) detection: decode each video's frames,
    aHash them, and declare a cut wherever consecutive-frame hamming
    exceeds {_SCENE_HAM_T} bits — the temporal-segmentation pass every
    video-curation pipeline runs before frame sampling (sample per SHOT,
    not per fixed stride, or long static scenes dominate). The fixture
    plants true scene structure; detected-vs-true scene counts are BOTH
    in the hash-checked output, so the oracle certifies perfect recovery
    arithmetic end-to-end (decode → hash → lag → hamming → census)."""
    cuts = _scene_cuts(spark, sf_dir).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("is_cut").cast("bigint").alias("n_cuts"),
    )
    return cuts.select(
        "doc_id",
        "n_frames",
        "n_cuts",
        (F.col("n_cuts") + 1).cast("bigint").alias("n_scenes_detected"),
        (F.col("doc_id") % 3 + 2).cast("bigint").alias("n_scenes_true"),
    )


AUDIO_SIL_THRESH = 16 * 300 * 300  # frame energy below ≈|300| amplitude


def _audio_frame_rows(doc_id: int, payload: bytes) -> Iterator[tuple]:
    """(doc_id, frame, energy) per AUDIO_FRAME-sample frame of a WAV."""
    _, _, _, samples = wav_samples(payload)
    for fi in range(0, len(samples), AUDIO_FRAME):
        frame = samples[fi : fi + AUDIO_FRAME]
        yield doc_id, fi // AUDIO_FRAME, sum(s * s for s in frame)


@query(
    "mm_audio_silence_split",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id, CAST((doc_id % 50 + 1) * 16 AS BIGINT) AS n
        FROM documents WHERE doc_id < {MM_DOC_LIMIT}
    ), smp AS (
        SELECT doc_id, i // {AUDIO_FRAME} AS frame,
               ((doc_id * 13 + i * 5) % 4096) - 2048 AS s
        FROM dims, unnest(range(0, n)) AS t(i)
    ), per_frame AS (
        SELECT doc_id, CAST(frame AS BIGINT) AS frame,
               CAST(SUM(s * s) AS BIGINT) AS energy
        FROM smp GROUP BY doc_id, frame
    ), voiced AS (
        SELECT doc_id, frame, energy,
               frame - ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY frame) AS island
        FROM per_frame WHERE energy >= {AUDIO_SIL_THRESH}
    ), segs AS (
        SELECT doc_id,
               CAST(MIN(frame) AS BIGINT) AS start_frame,
               CAST(MAX(frame) AS BIGINT) AS end_frame,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               CAST(SUM(energy) AS BIGINT) AS seg_energy
        FROM voiced GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_frame)
                AS BIGINT) AS seg_idx,
           start_frame, end_frame, n_frames, seg_energy
    FROM segs
    """,
)
def mm_audio_silence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mm8 — silence-based audio segmentation (the VAD cut every speech/
    audio training pipeline runs between decode and feature extraction):
    REAL WAV bytes are parsed back to samples inside one Arrow-batched
    ``mapInPandas`` (per-frame integer energies come out — payloads never
    shuffle), frames quieter than the threshold are silence, and maximal
    voiced runs become segments via the gaps-and-islands window
    (island = frame − row_number). Output: per-segment frame span and
    energy. The oracle recomputes every frame from the deterministic
    generator ramp without touching bytes (the ``mm_audio_energy``
    pattern).

    Shape: decode stays data-local in the Python worker; the only
    shuffle is the doc_id window over 6-int frame rows."""
    per_frame = map_rows(
        media_payloads(spark, sf_dir, make_wav),
        _audio_frame_rows,
        "doc_id bigint, frame bigint, energy bigint",
        "doc_id",
        "payload",
    )
    w = Window.partitionBy("doc_id").orderBy("frame")
    voiced = per_frame.where(F.col("energy") >= AUDIO_SIL_THRESH).withColumn(
        "island", F.col("frame") - F.row_number().over(w)
    )
    segs = voiced.groupBy("doc_id", "island").agg(
        F.min("frame").alias("start_frame"),
        F.max("frame").alias("end_frame"),
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("energy").alias("seg_energy"),
    )
    ws = Window.partitionBy("doc_id").orderBy("start_frame")
    return segs.select(
        "doc_id",
        F.row_number().over(ws).cast("bigint").alias("seg_idx"),
        "start_frame",
        "end_frame",
        "n_frames",
        "seg_energy",
    )


HIST_BINS = 8  # per-channel intensity bins (256/32)


def _histogram_rows(doc_id: int, payload: bytes) -> Iterator[tuple]:
    """(doc_id, channel, bin, n_px) for every non-empty bin of a P6."""
    _, _, _, raster = ppm_raster(payload)
    width = 256 // HIST_BINS
    counts: dict[tuple[int, int], int] = {}
    for i, v in enumerate(raster):
        key = (i % 3, v // width)
        counts[key] = counts.get(key, 0) + 1
    for (ch, b), n in sorted(counts.items()):
        yield doc_id, ch, b, n


@query(
    "mm_image_histogram",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 16 + 1 AS BIGINT) AS w,
               CAST((doc_id * 3) % 12 + 1 AS BIGINT) AS h
        FROM documents WHERE doc_id < {MM_DOC_LIMIT}
    ), px AS (
        SELECT doc_id, i % 3 AS channel,
               ((doc_id * 31 + i * 7) % 256) // {256 // HIST_BINS} AS bin
        FROM dims, unnest(range(0, w * h * 3)) AS t(i)
    )
    SELECT doc_id, CAST(channel AS BIGINT) AS channel,
           CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_px
    FROM px GROUP BY doc_id, channel, bin
    """,
)
def mm_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mm9 — per-channel color histograms: REAL P6/PPM bytes parsed back
    to the interleaved RGB raster inside one Arrow-batched
    ``mapInPandas``, intensities folded into 8 bins per channel — the
    color-statistics pass an image training pipeline uses for
    over/under-exposure and near-constant-image filtering. Long-format
    (doc, channel, bin, count) output; the oracle regenerates every
    pixel from the deterministic raster formula without touching bytes
    (the ``mm_audio_energy`` pattern).

    Shape: decode + histogram fold stay in the Python worker next to the
    payload; only ≤24 small rows per image shuffle."""
    return map_rows(
        media_payloads(spark, sf_dir, make_ppm),
        _histogram_rows,
        "doc_id bigint, channel bigint, bin bigint, n_px bigint",
        "doc_id",
        "payload",
    )


_KEYFRAME_ORACLE = f"""
    WITH {_SCENE_FLAGS_SQL}, scened AS (
        SELECT doc_id, f,
               SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY f
                                 ROWS UNBOUNDED PRECEDING) AS scene_idx
        FROM flags
    )
    SELECT sc.doc_id, CAST(sc.scene_idx AS BIGINT) AS scene_idx,
           CAST(MIN(sc.f) AS BIGINT) AS keyframe_f,
           CAST(MIN(s.s) AS BIGINT) AS keyframe_pixel_sum,
           CAST(COUNT(*) AS BIGINT) AS n_frames_in_scene
    FROM scened sc JOIN sums s ON s.doc_id = sc.doc_id AND s.f = sc.f
    GROUP BY sc.doc_id, sc.scene_idx
"""


@query("mm_video_keyframe", oracle=_KEYFRAME_ORACLE)
def mm_video_keyframe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mm10 — per-shot KEYFRAME selection, the step after scene-cut
    detection: assign every frame its shot id (running cut count), then
    pick each shot's representative frame — the shot's first frame, the
    standard cheap policy (within the fixture's shots all frames are
    identical, so first-frame IS the argmax of any detail metric) —
    carrying its pixel sum as the exposure feature. These (video, shot,
    frame) pointers are exactly what the downstream vision-training
    sampler reads instead of a fixed stride (long static shots no
    longer dominate the sample).

    Shape: decode emits (4 band ints + 1 sum)/frame from mapInPandas;
    cut flags, shot ids and the per-shot argmin all ride ONE per-video
    window partition."""
    w = Window.partitionBy("doc_id").orderBy("f")
    scened = _scene_cuts(spark, sf_dir).withColumn(
        "scene_idx",
        F.sum("is_cut").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return scened.groupBy(
        "doc_id", F.col("scene_idx").cast("bigint").alias("scene_idx")
    ).agg(
        F.min("f").cast("bigint").alias("keyframe_f"),
        F.min_by("psum", "f").cast("bigint").alias("keyframe_pixel_sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames_in_scene"),
    )
