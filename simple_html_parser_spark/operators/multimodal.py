"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed with vectorized Arrow batches.

The header decoders are REAL pure-Python parsers (no image/audio libs
needed): PNG IHDR (signature + width/height/bit-depth/color-type, CRC
present and valid in the synthesized corpus) and WAV RIFF chunk walk
(fmt → channels/sample-rate/bits, data → frame count).  Each runs as a
``_DocStage`` (operators/extraction): one row per payload, and a
payload the decoder rejects gets the deterministic stub row
(``decoded=false``), so a production build only swaps a decoder for
PIL/ffmpeg — schema, batching, partitioning and isolation are
unchanged.

``binary_metadata`` is fully real (length, magic prefix, sha256) and
oracle-checked against DuckDB over the same bytes.
"""

from __future__ import annotations

import struct

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extraction import _DocStage, _row

PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type → sample channels (spec §11.2.2; type 3 is palette)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# the largest value an int32 column holds; a header field past it
# (invalid in PNG, absurd in WAV) takes the stub row
_INT32_MAX = 2**31 - 1

IMAGE_META_SCHEMA = pa.schema([
    ("url", pa.string()), ("n_bytes", pa.int64()),
    ("width", pa.int32()), ("height", pa.int32()),
    ("channels", pa.int32()), ("decoded", pa.bool_()),
    ("note", pa.string()),
])


def binary_metadata(df: DataFrame, col: str = "html") -> DataFrame:
    """Typed metadata over an opaque binary column — pure built-ins:
    (url, n_bytes, magic_hex, digest)."""
    return df.select(
        "url",
        F.length(F.col(col)).cast("bigint").alias("n_bytes"),
        F.hex(F.substring(F.col(col), 1, 4)).alias("magic_hex"),
        F.sha2(F.col(col), 256).alias("digest"),
    )


def decode_image(url, b):
    """Image header decode: REAL pure-Python PNG IHDR parse (spec
    §11.2.2 — signature, first chunk must be IHDR, big-endian
    width/height, bit depth, color type → channels).  Raises on a
    non-PNG or truncated header; the stage turns that into the stub
    row — the slot a production build fills with PIL/cv2."""
    if len(b) < 26 or b[:8] != PNG_SIG or b[12:16] != b"IHDR":
        raise ValueError("not a PNG")
    w, h = struct.unpack(">II", b[16:24])
    if max(w, h) > _INT32_MAX:
        raise ValueError("IHDR dimension past 2^31-1")
    bit_depth, color_type = b[24], b[25]
    return _row(url, len(b), w, h, _PNG_CHANNELS.get(color_type, 0), True,
                f"png-ihdr bit_depth={bit_depth} color_type={color_type}")


def _image_stub(url, b, e):
    n = 0 if b is None else len(b)
    return _row(url, n, n % 640 + 1, n % 480 + 1, 3, False,
                "stub-decoder: deterministic fake dims")


def _make_image_fn(col: str = "html") -> _DocStage:
    return _DocStage(IMAGE_META_SCHEMA, decode_image, _image_stub,
                     payload=col)


def extract_image_features(df: DataFrame, col: str = "html") -> DataFrame:
    """(url, ``col``) → one image-header row per payload, through one
    mapInArrow stage."""
    return _make_image_fn(col).apply(df)


AUDIO_META_SCHEMA = pa.schema([
    ("url", pa.string()), ("n_bytes", pa.int64()),
    ("sample_rate", pa.int32()), ("channels", pa.int32()),
    ("n_samples", pa.int64()), ("duration_ms", pa.int64()),
    ("decoded", pa.bool_()), ("note", pa.string()),
])


def decode_audio(url, b):
    """Audio header decode: REAL pure-Python WAV parse (RIFF/WAVE
    container walk — ``fmt `` chunk → PCM format/channels/sample-rate/
    bits, ``data`` chunk → byte count → sample frames and duration).
    Raises on a non-WAV payload, for the stub row as in the image path
    — the slot a production build fills with soundfile/ffmpeg."""
    n = len(b)
    if n < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    fmt = data_size = None
    off = 12
    while off + 8 <= n:
        cid = b[off:off + 4]
        size = struct.unpack("<I", b[off + 4:off + 8])[0]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", b[off + 8:off + 24])
        elif cid == b"data":
            data_size = size
        off += 8 + size + (size & 1)    # chunks are word-aligned
    if fmt is None or data_size is None:
        raise ValueError("missing fmt/data chunk")
    _, channels, rate, _, block_align, bits = fmt
    if rate > _INT32_MAX:
        raise ValueError("sample rate past 2^31-1")
    frames = data_size // max(block_align, 1)
    return _row(url, n, rate, channels, frames,
                frames * 1000 // max(rate, 1), True, f"wav-fmt bits={bits}")


def _audio_stub(url, b, e):
    n = 0 if b is None else len(b)
    rate = 16000 + (n % 3) * 8000        # 16/24/32 kHz fake
    return _row(url, n, rate, 1, n * 4, n * 4 * 1000 // rate, False,
                "stub-decoder: deterministic fake audio meta")


def _make_audio_fn(col: str = "html") -> _DocStage:
    return _DocStage(AUDIO_META_SCHEMA, decode_audio, _audio_stub,
                     payload=col)


def extract_audio_features(df: DataFrame, col: str = "html") -> DataFrame:
    """Same one-stage shape as the image path."""
    return _make_audio_fn(col).apply(df)


def frame_sample(
    df: DataFrame, col: str = "html", n_frames: int = 4,
    frame_chars: int = 4096,
) -> DataFrame:
    """Video frame-sampling plumbing: emit ``n_frames`` evenly-spaced
    windows per payload with their digests — the REAL Spark shape
    (explode-per-frame rows, deterministic offsets, one digest per
    window) with the codec decode left to a production ffmpeg UDF.
    Pure built-ins, no Python: offsets via sequence + floor, windows
    via substr, sha2 digest.  Windows are char-offsets over the
    utf-8-decoded payload so the DuckDB oracle (char-based substring)
    matches exactly; a real video build slices bytes instead."""
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias(
        "frame_idx")
    out = df.select(
        "url", F.decode(F.col(col), "utf-8").alias("_s"), idx)
    off = F.floor(
        F.col("frame_idx").cast("bigint")
        * F.length("_s").cast("bigint") / n_frames).cast("bigint")
    return out.select(
        "url",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        off.alias("frame_offset"),
        F.sha2(F.col("_s").substr(
            (off + 1).cast("int"), F.lit(frame_chars)), 256)
        .alias("frame_sha256"),
    )
