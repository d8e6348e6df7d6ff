"""Multimodal column handling: opaque ``binary`` payloads + typed metadata,
with decode / frame-sample as Arrow-batched kernels.

The decode seam now has TWO real codecs:

* ``audio/wav`` — stdlib ``wave`` reader (RIFF header parse + PCM frame
  read), gated by ``media_wav_decode`` with an exact SQL oracle.
* ``image/png`` — ``kernel.pngcodec`` (stdlib zlib inflate + chunk/CRC
  walk + spec-correct Sub/Up/Average/Paeth defilter), gated by
  ``media_png_decode``. The container is synthesized around the payload
  with row filters cycling through all five types, so the decode must
  implement every filter correctly to reproduce the pixels the oracle
  predicts from the source text alone.

Video codec libraries are not in this container, so that branch still
raises NotImplementedError and a deterministic fake sampler stands in
for frame extraction; the Spark-side plumbing — schema, partitioning,
Arrow batch shape, UDF signature — is identical for real and fake
paths, so swapping in pyav is a one-function change.

Digest discipline: kernels emit raw BYTES; md5 digests are computed
JVM-side with ``F.md5(lower(hex(...)))`` (r2 verdict — no per-row Python
hashing in the hot path). The digest is over the LOWERCASE HEX of the
bytes, not the raw bytes, because this duckdb build has no md5(BLOB) —
hex keeps the oracle exactly SQL-expressible.
"""

from __future__ import annotations

import io
import struct
import wave

from pyspark.sql import functions as F

from ..kernel.pngcodec import decode_png, encode_png
from ..plans.pipeline import map_rows
from . import QuerySpec, table

MEDIA_TYPES = ("image/png", "audio/wav", "video/mp4", "text/plain")

FRAME_SCHEMA = ("doc_id bigint, media_type string, frame_idx int, "
                "frame binary")

WAV_SCHEMA = ("doc_id bigint, n_channels int, sample_width int, "
              "sample_rate int, n_frames bigint, pcm binary")

PNG_SCHEMA = ("doc_id bigint, width int, height int, bit_depth int, "
              "color_type int, pixels binary")

#: canonical width (in pixels) for the synthesized test PNGs
PNG_WIDTH = 32

#: canonical parameters for the synthesized test WAVs
WAV_RATE = 8000
WAV_CHANNELS = 1
WAV_SAMPWIDTH = 2


def decode_media(payload: bytes, media_type: str):
    """Real-codec seam.

    audio/wav: REAL decode via the stdlib ``wave`` reader — parses the
    RIFF/fmt chunks and returns the stream parameters + raw PCM bytes;
    malformed containers raise (wave.Error/EOFError), which the caller
    maps to its quarantine/totality contract.
    image/png: REAL decode via ``kernel.pngcodec`` — signature + chunk
    walk with CRC verification, zlib inflate, spec-correct scanline
    defilter; malformed containers raise PngError.
    text/plain: identity.
    video: NotImplementedError until pyav is available."""
    if media_type == "audio/wav":
        with wave.open(io.BytesIO(payload), "rb") as w:
            n = w.getnframes()
            return {"n_channels": w.getnchannels(),
                    "sample_width": w.getsampwidth(),
                    "sample_rate": w.getframerate(),
                    "n_frames": n,
                    "pcm": w.readframes(n)}
    if media_type == "image/png":
        return decode_png(payload)
    if media_type == "text/plain":
        return payload
    raise NotImplementedError(
        "codec for %s not available in this environment" % media_type)


def wav_container(pcm: bytes, sample_rate: int = WAV_RATE,
                  n_channels: int = WAV_CHANNELS,
                  sampwidth: int = WAV_SAMPWIDTH) -> bytes:
    """Wrap raw PCM in a canonical RIFF/WAVE container (stdlib writer).
    Odd-length PCM is zero-padded to the frame size — mirrored in the
    oracle SQL as hx || '00'."""
    frame = n_channels * sampwidth
    if len(pcm) % frame:
        pcm = pcm + b"\x00" * (frame - len(pcm) % frame)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(sampwidth)
        w.setframerate(sample_rate)
        w.writeframes(pcm)
    return buf.getvalue()


def fake_frames(payload: bytes, media_type: str, n_frames: int = 4):
    """Deterministic stand-in for frame sampling / feature extraction:
    fixed-count contiguous byte slices of the payload."""
    if not payload:
        return []
    step = max(len(payload) // n_frames, 1)
    return [payload[i * step:(i + 1) * step] for i in range(n_frames)
            if payload[i * step:(i + 1) * step]]


def media_table(spark, sf_dir):
    """Synthesize a media table from documents: binary payload + typed
    metadata columns (the pages-table pattern applied to media)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.element_at(
            F.array(*[F.lit(t) for t in MEDIA_TYPES]),
            (F.col("doc_id") % len(MEDIA_TYPES) + 1).cast("int"))
        .alias("media_type"))


def _frame_rows(doc_id, payload, media_type):
    for idx, frame in enumerate(fake_frames(payload, media_type)):
        yield doc_id, media_type, idx, frame


def _wav_decode_row(doc_id, payload, _media_type):
    """Row kernel for the REAL wav path: container synthesis around the
    payload-as-PCM, then a genuine stdlib wave decode of those bytes."""
    dec = decode_media(wav_container(payload), "audio/wav")
    yield (doc_id, dec["n_channels"], dec["sample_width"],
           dec["sample_rate"], dec["n_frames"], dec["pcm"])


def png_container(payload: bytes, color_type: int) -> bytes:
    """Wrap payload bytes as the pixel buffer of a PNG: fixed 32-px-wide
    image, zero-padded to a whole number of rows (>= 1), row filters
    cycling all five types. Mirrored in the oracle as hx || repeat('00')."""
    bpp = 1 if color_type == 0 else 3
    row = PNG_WIDTH * bpp
    height = max(1, -(-len(payload) // row))
    pixels = payload + b"\x00" * (row * height - len(payload))
    return encode_png(pixels, PNG_WIDTH, height, color_type)


def _png_decode_row(doc_id, payload, _media_type):
    """Row kernel for the REAL png path: container synthesis around the
    payload-as-pixels, then a genuine pngcodec decode of those bytes."""
    dec = decode_png(png_container(payload, 0 if doc_id % 8 == 0 else 2))
    yield (doc_id, dec["width"], dec["height"], dec["bit_depth"],
           dec["color_type"], dec["pixels"])


def media_metadata(spark, sf_dir):
    """Typed metadata over opaque binary payloads — pure Catalyst."""
    media = media_table(spark, sf_dir)
    return media.select(
        "doc_id", "media_type",
        F.octet_length("payload").cast("bigint").alias("payload_bytes"),
        F.md5("payload").alias("payload_md5"))


MEDIA_METADATA_SQL = """
SELECT doc_id,
       ['image/png', 'audio/wav', 'video/mp4', 'text/plain']
         [CAST(doc_id % 4 AS INT) + 1] AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       md5(text) AS payload_md5
FROM documents
"""


def media_frame_sample(spark, sf_dir):
    """Arrow-batched frame sampling over the media table (the map_rows
    plumbing for real decoders). The kernel emits raw frame BYTES; size
    and digest are computed JVM-side (octet_length / md5 over lowercase
    hex), so the Python loop does no hashing."""
    media = media_table(spark, sf_dir).repartition(8, "doc_id")
    frames = map_rows(media, _frame_rows, FRAME_SCHEMA)
    return frames.select(
        "doc_id", "media_type", "frame_idx",
        F.octet_length("frame").cast("int").alias("frame_bytes"),
        F.md5(F.lower(F.hex("frame"))).alias("frame_md5"))


MEDIA_FRAME_SQL = """
WITH sized AS (
  SELECT doc_id,
         ['image/png', 'audio/wav', 'video/mp4', 'text/plain']
           [CAST(doc_id % 4 AS INT) + 1] AS media_type,
         lower(hex(encode(text))) AS hx,
         GREATEST(octet_length(encode(text)) // 4, 1) AS step
  FROM documents WHERE octet_length(encode(text)) > 0
),
frames AS (
  SELECT doc_id, media_type, i AS frame_idx,
         substring(hx, i * step * 2 + 1, step * 2) AS fh
  FROM sized, (SELECT unnest(generate_series(0, 3)) AS i) g
)
SELECT doc_id, media_type, CAST(frame_idx AS INT) AS frame_idx,
       CAST(length(fh) // 2 AS INT) AS frame_bytes,
       md5(fh) AS frame_md5
FROM frames WHERE length(fh) > 0
"""


def media_wav_decode(spark, sf_dir):
    """REAL codec, gated: wrap each audio/wav payload in a RIFF container
    and decode it back with the stdlib wave reader inside the Arrow
    kernel; the decoded stream parameters and PCM bytes are emitted and
    digested JVM-side. The oracle predicts every decoded value from the
    source text alone — if the wave parse mis-read the header or dropped
    a byte of PCM, the hash gate fails."""
    media = (media_table(spark, sf_dir)
             .where("media_type = 'audio/wav'")
             .repartition(8, "doc_id"))
    decoded = map_rows(media, _wav_decode_row, WAV_SCHEMA)
    return decoded.select(
        "doc_id", "n_channels", "sample_width", "sample_rate", "n_frames",
        F.md5(F.lower(F.hex("pcm"))).alias("pcm_md5"))


MEDIA_WAV_SQL = """
SELECT doc_id,
       1 AS n_channels, 2 AS sample_width, 8000 AS sample_rate,
       CAST((octet_length(encode(text)) + 1) // 2 AS BIGINT) AS n_frames,
       md5(CASE WHEN octet_length(encode(text)) % 2 = 1
                THEN lower(hex(encode(text))) || '00'
                ELSE lower(hex(encode(text))) END) AS pcm_md5
FROM documents WHERE doc_id % 4 = 1
"""


def media_png_decode(spark, sf_dir):
    """REAL image codec, gated: wrap each image/png payload as the pixel
    buffer of a 32-px-wide PNG (row filters cycling None/Sub/Up/Average/
    Paeth, zlib-compressed) and decode it back with kernel.pngcodec —
    signature check, chunk walk with CRC verification, inflate, and
    spec-correct defilter. The oracle predicts the header fields and the
    reconstructed pixel bytes from the source text alone, so a mis-read
    header, a CRC accepted wrongly, or ANY filter-arithmetic error fails
    the hash. Greyscale (bpp=1) and RGB (bpp=3) both exercised."""
    media = (media_table(spark, sf_dir)
             .where("media_type = 'image/png'")
             .repartition(8, "doc_id"))
    decoded = map_rows(media, _png_decode_row, PNG_SCHEMA)
    return decoded.select(
        "doc_id", "width", "height", "bit_depth", "color_type",
        F.md5(F.lower(F.hex("pixels"))).alias("pixel_md5"))


MEDIA_PNG_SQL = """
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 8 = 0 THEN 1 ELSE 3 END AS bpp,
         octet_length(encode(text)) AS n,
         lower(hex(encode(text))) AS hx
  FROM documents WHERE doc_id % 4 = 0
)
SELECT doc_id,
       CAST(32 AS INT) AS width,
       CAST(GREATEST((n + 32 * bpp - 1) // (32 * bpp), 1) AS INT) AS height,
       CAST(8 AS INT) AS bit_depth,
       CAST(CASE WHEN doc_id % 8 = 0 THEN 0 ELSE 2 END AS INT)
         AS color_type,
       md5(hx || repeat('00',
             CAST(GREATEST((n + 32 * bpp - 1) // (32 * bpp), 1) AS INT)
               * 32 * bpp - n)) AS pixel_md5
FROM src
"""


QUERIES = {
    "media_metadata": QuerySpec(media_metadata, MEDIA_METADATA_SQL),
    "media_frame_sample": QuerySpec(media_frame_sample, MEDIA_FRAME_SQL),
    "media_wav_decode": QuerySpec(media_wav_decode, MEDIA_WAV_SQL),
    "media_png_decode": QuerySpec(media_png_decode, MEDIA_PNG_SQL),
}
