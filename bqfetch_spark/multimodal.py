"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are `binary` columns with a metadata
struct; decode / feature-extraction run as Arrow-batched pandas
functions over `mapInPandas`. The decode step itself is STUBBED (no
image/audio libs in this container — clearly marked below); everything
Spark-side is real: schema, partitioning, UDF signatures, batch
shapes.

At 100 TB: payloads dominate bytes, so (a) metadata-only queries must
never read the payload column (column pruning — keep payloads in their
own parquet column), (b) decode fan-out is mapInPandas with
maxRecordsPerBatch tuned down so a batch of decoded frames fits in
executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.registry import register


def attach_fake_payload(docs: DataFrame) -> DataFrame:
    """Derive a deterministic binary payload + metadata from documents
    (fixtures carry no real media; payload bytes = UTF-8 of text).
    Metadata is hash-derived so it is stable across runs."""
    h = F.abs(F.xxhash64("text"))
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (h % 3 + 1).cast("int")).alias("kind"),
        (h % 1920 + 1).cast("int").alias("width"),
        (h % 1080 + 1).cast("int").alias("height"),
        (h % 60000).cast("int").alias("duration_ms"),
    )


def decode_media(payload: bytes) -> dict:
    """Decode real media structure from raw bytes — pure-Python header
    parsing, no image/audio libraries needed:

    - BMP (``BM`` magic): width/height/bpp from the 54-byte
      BITMAPINFOHEADER (little-endian int32 at offsets 18/22, uint16
      at 28).
    - WAV (``RIFF..WAVE`` magic): walks the chunk list; channels /
      sample rate / byte rate from the ``fmt `` chunk, duration from
      the ``data`` chunk size over the byte rate.

    Raises ValueError for unrecognized payloads. Compressed codecs
    (JPEG/MP3/H.264 frame data) would need real decoder libraries —
    those are absent in this container, so only the container-format
    headers are parsed; the Spark-side plumbing is identical either
    way."""
    import struct

    if payload[:2] == b"BM":
        width, height = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        return {
            "kind": "image",
            "width": width,
            "height": abs(height),  # negative height = top-down rows
            "bpp": bpp,
            "sample_rate": None,
            "channels": None,
            "duration_ms": None,
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        pos = 12
        fmt = None
        duration_ms = None
        while pos + 8 <= len(payload):
            cid, csize = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
            if cid == b"fmt ":
                _, channels, rate, byte_rate = struct.unpack_from("<HHII", payload, pos + 8)
                fmt = (channels, rate, byte_rate)
            elif cid == b"data" and fmt is not None:
                duration_ms = csize * 1000 // fmt[2]
            pos += 8 + csize + (csize & 1)  # RIFF chunks are word-aligned
        if fmt is None:
            raise ValueError("WAV payload has no fmt chunk")
        return {
            "kind": "audio",
            "width": None,
            "height": None,
            "bpp": None,
            "sample_rate": fmt[1],
            "channels": fmt[0],
            "duration_ms": duration_ms,
        }
    raise ValueError(f"unrecognized media payload (magic {payload[:4]!r})")


def encode_bmp(width: int, height: int) -> bytes:
    """Minimal valid 24bpp bottom-up BMP (zeroed pixels, 4-byte row
    padding) — deterministic synthetic image payload."""
    import struct

    stride = (width * 3 + 3) // 4 * 4
    pixels = stride * height
    header = struct.pack("<2sIHHI", b"BM", 54 + pixels, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, pixels, 2835, 2835, 0, 0
    )
    return header + b"\x00" * pixels


def encode_wav(sample_rate: int, channels: int, n_samples: int) -> bytes:
    """Minimal valid 16-bit PCM WAV (zeroed samples) — deterministic
    synthetic audio payload."""
    import struct

    data = n_samples * 2 * channels
    byte_rate = sample_rate * channels * 2
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + data, b"WAVE")
        + struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 1, channels, sample_rate, byte_rate, channels * 2, 16
        )
        + struct.pack("<4sI", b"data", data)
        + b"\x00" * data
    )


MEDIA_META_ORACLE = """
SELECT
  doc_id,
  CAST(length(text) AS BIGINT) AS byte_len,
  md5(text) AS checksum
FROM documents
"""


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic real-format payloads per document (fixtures carry
    no media): even doc_ids get a 24bpp BMP whose dimensions derive
    from doc_id, odd ones a 16-bit PCM WAV whose rate/channels/length
    derive from (doc_id, n_chars). Runs as an Arrow-batched
    mapInPandas — the encode is Python, but per-batch, never per-row
    over the wire."""
    import pandas as pd

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                d, c = int(doc_id), int(n_chars)
                if d % 2 == 0:
                    payloads.append(encode_bmp(d % 64 + 1, d % 48 + 1))
                else:
                    payloads.append(
                        encode_wav(
                            8000 + d % 8 * 1000,
                            2 if d % 4 == 1 else 1,
                            c % 500 + 2,
                        )
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id", "n_chars").mapInPandas(_synth, "doc_id bigint, payload binary")


DECODE_SCHEMA = (
    "doc_id bigint, kind string, width int, height int, sample_rate int, "
    "channels int, duration_ms bigint, payload_bytes bigint"
)


def decode_media_df(media: DataFrame) -> DataFrame:
    """mapInPandas decode stage over opaque binary payloads: every
    output value is parsed from the BYTES (magic, header fields, chunk
    walk) — nothing is carried through from the synthesis side except
    doc_id. Nullable Int32/Int64 pandas arrays keep the Arrow schema
    integer-typed despite per-kind NULLs."""
    import pandas as pd

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [decode_media(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": [r["kind"] for r in rows],
                    "width": pd.array([r["width"] for r in rows], dtype="Int32"),
                    "height": pd.array([r["height"] for r in rows], dtype="Int32"),
                    "sample_rate": pd.array([r["sample_rate"] for r in rows], dtype="Int32"),
                    "channels": pd.array([r["channels"] for r in rows], dtype="Int32"),
                    "duration_ms": pd.array([r["duration_ms"] for r in rows], dtype="Int64"),
                    "payload_bytes": pd.array([len(p) for p in pdf["payload"]], dtype="Int64"),
                }
            )

    return media.mapInPandas(_decode, DECODE_SCHEMA)


MEDIA_DECODE_ORACLE = """
SELECT
  doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 64 + 1 END AS INT) AS width,
  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 48 + 1 END AS INT) AS height,
  CAST(CASE WHEN doc_id % 2 = 1 THEN 8000 + doc_id % 8 * 1000 END AS INT) AS sample_rate,
  CAST(CASE WHEN doc_id % 2 = 1 THEN CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 1 END END AS INT) AS channels,
  CAST(CASE WHEN doc_id % 2 = 1
       THEN (n_chars % 500 + 2) * 1000 // (8000 + doc_id % 8 * 1000) END AS BIGINT) AS duration_ms,
  CAST(CASE WHEN doc_id % 2 = 0
       THEN 54 + ((doc_id % 64 + 1) * 3 + 3) // 4 * 4 * (doc_id % 48 + 1)
       ELSE 44 + (n_chars % 500 + 2) * 2 * (CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 1 END)
       END AS BIGINT) AS payload_bytes
FROM documents
"""


@register("q68_multimodal_decode", oracle=MEDIA_DECODE_ORACLE, tags=("multimodal", "decode"))
def q68_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real media decode round-trip: synthesize valid BMP/WAV payloads
    (encode_bmp/encode_wav), then parse structure back OUT OF THE RAW
    BYTES (decode_media: magic sniffing, BITMAPINFOHEADER fields, RIFF
    chunk walk) in an Arrow-batched mapInPandas stage. The DuckDB
    oracle computes the expected dimensions/rates/durations/byte sizes
    arithmetically from (doc_id, n_chars) — so a header mis-encode OR
    a parser bug on either stage breaks the hash match. At 100 TB the
    synthesis stage is replaced by reading real payload columns; the
    decode stage is unchanged."""
    docs = load_catalog(spark, sf_dir).table("documents")
    return decode_media_df(synthesize_media(docs))


def resize_bmp(payload: bytes, new_width: int, new_height: int) -> bytes:
    """Nearest-neighbor resize of a 24bpp BMP, pure Python: sample
    source pixel (x*w//w2, y*h//h2) for every target pixel, re-encode
    with correct 4-byte row padding. Operates on the stored
    (bottom-up) row order — flip-invariant for nearest-neighbor."""
    import struct

    width, height = struct.unpack_from("<ii", payload, 18)
    height = abs(height)
    stride = (width * 3 + 3) // 4 * 4
    new_stride = (new_width * 3 + 3) // 4 * 4
    out = bytearray(b"\x00" * (new_stride * new_height))
    for y2 in range(new_height):
        y = y2 * height // new_height
        src_row = 54 + y * stride
        dst_row = y2 * new_stride
        for x2 in range(new_width):
            x = x2 * width // new_width
            s = src_row + x * 3
            d = dst_row + x2 * 3
            out[d : d + 3] = payload[s : s + 3]
    pixels = new_stride * new_height
    header = struct.pack("<2sIHHI", b"BM", 54 + pixels, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, new_width, new_height, 1, 24, 0, pixels, 2835, 2835, 0, 0
    )
    return header + bytes(out)


def downsample_wav(payload: bytes, factor: int) -> bytes:
    """Frame-sampling for PCM WAV: keep every ``factor``-th frame (a
    frame = one 16-bit sample per channel) and divide the declared
    sample rate — the audio analog of video frame-sampling, pure
    byte-slice Python."""
    import struct

    pos, fmt, data = 12, None, b""
    while pos + 8 <= len(payload):
        cid, csize = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        if cid == b"fmt ":
            _, channels, rate, _ = struct.unpack_from("<HHII", payload, pos + 8)
            fmt = (channels, rate)
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + csize]
        pos += 8 + csize + (csize & 1)
    if fmt is None:
        raise ValueError("WAV payload has no fmt chunk")
    channels, rate = fmt
    frame = channels * 2
    kept = b"".join(data[i : i + frame] for i in range(0, len(data), frame * factor))
    return encode_wav(rate // factor, channels, len(kept) // frame)[: 44] + kept


TRANSFORM_SCHEMA = (
    "doc_id bigint, kind string, width int, height int, sample_rate int, "
    "channels int, duration_ms bigint, payload_bytes bigint"
)


def transform_media_df(media: DataFrame) -> DataFrame:
    """The resize / frame-sample stage of a multimodal pipeline as one
    Arrow-batched mapInPandas pass: images are nearest-neighbor halved,
    audio keeps every 2nd frame at half the rate — and the OUTPUT rows
    are produced by re-decoding the transformed bytes (decode_media),
    so every emitted value proves the transform re-encoded a valid
    payload, not just that arithmetic was done."""
    import pandas as pd

    def _transform(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payloads = []
            for p in pdf["payload"]:
                b = bytes(p)
                if b[:2] == b"BM":
                    import struct

                    w, h = struct.unpack_from("<ii", b, 18)
                    out_payloads.append(resize_bmp(b, max(w // 2, 1), max(abs(h) // 2, 1)))
                else:
                    out_payloads.append(downsample_wav(b, 2))
            rows = [decode_media(p) for p in out_payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": [r["kind"] for r in rows],
                    "width": pd.array([r["width"] for r in rows], dtype="Int32"),
                    "height": pd.array([r["height"] for r in rows], dtype="Int32"),
                    "sample_rate": pd.array([r["sample_rate"] for r in rows], dtype="Int32"),
                    "channels": pd.array([r["channels"] for r in rows], dtype="Int32"),
                    "duration_ms": pd.array([r["duration_ms"] for r in rows], dtype="Int64"),
                    "payload_bytes": pd.array([len(p) for p in out_payloads], dtype="Int64"),
                }
            )

    return media.mapInPandas(_transform, TRANSFORM_SCHEMA)


MEDIA_TRANSFORM_ORACLE = """
WITH src AS (
  SELECT doc_id, n_chars,
    doc_id % 2 = 0 AS is_image,
    doc_id % 64 + 1 AS w, doc_id % 48 + 1 AS h,
    8000 + doc_id % 8 * 1000 AS rate,
    CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 1 END AS ch,
    n_chars % 500 + 2 AS n_samples
  FROM documents
),
t AS (
  SELECT doc_id, is_image,
    greatest(w // 2, 1) AS w2, greatest(h // 2, 1) AS h2,
    rate // 2 AS rate2, ch,
    (n_samples + 1) // 2 AS n2
  FROM src
)
SELECT
  doc_id,
  CASE WHEN is_image THEN 'image' ELSE 'audio' END AS kind,
  CAST(CASE WHEN is_image THEN w2 END AS INT) AS width,
  CAST(CASE WHEN is_image THEN h2 END AS INT) AS height,
  CAST(CASE WHEN NOT is_image THEN rate2 END AS INT) AS sample_rate,
  CAST(CASE WHEN NOT is_image THEN ch END AS INT) AS channels,
  CAST(CASE WHEN NOT is_image
       THEN (n2 * 2 * ch) * 1000 // (rate2 * ch * 2) END AS BIGINT) AS duration_ms,
  CAST(CASE WHEN is_image
       THEN 54 + (w2 * 3 + 3) // 4 * 4 * h2
       ELSE 44 + n2 * 2 * ch
       END AS BIGINT) AS payload_bytes
FROM t
"""


@register("q91_multimodal_transform", oracle=MEDIA_TRANSFORM_ORACLE, tags=("multimodal", "transform"))
def q91_multimodal_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal transform stage: synthesize real BMP/WAV payloads,
    resize images to half resolution (nearest-neighbor) and
    frame-sample audio to half rate, then re-decode the TRANSFORMED
    bytes — the oracle recomputes every post-transform dimension /
    rate / duration / byte size arithmetically, so a bug in resize
    geometry, stride padding, frame slicing, or re-encode headers
    breaks the hash. Pixel/sample VALUES are asserted separately in
    tests over patterned payloads (SQL can't express the resample).
    At 100 TB this is the shape of the real job: payload-carrying
    mapInPandas stages chained decode→transform→re-encode, metadata
    queries never touching the payload column."""
    docs = load_catalog(spark, sf_dir).table("documents")
    return transform_media_df(synthesize_media(docs))


def encode_video(doc_id: int) -> bytes:
    """Deterministic synthetic 'video': a stream of concatenated BMP
    frames (the raw-frame analogue of an MJPEG track — every frame a
    complete, individually-decodable image). Real codec containers
    (MP4/H.264) need decoder libraries absent in this container; the
    byte-walking, frame-boundary, and sampling plumbing is identical."""
    n_frames = doc_id % 7 + 2
    w = doc_id % 32 + 1
    h = doc_id % 24 + 1
    return encode_bmp(w, h) * n_frames  # constant dims per video


FRAME_STRIDE = 2  # keep every 2nd frame

VIDEO_SCHEMA = (
    "doc_id bigint, n_frames int, n_sampled int, frame_w int, frame_h int, "
    "frame_bytes bigint, total_bytes bigint"
)


def sample_video_frames(payload: bytes, stride: int = FRAME_STRIDE) -> dict:
    """Walk the frame stream OUT OF THE RAW BYTES: each BMP header's
    file-size field (uint32 at offset 2) gives the jump to the next
    frame — no index, no fixed frame size assumed. Keeps every
    ``stride``-th frame (the temporal downsampling every video
    training pipeline runs before feature extraction) and returns the
    stream geometry."""
    import struct

    offsets = []
    pos = 0
    while pos < len(payload):
        if payload[pos : pos + 2] != b"BM":
            raise ValueError(f"bad frame magic at offset {pos}")
        size = struct.unpack_from("<I", payload, pos + 2)[0]
        offsets.append((pos, size))
        pos += size
    if pos != len(payload):
        raise ValueError("trailing bytes after last frame")
    sampled = offsets[::stride]
    w, h = struct.unpack_from("<ii", payload, offsets[0][0] + 18)
    return {
        "n_frames": len(offsets),
        "n_sampled": len(sampled),
        "frame_w": w,
        "frame_h": abs(h),
        "frame_bytes": offsets[0][1],
        "total_bytes": len(payload),
    }


def sample_video_frames_df(media: DataFrame) -> DataFrame:
    """Arrow-batched frame sampling over (doc_id, payload) rows."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [sample_video_frames(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": pd.array([r["n_frames"] for r in rows], dtype="Int32"),
                    "n_sampled": pd.array([r["n_sampled"] for r in rows], dtype="Int32"),
                    "frame_w": pd.array([r["frame_w"] for r in rows], dtype="Int32"),
                    "frame_h": pd.array([r["frame_h"] for r in rows], dtype="Int32"),
                    "frame_bytes": pd.array([r["frame_bytes"] for r in rows], dtype="Int64"),
                    "total_bytes": pd.array([r["total_bytes"] for r in rows], dtype="Int64"),
                }
            )

    return media.mapInPandas(_sample, VIDEO_SCHEMA)


VIDEO_SAMPLE_ORACLE = """
SELECT doc_id,
  CAST(doc_id % 7 + 2 AS INT) AS n_frames,
  CAST((doc_id % 7 + 2 + 1) // 2 AS INT) AS n_sampled,
  CAST(doc_id % 32 + 1 AS INT) AS frame_w,
  CAST(doc_id % 24 + 1 AS INT) AS frame_h,
  CAST(54 + ((doc_id % 32 + 1) * 3 + 3) // 4 * 4 * (doc_id % 24 + 1) AS BIGINT)
    AS frame_bytes,
  CAST((doc_id % 7 + 2) *
       (54 + ((doc_id % 32 + 1) * 3 + 3) // 4 * 4 * (doc_id % 24 + 1)) AS BIGINT)
    AS total_bytes
FROM documents
"""


@register("q102_video_frame_sample", oracle=VIDEO_SAMPLE_ORACLE, tags=("multimodal", "video"))
def q102_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling: synthesize multi-frame payloads (a
    concatenated-BMP raw-frame stream, encode_video), then walk frame
    boundaries out of the raw bytes by each header's file-size field
    and keep every FRAME_STRIDE-th frame (sample_video_frames) in an
    Arrow-batched mapInPandas stage. The DuckDB oracle recomputes
    frame counts, sampled counts, dimensions, and byte geometry
    arithmetically from doc_id — a mis-encoded header, a wrong jump,
    or an off-by-one in the stride breaks the hash. At 100 TB the
    synthesis stage is replaced by real payload columns; the sampling
    stage (the standard temporal downsample before frame feature
    extraction) is unchanged."""
    docs = load_catalog(spark, sf_dir).table("documents").select("doc_id")

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_video(int(d)) for d in pdf["doc_id"]],
                }
            )

    media = docs.mapInPandas(_synth, "doc_id bigint, payload binary")
    return sample_video_frames_df(media)


@register("q62_multimodal_meta", oracle=MEDIA_META_ORACLE, tags=("multimodal",))
def q62_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata/checksum pass over binary payloads — the JVM-side part
    of the multimodal path (md5 over the payload bytes; text is ASCII
    so byte_len == char length in the oracle). The pandas feature
    extraction is exercised in tests (mapInPandas shape/checksums)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    media = attach_fake_payload(docs)
    return media.select(
        "doc_id",
        F.octet_length("payload").cast("bigint").alias("byte_len"),
        F.md5("payload").alias("checksum"),
    )
