"""Media feature extraction: opaque ``binary`` payloads (image/audio/video)
decoded to typed metadata through Arrow-batched ``mapInPandas`` — the
``media_features`` registry query.

The Spark side is fully real: schema, partition-preserving iterator
transform, bounded batch memory (rows stream through ``mapInPandas`` an
Arrow batch at a time; a 100 TB blob column never materializes per-task
beyond ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows).

Decode is REAL for image headers: :func:`parse_image_header` reads PNG IHDR
and JPEG SOF dimensions from the magic bytes (pure python, no codec libs).
Payloads it doesn't recognize — and all audio/video — fall back to the
deterministic content-hash fake, behind the same ``decoder=`` injection
point (swap in PIL/torchaudio for full decode; everything else is
unchanged). The ``codec`` output column says which path fired.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_sec", DoubleType(), True),
        StructField("feat_hash", StringType(), True),
        StructField("codec", StringType(), True),  # png | jpeg | fake
    ]
)

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# SOF0-SOF15 markers that carry frame dimensions (C4/C8/CC are
# huffman/arithmetic tables, not frames)
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def parse_image_header(payload: bytes) -> tuple[str, int, int] | None:
    """Real (pure-python) image header parse: (format, width, height) from
    the magic bytes, or None if the payload is not a recognized image.

    - PNG: 8-byte signature, then the IHDR chunk — width/height are the two
      big-endian u32 at bytes 16..24 (the IHDR chunk is required first).
    - JPEG: walk the marker segments from SOI until a start-of-frame marker;
      height/width are the big-endian u16 at SOF offset +5/+7.
    """
    if payload[:8] == _PNG_MAGIC:
        if len(payload) < 24 or payload[12:16] != b"IHDR":
            return None
        w = int.from_bytes(payload[16:20], "big")
        h = int.from_bytes(payload[20:24], "big")
        # raw big-endian u32 can exceed int32 (FEATURES_SCHEMA width/height
        # are IntegerType — an unchecked 2^31 dim kills the whole Arrow batch
        # with ArrowInvalid); the PNG spec itself caps dims at 2^31-1 and
        # forbids 0, so hostile headers fall back to the fake decoder
        if not (0 < w <= 0x7FFFFFFF and 0 < h <= 0x7FFFFFFF):
            return None
        return ("png", w, h)
    if payload[:2] == b"\xff\xd8":
        pos = 2
        while pos + 2 <= len(payload):
            if payload[pos] != 0xFF:
                return None
            # any number of 0xFF fill bytes may precede a marker (B.1.1.2)
            while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
                pos += 1
            if pos + 2 > len(payload):
                return None
            marker = payload[pos + 1]
            if marker in _JPEG_SOF_MARKERS:
                if pos + 9 > len(payload):
                    return None
                h = int.from_bytes(payload[pos + 5 : pos + 7], "big")
                w = int.from_bytes(payload[pos + 7 : pos + 9], "big")
                # h == 0 means "deferred to a DNL marker" (B.2.2) — treat as
                # unparseable rather than emitting a zero dimension
                if w == 0 or h == 0:
                    return None
                return ("jpeg", w, h)
            if marker == 0xD9:  # EOI before any frame
                return None
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                # TEM / RSTn are standalone — no length field follows
                pos += 2
                continue
            seg_len = int.from_bytes(payload[pos + 2 : pos + 4], "big")
            if seg_len < 2:
                return None
            pos += 2 + seg_len
        return None
    return None


def _fake_decode(kind: str, payload: bytes | None) -> dict:
    """Deterministic stand-in for an opaque codec: derives plausible metadata
    from a content hash (the fallback for payloads the header parser doesn't
    recognize, and for all audio/video)."""
    if payload is None:
        return {
            "width": None, "height": None, "duration_sec": None,
            "feat_hash": None, "codec": None,
        }
    h = hashlib.sha256(payload).digest()
    if kind == "image":
        return {
            "width": 64 + h[0] % 192,
            "height": 64 + h[1] % 192,
            "duration_sec": None,
            "feat_hash": h.hex()[:16],
            "codec": "fake",
        }
    return {
        "width": None,
        "height": None,
        # exact integer division by 100.0 (no round()) so any engine
        # recomputes the identical double — the DuckDB oracle for the
        # media_features registry query mirrors this formula bit-for-bit
        "duration_sec": (50 + int.from_bytes(h[2:4], "big") % 6000) / 100.0,
        "feat_hash": h.hex()[:16],
        "codec": "fake",
    }


def header_decode(kind: str, payload: bytes | None) -> dict:
    """Default decoder: REAL PNG/JPEG header parse for image payloads, fake
    fallback otherwise. The fingerprint for parsed images hashes the HEX
    encoding of the bytes (sha256 over raw bytes is not computable by every
    SQL engine — DuckDB's sha256 is VARCHAR-only — and the oracle must be
    able to recompute the identical value)."""
    if kind == "image" and payload is not None:
        parsed = parse_image_header(bytes(payload))
        if parsed is not None:
            fmt, w, h = parsed
            return {
                "width": w,
                "height": h,
                "duration_sec": None,
                "feat_hash": hashlib.sha256(bytes(payload).hex().encode()).hexdigest()[:16],
                "codec": fmt,
            }
    return _fake_decode(kind, payload)


def extract_media_features(
    df: DataFrame,
    decoder: Callable[[str, bytes | None], dict] = header_decode,
) -> DataFrame:
    """Decode/feature-extract the binary column via ``mapInPandas``.

    Narrow (partition-preserving) — no shuffle; Arrow streams bounded
    batches, so executor memory is independent of blob sizes × row count.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in FEATURES_SCHEMA.fields]
        for pdf in batches:
            feats = [decoder(k, p) for k, p in zip(pdf["kind"], pdf["payload"])]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            out.insert(1, "kind", pdf["kind"].values)
            out.insert(2, "n_bytes", pdf["n_bytes"].values)
            # reindex, not [] — a custom decoder written to the pre-codec
            # contract ({width, height, duration_sec, feat_hash}) must keep
            # working with codec = null, not KeyError the whole task
            yield out.reindex(columns=cols)

    return df.mapInPandas(run, FEATURES_SCHEMA)


def synth_media_df(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table (payload = seeded bytes)."""
    import pyspark.sql.functions as F

    base = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.xxhash64(F.lit(seed), "id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
    )
    payload = F.sha2(F.concat(F.lit(str(seed)), F.col("media_id").cast("string")), 512).cast("binary")
    return base.select(
        "media_id",
        "kind",
        F.lit("application/octet-stream").alias("mime"),
        payload.alias("payload"),
        F.length(payload).cast("long").alias("n_bytes"),
    )
