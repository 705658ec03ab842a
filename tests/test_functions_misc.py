import pyspark.sql.functions as F

from stellar_etl_spark.functions.encoding import strkey_decode, strkey_encode
from stellar_etl_spark.functions.multimodal import extract_media_features, synth_media_df
from stellar_etl_spark.functions.scalars import b64, interval_str, map_lookup


def test_strkey_roundtrip(spark):
    df = spark.createDataFrame(
        [("conv_00000042",), ("東京 unicode ☃",), (None,)], "v string"
    )
    out = df.select(
        "v",
        strkey_encode(F.col("v")).alias("enc"),
    ).select("v", "enc", strkey_decode(F.col("enc")).alias("dec"))
    rows = out.collect()
    for r in rows:
        if r["v"] is None:
            assert r["enc"] is None
        else:
            assert r["dec"] == r["v"]


def test_strkey_rejects_corruption(spark):
    df = spark.createDataFrame([("hello",)], "v string")
    enc = df.select(strkey_encode(F.col("v")).alias("e")).collect()[0]["e"]
    corrupted = enc[:-1] + ("A" if enc[-1] != "A" else "B")
    chk = spark.createDataFrame([(corrupted,)], "e string").select(
        strkey_decode(F.col("e")).alias("dec")
    ).collect()[0]
    assert chk["dec"] is None


def test_media_features_deterministic(spark):
    media = synth_media_df(spark, n=30)
    a = sorted(map(tuple, extract_media_features(media).collect()))
    b = sorted(map(tuple, extract_media_features(media).collect()))
    assert a == b
    feats = {r["kind"] for r in extract_media_features(media).collect()}
    assert feats <= {"image", "audio", "video"}
    rows = extract_media_features(media).collect()
    for r in rows:
        if r["kind"] == "image":
            assert r["width"] and r["height"] and r["duration_sec"] is None
        else:
            assert r["duration_sec"] is not None and r["width"] is None


def test_scalar_library(spark):
    row = spark.range(1).select(
        interval_str(F.lit(5), F.lit(9)).alias("iv"),
        map_lookup(F.lit("b"), {"a": 1, "b": 2}).alias("ml"),
        map_lookup(F.lit("zz"), {"a": 1}, default=-1).alias("md"),
        b64(F.lit("hi")).alias("b"),
    ).collect()[0]
    assert row["iv"] == "[5,9)"
    assert row["ml"] == 2 and row["md"] == -1
    assert row["b"] == "aGk="


def test_tool_diffs_operator(spark):
    rows = [
        ("c", 0, "tool", "x", "search", "2026-01-01 00:01:00"),
        ("c", 1, "tool", "x", "code", "2026-01-01 00:02:00"),
        ("c", 2, "tool", "x", "code", "2026-01-01 01:01:00"),
        ("c", 3, "tool", "x", "fetch", "2026-01-01 01:02:00"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    from stellar_etl_spark.operators import extract_tool_diffs

    out = extract_tool_diffs(df, "60 minutes").collect()
    w1 = [(r["tool"], r["change"]) for r in out if r["window_start"].hour == 0]
    w2 = [(r["tool"], r["change"]) for r in out if r["window_start"].hour == 1]
    assert sorted(w1) == [("code", "added"), ("search", "added")]
    assert sorted(w2) == [("code", "retained"), ("fetch", "added"), ("search", "removed")]


def test_structured_payload(spark):
    rows = [
        ("c", 0, "user", '{"k": 7}', None, "2026-01-01 00:00:00"),
        ("c", 1, "tool", 'error: {"k": 9}', "code", "2026-01-01 00:00:10"),
        ("c", 2, "user", "not json", None, "2026-01-01 00:00:20"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    from stellar_etl_spark.operators import extract_structured_payload

    out = extract_structured_payload(df, "k INT").collect()
    assert len(out) == 1 and out[0]["k"] == 7


def test_crc16_batch_matches_scalar():
    """The table-driven batch CRC (one vector op per byte position) must
    equal the scalar bit-loop reference for arbitrary byte strings."""
    import numpy as np

    from stellar_etl_spark.functions.encoding import _crc16_batch, _crc16_xmodem

    rng = np.random.RandomState(7)
    rows = [bytes(rng.randint(0, 256, rng.randint(0, 64)).astype("uint8")) for _ in range(300)]
    rows += [b"", b"\x00", b"\xff" * 63]
    assert [int(x) for x in _crc16_batch(rows)] == [_crc16_xmodem(r) for r in rows]


def test_parse_image_header_real_formats(spark):
    """The real header parser reads PNG IHDR and JPEG SOF dimensions from
    hand-built byte streams (incl. a JPEG whose SOF sits behind an APP0
    segment, exercising the marker walk), refuses corrupt payloads, and the
    mapInPandas pipeline reports which codec fired."""
    import struct

    from stellar_etl_spark.functions.multimodal import (
        extract_media_features,
        header_decode,
        parse_image_header,
    )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00"
    )
    assert parse_image_header(png) == ("png", 640, 480)

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 720, 1280) \
        + b"\x03" + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    jpeg = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    assert parse_image_header(jpeg) == ("jpeg", 1280, 720)
    # legal variants: 0xFF fill bytes before a marker, standalone RST/TEM
    # markers (no length field) — both must still reach the SOF
    assert parse_image_header(b"\xff\xd8\xff" + app0 + sof0 + b"\xff\xd9") == ("jpeg", 1280, 720)
    assert parse_image_header(b"\xff\xd8" + b"\xff\x01" + b"\xff\xd0" + sof0) == ("jpeg", 1280, 720)

    # corrupt / truncated / non-image payloads fall back to the fake decoder
    assert parse_image_header(b"\x89PNG\r\n\x1a\n1234") is None
    assert parse_image_header(b"\xff\xd8\xff\xd9") is None  # EOI before SOF
    assert parse_image_header(b"plain text") is None
    # hostile-but-valid IHDR declaring dims >= 2^31 (or 0) must NOT surface —
    # FEATURES_SCHEMA width/height are int32 and an unchecked u32 kills the
    # whole Arrow batch (ADVICE r4); the fake decoder takes over instead
    evil_png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 0x80000000, 480) + b"\x08\x06\x00\x00\x00"
    )
    assert parse_image_header(evil_png) is None
    assert header_decode("image", evil_png)["codec"] == "fake"
    zero_png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 0, 480) + b"\x08\x06\x00\x00\x00"
    )
    assert parse_image_header(zero_png) is None
    # JPEG SOF with height 0 (DNL-deferred, B.2.2) likewise falls back
    sof_dnl = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 0, 1280) \
        + b"\x03" + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    assert parse_image_header(b"\xff\xd8" + sof_dnl) is None
    assert header_decode("image", b"plain text")["codec"] == "fake"
    assert header_decode("image", png)["codec"] == "png"
    assert header_decode("audio", png)["codec"] == "fake"  # kind gates parse

    # end-to-end through the Arrow pipeline
    df = spark.createDataFrame(
        [(1, "image", None, bytearray(png), len(png)),
         (2, "image", None, bytearray(jpeg), len(jpeg)),
         (3, "image", None, bytearray(b"junk"), 4)],
        "media_id long, kind string, mime string, payload binary, n_bytes long",
    )
    rows = {r["media_id"]: r for r in extract_media_features(df).collect()}
    assert (rows[1]["codec"], rows[1]["width"], rows[1]["height"]) == ("png", 640, 480)
    assert (rows[2]["codec"], rows[2]["width"], rows[2]["height"]) == ("jpeg", 1280, 720)
    assert rows[3]["codec"] == "fake"

    # a LEGACY decoder (pre-codec contract) must still work: codec = null
    def legacy(kind, payload):
        return {"width": 1, "height": 2, "duration_sec": None, "feat_hash": "x"}

    lg = extract_media_features(df, decoder=legacy).collect()
    assert all(r["codec"] is None and r["width"] == 1 for r in lg)


def test_sequence_pack_bins_oracle_and_invariants(spark):
    """Offset-chunked token packing: bin assignment is hash-checked against a
    DuckDB single-window recomputation (the distributed two-phase prefix sum
    must equal the sequential cumsum exactly), and bins partition the token
    axis: offsets are a permutation of the exclusive cumsum, every bin
    except the last starts within target of its predecessor."""
    from stellar_etl_spark.functions.text import token_count
    from stellar_etl_spark.operators.packing import sequence_pack_bins
    from tests.oracle_harness import duck_connection, compare

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    got = sequence_pack_bins(d, target_tokens=512, buckets=16)
    duck = duck_connection(sf)
    try:
        r = compare(
            got,
            duck,
            """
WITH t AS (
  SELECT doc_id,
    {ntok} AS n_tokens,
    md5(CAST(doc_id AS VARCHAR)) AS okey,
    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS BIGINT) % 16 AS bucket
  FROM documents
)
SELECT doc_id, n_tokens,
  coalesce(sum(n_tokens) OVER (ORDER BY bucket, okey, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset,
  coalesce(sum(n_tokens) OVER (ORDER BY bucket, okey, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS pack_bin
FROM t
""".format(ntok=__import__("stellar_etl_spark.plans.registry", fromlist=["x"])._SQL_NTOK),
        )
        assert r["rows_match"] and r["values_match"], r["first_diff"]
    finally:
        duck.close()
    rows = got.collect()
    total = sum(x["n_tokens"] for x in rows)
    offs = sorted(x["token_offset"] for x in rows)
    # offsets tile the token axis exactly: ends meet starts
    assert offs[0] == 0 and max(
        x["token_offset"] + x["n_tokens"] for x in rows
    ) == total
    # bin of the last-starting doc determines the bin count exactly
    n_bins = max(x["pack_bin"] for x in rows) + 1
    assert n_bins == max(x["token_offset"] for x in rows) // 512 + 1


def test_hash_split_deterministic_and_oracle(spark):
    """Split membership is a pure function of (seed, id): DuckDB recomputes
    the exact train/val/test assignment; growing the corpus never reassigns
    an existing id."""
    from stellar_etl_spark.functions.sampling import hash_split
    from tests.oracle_harness import duck_connection, compare

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
    got = hash_split(d, weights={"train": 0.8, "val": 0.1, "test": 0.1})
    duck = duck_connection(sf)
    try:
        r = compare(
            got,
            duck,
            """
SELECT doc_id,
  CASE
    WHEN u < 0.8 THEN 'train'
    WHEN u < 0.9 THEN 'val'
    ELSE 'test'
  END AS split
FROM (
  SELECT doc_id,
    CAST(('0x' || substring(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS BIGINT)
      / 4294967296.0 AS u
  FROM documents
)
""",
        )
        assert r["rows_match"] and r["values_match"], r["first_diff"]
    finally:
        duck.close()
    # subset stability: the assignment of the first half doesn't depend on
    # the rest of the corpus being present
    half = hash_split(d.where("doc_id < 250"), weights={"train": 0.8, "val": 0.1, "test": 0.1})
    full = {r["doc_id"]: r["split"] for r in got.collect()}
    assert all(full[r["doc_id"]] == r["split"] for r in half.collect())
    # a null id has no stable identity — the projection must raise, not
    # silently bucket every null-id row into the last split
    import pytest

    nulls = d.limit(2).select(F.lit(None).cast("string").alias("doc_id"))
    with pytest.raises(Exception, match="no stable split"):
        hash_split(nulls).collect()
