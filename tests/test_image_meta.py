"""Image-header metadata sniffing (operators/multimodal.py
sniff_image / image_header_meta): real dimensions from container
bytes, no codec library.  Exact-value gate: ``image_meta``
(queries_warc.py, closed-form DuckDB oracle)."""

import struct
import zlib

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.multimodal import (
    build_image_blobs, image_header_meta, sniff_image)
from pdf_extraction_spark.operators.warc import (build_warc_files,
                                                 records_from_warc,
                                                 synth_png)

SF_DIR = "/root/testdata/sf0.001"


def test_png_ihdr():
    assert sniff_image(synth_png(123, 45)) == ("image/png", 123, 45, 8)


def test_jpeg_sof_behind_segments_with_bait():
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    com = b"comment \xff\xc0 bait"        # SOF marker inside a COM body
    sof = struct.pack(">BHHB", 8, 480, 640, 3) + b"\x00" * 9
    jpg = (b"\xff\xd8" +
           b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0 +
           b"\xff\xfe" + struct.pack(">H", len(com) + 2) + com +
           b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof +
           b"\xff\xd9")
    assert sniff_image(jpg) == ("image/jpeg", 640, 480, 8)


def test_jpeg_progressive_sof2_and_fill_bytes():
    sof = struct.pack(">BHHB", 12, 10, 20, 1) + b"\x00" * 3
    jpg = (b"\xff\xd8" + b"\xff\xff" +      # fill byte before marker
           b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof)
    assert sniff_image(jpg) == ("image/jpeg", 20, 10, 12)


def test_gif_bmp_webp_variants():
    gif = b"GIF87a" + struct.pack("<HH", 320, 200) + bytes([0x70, 0, 0])
    assert sniff_image(gif) == ("image/gif", 320, 200, 8)
    bmp = (b"BM" + struct.pack("<IHHI", 62, 0, 0, 62) +
           struct.pack("<IiiHH", 40, 800, -600, 1, 24) + b"\x00" * 24)
    assert sniff_image(bmp) == ("image/bmp", 800, 600, 24)  # top-down
    bits = 511 | (255 << 14)
    vp8l = (b"RIFF" + struct.pack("<I", 22) + b"WEBPVP8L" +
            struct.pack("<I", 10) + b"\x2f" +
            struct.pack("<I", bits) + b"\x00")
    assert sniff_image(vp8l) == ("image/webp", 512, 256, 8)
    vp8 = (b"RIFF" + struct.pack("<I", 20) + b"WEBPVP8 " +
           struct.pack("<I", 12) + b"\x00\x00\x00" +
           b"\x9d\x01\x2a" + struct.pack("<HH", 1024, 768) + b"\x00\x00")
    assert sniff_image(vp8) == ("image/webp", 1024, 768, 8)
    vp8x = (b"RIFF" + struct.pack("<I", 30) + b"WEBPVP8X" +
            struct.pack("<I", 10) + b"\x00" * 4 +
            (99).to_bytes(3, "little") + (49).to_bytes(3, "little") +
            b"\x00" * 4)
    assert sniff_image(vp8x) == ("image/webp", 100, 50, 8)


def test_junk_and_truncated_blobs_yield_nulls():
    assert sniff_image(b"not an image at all") == \
        (None, None, None, None)
    assert sniff_image(None) == (None, None, None, None)
    assert sniff_image(b"") == (None, None, None, None)
    # valid SOI but no SOF before EOI: mime known, dims unknown
    assert sniff_image(b"\xff\xd8" + b"\x00" * 20) == \
        ("image/jpeg", None, None, None)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .where(F.col("doc_id") < 60).select("doc_id", "text")


def test_image_header_meta_spark(spark, docs):
    meta = image_header_meta(build_image_blobs(docs))
    rows = {int(r["media_ref"]): r for r in meta.collect()}
    assert len(rows) == 60
    for d, r in rows.items():
        assert r["width"] == 64 + d % 1200
        assert r["height"] == 48 + d % 900
        exp_mime = ["image/png", "image/jpeg", "image/gif",
                    "image/bmp", "image/webp"][d % 5]
        assert r["mime"] == exp_mime


def test_warc_png_resources_feed_image_meta(spark, docs):
    """Cross-module: PNG resource payloads from WARC records parse to
    the writer's planted dimensions — binary media flows container ->
    records -> header metadata with no codec anywhere."""
    recs = records_from_warc(build_warc_files(docs))
    media = recs.where(F.col("content_type") == "image/png") \
        .select(F.col("warc_id").alias("media_ref"),
                F.col("payload").alias("content"))
    meta = image_header_meta(media)
    rows = meta.collect()
    assert rows
    for r in rows:
        d = int(r["media_ref"])
        assert d % 6 == 0
        assert (r["mime"], r["width"], r["height"]) == \
            ("image/png", 16 + d % 8, 9 + d % 5)


def test_image_meta_plan_is_map_only(spark, docs):
    plan = image_header_meta(build_image_blobs(docs)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_image_meta_dimension_past_int32_is_null(spark):
    """A header claiming a dimension at or past 2^31 (PNG IHDR holds 32
    unsigned bits; a BMP height of -2^31 has magnitude 2^31) gives NULL
    for that dimension instead of failing the task; a normal image in
    the same batch keeps its dimensions."""
    bmp = (b"BM" + struct.pack("<IHHI", 62, 0, 0, 62) +
           struct.pack("<IiiHH", 40, 7, -2**31, 1, 24) + b"\x00" * 24)
    assert sniff_image(bmp) == ("image/bmp", 7, 2**31, 24)
    media = spark.createDataFrame(
        [("wide", synth_png(2**32 - 1, 9)), ("tall", bmp),
         ("ok", synth_png(123, 45))],
        "media_ref string, content binary").coalesce(1)
    rows = {r["media_ref"]: (r["mime"], r["width"], r["height"], r["depth"])
            for r in image_header_meta(media).collect()}
    assert rows == {"wide": ("image/png", None, 9, 8),
                    "tall": ("image/bmp", 7, None, 24),
                    "ok": ("image/png", 123, 45, 8)}
