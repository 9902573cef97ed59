"""Multimodal-column plumbing: media as opaque binary + typed metadata.

The extraction pipeline preserves media spans as ``media_ref`` strings
(north-rule invariant). This module carries the *content* side of those
refs: a ``media(media_ref, content binary, meta struct)`` table and the
decode / feature-extract / frame-sample operators a training-data pipeline
runs next.

The container has no image/audio codecs, so the decode step is STUBBED:
``decode_media`` raises ``NotImplementedError`` unless ``fake=True``, in
which case a deterministic fake decoder (seeded from the media_ref) runs
instead. The Spark-side plumbing — schemas, Arrow batch shapes,
``mapInPandas`` signatures, partitioning — is real and tested; swapping in
Pillow/ffmpeg is a one-function change inside the batch iterator.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules import int32_or_none
from .filepass import file_pass, id_number

FEATURE_DIM = 16

FEATURES_SCHEMA = (f"media_ref string, mime string, "
                   f"feature array<float>, width int, height int")

FRAMES_SCHEMA = "media_ref string, frame_idx int, ts_ms int, frame binary"


def synthesize_media(spark, refs_df: DataFrame) -> DataFrame:
    """Deterministic fake media table for the given refs: content bytes and
    metadata derived from md5(media_ref). Stands in for the Iceberg media
    table the refs point at."""
    r = F.col("media_ref")
    h = F.md5(r)
    width = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % 1920) + 16
    height = (F.conv(F.substring(h, 5, 4), 16, 10).cast("int") % 1080) + 16
    n_frames = (F.conv(F.substring(h, 9, 2), 16, 10).cast("int") % 32) + 1
    mime = F.when(F.conv(F.substring(h, 11, 2), 16, 10).cast("int") % 3 == 0,
                  F.lit("image/png")) \
        .when(F.conv(F.substring(h, 11, 2), 16, 10).cast("int") % 3 == 1,
              F.lit("video/mp4")).otherwise(F.lit("audio/wav"))
    content = F.to_binary(F.repeat(h, 8), F.lit("hex"))
    return refs_df.select(
        r.alias("media_ref"), content.alias("content"),
        F.struct(mime.alias("mime"), width.alias("width"),
                 height.alias("height"), n_frames.alias("n_frames"),
                 (n_frames * 40).alias("duration_ms")).alias("meta"))


def _fake_decode(ref: str, content: bytes) -> np.ndarray:
    """Deterministic stand-in for a real decoder: a FEATURE_DIM byte
    histogram of the content, seeded by the ref hash."""
    if content is None or len(content) == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    arr = np.frombuffer(content, dtype=np.uint8)
    hist, _ = np.histogram(arr, bins=FEATURE_DIM, range=(0, 256))
    return (hist / max(len(arr), 1)).astype(np.float32)


def decode_media(media: DataFrame, fake: bool = False,
                 decoder=None) -> DataFrame:
    """Decode + feature-extract: binary content -> fixed-dim float feature.

    Real decoding (Pillow / torchaudio / ffmpeg) is not available in this
    environment — pass fake=True to run the deterministic stand-in, or pass
    ``decoder`` (a ``(media_ref, content) -> np.ndarray[FEATURE_DIM]``
    callable) to plug a real codec in. The batching, schema, and partition
    behavior are identical on every path — the output schema is fixed by
    FEATURES_SCHEMA regardless of which decoder runs, so swapping the codec
    in on a cluster is not a schema migration (contract-tested in
    tests/test_training_data_ops.py::test_media_decoder_schema_contract).
    """
    fn = decoder if decoder is not None else (_fake_decode if fake else None)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if fn is None:
                raise NotImplementedError(
                    "real media decode requires an image/audio codec "
                    "library; re-run with fake=True for the deterministic "
                    "stand-in decoder, or pass decoder=<callable>")
            feats = []
            for r, c in zip(pdf["media_ref"], pdf["content"]):
                vec = np.asarray(fn(r, c))
                # fail fast at the contract boundary: a decoder that
                # returns the wrong shape would otherwise fill the
                # list<float> column with silently ragged vectors
                if vec.shape != (FEATURE_DIM,):
                    raise ValueError(
                        f"decoder returned shape {vec.shape} for "
                        f"{r!r}; the FEATURES_SCHEMA contract requires "
                        f"({FEATURE_DIM},)")
                feats.append(vec.astype(np.float32).tolist())
            yield pd.DataFrame({
                "media_ref": pdf["media_ref"],
                "mime": [m["mime"] for m in pdf["meta"]],
                "feature": feats,
                "width": [m["width"] for m in pdf["meta"]],
                "height": [m["height"] for m in pdf["meta"]],
            })

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def sample_frames(media: DataFrame, fake: bool = False) -> DataFrame:
    """Frame sampling for video media: one row per 80 ms frame with a
    deterministic fake frame payload (real extraction would call ffmpeg
    inside the same batch iterator)."""
    video = media.where(F.col("meta.mime") == "video/mp4")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real frame extraction requires ffmpeg; re-run with "
                    "fake=True for the deterministic stand-in")
            rows = []
            for ref, meta in zip(pdf["media_ref"], pdf["meta"]):
                duration = int(meta["duration_ms"])
                for idx, ts in enumerate(range(0, duration, 80)):
                    payload = hashlib.md5(
                        f"{ref}:{idx}".encode()).digest()
                    rows.append({"media_ref": ref, "frame_idx": idx,
                                 "ts_ms": ts, "frame": payload})
            yield pd.DataFrame(
                rows, columns=["media_ref", "frame_idx", "ts_ms", "frame"])

    return video.mapInPandas(run, schema=FRAMES_SCHEMA)


# -------------------------------------------- image header metadata
#
# Unlike pixel decode (codec-gated above), the HEADER of every major
# image container is a public fixed layout readable with pure byte
# arithmetic — so dimensions/depth/mime for a 100 TB media column cost
# one map-only pass over the first ~few hundred bytes of each blob, no
# Pillow required.  This is the real (non-stubbed) half of the
# multimodal contract: the columns a curation pipeline filters on
# (aspect ratio, min resolution, format mix) without ever decoding.

IMAGE_META_SCHEMA = ("media_ref string, mime string, width int, "
                     "height int, depth int")


def sniff_image(content: bytes) -> tuple:
    """(mime, width, height, depth) from container header bytes, or
    (None, None, None, None) if the blob matches no known signature.

    Formats: PNG (IHDR), JPEG (first SOFn scan), GIF87a/89a (logical
    screen), BMP (BITMAPINFOHEADER; negative height = top-down rows,
    reported as its magnitude), WebP (VP8 lossy frame tag, VP8L
    lossless 14-bit fields, VP8X extended 24-bit canvas).  depth =
    bits per sample where the format carries it (PNG bit depth, JPEG
    precision, GIF color-resolution bits, BMP biBitCount per pixel,
    WebP fixed 8)."""
    if content is None or len(content) < 10:
        return (None, None, None, None)
    b = bytes(content)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 26 and \
            b[12:16] == b"IHDR":
        w = int.from_bytes(b[16:20], "big")
        h = int.from_bytes(b[20:24], "big")
        return ("image/png", w, h, b[24])
    if b[:2] == b"\xff\xd8":
        i = 2
        n = len(b)
        while i + 4 <= n:
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker == 0xFF:
                i += 1                       # fill byte padding
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2                       # standalone markers
                continue
            if marker == 0xDA or marker == 0xD9:
                break                        # scan data / EOI: stop
            seglen = int.from_bytes(b[i + 2:i + 4], "big")
            if seglen < 2:
                break
            if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                          0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF) and \
                    i + 9 <= n:
                depth = b[i + 4]
                h = int.from_bytes(b[i + 5:i + 7], "big")
                w = int.from_bytes(b[i + 7:i + 9], "big")
                return ("image/jpeg", w, h, depth)
            i += 2 + seglen
        return ("image/jpeg", None, None, None)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        w = int.from_bytes(b[6:8], "little")
        h = int.from_bytes(b[8:10], "little")
        depth = ((b[10] >> 4) & 0x7) + 1     # color resolution bits
        return ("image/gif", w, h, depth)
    if b[:2] == b"BM" and len(b) >= 30:
        w = int.from_bytes(b[18:22], "little", signed=True)
        h = int.from_bytes(b[22:26], "little", signed=True)
        depth = int.from_bytes(b[28:30], "little")
        return ("image/bmp", abs(w), abs(h), depth)
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP" and len(b) >= 16:
        chunk = b[12:16]
        if chunk == b"VP8X" and len(b) >= 30:
            w = int.from_bytes(b[24:27], "little") + 1
            h = int.from_bytes(b[27:30], "little") + 1
            return ("image/webp", w, h, 8)
        if chunk == b"VP8L" and len(b) >= 25 and b[20] == 0x2F:
            bits = int.from_bytes(b[21:25], "little")
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
            return ("image/webp", w, h, 8)
        if chunk == b"VP8 " and len(b) >= 30 and \
                b[23:26] == b"\x9d\x01\x2a":
            w = int.from_bytes(b[26:28], "little") & 0x3FFF
            h = int.from_bytes(b[28:30], "little") & 0x3FFF
            return ("image/webp", w, h, 8)
        return ("image/webp", None, None, None)
    return (None, None, None, None)


def image_header_meta(media: DataFrame) -> DataFrame:
    """(media_ref, content binary) -> typed header metadata as ONE
    map-only ``file_pass`` (zero shuffle, plan-asserted) — at
    media-corpus scale only the ~30 header bytes per blob are touched
    CPU-side and only the metadata rows flow downstream.  A width or
    height past int32 (a PNG IHDR field is 32 unsigned bits, a BMP
    magnitude can reach 2^31) is NULL, like the metadata fields'
    ``rules.int32_or_none``."""
    def meta(_ref, content):
        mime, w, h, depth = sniff_image(content)
        return [(mime, int32_or_none(w), int32_or_none(h), depth)]

    return file_pass(media, "media_ref", ["content"], IMAGE_META_SCHEMA,
                     meta)


def build_image_blobs(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic image headers from doc_id arithmetic
    (the gate/scaling-corpus synthesizer): format rotates through
    png/jpeg/gif/bmp/webp-lossless by doc_id % 5, dimensions are
    closed-form in doc_id, and the JPEG variant buries its SOF0 behind
    APP0 + COM segments whose bodies contain marker bait."""
    def _build_one(doc: int) -> bytes:
        w = 64 + doc % 1200
        h = 48 + doc % 900
        kind = doc % 5
        if kind == 0:
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)

            def chunk(tag, body):
                return (struct.pack(">I", len(body)) + tag + body +
                        struct.pack(">I", zlib.crc32(tag + body)))
            return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) +
                    chunk(b"IEND", b""))
        if kind == 1:
            app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
            com = (f"comment \xff\xc0 bait {doc}").encode("latin-1")
            sof = struct.pack(">BHHB", 8, h, w, 3) + \
                b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
            return (b"\xff\xd8" +
                    b"\xff\xe0" + struct.pack(">H", len(app0) + 2)
                    + app0 +
                    b"\xff\xfe" + struct.pack(">H", len(com) + 2)
                    + com +
                    b"\xff\xc0" + struct.pack(">H", len(sof) + 2)
                    + sof + b"\xff\xd9")
        if kind == 2:
            return (b"GIF89a" + struct.pack("<HH", w, h) +
                    bytes([0x70, 0, 0]) + b"\x3b")
        if kind == 3:
            return (b"BM" + struct.pack("<IHHI", 62, 0, 0, 62) +
                    struct.pack("<IiiHH", 40, w, -h, 1, 24) +
                    b"\x00" * 24)
        bits = (w - 1) | ((h - 1) << 14)
        return (b"RIFF" + struct.pack("<I", 22) + b"WEBPVP8L" +
                struct.pack("<I", 10) + b"\x2f" +
                struct.pack("<I", bits) + b"\x00")

    return file_pass(docs, "doc_id", [], "media_ref string, content binary",
                     lambda key: [(_build_one(id_number(key)),)])
