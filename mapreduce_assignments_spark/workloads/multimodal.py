"""Image, audio and video queries over media staged from the
documents table."""

from __future__ import annotations

import pyspark.sql.functions as F

from ..operators import multimodal
from ._shared import _docs

ORACLE: dict[str, str] = {}


def _variable_png_assets(spark, sf_dir):
    """Variable-dimension REAL grayscale PNGs per document — width
    4 + doc_id%12, height 8 — pixels = the first width*8 UTF-8 text
    bytes, zero-padded for short documents so EVERY document yields
    an asset (the dims histogram covers the whole corpus). Encoded
    executor-side in one Arrow batch; never collected."""
    import pandas as pd

    from mapreduce_assignments_spark.functions.png_codec import encode_png

    src = _docs(spark, sf_dir).select(
        "doc_id", F.expr("substring(encode(text, 'UTF-8'), 1, 128)").alias("px")
    )

    def encode(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["px"]):
                w = int(4 + doc_id % 12)
                need = w * 8
                buf = bytes(p[:need]).ljust(need, b"\x00")
                blobs.append(encode_png(w, 8, 1, buf))
                ids.append(doc_id)
            yield pd.DataFrame({"asset_id": ids, "content": blobs})

    return src.mapInPandas(encode, "asset_id long, content binary")


def q_aspect_ratio_histogram(spark, sf_dir):
    """Media-profiling without decode: dims parsed from the REAL PNG
    IHDR header only (fixed-offset u32be fields, JVM hex arithmetic —
    no Python, no decode), rolled into a (width, height) histogram
    with aspect ratios — the resolution-mix dashboard for a 100 TB
    media table."""
    dims = multimodal.image_dimensions(_variable_png_assets(spark, sf_dir))
    return dims.groupBy("width", "height").agg(
        F.count("*").alias("n_assets"),
        F.round(F.max("width") / F.max("height"), 6).alias("aspect_ratio"),
    )


ORACLE["aspect_ratio_histogram"] = """
WITH dims AS (
  SELECT CAST(4 + doc_id % 12 AS INTEGER) AS width, 8 AS height
  FROM documents
)
SELECT width, CAST(height AS INTEGER) AS height,
       count(*) AS n_assets,
       round(max(width) / max(height), 6) AS aspect_ratio
FROM dims GROUP BY 1, 2
"""


def _png_assets(spark, sf_dir):
    """REAL 8x8 grayscale PNG containers (signature, IHDR, zlib IDAT,
    CRCs — any image tool opens them) whose pixels are the first 64
    UTF-8 bytes of each document's text. Encoding is an Arrow-batched
    mapInPandas over the pure-stdlib encoder — the binary column is
    built and consumed executor-side, never collected."""
    import pandas as pd

    from mapreduce_assignments_spark.functions.png_codec import encode_png

    src = (
        _docs(spark, sf_dir)
        .where(F.col("n_chars") >= 64)
        .select("doc_id", F.expr("substring(encode(text, 'UTF-8'), 1, 64)").alias("px"))
    )

    def encode(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "content": [encode_png(8, 8, 1, bytes(p)) for p in pdf["px"]],
                }
            )

    return src.mapInPandas(encode, "asset_id long, content binary")


def q_image_stats(spark, sf_dir):
    """Decode + feature rows over REAL PNG containers (the pure-stdlib
    codec round trip png_decode_stats also exercises — here as the
    plain image_stats registry entry, so no registry query stages a
    synthetic FAKE* container)."""
    return multimodal.image_stats(_png_assets(spark, sf_dir))


# the grayscale PNG's pixels are the first 64 UTF-8 bytes of the
# (ASCII) document text and PNG is lossless, so the decoded mean
# pixel equals the mean codepoint.
ORACLE["image_stats"] = """
SELECT doc_id AS asset_id, 8 AS width, 8 AS height, 1 AS channels,
       round(list_aggregate(list_transform(range(1, 65),
             i -> unicode(substring(text, i, 1))), 'avg'), 6) AS mean_px
FROM documents WHERE n_chars >= 64
"""


def _jpeg_assets(spark, sf_dir):
    """REAL baseline JPEG containers (SOI, JFIF APP0, DQT, SOF0, DHT,
    entropy-coded scan — any image tool opens them) whose grayscale
    pixels are the document text's leading UTF-8 bytes, with per-doc
    dimensions w in {8,12,16} x h in {8..16} so the header parse is
    exercised across block-grid shapes (including partial edge
    blocks). Encoding is an Arrow-batched mapInPandas over the
    pure-stdlib encoder — the binary column is built and consumed
    executor-side, never collected."""
    import pandas as pd

    from mapreduce_assignments_spark.functions.jpeg_codec import encode_jpeg

    src = (
        _docs(spark, sf_dir)
        .where(F.col("n_chars") >= 256)
        .select(
            "doc_id",
            F.expr("substring(encode(text, 'UTF-8'), 1, 256)").alias("px"),
        )
    )

    def encode(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["px"]):
                w = 8 + (doc_id % 3) * 4
                h = 8 + (doc_id % 5) * 2
                blobs.append(
                    encode_jpeg(bytes(p[: w * h]), int(w), int(h), 1)
                )
                ids.append(doc_id)
            yield pd.DataFrame({"asset_id": ids, "content": blobs})

    return src.mapInPandas(encode, "asset_id long, content binary")


def q_jpeg_decode_stats(spark, sf_dir):
    """REAL-container JPEG round trip with zero third-party codecs:
    encode each document's leading bytes as an actual baseline JPEG,
    then decode it back through image_stats' DEFAULT decoder seam —
    exercising functions/jpeg_codec.py (Huffman entropy decode, DC
    prediction, dequant, batched IDCT) end-to-end inside the Arrow
    pipeline. JPEG is LOSSY, so unlike png_decode_stats the oracle
    cannot recompute pixel statistics from the text; the driver-gated
    output is the lossless-exact header facts (dimensions, channels)
    plus row PRESENCE — a row only exists when the full decode
    succeeds, since image_stats drops undecodable assets. Pixel-level
    decoder correctness is pinned in pytest against golden
    libjpeg-encoded files from CPython's public test suite plus an
    independent-DCT reference and PSNR-bounded round trips."""
    return multimodal.image_stats(_jpeg_assets(spark, sf_dir)).select(
        "asset_id", "width", "height", "channels"
    )


# jpeg_decode_stats: JPEG is lossy, so the oracle checks the
# lossless-exact facts — per-doc dimensions/channels and row
# PRESENCE (a row exists only when the seam's decode succeeded);
# pixel math is golden-pinned in pytest (see q_jpeg_decode_stats).
ORACLE["jpeg_decode_stats"] = """
SELECT doc_id AS asset_id,
       CAST(8 + (doc_id % 3) * 4 AS INTEGER) AS width,
       CAST(8 + (doc_id % 5) * 2 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS channels
FROM documents WHERE n_chars >= 256
"""


def _mjpeg_avi_assets(spark, sf_dir):
    """REAL AVI containers (RIFF ``hdrl``/``movi``/``idx1`` — any
    media tool opens them) carrying a 3-frame MJPG ``vids`` stream
    per document: frame f's grayscale pixels are the text's UTF-8
    bytes at offset 16·f, with the per-doc dimension formula the
    JPEG assets use, so header parse AND frame placement vary across
    rows. Built executor-side in an Arrow batch; never collected."""
    import pandas as pd

    from mapreduce_assignments_spark.functions.container_demux import mux_avi_mjpeg
    from mapreduce_assignments_spark.functions.jpeg_codec import encode_jpeg

    src = (
        _docs(spark, sf_dir)
        .where(F.col("n_chars") >= 288)
        .select(
            "doc_id",
            F.expr("substring(encode(text, 'UTF-8'), 1, 288)").alias("px"),
        )
    )

    def encode(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["px"]):
                w = int(8 + (doc_id % 3) * 4)
                h = int(8 + (doc_id % 5) * 2)
                frames = [
                    encode_jpeg(bytes(p[16 * f : 16 * f + w * h]), w, h, 1)
                    for f in range(3)
                ]
                blobs.append(mux_avi_mjpeg(frames, w, h))
                ids.append(doc_id)
            yield pd.DataFrame({"asset_id": ids, "content": blobs})

    return src.mapInPandas(encode, "asset_id long, content binary")


def q_mjpeg_frame_stats(spark, sf_dir):
    """REAL-container VIDEO round trip, zero third-party codecs:
    mux 3 baseline JPEGs per document into an actual AVI, then run
    video_frame_stats' DEFAULT seams — the RIFF demuxer in
    functions/container_demux.py and the JPEG entropy decoder in
    functions/jpeg_codec.py — end-to-end inside one Arrow stage.
    JPEG is lossy, so (like jpeg_decode_stats) the driver-gated
    output is the lossless-exact facts: per-frame dimensions,
    channels, and row PRESENCE (a row exists only when both demux
    and full frame decode succeed). Pixel math is golden-pinned in
    pytest; the MP4 demux path gets the value-exact check in
    mp4_frame_text."""
    return multimodal.video_frame_stats(_mjpeg_avi_assets(spark, sf_dir)).select(
        "asset_id", "frame_idx", "width", "height", "channels"
    )


# mjpeg_frame_stats: MJPEG-in-AVI is demuxed frames of LOSSY JPEG,
# so (same contract as jpeg_decode_stats) the oracle checks the
# lossless-exact facts — per-frame dimensions/channels and row
# PRESENCE: a row exists only when the AVI demux AND the frame's
# full entropy decode both succeed. Demux byte-exactness is
# value-checked on the MP4 path (mp4_frame_text); pixel math is
# golden-pinned in pytest.
ORACLE["mjpeg_frame_stats"] = """
SELECT doc_id AS asset_id,
       CAST(f.i AS INTEGER) AS frame_idx,
       CAST(8 + (doc_id % 3) * 4 AS INTEGER) AS width,
       CAST(8 + (doc_id % 5) * 2 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS channels
FROM documents, (VALUES (0), (1), (2)) f(i)
WHERE n_chars >= 288
"""


def _mp4_text_assets(spark, sf_dir):
    """REAL progressive MP4 containers (ftyp/mdat/moov with full
    stsd/stts/stsc/stsz/stco sample tables) whose 5 samples are the
    document text's bytes at deterministic offsets with VARYING
    sizes (16+i), chunked 2 samples per stco chunk — so the demuxer
    must run the genuine stsc expansion + in-chunk offset walk to
    recover them. Sample payloads are raw text slices: demux
    correctness is value-checkable byte-for-byte by the oracle."""
    import pandas as pd

    from mapreduce_assignments_spark.functions.container_demux import mux_mp4

    src = (
        _docs(spark, sf_dir)
        .where(F.col("n_chars") >= 96)
        .select(
            "doc_id",
            F.expr("substring(encode(text, 'UTF-8'), 1, 96)").alias("b"),
        )
    )

    def encode(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["b"]):
                off, frames = 0, []
                for i in range(5):
                    ln = 16 + i
                    frames.append(bytes(b[off : off + ln]))
                    off += ln
                blobs.append(mux_mp4(frames, 8, 8, samples_per_chunk=2))
                ids.append(doc_id)
            yield pd.DataFrame({"asset_id": ids, "content": blobs})

    return src.mapInPandas(encode, "asset_id long, content binary")


def q_mp4_frame_text(spark, sf_dir):
    """MP4 sample-table demux, value-exact: every 2nd sample out of
    real ISO-BMFF containers through sample_frames' DEFAULT demuxer
    seam, payload bytes surfaced as text so the oracle verifies the
    demuxed CONTENT (not just counts) against the source documents —
    any error in the stsz/stsc/stco offset arithmetic changes the
    bytes and breaks the hash."""
    out = multimodal.sample_frames(_mp4_text_assets(spark, sf_dir), every_k=2)
    return out.select(
        "asset_id", "frame_idx", F.col("frame").cast("string").alias("frame_text")
    )


# mp4_frame_text: the MP4 samples are RAW text slices (no lossy
# codec in the way), so the oracle re-derives the exact demuxed
# bytes: sample i starts at BYTE offset 16*i + i*(i-1)/2 and is 16+i
# bytes long; sample_frames keeps every 2nd sample. The slice is
# BYTE-based (to_hex/from_hex round-trip — this DuckDB cannot slice
# BLOBs directly) to mirror Spark's substring-over-encode exactly;
# same split-codepoint render caveat as the frame_sample oracle
# below (decode() errors vs cast-to-string replacement — latent
# while the testdata is ASCII).
ORACLE["mp4_frame_text"] = """
SELECT doc_id AS asset_id,
       CAST(f.i AS INTEGER) AS frame_idx,
       decode(from_hex(substring(to_hex(encode(text)),
                                 CAST(2 * (16 * f.i + f.i * (f.i - 1) / 2) + 1
                                      AS INTEGER),
                                 CAST(2 * (16 + f.i) AS INTEGER)))) AS frame_text
FROM documents, (VALUES (0), (2), (4)) f(i)
WHERE n_chars >= 96
"""


def q_png_decode_stats(spark, sf_dir):
    """REAL-container round trip with zero third-party codecs: encode
    each document's first 64 bytes as an actual PNG (zlib IDAT, CRCs),
    then decode it back through image_stats' DEFAULT decoder seam —
    exercising functions/png_codec.py end-to-end inside the Arrow
    pipeline. The oracle recomputes the pixel statistics straight from
    the document text, so any codec bug (filtering, IDAT assembly,
    chunk CRCs, scanline layout) breaks the hash match."""
    return multimodal.image_stats(_png_assets(spark, sf_dir))


# png_decode_stats round-trips the SAME pixels through a real PNG
# container (encode_png -> decode_png inside Spark), so the oracle is
# the identical text-derived recomputation: any codec defect breaks
# the value hash.
ORACLE["png_decode_stats"] = ORACLE["image_stats"]


def _mixed_media_assets(spark, sf_dir):
    """A REAL-container format mix per document — doc_id%3 picks
    WAV (canonical PCM), raw-DIB AVI (4 × 16-byte frames), or
    progressive MP4 (5 varying-size samples) — so the sniffer's
    magic table AND its RIFF form-type refinement (WAVE vs 'AVI ')
    are both exercised on genuine on-disk bytes. Every container
    length is deterministic (fixed frame-count/size layout), so the
    oracle re-derives n_bytes from the muxers at import time."""
    import pandas as pd

    from mapreduce_assignments_spark.functions.container_demux import (
        mux_avi_raw,
        mux_mp4,
    )

    src = (
        _docs(spark, sf_dir)
        .where(F.col("n_chars") >= 96)
        .select(
            "doc_id",
            F.expr("substring(encode(text, 'UTF-8'), 1, 96)").alias("b"),
        )
    )

    def encode(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["b"]):
                b = bytes(b)
                k = doc_id % 3
                if k == 0:
                    blobs.append(multimodal.make_wav(b[:64], 1, 16000))
                elif k == 1:
                    frames = [b[16 * f : 16 * f + 16] for f in range(4)]
                    blobs.append(mux_avi_raw(frames, 8, 8))
                else:
                    off, frames = 0, []
                    for i in range(5):
                        ln = 16 + i
                        frames.append(b[off : off + ln])
                        off += ln
                    blobs.append(mux_mp4(frames, 8, 8, samples_per_chunk=2))
                ids.append(doc_id)
            yield pd.DataFrame({"asset_id": ids, "content": blobs})

    return src.mapInPandas(encode, "asset_id long, content binary")


# Media oracles rebuild the SAME binary container the Spark query
# builds (every registry media query now stages REAL containers —
# PNG/JPEG/WAV/AVI/MP4 — built by the repo's own pure-stdlib codecs)
# and RE-DERIVE the checked facts from the SOURCE text bytes: byte
# slices via the to_hex/from_hex round-trip (this DuckDB cannot slice
# BLOBs: byte i of a blob = hex chars 2i-1..2i), deterministic
# container lengths by running the muxers at oracle-build time — the
# oracles recompute the operator's parse, not a fixture's constants.

# media_sniff: every container in the mix has a DETERMINISTIC byte
# length (fixed frame-count/size layout), so n_bytes is re-derived by
# RUNNING the muxers at oracle-build time on equal-shaped dummy input
# — the oracle tracks the muxer, not a hardcoded constant.
def _sniff_len_constants() -> tuple[int, int, int]:
    from mapreduce_assignments_spark.functions.container_demux import (
        mux_avi_raw,
        mux_mp4,
    )
    from mapreduce_assignments_spark.operators.multimodal import make_wav

    wav_len = len(make_wav(bytes(64), 1, 16000))
    avi_len = len(mux_avi_raw([bytes(16)] * 4, 8, 8))
    mp4_len = len(mux_mp4([bytes(16 + i) for i in range(5)], 8, 8,
                          samples_per_chunk=2))
    return wav_len, avi_len, mp4_len


_WAV_LEN, _AVI_LEN, _MP4_LEN = _sniff_len_constants()


def q_media_sniff(spark, sf_dir):
    """JVM-side magic sniff over a REAL WAV/AVI/MP4 mix — format and
    byte-length per asset, no decode, no Python in the sniff stage."""
    out = multimodal.sniff_media(_mixed_media_assets(spark, sf_dir))
    return out.select("asset_id", "format", "n_bytes")


ORACLE["media_sniff"] = f"""
SELECT doc_id AS asset_id,
       CASE doc_id % 3 WHEN 0 THEN 'wav' WHEN 1 THEN 'avi'
            ELSE 'mp4' END AS format,
       CAST(CASE doc_id % 3 WHEN 0 THEN {_WAV_LEN} WHEN 1 THEN {_AVI_LEN}
            ELSE {_MP4_LEN} END AS INTEGER) AS n_bytes
FROM documents WHERE n_chars >= 96
"""


def _raw_avi_assets(spark, sf_dir):
    """REAL uncompressed AVI containers (RIFF ``hdrl``/``movi``/
    ``idx1``, ``DIB `` handler) whose 4 × 16-byte ``00dc`` frames are
    raw slices of the document text — no lossy codec in the way, so
    the demuxed bytes are value-checkable against the source text
    (the AVI analogue of _mp4_text_assets). Built executor-side in
    one Arrow batch; never collected."""
    import pandas as pd

    from mapreduce_assignments_spark.functions.container_demux import mux_avi_raw

    src = (
        _docs(spark, sf_dir)
        .where(F.col("n_chars") >= 64)
        .select(
            "doc_id",
            F.expr("substring(encode(text, 'UTF-8'), 1, 64)").alias("b"),
        )
    )

    def encode(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["b"]):
                b = bytes(b)
                frames = [b[16 * f : 16 * f + 16] for f in range(4)]
                blobs.append(mux_avi_raw(frames, 8, 8))
                ids.append(doc_id)
            yield pd.DataFrame({"asset_id": ids, "content": blobs})

    return src.mapInPandas(encode, "asset_id long, content binary")


def q_frame_sample(spark, sf_dir):
    """Every-2nd-frame sampling out of REAL uncompressed AVIs through
    sample_frames' DEFAULT demuxer seam — the frames are raw text
    slices, so the oracle verifies the demuxed CONTENT byte-for-byte
    (any error in the RIFF movi walk or chunk padding arithmetic
    changes the bytes and breaks the hash), plus the sampled index
    arithmetic and frame sizes."""
    out = multimodal.sample_frames(_raw_avi_assets(spark, sf_dir), every_k=2)
    return out.select(
        "asset_id",
        "frame_idx",
        F.length("frame").alias("frame_bytes"),
        F.col("frame").cast("string").alias("frame_text"),
    )


# frame_sample: the raw-DIB AVI frames are BYTE slices of the text
# (frame f = bytes 16f..16f+15), so the oracle re-derives the exact
# demuxed payload byte-based — to_hex/from_hex round-trip, since this
# DuckDB cannot slice BLOBs directly. Byte slicing on BOTH sides
# makes the offsets structural rather than ASCII-dependent; the one
# residual divergence is the final render of a slice that SPLITS a
# multi-byte codepoint: DuckDB decode() hard-errors on invalid UTF-8
# while Spark cast(binary as string) substitutes replacement chars —
# latent while the testdata is ASCII (asserted nowhere cheaper, so
# flagged here; a non-ASCII corpus would need byte-hex output
# columns instead of text).
ORACLE["frame_sample"] = """
SELECT doc_id AS asset_id,
       CAST(f.i AS INTEGER) AS frame_idx,
       CAST(16 AS INTEGER) AS frame_bytes,
       decode(from_hex(substring(to_hex(encode(text)),
                                 CAST(32 * f.i + 1 AS INTEGER), 32))) AS frame_text
FROM documents, (VALUES (0), (2)) f(i)
WHERE n_chars >= 64
"""


def q_phash_duplicates(spark, sf_dir):
    """64-bit average-hash duplicate groups over REAL PNG containers —
    the decode seam runs the pure-stdlib PNG codec, so the hash is
    computed from genuinely decoded pixels."""
    return multimodal.phash_duplicates(_png_assets(spark, sf_dir))


# 8x8 average-hash over the PNG-decoded pixels: the grayscale PNG is
# lossless, so decoded pixel i is byte i of the (ASCII) text; bit i is
# pixel > mean, packed big-endian with the MSB folded to keep the
# value in signed int64 (Spark LongType).
ORACLE["phash_duplicates"] = """
WITH px AS (
  SELECT doc_id, g.i AS i, unicode(substring(text, CAST(g.i AS INTEGER), 1)) AS px
  FROM documents, generate_series(1, 64) g(i)
  WHERE n_chars >= 64
),
pm AS (
  SELECT doc_id, i, px, avg(px) OVER (PARTITION BY doc_id) AS m FROM px
),
h AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN px > m AND i = 1
                       THEN CAST('-9223372036854775808' AS BIGINT)
                       WHEN px > m
                       THEN (CAST(1 AS BIGINT) << CAST(64 - i AS INTEGER))
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS phash
  FROM pm GROUP BY doc_id
)
SELECT min(doc_id) AS keeper, count(*) AS n_dups, phash FROM h GROUP BY phash
"""


def _fake_wav_assets(spark, sf_dir):
    """REAL canonical PCM WAV containers (any audio tool opens them —
    unlike FAKEIMG/FAKEVID this is the actual on-disk format) whose
    64-byte data chunk is the document's first 64 UTF-8 bytes. Even
    doc_ids get a mono 16 kHz header, odd a stereo 8 kHz one, so every
    parsed field varies across rows. Headers attached JVM-side."""
    h_mono = multimodal.make_wav(bytes(64), channels=1, sample_rate=16000)[:44]
    h_stereo = multimodal.make_wav(bytes(64), channels=2, sample_rate=8000)[:44]
    return (
        _docs(spark, sf_dir)
        .where(F.col("n_chars") >= 64)
        .select(
            F.col("doc_id").alias("asset_id"),
            F.concat(
                F.when(F.col("doc_id") % 2 == 0, F.lit(h_mono)).otherwise(
                    F.lit(h_stereo)
                ),
                F.expr("substring(encode(text, 'UTF-8'), 1, 64)"),
            ).alias("content"),
        )
    )


# audio_stats: the staged WAVs are REAL canonical PCM containers
# (multimodal.make_wav); the oracle re-derives every field from the
# hex bytes exactly as the operator does — RIFF/WAVE/fmt/data magics
# checked, little-endian fields decoded from hex substrings, and the
# amplitude probe re-computed over the first 16 interleaved s16le
# values. Header constants below are the staging headers, not parse
# shortcuts: the WHERE clause re-validates them byte-by-byte.
_WAV_MONO_HEX = multimodal.make_wav(bytes(64), channels=1, sample_rate=16000)[:44].hex().upper()

_WAV_STEREO_HEX = multimodal.make_wav(bytes(64), channels=2, sample_rate=8000)[:44].hex().upper()

# j-th s16le of the data chunk (hex: low byte at 89+4j, high at 91+4j)
_WAV_S16 = (
    "CAST(CONCAT('0x', substring(hex, 91 + 4*j, 2),"
    " substring(hex, 89 + 4*j, 2)) AS BIGINT)"
)


def q_audio_stats(spark, sf_dir):
    return multimodal.audio_stats(_fake_wav_assets(spark, sf_dir))


ORACLE["audio_stats"] = f"""
WITH assets AS (
  SELECT doc_id AS asset_id,
         CASE WHEN doc_id % 2 = 0 THEN '{_WAV_MONO_HEX}'
              ELSE '{_WAV_STEREO_HEX}' END
           || substring(to_hex(encode(text)), 1, 128) AS hex
  FROM documents WHERE n_chars >= 64
),
parsed AS (
  SELECT asset_id, hex,
         CAST(CONCAT('0x', substring(hex, 47, 2), substring(hex, 45, 2)) AS BIGINT) AS channels_l,
         CAST(CONCAT('0x', substring(hex, 55, 2), substring(hex, 53, 2),
                     substring(hex, 51, 2), substring(hex, 49, 2)) AS BIGINT) AS sample_rate,
         CAST(CONCAT('0x', substring(hex, 71, 2), substring(hex, 69, 2)) AS BIGINT) AS bits_l,
         CAST(CONCAT('0x', substring(hex, 67, 2), substring(hex, 65, 2)) AS BIGINT) AS block_align,
         least(CAST(CONCAT('0x', substring(hex, 87, 2), substring(hex, 85, 2),
                           substring(hex, 83, 2), substring(hex, 81, 2)) AS BIGINT),
               CAST(length(hex) / 2 - 44 AS BIGINT)) AS data_size
  FROM assets
  WHERE substring(hex, 1, 8) = '52494646'
    AND substring(hex, 17, 8) = '57415645'
    AND substring(hex, 25, 8) = '666D7420'
    AND CAST(CONCAT('0x', substring(hex, 39, 2), substring(hex, 37, 2),
                    substring(hex, 35, 2), substring(hex, 33, 2)) AS BIGINT) = 16
    AND CAST(CONCAT('0x', substring(hex, 43, 2), substring(hex, 41, 2)) AS BIGINT) = 1
    AND substring(hex, 73, 8) = '64617461'
)
SELECT asset_id,
       CAST(channels_l AS INTEGER) AS channels,
       CAST(sample_rate AS BIGINT) AS sample_rate,
       CAST(bits_l AS INTEGER) AS bits_per_sample,
       CAST(data_size // block_align AS BIGINT) AS n_samples,
       round((data_size // block_align) / sample_rate, 6) AS duration_s,
       CASE WHEN bits_l = 16 AND least(16, data_size // 2) > 0 THEN
         round(list_aggregate(list_transform(
               range(0, CAST(least(16, data_size // 2) AS BIGINT)),
               j -> abs(CASE WHEN {_WAV_S16} >= 32768
                             THEN {_WAV_S16} - 65536
                             ELSE {_WAV_S16} END)), 'avg'), 6)
       END AS mean_abs_amp
FROM parsed
"""


def q_resize_images(spark, sf_dir):
    """8×8 → 4×4 nearest-neighbor thumbnails; the resized bytes are
    summarized JVM-side (hex fold) so the oracle can re-derive the
    exact resize arithmetic from the source text bytes."""
    out = multimodal.resize_images(
        _png_assets(spark, sf_dir), out_w=4, out_h=4
    )
    hx = F.upper(F.hex("resized"))
    px = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda j: F.conv(hx.substr(j * 2 + 1, F.lit(2)), 16, 10).cast("long"),
    )
    byte_sum = F.aggregate(px, F.lit(0).cast("long"), lambda a, v: a + v)
    return out.select(
        "asset_id",
        "width",
        "height",
        "channels",
        F.round(byte_sum / F.lit(16.0), 6).alias("mean_px"),
        byte_sum.alias("byte_sum"),
    )


# resize_images: nearest-neighbor 8x8 -> 4x4; output pixel (x, y)
# copies source pixel (2x, 2y), i.e. text byte 16*(i//4) + 2*(i%4) + 1
# for flat index i — the oracle re-derives the resize arithmetic from
# the source bytes, not from the operator's output.
ORACLE["resize_images"] = """
SELECT doc_id AS asset_id, 4 AS width, 4 AS height, 1 AS channels,
       round(CAST(list_aggregate(l, 'sum') AS DOUBLE) / 16.0, 6) AS mean_px,
       CAST(list_aggregate(l, 'sum') AS BIGINT) AS byte_sum
FROM (
  SELECT doc_id,
         list_transform(range(0, 16),
           i -> unicode(substring(text,
                CAST(16 * (i // 4) + 2 * (i % 4) + 1 AS INTEGER), 1))) AS l
  FROM documents WHERE n_chars >= 64
)
"""
