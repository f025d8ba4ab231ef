from __future__ import annotations

import struct
from pathlib import Path

import pytest

from mapreduce_assignments_spark.functions.container_demux import (
    mux_avi_mjpeg,
    mux_avi_raw,
)
from mapreduce_assignments_spark.functions.jpeg_codec import encode_jpeg
from mapreduce_assignments_spark.functions.png_codec import encode_png
from mapreduce_assignments_spark.operators.multimodal import (
    decode_image,
    image_stats,
    phash64,
    phash_duplicates,
    resize_images,
    sample_frames,
    sniff_media,
    video_frame_stats,
)


def _png(w: int, h: int, c: int = 1, seed: int = 0) -> bytes:
    """A REAL PNG whose i-th sample byte is ``(seed + 31*i) % 256``."""
    return encode_png(w, h, c, bytes((seed + 31 * i) % 256 for i in range(w * h * c)))


def _frames(n: int, frame_len: int, seed: int = 0) -> list[bytes]:
    """``n`` raw frames; byte j of frame f is ``(seed + 17*(f*len + j)) % 256``."""
    return [
        bytes((seed + 17 * (f * frame_len + j)) % 256 for j in range(frame_len))
        for f in range(n)
    ]


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (1, _png(4, 4, 1, seed=7)),
        (2, _png(8, 2, 3, seed=9)),
        (3, _png(4, 4, 1, seed=7)),   # exact dup of 1
        (4, b"\x89PNG\r\n\x1a\n" + b"\x00" * 16),  # png magic, corrupt body
        (5, b"\xff\xd8\xff\xe0" + b"\x00" * 8),    # jpeg magic, corrupt body
        (6, mux_avi_raw(_frames(6, 10, seed=3), 5, 2)),
        (7, b"garbage-bytes-here"),
    ]
    return spark.createDataFrame(rows, "asset_id long, content binary")


def test_sniff_media_formats(assets):
    got = {r["asset_id"]: (r["format"], r["n_bytes"]) for r in sniff_media(assets).collect()}
    assert got[1][0] == "png"
    assert got[4] == ("png", 24)
    assert got[5] == ("jpeg", 12)
    assert got[6][0] == "avi"
    assert got[7][0] == "unknown"
    # sniffing must stay JVM-side
    plan = sniff_media(assets)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_decode_image_roundtrip():
    raw = _png(3, 2, 1, seed=5)
    w, h, c, px = decode_image(raw)
    assert (w, h, c) == (3, 2, 1)
    assert px == bytes((5 + 31 * i) % 256 for i in range(6))
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\nxxxx")


def test_image_stats(assets):
    got = {r["asset_id"]: r for r in image_stats(assets).collect()}
    # only the decodable PNGs survive
    assert set(got) == {1, 2, 3}
    assert (got[2]["width"], got[2]["height"], got[2]["channels"]) == (8, 2, 3)
    px = bytes((7 + 31 * i) % 256 for i in range(16))
    assert got[1]["mean_px"] == pytest.approx(sum(px) / 16, abs=1e-6)
    assert got[1]["mean_px"] == got[3]["mean_px"]


def test_phash_duplicates(assets):
    groups = {r["keeper"]: r for r in phash_duplicates(assets).collect()}
    # 1 and 3 are pixel-identical -> same phash group with keeper=1
    assert groups[1]["n_dups"] == 2
    assert groups[1]["phash"] == phash64(_png(4, 4, 1, seed=7))
    assert groups[2]["n_dups"] == 1


def test_sample_frames(assets):
    out = sample_frames(assets, every_k=2).collect()
    assert {r["asset_id"] for r in out} == {6}
    frames = sorted((r["frame_idx"], bytes(r["frame"])) for r in out)
    assert [i for i, _ in frames] == [0, 2, 4]
    raw = _frames(6, 10, seed=3)
    for idx, frame in frames:
        assert frame == raw[idx]


def test_sample_frames_validates():
    with pytest.raises(ValueError):
        sample_frames(None, every_k=0)


# --- pluggable codec seam -------------------------------------------------
# A deployment with real codecs passes its own callable; the swap must be
# pure configuration — same operators, same schemas, no module edits.
# The codecs are defined INSIDE the tests: a closure pickles by value, so
# executors need nothing importable — exactly the deployment contract.

def test_injected_image_decoder(spark):
    def _custom_decoder(content: bytes):
        # decodes b"CUSTOM" + w:u8 + h:u8 + payload — a format the
        # default decoder rejects
        if content[:6] != b"CUSTOM":
            raise NotImplementedError("not CUSTOM")
        w, h = content[6], content[7]
        return w, h, 1, content[8 : 8 + w * h]

    rows = [
        (1, b"CUSTOM" + bytes([2, 2]) + bytes([10, 20, 30, 40])),
        (2, _png(4, 4, 1, seed=7)),  # default format: undecodable here
    ]
    df = spark.createDataFrame(rows, "asset_id long, content binary")
    got = {r["asset_id"]: r for r in image_stats(df, decoder=_custom_decoder).collect()}
    assert set(got) == {1}
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (2, 2, 1)
    assert got[1]["mean_px"] == pytest.approx(25.0)
    # phash goes through the same seam
    dups = phash_duplicates(
        spark.createDataFrame(
            [(1, rows[0][1]), (2, rows[0][1])], "asset_id long, content binary"
        ),
        decoder=_custom_decoder,
    ).collect()
    assert len(dups) == 1 and dups[0]["keeper"] == 1 and dups[0]["n_dups"] == 2


def test_injected_video_demuxer(spark):
    def _custom_demuxer(content: bytes):
        # splits b"VID!" + payload into fixed 4-byte frames
        if content[:4] != b"VID!":
            raise NotImplementedError("not VID!")
        body = content[4:]
        return [body[i : i + 4] for i in range(0, len(body), 4)]

    df = spark.createDataFrame(
        [(9, b"VID!" + b"aaaabbbbccccdddd"), (10, mux_avi_raw(_frames(4, 2), 2, 1))],
        "asset_id long, content binary",
    )
    out = sample_frames(df, every_k=2, demuxer=_custom_demuxer).collect()
    got = {(r["asset_id"], r["frame_idx"]): bytes(r["frame"]) for r in out}
    # only the VID! row demuxes; frames 0 and 2 of 4
    assert set(got) == {(9, 0), (9, 2)}
    assert got[(9, 0)] == b"aaaa" and got[(9, 2)] == b"cccc"


def test_decode_image_real_png_via_pil(spark):
    """Real-codec integration (round-6 VERDICT item 6): decode an
    actual PNG through the PIL seam, end-to-end through image_stats'
    mapInPandas plumbing. Skipped where Pillow is absent (this
    container); green unchanged in any container that ships PIL —
    making the codec family pure deployment config, not code."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from mapreduce_assignments_spark.operators.multimodal import (
        decode_image,
        image_stats,
    )

    buf = io.BytesIO()
    Image.new("RGB", (2, 1), (255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    assert png[:8] == b"\x89PNG\r\n\x1a\n"  # genuinely a PNG container

    w, h, c, px = decode_image(png)
    assert (w, h, c) == (2, 1, 3)
    assert px == bytes([255, 0, 0, 255, 0, 0])

    df = spark.createDataFrame([(1, png)], "asset_id long, content binary")
    [row] = image_stats(df).collect()
    assert (row["width"], row["height"], row["channels"]) == (2, 1, 3)
    assert row["mean_px"] == 85.0  # (255+0+0)/3


def test_decode_image_self_upgrades_via_pil(monkeypatch):
    """decode_image routes any payload its own codecs cannot decode
    through Pillow when the PIL import succeeds — proven here with a
    stand-in PIL module, so the same code decodes progressive JPEG or
    exotic PNG in any container that ships PIL."""
    import sys
    import types

    from mapreduce_assignments_spark.operators.multimodal import decode_image

    class _FakeImg:
        width, height = 3, 2

        def getbands(self):
            return ("L",)

        def tobytes(self):
            return bytes(range(6))

    fake_image_mod = types.SimpleNamespace(open=lambda buf: _FakeImg())
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    w, h, c, px = decode_image(b"\xff\xd8\xffnot-a-baseline-jpeg")
    assert (w, h, c, px) == (3, 2, 1, bytes(range(6)))
    # a PNG still takes the stdlib codec even with "PIL" importable
    w, h, c, px = decode_image(_png(2, 2, 1, seed=3))
    assert (w, h, c, px) == (2, 2, 1, bytes((3 + 31 * i) % 256 for i in range(4)))


def test_default_decoder_unchanged_by_seam(assets):
    """The no-argument path must behave exactly as before the seam —
    the oracle-checked queries ride this default."""
    stats = {r["asset_id"] for r in image_stats(assets).collect()}
    assert stats == {1, 2, 3}
    frames = {r["asset_id"] for r in sample_frames(assets).collect()}
    assert frames == {6}


_BAD_PNG = b"\x89PNG\r\n\x1a\n" + b"\x00" * 16  # valid magic, corrupt body
_BAD_AVI = b"RIFF\xff\xff\xff\xffAVI " + b"\x99" * 16  # chunk overrun


def _mjpeg_avi(seed: int) -> bytes:
    jpegs = [encode_jpeg(f, 8, 8, 1) for f in _frames(2, 64, seed)]
    return mux_avi_mjpeg(jpegs, 8, 8)


# operator, decodable-asset builder, undecodable asset, output columns
_DECODE_OPERATORS = {
    "image_stats": (
        image_stats, lambda s: _png(8, 8, 1, s), _BAD_PNG,
        ["asset_id", "width", "height", "channels", "mean_px"],
    ),
    "phash_duplicates": (
        phash_duplicates, lambda s: _png(8, 8, 1, s), _BAD_PNG,
        ["keeper", "n_dups", "phash"],
    ),
    "resize_images": (
        lambda df: resize_images(df, 2, 2), lambda s: _png(8, 8, 1, s), _BAD_PNG,
        ["asset_id", "width", "height", "channels", "resized"],
    ),
    "video_frame_stats": (
        video_frame_stats, _mjpeg_avi, _BAD_AVI,
        ["asset_id", "frame_idx", "width", "height", "channels", "mean_px"],
    ),
    "sample_frames": (
        sample_frames, _mjpeg_avi, _BAD_AVI, ["asset_id", "frame_idx", "frame"],
    ),
}


@pytest.mark.parametrize("name", sorted(_DECODE_OPERATORS))
def test_decode_operators_share_the_drop_contract(spark, name):
    """Every decode operator runs the same per-asset loop: in ONE Arrow
    batch an undecodable asset between two decodable ones drops alone,
    and a batch holding only undecodable assets returns the declared
    columns with no rows (never a crashed stage)."""
    op, good, bad, columns = _DECODE_OPERATORS[name]
    schema = "asset_id long, content binary"
    mixed = spark.createDataFrame([(1, good(7)), (2, bad), (3, good(200))], schema)
    out = op(mixed.coalesce(1))
    id_col = "keeper" if name == "phash_duplicates" else "asset_id"
    assert {r[id_col] for r in out.collect()} == {1, 3}
    empty = op(spark.createDataFrame([(2, bad), (4, b"not-media")], schema).coalesce(1))
    assert empty.columns == columns
    assert empty.collect() == []


# ---------------------------------------------------------------------------
# audio: REAL RIFF/WAVE parsing (no codec library, no Python stage)

def test_make_wav_is_real_riff():
    """The staged WAV is the actual on-disk format: Python's stdlib
    wave module (an independent RIFF implementation) must open it and
    report the same parameters audio_stats extracts."""
    import io
    import wave

    from mapreduce_assignments_spark.operators.multimodal import make_wav

    payload = bytes(range(64))
    with wave.open(io.BytesIO(make_wav(payload, channels=2, sample_rate=8000))) as w:
        assert w.getnchannels() == 2
        assert w.getframerate() == 8000
        assert w.getsampwidth() == 2
        assert w.getnframes() == 16  # 64 bytes / (2 ch * 2 B)
        assert w.readframes(16) == payload


def test_audio_stats_hand_checked(spark):
    import numpy as np

    from mapreduce_assignments_spark.operators.multimodal import audio_stats, make_wav

    payload = bytes(range(64))
    extremes = b"\x00\x80\xff\x7f" * 4  # -32768 / +32767 alternating
    rows = [
        (1, make_wav(payload, channels=1, sample_rate=16000)),
        (2, make_wav(payload, channels=2, sample_rate=8000)),
        (3, b"RIFF....WAVEjunk"),                 # truncated: dropped
        (4, _png(2, 2, 1)),                       # not audio: dropped
        (5, make_wav(extremes, channels=1, sample_rate=44100)),
    ]
    df = spark.createDataFrame(rows, "asset_id long, content binary")
    got = {r["asset_id"]: r.asDict() for r in audio_stats(df).collect()}
    assert set(got) == {1, 2, 5}

    def expected(pl, ch, rate):
        vals = np.frombuffer(pl[: 2 * 16], dtype="<i2").astype(np.int64)
        n = len(pl) // (ch * 2)
        return n, round(n / rate, 6), round(float(np.abs(vals).mean()), 6)

    for aid, (pl, ch, rate) in {
        1: (payload, 1, 16000),
        2: (payload, 2, 8000),
        5: (extremes, 1, 44100),
    }.items():
        n, dur, amp = expected(pl, ch, rate)
        r = got[aid]
        assert (r["channels"], r["sample_rate"], r["bits_per_sample"]) == (ch, rate, 16)
        assert (r["n_samples"], r["duration_s"], r["mean_abs_amp"]) == (n, dur, amp)


def test_audio_stats_is_pure_jvm(spark):
    """No Python stage anywhere in the audio plan — the parse is hex
    arithmetic inside whole-stage codegen."""
    from mapreduce_assignments_spark.operators.multimodal import audio_stats, make_wav

    df = spark.createDataFrame(
        [(1, make_wav(bytes(64)))], "asset_id long, content binary"
    )
    plan = audio_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_audio_stats_validates():
    from mapreduce_assignments_spark.operators.multimodal import audio_stats

    with pytest.raises(ValueError):
        audio_stats(None, probe_samples=0)


def test_audio_stats_clamps_truncated_payload(spark):
    """A header claiming 64 data bytes over a truncated 32-byte payload
    reports the 32 bytes actually present."""
    from mapreduce_assignments_spark.operators.multimodal import audio_stats, make_wav

    full = make_wav(bytes(range(64)), channels=1, sample_rate=16000)
    truncated = full[: 44 + 32]
    df = spark.createDataFrame([(1, truncated)], "asset_id long, content binary")
    [r] = audio_stats(df).collect()
    assert r["n_samples"] == 16  # 32 bytes / 2, not the claimed 32 samples
    assert r["duration_s"] == 0.001


def test_resize_images_matches_numpy(spark):
    import numpy as np

    img = _png(6, 4, 2, seed=11)  # W=6, H=4, C=2
    df = spark.createDataFrame([(1, img), (2, b"not-an-image")], "asset_id long, content binary")
    [r] = resize_images(df, out_w=3, out_h=2).collect()
    assert (r["width"], r["height"], r["channels"]) == (3, 2, 2)
    src = np.frombuffer(decode_image(img)[3], dtype=np.uint8).reshape(4, 6, 2)
    ys = (np.arange(2) * 4) // 2
    xs = (np.arange(3) * 6) // 3
    assert bytes(r["resized"]) == src[ys][:, xs].tobytes()


def test_resize_images_upscale_and_seam(spark):
    """Upscaling works (floor mapping repeats pixels) and the decoder
    seam is honored."""
    def two_by_two(content: bytes):
        return 2, 2, 1, bytes([10, 20, 30, 40])

    df = spark.createDataFrame([(7, b"anything")], "asset_id long, content binary")
    [r] = resize_images(df, out_w=4, out_h=4, decoder=two_by_two).collect()
    assert bytes(r["resized"]) == bytes(
        [10, 10, 20, 20, 10, 10, 20, 20, 30, 30, 40, 40, 30, 30, 40, 40]
    )
    with pytest.raises(ValueError):
        resize_images(df, out_w=0, out_h=4)


def test_image_dimensions_header_only_parse(spark):
    from mapreduce_assignments_spark.operators.multimodal import image_dimensions

    rows = [
        (1, _png(16, 9, 3)),
        (2, _png(640, 480, 1)),
        (3, b"NOTMEDIA garbage"),  # wrong magic: dropped
        (4, _png(7, 5, 1)[:33]),  # signature + IHDR only, IDAT gone
    ]
    df = spark.createDataFrame(rows, "asset_id long, content binary")
    got = {
        r["asset_id"]: (r["width"], r["height"], r["channels"])
        for r in image_dimensions(df).collect()
    }
    # the parse never touches the payload — truncated asset 4 still reads
    assert got == {1: (16, 9, 3), 2: (640, 480, 1), 4: (7, 5, 1)}


# ---------------------------------------------------------------------------
# PNG: REAL container decode with zero third-party codecs (stdlib zlib)

def _naive_unfilter(filters, lines, prev0, bpp):
    """Straightforward per-byte PNG unfilter (spec pseudocode) used as
    the independent reference for the vectorized decoder."""
    out = []
    prev = list(prev0)
    for f, line in zip(filters, lines):
        cur = [0] * len(line)
        for x in range(len(line)):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                r = line[x]
            elif f == 1:
                r = line[x] + a
            elif f == 2:
                r = line[x] + b
            elif f == 3:
                r = line[x] + ((a + b) >> 1)
            else:  # paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                r = line[x] + pred
            cur[x] = r & 0xFF
        out.append(cur)
        prev = cur
    return out


def test_png_roundtrip_all_channel_counts():
    from mapreduce_assignments_spark.functions.png_codec import (
        decode_png,
        encode_png,
    )

    for channels in (1, 2, 3, 4):
        w, h = 5, 3
        px = bytes((11 * i + channels) % 256 for i in range(w * h * channels))
        png = encode_png(w, h, channels, px)
        assert png[:8] == b"\x89PNG\r\n\x1a\n"
        assert decode_png(png) == (w, h, channels, px)


def test_png_all_filters_match_spec_reference():
    """Hand-build IDAT scanlines using each filter type and check the
    vectorized unfilter against the per-byte spec pseudocode."""
    import struct
    import zlib

    import numpy as np

    from mapreduce_assignments_spark.functions.png_codec import decode_png

    rng = np.random.RandomState(7)
    w, h, bpp = 6, 5, 3  # RGB
    stride = w * bpp
    filters = [0, 1, 2, 3, 4]
    lines = [list(rng.randint(0, 256, stride, dtype=np.uint8)) for _ in range(h)]
    expected = _naive_unfilter(filters, lines, [0] * stride, bpp)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(bytes([f]) + bytes(line) for f, line in zip(filters, lines))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    got = decode_png(png)
    assert got[:3] == (w, h, bpp)
    assert list(got[3]) == [b for row in expected for b in row]


def test_png_palette_expands_to_rgb():
    import struct
    import zlib

    from mapreduce_assignments_spark.functions.png_codec import decode_png

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)  # color type 3
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red, green, blue
    raw = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 0])
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    w, h, c, px = decode_png(png)
    assert (w, h, c) == (2, 2, 3)
    assert px == bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 0, 0])


def test_png_rejects_out_of_subset():
    import struct
    import zlib

    import pytest

    from mapreduce_assignments_spark.functions.png_codec import (
        decode_png,
        encode_png,
    )

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    with pytest.raises(ValueError, match="signature"):
        decode_png(b"NOTAPNG0" + b"x" * 16)
    # 16-bit depth
    png16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(png16)
    # interlaced
    pngi = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="interlaced"):
        decode_png(pngi)
    with pytest.raises(ValueError, match="channels"):
        encode_png(1, 1, 5, b"\x00" * 5)


def test_image_stats_decodes_real_png_without_pil(spark):
    """The codec-stub gap closes for PNG: a REAL PNG payload flows
    end-to-end through image_stats' mapInPandas plumbing with no PIL
    in the container — same integration shape as the PIL-gated test
    above, no longer skipped."""
    from mapreduce_assignments_spark.functions.png_codec import encode_png
    from mapreduce_assignments_spark.operators.multimodal import (
        decode_image,
        image_stats,
        phash64,
    )

    png = encode_png(2, 1, 3, bytes([255, 0, 0, 255, 0, 0]))
    w, h, c, px = decode_image(png)
    assert (w, h, c) == (2, 1, 3)
    assert px == bytes([255, 0, 0, 255, 0, 0])

    df = spark.createDataFrame(
        [(1, png), (2, b"\x89PNG\r\n\x1a\ntruncated-garbage")],
        "asset_id long, content binary",
    )
    rows = image_stats(df).collect()
    # the malformed PNG is dropped (ValueError -> PIL absent -> seam
    # NotImplementedError -> quarantine), the real one decodes
    assert [(r["asset_id"], r["width"], r["height"], r["channels"], r["mean_px"])
            for r in rows] == [(1, 2, 1, 3, 85.0)]
    # phash rides the same decoder seam
    assert isinstance(phash64(png), int)


# ---------------------------------------------------------------------------
# baseline JPEG codec (round 11 — the last image codec seam un-stubbed)

_FIXTURES = Path(__file__).parent / "fixtures"


def test_jpeg_golden_color_420():
    """Golden file from CPython's own test suite (Lib/test/imghdrdata/
    python.jpg — PSF-licensed public content): a REAL libjpeg-encoded
    16x16 baseline JPEG with 4:2:0 chroma subsampling. Decoding it
    exercises the full path an independent encoder produced: JFIF
    markers, two DQTs, four DHTs, interleaved 3-component scan, 2x2
    luma blocks per MCU, chroma upsampling, YCbCr->RGB."""
    import numpy as np

    from mapreduce_assignments_spark.functions.jpeg_codec import decode_jpeg

    data = (_FIXTURES / "golden_16x16_420.jpg").read_bytes()
    w, h, c, px = decode_jpeg(data)
    assert (w, h, c) == (16, 16, 3)
    a = np.frombuffer(px, dtype=np.uint8).reshape(h, w, c)
    # regression pin: decode is bit-deterministic, so the channel sums
    # are constants of (file, decoder). Re-derive only on an
    # intentional decoder change.
    assert [int(s) for s in a.astype(np.int64).sum(axis=(0, 1))] == [
        25060, 26187, 19549
    ]
    means = a.mean(axis=(0, 1))
    # the Python-logo thumbnail: mid-tone, green-dominant, in-gamut
    assert 60 < means[0] < 140 and 60 < means[1] < 140 and 40 < means[2] < 120
    assert means[1] > means[2]


def test_jpeg_golden_grayscale():
    from mapreduce_assignments_spark.functions.jpeg_codec import decode_jpeg

    data = (_FIXTURES / "golden_2x2_gray.jpg").read_bytes()
    w, h, c, px = decode_jpeg(data)
    assert (w, h, c) == (2, 2, 1)
    assert len(px) == 4


def test_jpeg_dct_matches_independent_reference():
    """The codec's 8x8 DCT matrix against the direct T.81 double-sum
    formula computed independently here, and perfect IDCT(DCT(x))
    reconstruction."""
    import numpy as np

    from mapreduce_assignments_spark.functions.jpeg_codec import _DCT_M

    rng = np.random.RandomState(3)
    x = rng.randint(-128, 128, (8, 8)).astype(np.float64)
    ref = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            s = 0.0
            for i in range(8):
                for j in range(8):
                    s += (
                        x[i, j]
                        * np.cos((2 * i + 1) * u * np.pi / 16)
                        * np.cos((2 * j + 1) * v * np.pi / 16)
                    )
            ref[u, v] = 0.25 * cu * cv * s
    fwd = _DCT_M @ x @ _DCT_M.T
    assert np.abs(fwd - ref).max() < 1e-9
    back = _DCT_M.T @ fwd @ _DCT_M
    assert np.abs(back - x).max() < 1e-9


def test_jpeg_roundtrip_psnr_bounds():
    import numpy as np

    from mapreduce_assignments_spark.functions.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    # RGB gradient with a non-multiple-of-8 footprint (edge blocks)
    img = np.zeros((24, 17, 3), dtype=np.uint8)
    for y in range(24):
        for x in range(17):
            img[y, x] = (x * 15 % 256, y * 11 % 256, (x + y) * 7 % 256)
    enc = encode_jpeg(img.tobytes(), 17, 24, 3, quality=90)
    assert enc[:3] == b"\xff\xd8\xff" and enc[-2:] == b"\xff\xd9"
    w, h, c, px = decode_jpeg(enc)
    assert (w, h, c) == (17, 24, 3)
    dec = np.frombuffer(px, dtype=np.uint8).reshape(24, 17, 3).astype(np.float64)
    mse = np.mean((dec - img.astype(np.float64)) ** 2)
    assert 10 * np.log10(255**2 / mse) > 35.0
    # grayscale, higher quality -> tighter bound
    g = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3).astype(np.uint8)
    w, h, c, px = decode_jpeg(encode_jpeg(g.tobytes(), 8, 8, 1, quality=95))
    assert (w, h, c) == (8, 8, 1)
    dec = np.frombuffer(px, dtype=np.uint8).reshape(8, 8).astype(np.float64)
    mse = np.mean((dec - g.astype(np.float64)) ** 2)
    assert 10 * np.log10(255**2 / mse) > 45.0


def test_jpeg_deterministic_and_seam_routed():
    """Same input -> byte-identical JPEG and byte-identical decode;
    the default decode_image seam routes JPEG magic to the codec; a
    corrupt payload behind the magic falls through to the seam error
    (the drop-undecodable-rows contract), and progressive JPEG is
    rejected as out-of-subset."""
    import pytest

    from mapreduce_assignments_spark.functions.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )
    from mapreduce_assignments_spark.operators.multimodal import decode_image

    px = bytes(range(192))
    a = encode_jpeg(px, 8, 8, 3)
    b = encode_jpeg(px, 8, 8, 3)
    assert a == b
    assert decode_image(a) == decode_jpeg(a)
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff" + b"\x00" * 20)
    # SOF2 (progressive) is out-of-subset by design
    prog = bytearray(a)
    prog[prog.index(b"\xff\xc0")+1:prog.index(b"\xff\xc0")+2] = b"\xc2"
    with pytest.raises(ValueError):
        decode_jpeg(bytes(prog))


def test_jpeg_restart_intervals_decode_and_validate():
    """DRI/RSTn handling of the table-driven entropy decoder (round-12
    rewrite): a hand-assembled two-MCU scan with restart_interval=1
    must decode pixel-identical to the same image encoded as one
    segment (DC prediction resets at the marker, so per-MCU segments
    equal independently-encoded single-block images); a missing RST
    and an unexpected RST must both hit the ValueError drop
    contract."""
    import struct

    import numpy as np
    import pytest

    from mapreduce_assignments_spark.functions.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    pxA = bytes([(7 * i) % 256 for i in range(64)])
    pxB = bytes([(11 * i + 3) % 256 for i in range(64)])
    full = np.hstack(
        [
            np.frombuffer(pxA, np.uint8).reshape(8, 8),
            np.frombuffer(pxB, np.uint8).reshape(8, 8),
        ]
    ).tobytes()
    base = encode_jpeg(full, 16, 8, 1, quality=90)

    def split(b):  # (pre-SOS headers, SOS segment, entropy bytes)
        i = b.index(b"\xff\xda")
        (ln,) = struct.unpack(">H", b[i + 2 : i + 4])
        return b[:i], b[i : i + 2 + ln], b[i + 2 + ln : -2]

    head, sos, _ = split(base)
    eA = split(encode_jpeg(pxA, 8, 8, 1, quality=90))[2]
    eB = split(encode_jpeg(pxB, 8, 8, 1, quality=90))[2]
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 1)
    rst = head + dri + sos + eA + b"\xff\xd0" + eB + b"\xff\xd9"
    assert decode_jpeg(rst) == decode_jpeg(base)
    # DRI promises a restart after every MCU; omitting the marker and
    # the second segment must error, not return half an image
    with pytest.raises(ValueError):
        decode_jpeg(head + dri + sos + eA + b"\xff\xd9")
    # an RSTn with NO declared restart interval is corrupt
    with pytest.raises(ValueError):
        decode_jpeg(head + sos + eA + b"\xff\xd0" + eB + b"\xff\xd9")


# ---------------------------------------------------------------------------
# real video containers: AVI (RIFF) + progressive MP4 demux


def test_avi_mux_demux_roundtrip():
    from mapreduce_assignments_spark.functions.container_demux import (
        demux_avi,
        mux_avi_mjpeg,
    )

    frames = [bytes((i * 7 + j) % 256 for j in range(40 + i * 3)) for i in range(5)]
    avi = mux_avi_mjpeg(frames, 8, 8)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    assert demux_avi(avi) == frames
    # odd-length frames force the RIFF even-padding path
    odd = [b"x" * 3, b"y" * 7]
    assert demux_avi(mux_avi_mjpeg(odd, 2, 2)) == odd
    assert demux_avi(mux_avi_mjpeg([], 2, 2)) == []


def test_mp4_mux_demux_roundtrip_all_chunkings():
    from mapreduce_assignments_spark.functions.container_demux import (
        demux_mp4,
        mux_mp4,
    )

    frames = [bytes((i * 5 + j) % 256 for j in range(16 + i)) for i in range(7)]
    for spc in (1, 2, 3, 5, 7, 9):  # incl. tail chunks and 1 big chunk
        mp4 = mux_mp4(frames, 8, 8, samples_per_chunk=spc)
        assert mp4[4:8] == b"ftyp"
        assert demux_mp4(mp4) == frames, f"samples_per_chunk={spc}"
    assert demux_mp4(mux_mp4([], 8, 8)) == []


def test_mp4_demux_corrupt_and_out_of_subset():
    import pytest

    from mapreduce_assignments_spark.functions.container_demux import (
        demux_avi,
        demux_mp4,
        mux_mp4,
    )

    mp4 = mux_mp4([b"abc", b"defg"], 4, 4)
    with pytest.raises(ValueError):
        demux_mp4(mp4[:40])  # truncated: sample walk overruns
    with pytest.raises(ValueError):
        demux_mp4(b"\x00" * 32)  # no ftyp
    # moov stripped -> no video track facts
    moov_at = mp4.index(b"moov") - 4
    with pytest.raises(ValueError):
        demux_mp4(mp4[:moov_at])
    with pytest.raises(ValueError):
        demux_avi(b"RIFF\x04\x00\x00\x00WAVE")  # RIFF but not AVI


def test_avi_raw_mux_demux_roundtrip():
    """mux_avi_raw builds a REAL uncompressed AVI ('DIB ' handler,
    BI_RGB strf) whose raw frame payloads round-trip byte-for-byte —
    the value-exact AVI analogue of the MP4 raw-sample path."""
    from mapreduce_assignments_spark.functions.container_demux import (
        demux_avi,
        mux_avi_raw,
    )

    frames = [bytes((i * 11 + j) % 256 for j in range(16)) for i in range(4)]
    avi = mux_avi_raw(frames, 8, 8)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    assert b"vidsDIB " in avi          # stream handler
    assert b"MJPG" not in avi          # genuinely uncompressed
    assert demux_avi(avi) == frames
    # deterministic bytes for fixed input (the media_sniff oracle
    # derives n_bytes by re-running the muxer)
    assert mux_avi_raw(frames, 8, 8) == avi


def test_mp4_stsc_first_run_must_start_at_chunk_one():
    """A corrupt stsc whose first run starts at chunk 2 shifts sample
    counts onto the wrong chunks; when the shifted counts still total
    the declared sample count the old walk returned WRONG bytes
    instead of erroring. Must now raise (drop contract)."""
    import pytest

    from mapreduce_assignments_spark.functions.container_demux import (
        demux_mp4,
        mux_mp4,
    )

    frames = [bytes([i]) * 16 for i in range(4)]
    mp4 = mux_mp4(frames, 8, 8, samples_per_chunk=2)
    stsc_at = mp4.index(b"stsc")
    first_chunk_at = stsc_at + 4 + 4 + 4  # fourcc, version/flags, count
    assert mp4[first_chunk_at : first_chunk_at + 4] == b"\x00\x00\x00\x01"
    corrupt = (
        mp4[:first_chunk_at] + b"\x00\x00\x00\x02" + mp4[first_chunk_at + 4 :]
    )
    with pytest.raises(ValueError, match="chunk 1"):
        demux_mp4(corrupt)


def test_sniff_media_riff_subtypes(spark):
    """RIFF wrappers are refined by form type: WAVE -> 'wav',
    'AVI ' -> 'avi', other RIFF stays generic 'riff'."""
    from mapreduce_assignments_spark.functions.container_demux import mux_avi_raw
    from mapreduce_assignments_spark.operators.multimodal import make_wav

    rows = [
        (1, make_wav(bytes(64), 1, 16000)),
        (2, mux_avi_raw([bytes(16)] * 2, 4, 4)),
        (3, b"RIFF\x04\x00\x00\x00WEBP"),
        (4, b"\x89PNG\r\n\x1a\n" + bytes(16)),
    ]
    df = spark.createDataFrame(rows, "asset_id long, content binary")
    got = {r["asset_id"]: r["format"] for r in sniff_media(df).collect()}
    assert got == {1: "wav", 2: "avi", 3: "riff", 4: "png"}
    plan = sniff_media(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_image_dimensions_parses_real_png_ihdr(spark):
    """Header-only dims from REAL PNG IHDR fields (fixed offsets, JVM
    hex arithmetic): width/height u32be, channels from color type."""
    from mapreduce_assignments_spark.functions.png_codec import encode_png
    from mapreduce_assignments_spark.operators.multimodal import image_dimensions

    rows = [
        (1, encode_png(5, 3, 1, bytes(range(15)))),          # gray -> 1
        (2, encode_png(4, 2, 3, bytes(range(24)))),          # rgb  -> 3
        (3, _png(16, 9, 2)),                                 # gray+alpha -> 2
        (4, b"NOTMEDIA garbage"),                            # dropped
    ]
    df = spark.createDataFrame(rows, "asset_id long, content binary")
    got = {
        r["asset_id"]: (r["width"], r["height"], r["channels"])
        for r in image_dimensions(df).collect()
    }
    assert got == {1: (5, 3, 1), 2: (4, 2, 3), 3: (16, 9, 2)}
    plan = image_dimensions(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # the parse never leaves the JVM


def test_demux_video_seam_dispatch():
    """The DEFAULT seam demuxes real AVI (MJPEG and raw DIB) and MP4;
    corrupt payloads behind a valid magic fall through to the
    NotImplementedError drop contract (never a raw crash)."""
    import pytest

    from mapreduce_assignments_spark.functions.container_demux import mux_mp4
    from mapreduce_assignments_spark.operators.multimodal import demux_video

    frames = [b"0123456789abcdef", b"ANOTHER-FRAME!!!"]
    assert demux_video(mux_avi_mjpeg(frames, 4, 4)) == frames
    assert demux_video(mux_mp4(frames, 4, 4)) == frames
    assert demux_video(mux_avi_raw(_frames(2, 4, seed=9), 2, 2)) == _frames(2, 4, seed=9)
    for bad in (
        b"RIFF\xff\xff\xff\xffAVI " + b"\x99" * 16,  # chunk overrun
        b"\x00\x00\x00\x14ftypisom" + b"\x00" * 12,  # no moov
        b"not-a-video-at-all",
    ):
        with pytest.raises(NotImplementedError):
            demux_video(bad)


def test_video_frame_stats_real_mjpeg_avi(spark):
    """Full video path on REAL containers: mux JPEG frames into an
    AVI, run the operator with DEFAULT seams, check dimensions
    exactly and pixel means within JPEG loss tolerance; corrupt rows
    drop silently."""
    import numpy as np

    from mapreduce_assignments_spark.functions.container_demux import mux_avi_mjpeg
    from mapreduce_assignments_spark.functions.jpeg_codec import encode_jpeg
    from mapreduce_assignments_spark.operators.multimodal import video_frame_stats

    rng_px = [bytes((f * 37 + j) % 256 for j in range(64)) for f in range(4)]
    frames = [encode_jpeg(p, 8, 8, 1) for p in rng_px]
    avi = mux_avi_mjpeg(frames, 8, 8)
    df = spark.createDataFrame(
        [(1, avi), (2, b"RIFF\xff\xff\xff\xffAVI " + b"\x99" * 16)],
        "asset_id long, content binary",
    )
    rows = video_frame_stats(df, every_k=2).orderBy("frame_idx").collect()
    assert [(r.asset_id, r.frame_idx, r.width, r.height, r.channels) for r in rows] == [
        (1, 0, 8, 8, 1),
        (1, 2, 8, 8, 1),
    ]
    for r, f in zip(rows, (0, 2)):
        true_mean = float(np.frombuffer(rng_px[f], dtype=np.uint8).mean())
        assert abs(r.mean_px - true_mean) < 3.0  # JPEG loss bound


def test_video_frame_stats_validates():
    import pytest

    from mapreduce_assignments_spark.operators.multimodal import video_frame_stats

    with pytest.raises(ValueError):
        video_frame_stats(None, every_k=0)


def test_mp4_demux_handcrafted_co64_stz2_fixed_stsz():
    """Demux paths our own muxer never emits, hand-authored box by
    box so a symmetric mux/demux bug cannot hide: 64-bit co64 chunk
    offsets, fixed-size stsz (sample_size != 0), and 8-bit stz2
    sample sizes."""
    import struct

    from mapreduce_assignments_spark.functions.container_demux import demux_mp4

    def box(fourcc, body):
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    def full(fourcc, body, version=0, flags=0):
        return box(fourcc, bytes([version]) + flags.to_bytes(3, "big") + body)

    samples = [b"AAAA", b"BBBB", b"CCCC"]  # fixed 4-byte samples
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512))
    mdat = box(b"mdat", b"".join(samples))
    base = len(ftyp) + 8

    def stbl_with(stsz_box, stco_box):
        stsd = full(b"stsd", struct.pack(">I", 1) + box(b"mp4v", b"\x00" * 78))
        stts = full(b"stts", struct.pack(">III", 1, 3, 100))
        # 2 samples in chunk 1, 1 sample in chunk 2
        stsc = full(
            b"stsc",
            struct.pack(">I", 2)
            + struct.pack(">III", 1, 2, 1)
            + struct.pack(">III", 2, 1, 1),
        )
        return box(b"stbl", stsd + stts + stsc + stsz_box + stco_box)

    def mp4_with(stbl):
        hdlr = full(b"hdlr", struct.pack(">I4s", 0, b"vide") + b"\x00" * 12 + b"h\x00")
        minf = box(b"minf", box(b"dinf", b"") + stbl)
        mdia = box(b"mdia", hdlr + minf)
        moov = box(b"moov", box(b"trak", mdia))
        return ftyp + mdat + moov

    # fixed-size stsz + 64-bit co64 offsets
    stsz_fixed = full(b"stsz", struct.pack(">II", 4, 3))
    co64 = full(b"co64", struct.pack(">IQQ", 2, base, base + 8))
    assert demux_mp4(mp4_with(stbl_with(stsz_fixed, co64))) == samples

    # 8-bit stz2 sizes + 32-bit stco
    stz2 = full(b"stz2", struct.pack(">I", 8) + struct.pack(">I", 3) + bytes([4, 4, 4]))
    stco = full(b"stco", struct.pack(">III", 2, base, base + 8))
    assert demux_mp4(mp4_with(stbl_with(stz2, stco))) == samples


def test_avi_demux_handcrafted_rec_groups_and_second_stream():
    """Hand-authored AVI movi payload with 'LIST rec ' interleave
    groups (our muxer writes flat chunks only) plus an audio '01wb'
    chunk that must NOT be returned, and a '01dc' second video
    stream that must."""
    import struct

    from mapreduce_assignments_spark.functions.container_demux import demux_avi

    def ck(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    rec = ck(b"LIST", b"rec " + ck(b"00dc", b"frame1") + ck(b"01wb", b"audio"))
    movi = ck(b"LIST", b"movi" + rec + ck(b"00db", b"fr2") + ck(b"01dc", b"s2f"))
    body = b"AVI " + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    assert demux_avi(avi) == [b"frame1", b"fr2", b"s2f"]


def test_image_dimensions_drops_invalid_png_color_type(spark):
    """A PNG whose IHDR color-type byte is outside the spec's
    {0,2,3,4,6} is dropped like a non-matching magic (round-12
    ADVICE item 4) — no NULL-channel row may reach downstream
    aggregates."""
    import struct

    from mapreduce_assignments_spark.operators.multimodal import image_dimensions

    sig = b"\x89PNG\r\n\x1a\n"

    def png_hdr(w: int, h: int, color_type: int) -> bytes:
        return (
            sig
            + struct.pack(">I", 13)
            + b"IHDR"
            + struct.pack(">II", w, h)
            + bytes([8, color_type])
        )

    rows = [(1, png_hdr(4, 3, 2)), (2, png_hdr(4, 3, 5))]  # 5 = invalid
    df = spark.createDataFrame(rows, "asset_id long, content binary")
    got = {
        r["asset_id"]: (r["width"], r["height"], r["channels"])
        for r in image_dimensions(df).collect()
    }
    assert got == {1: (4, 3, 3)}
