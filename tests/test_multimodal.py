"""Multimodal plumbing: stub gates for real codecs, FAKE-container
decode/resize/frame-sample semantics, Spark stage error rows."""

from __future__ import annotations

import pytest

from pdf_parser_spark import multimodal as mm


def test_real_formats_are_gated():
    # PNG/JPEG/GIF decode for real; AVI/MP4/WebP metadata-walk for
    # real; only unrecognized RIFF payloads keep the install-me stub
    with pytest.raises(NotImplementedError, match="install"):
        mm.decode_media(b"RIFF\x04\x00\x00\x00ACON" + b"\x00" * 20)
    with pytest.raises(ValueError, match="corrupt WebP"):  # WebP walks now
        mm.decode_media(b"RIFF\x14\x00\x00\x00WEBP" + b"\x00" * 20)
    with pytest.raises(ValueError, match="corrupt AVI"):  # AVI is real now
        mm.decode_media(b"RIFF\x14\x00\x00\x00AVI " + b"\x00" * 20)
    from pdf_parser_spark.jpegcore import JpegError

    with pytest.raises(JpegError):  # JPEG sig + garbage → typed error
        mm.decode_media(b"\xff\xd8\xff\xe0--" + b"\x00" * 20)
    with pytest.raises(ValueError, match="corrupt WAV"):  # WAVE is real now
        mm.decode_media(b"RIFF1234WAVE" + b"\x00" * 20)
    from pdf_parser_spark.pngcore import PngError

    with pytest.raises(PngError):  # PNG signature + garbage → typed error
        mm.decode_media(b"\x89PNG\r\n" + b"\x00" * 20)


def test_unknown_container_rejected():
    with pytest.raises(ValueError, match="unknown media container"):
        mm.decode_media(b"NOPE" + b"\x00" * 20)


def test_fake_roundtrip():
    blob = mm.encode_fake(0, 8, 4, 1, b"pixeldata")
    meta = mm.decode_media(blob)
    assert meta == {
        "kind": "image", "width": 8, "height": 4, "sample_rate": 0,
        "channels": 0, "n_frames": 1, "n_bytes": 9,
    }
    audio = mm.decode_media(mm.encode_fake(1, 16000, 2, 3, b"s"))
    assert audio["kind"] == "audio" and audio["sample_rate"] == 16000
    assert audio["channels"] == 2 and audio["n_frames"] == 3


def test_resize_semantics():
    # 2x2 image, pixels [10, 20, 30, 40] → 1x1 nearest-neighbor = pixel (0,0)
    blob = mm.encode_fake(0, 2, 2, 1, bytes([10, 20, 30, 40]))
    thumb = mm.resize_image(blob, 1, 1)
    meta = mm.decode_media(thumb)
    assert (meta["width"], meta["height"]) == (1, 1)
    assert thumb[11:] == bytes([10])
    # upscale 4x4: each source pixel appears 4x → sum = 4*(10+20+30+40)
    up = mm.resize_image(blob, 4, 4)
    assert sum(up[11:]) == 4 * (10 + 20 + 30 + 40)


def test_frame_sampling():
    payload = bytes(range(100))
    blob = mm.encode_fake(2, 3, 2, 25, payload)  # 25 frames of 6 "pixels"
    frames = mm.sample_frames(blob, every=10)
    assert [i for i, _ in frames] == [0, 10, 20]
    assert frames[0][1] == payload[0]
    assert frames[1][1] == payload[60 % 100]


def test_spark_stage_error_rows(spark):
    rows = [
        (1, mm.encode_fake(0, 4, 4, 1, b"abcd")),
        (2, b"\xff\xd8\xffJPEG"),          # corrupt JPEG → error row
        (3, b"garbage-bytes"),
        (4, b"\x89PNG\r\n\x1a\n" + b"\x00" * 4),  # corrupt PNG → error row
        # review-found crash classes: short SOF body / short IHDR used
        # to raise struct.error and KILL the task instead of erroring
        (5, b"\xff\xd8\xff\xc0\x00\x05\x08\x00\x10"),
        (6, b"\x89PNG\r\n\x1a\n" + bytes.fromhex("00000005") + b"IHDR\x00\x00\x00\x00\x00"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r["doc_id"]: r for r in mm.media_metadata(df).collect()}
    assert got[1]["kind"] == "image" and got[1]["error"] is None
    assert "overruns" in got[2]["error"]  # corrupt JPEG → typed error row
    assert "unknown media container" in got[3]["error"]
    assert "IHDR" in got[4]["error"]
    assert got[5]["error"] is not None  # malformed SOF → row, not crash
    assert got[6]["error"] is not None  # short IHDR → row, not crash


def test_real_wav_decode():
    """RIFF+WAVE decodes for real via the stdlib wave module; other
    RIFF containers (AVI) stay gated."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(44100)
        wf.writeframes(b"\x01\x02\x03\x04" * 10)
    meta = mm.decode_media(buf.getvalue())
    assert meta["kind"] == "audio"
    assert (meta["sample_rate"], meta["channels"], meta["n_frames"]) == (44100, 2, 10)
    assert meta["n_bytes"] == 40
    assert mm.wav_samples(buf.getvalue()) == b"\x01\x02\x03\x04" * 10
    # a REAL synthesized AVI header decodes: RIFF('AVI ' LIST('hdrl' avih))
    import struct as _s

    avih = _s.pack("<10I", 40000, 0, 0, 0, 250, 0, 1, 0, 320, 240) + b"\x00" * 16
    hdrl = b"hdrl" + b"avih" + _s.pack("<I", len(avih)) + avih
    lst = b"LIST" + _s.pack("<I", len(hdrl)) + hdrl
    riff = b"RIFF" + _s.pack("<I", 4 + len(lst)) + b"AVI " + lst
    m = mm.decode_media(riff)
    assert m["kind"] == "video"
    assert (m["width"], m["height"], m["n_frames"]) == (320, 240, 250)
    assert m["sample_rate"] == 25  # 1e6 / 40000 µs per frame = 25 fps


def _make_mp4(width, height, timescale, duration, version=0):
    import struct as st

    def box(tag, body):
        return st.pack(">I", len(body) + 8) + tag + body

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    if version == 1:
        mvhd = box(b"mvhd", b"\x01" + b"\x00" * 3 + b"\x00" * 16
                   + st.pack(">IQ", timescale, duration) + b"\x00" * 80)
    else:
        mvhd = box(b"mvhd", b"\x00" * 4 + b"\x00" * 8
                   + st.pack(">II", timescale, duration) + b"\x00" * 80)
    tkhd = box(b"tkhd", b"\x00" * 4 + b"\x00" * 72
               + st.pack(">II", width << 16, height << 16))
    trak = box(b"trak", tkhd)
    moov = box(b"moov", mvhd + trak)
    return ftyp + moov


def test_real_mp4_metadata():
    for ver in (0, 1):
        blob = _make_mp4(640, 360, 30000, 90000, version=ver)
        meta = mm.decode_media(blob)
        assert meta["kind"] == "video"
        assert (meta["width"], meta["height"]) == (640, 360)
        assert (meta["sample_rate"], meta["n_frames"]) == (30000, 90000)
    with pytest.raises(ValueError, match="no moov"):
        mm.decode_media(b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00")
    with pytest.raises(ValueError, match="bad box size"):
        mm.decode_media(b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00"
                        b"\xff\xff\xff\xffmoov")


def test_webp_metadata_walk():
    """Real WebP container walk: VP8 (lossy), VP8L (lossless), VP8X
    (extended) all yield true dimensions; pixel decode stays gated."""
    import struct as _s

    def riff(payload):
        return b"RIFF" + _s.pack("<I", 4 + len(payload)) + b"WEBP" + payload

    # VP8 lossy: 3-byte frame tag + 9d 01 2a + 14-bit w/h
    vp8 = b"\x00\x00\x00" + b"\x9d\x01\x2a" + _s.pack("<HH", 320, 240)
    blob = riff(b"VP8 " + _s.pack("<I", len(vp8)) + vp8)
    m = mm.decode_media(blob)
    assert (m["kind"], m["width"], m["height"]) == ("image", 320, 240)
    # VP8L lossless: 0x2f + packed (w-1, h-1)
    bits = (199) | (99 << 14)
    vp8l = bytes([0x2F]) + _s.pack("<I", bits)
    m = mm.decode_media(riff(b"VP8L" + _s.pack("<I", len(vp8l)) + vp8l))
    assert (m["width"], m["height"]) == (200, 100)
    # VP8X extended: flags(4) + 24-bit canvas w-1/h-1
    vp8x = b"\x00\x00\x00\x00" + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
    m = mm.decode_media(riff(b"VP8X" + _s.pack("<I", len(vp8x)) + vp8x))
    assert (m["width"], m["height"]) == (640, 480)
    # lossy-VP8 pixel decode is gated with a TYPED error, never fake
    # pixels (WebpError is a ValueError → error row in the stage)
    from pdf_parser_spark.webpcore import WebpError, encode_webp_lossless

    with pytest.raises(WebpError, match="lossy"):
        mm.resize_image(blob, 2, 2)
    # VP8L (lossless) pixels decode for REAL now (round 4): resize a
    # 4x2 two-color image and check the thumbnail PNG's exact pixels
    from pdf_parser_spark.pngcore import decode_png

    rgb = bytes([10, 20, 30] * 4 + [200, 210, 220] * 4)
    lossless = encode_webp_lossless(4, 2, rgb, 3)
    thumb = decode_png(mm.resize_image(lossless, 2, 2))
    assert (thumb["width"], thumb["height"], thumb["channels"]) == (2, 2, 4)
    assert thumb["pixels"] == bytes(
        [10, 20, 30, 255] * 2 + [200, 210, 220, 255] * 2
    )


# ----------------------------------------------------------------------
# MJPEG-in-AVI real frame decode (round 4)
# ----------------------------------------------------------------------
def test_avi_mjpeg_sample_frames_real_pixels():
    from pdf_parser_spark import jpegcore

    w, h = 16, 8
    vals = [10, 77, 200, 3, 145]
    frames = [jpegcore.encode_jpeg(w, h, bytes([v]) * (w * h), channels=1)
              for v in vals]
    blob = mm.encode_avi_mjpeg(w, h, frames, fps=25)
    meta = mm.decode_media(blob)
    assert (meta["kind"], meta["width"], meta["height"], meta["n_frames"]) == (
        "video", 16, 8, 5)
    # flat-block JPEG decode is exact → sampled first pixels are the
    # planted values, an invariant derived from the SOURCE bytes (the
    # repo's codec bug-cancellation rule)
    assert mm.sample_frames(blob, 2) == [(0, 10), (2, 200), (4, 145)]
    assert [p for _, p in mm.sample_frames(blob, 1)] == vals


def test_avi_non_mjpeg_stream_typed_gate():
    from pdf_parser_spark import jpegcore

    frames = [jpegcore.encode_jpeg(16, 8, bytes(16 * 8), channels=1)]
    blob = mm.encode_avi_mjpeg(16, 8, frames).replace(b"MJPG", b"H264", 1)
    with pytest.raises(NotImplementedError, match="H264"):
        mm.sample_frames(blob, 1)


def test_mp4_frames_typed_gate_not_fake_math():
    """Real MP4s must hit the typed codec gate — they used to fall into
    the FAKE-container payload math and report container bytes as
    pixels."""
    blob = _make_mp4(320, 180, 1000, 500)
    with pytest.raises(NotImplementedError, match="video frame decode"):
        mm.sample_frames(blob, 1)


def test_avi_frame_stats_stage_rows(spark):
    from pdf_parser_spark import jpegcore

    good = mm.encode_avi_mjpeg(
        16, 8,
        [jpegcore.encode_jpeg(16, 8, bytes([v]) * 128, channels=1)
         for v in (9, 40, 250)],
    )
    bad = mm.encode_avi_mjpeg(
        16, 8, [jpegcore.encode_jpeg(16, 8, bytes(128), channels=1)]
    ).replace(b"MJPG", b"XVID", 1)
    df = spark.createDataFrame([(1, bytearray(good)), (2, bytearray(bad))],
                               "doc_id long, media binary")
    rows = {(r["doc_id"], r["frame_idx"]): r
            for r in mm.avi_frame_stats(df, every=2).collect()}
    assert rows[(1, 0)]["first_pixel"] == 9 and rows[(1, 0)]["pixel_sum"] == 9 * 128
    assert rows[(1, 2)]["first_pixel"] == 250 and rows[(1, 2)]["error"] is None
    err = rows[(2, None)]
    assert err["first_pixel"] is None and "XVID" in err["error"]


def test_sampled_frames_animated_gif_real_pixels():
    """Animated GIFs flow through sampled_frames with REAL composed
    pixels (round 4) instead of the 'not a video' error row."""
    from pdf_parser_spark.gifcore import encode_gif_animated
    from pdf_parser_spark.multimodal import sample_frames

    pal = bytes([7, 7, 7, 100, 0, 0, 0, 100, 0, 9, 9, 9])
    frames = [bytes([1] * 4), bytes([2] * 4), bytes([1] * 4)]
    blob = encode_gif_animated(2, 2, frames, pal)
    out = sample_frames(blob, every=1)
    # first composed pixel of each frame = red, green, red channel R
    assert out == [(0, 100), (1, 0), (2, 100)]
    assert sample_frames(blob, every=2) == [(0, 100), (2, 100)]


def test_sampled_frames_gif_frame_cap_typed_error(monkeypatch):
    """A GIF past the compositing frame cap raises the typed ValueError
    (→ error row in the stage mappers), never an unbounded pure-Python
    decode; a GIF at the cap still decodes."""
    import pytest

    from pdf_parser_spark import multimodal as mm
    from pdf_parser_spark.gifcore import encode_gif_animated

    pal = bytes([7, 7, 7, 100, 0, 0, 0, 100, 0, 9, 9, 9])
    blob = encode_gif_animated(2, 2, [bytes([1] * 4)] * 6, pal)
    monkeypatch.setattr(mm, "_MAX_GIF_FRAMES", 4)
    with pytest.raises(ValueError, match="frame decode cap"):
        mm.sample_frames(blob, every=1)
    monkeypatch.setattr(mm, "_MAX_GIF_FRAMES", 6)
    assert len(mm.sample_frames(blob, every=1)) == 6


def test_gif_frame_stats_stage(spark):
    """gif_frame_stats: composed-frame sampling with typed error rows
    for non-GIF blobs (round-5 oracle-live animated-GIF op)."""
    from pdf_parser_spark import multimodal as mm
    from pdf_parser_spark.gifcore import encode_gif_animated

    pal = bytes([7, 7, 7, 100, 0, 0, 0, 100, 0, 9, 9, 9])
    anim = encode_gif_animated(2, 2, [bytes([1] * 4), bytes([2] * 4)], pal)
    df = spark.createDataFrame(
        [(1, bytearray(anim)), (2, bytearray(b"nope"))],
        "doc_id long, media binary",
    )
    rows = {(r.doc_id, r.frame_idx): r for r in mm.gif_frame_stats(df, every=1).collect()}
    assert rows[(1, 0)].first_pixel == 100 and rows[(1, 0)].pixel_sum == 400
    assert rows[(1, 1)].first_pixel == 0 and rows[(1, 1)].pixel_sum == 400
    assert rows[(2, None)].error == "not a GIF container"


def _short_mp4(mvhd_body=None, tkhd_body=None):
    """_make_mp4's layout with one box body replaced."""
    import struct as st

    def box(tag, body):
        return st.pack(">I", len(body) + 8) + tag + body

    good = _make_mp4(640, 360, 30000, 90000)
    ftyp = good[: st.unpack(">I", good[:4])[0]]
    if mvhd_body is not None:
        return ftyp + box(b"moov", box(b"mvhd", mvhd_body))
    return ftyp + box(b"moov", box(b"trak", box(b"tkhd", tkhd_body)))


@pytest.mark.parametrize(
    "bad",
    [
        None,  # a NULL media value
        _short_mp4(mvhd_body=b"\x00\x00\x00\x00" + b"\x00" * 8),  # short mvhd
        _short_mp4(mvhd_body=b"\x01"),  # version-1 mvhd cut after its version
        # a largesize header cut before its 8 bytes
        b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00" + b"\x00\x00\x00\x01moov\x00\x00\x00",
        _short_mp4(tkhd_body=b"\x00" * 4),  # a tkhd shorter than 8 bytes
    ],
    ids=["null", "short-mvhd", "mvhd-v1-cut", "cut-largesize", "short-tkhd"],
)
def test_bad_media_row_is_one_error_row_next_to_a_good_row(spark, bad):
    good = _make_mp4(640, 360, 30000, 90000)
    df = spark.createDataFrame([(1, good), (2, bad)], "doc_id long, media binary")
    got = sorted(mm.media_metadata(df).collect(), key=lambda r: r["doc_id"])
    assert [r["doc_id"] for r in got] == [1, 2]
    ok, err = got
    assert ok["error"] is None and ok["kind"] == "video"
    assert (ok["width"], ok["height"], ok["sample_rate"], ok["n_frames"]) == (640, 360, 30000, 90000)
    assert err["error"] and err["kind"] == "unknown", err
