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


def _wav(n_samples=100):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(8000)
        wf.writeframes(bytes(range(n_samples)))
    return buf.getvalue()


@pytest.mark.parametrize(
    "bad, message",
    [
        (None, "no media: NULL value"),
        (_short_mp4(mvhd_body=b"\x00\x00\x00\x00" + b"\x00" * 8), "short mvhd"),
        (_short_mp4(mvhd_body=b"\x01"), "short mvhd"),  # version-1 mvhd cut after its version
        # a largesize header cut before its 8 bytes
        (b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00" + b"\x00\x00\x00\x01moov\x00\x00\x00",
         "truncated largesize"),
        (_short_mp4(tkhd_body=b"\x00" * 4), "short tkhd"),  # a tkhd shorter than 8 bytes
        # a WAV cut after 20 bytes: the stdlib reader raises EOFError
        (_wav()[:20], "corrupt WAV"),
        # a fmt chunk size past the end: the stdlib reader's chunk seek
        # raises RuntimeError
        (_wav()[:16] + (0x9A0010).to_bytes(4, "little") + _wav()[20:], "corrupt WAV"),
    ],
    ids=["null", "short-mvhd", "mvhd-v1-cut", "cut-largesize", "short-tkhd", "cut-wav", "wav-seek"],
)
def test_bad_media_row_is_one_error_row_next_to_a_good_row(spark, bad, message):
    good = _make_mp4(640, 360, 30000, 90000)
    df = spark.createDataFrame([(1, good), (2, bad)], "doc_id long, media binary")
    got = sorted(mm.media_metadata(df).collect(), key=lambda r: r["doc_id"])
    assert [r["doc_id"] for r in got] == [1, 2]
    ok, err = got
    assert ok["error"] is None and ok["kind"] == "video"
    assert (ok["width"], ok["height"], ok["sample_rate"], ok["n_frames"]) == (640, 360, 30000, 90000)
    assert err["error"] and err["kind"] == "unknown", err
    assert message in err["error"] and "internal" not in err["error"], err


# ----------------------------------------------------------------------
# hostile GIFs: decode cost follows the bytes read, not the header
# ----------------------------------------------------------------------
_PAL4 = bytes([9, 9, 9, 200, 0, 0, 0, 200, 0, 0, 0, 200])  # bg + 3 colors


def _hostile_gifs():
    """A 41-byte one-pixel GIF whose logical screen claims 20000x20000,
    the same claiming 6000x6000, and a 9 KB GIF of 400 one-pixel frames
    (frame g paints (g, 0) with color 1 + g % 3) on a 1000x1000
    screen."""
    import struct as st

    from pdf_parser_spark.gifcore import encode_gif, encode_gif_animated

    tiny = encode_gif(1, 1, b"\x01", _PAL4)
    anim = encode_gif_animated(
        1000, 1000, [bytes([1 + g % 3]) for g in range(400)], _PAL4,
        rects=[(g, 0, 1, 1) for g in range(400)],
    )
    return {
        "screen-20000": tiny[:6] + st.pack("<HH", 20000, 20000) + tiny[10:],
        "screen-6000": tiny[:6] + st.pack("<HH", 6000, 6000) + tiny[10:],
        "frames-400": anim,
    }


def _anim_pixel_sum(i):
    """Closed form of the 400-frame GIF's composed canvas after frame i."""
    colors = [sum(_PAL4[3 * c : 3 * c + 3]) for c in range(4)]
    return colors[0] * (1000 * 1000 - (i + 1)) + sum(colors[1 + g % 3] for g in range(i + 1))


def test_hostile_gifs_are_typed_rows_or_their_rows_next_to_a_good_row(spark):
    from pdf_parser_spark.gifcore import encode_gif_animated

    good = encode_gif_animated(2, 2, [bytes([1] * 4), bytes([2] * 4)], _PAL4)
    blobs = [good] + list(_hostile_gifs().values())
    df = spark.createDataFrame(list(enumerate(blobs, 1)), "doc_id long, media binary")
    meta = {r["doc_id"]: r for r in mm.media_metadata(df).collect()}
    assert meta[1]["error"] is None and meta[1]["n_frames"] == 2
    for doc_id in (2, 3):
        assert "pixel decode cap" in meta[doc_id]["error"], meta[doc_id]
    assert meta[4]["error"] is None
    assert (meta[4]["width"], meta[4]["height"], meta[4]["n_frames"]) == (1000, 1000, 400)
    frames = {}
    for r in mm.gif_frame_stats(df, every=50).collect():
        frames.setdefault(r["doc_id"], []).append(r)
    assert [(r["frame_idx"], r["pixel_sum"]) for r in frames[1]] == [(0, 800)]
    for doc_id in (2, 3):
        [err] = frames[doc_id]
        assert err["frame_idx"] is None and "pixel decode cap" in err["error"]
    assert sorted((r["frame_idx"], r["first_pixel"], r["pixel_sum"]) for r in frames[4]) == [
        (i, 200, _anim_pixel_sum(i)) for i in range(0, 400, 50)
    ]


def test_hostile_gifs_decode_in_bounded_time_and_memory(tmp_path):
    """Each hostile GIF through every GIF path of the stages (metadata,
    frame sampling, resize) in a fresh interpreter: under 2 s and under
    200 MB of RSS growth."""
    import json
    import os
    import subprocess
    import sys

    paths = []
    for name, blob in _hostile_gifs().items():
        (tmp_path / name).write_bytes(blob)
        paths.append(str(tmp_path / name))
    probe = """
import json, resource, sys, time
from pdf_parser_spark import multimodal as mm

def rss_mb():
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

base = rss_mb()
out = {}
for path in sys.argv[1:]:
    blob = open(path, "rb").read()
    t = time.perf_counter()
    for call in (mm.decode_media, lambda b: mm.sample_frames(b, 50),
                 lambda b: mm.resize_image(b, 4, 3)):
        try:
            call(blob)
        except ValueError:
            pass
    out[path] = (time.perf_counter() - t, rss_mb() - base)
print(json.dumps(out))
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", probe, *paths], cwd=root, capture_output=True,
        text=True, timeout=300, env=dict(os.environ, PYTHONPATH=root),
    )
    assert res.returncode == 0, res.stderr
    for path, (seconds, grown_mb) in json.loads(res.stdout).items():
        assert seconds < 2 and grown_mb < 200, (path, seconds, grown_mb)


# ----------------------------------------------------------------------
# the typed-row contract of every media stage (extract.map_documents)
# ----------------------------------------------------------------------
def _avi():
    from pdf_parser_spark import jpegcore

    return mm.encode_avi_mjpeg(
        16, 8, [jpegcore.encode_jpeg(16, 8, bytes([v]) * 128, channels=1) for v in (9, 40)]
    )


def _gif():
    from pdf_parser_spark.gifcore import encode_gif_animated

    return encode_gif_animated(2, 2, [bytes([1] * 4), bytes([2] * 4)], _PAL4)


# stage → (run it, the module function its per-row function calls, a
# good blob, the value columns of its error row)
_STAGES = {
    "media_metadata": (mm.media_metadata, "decode_media",
                       lambda: mm.encode_fake(0, 4, 4, 1, b"abcd"),
                       ("unknown", 0, 0, 0, 0, 0, 0)),
    "resized_thumbnails": (lambda df: mm.resized_thumbnails(df, 2, 2), "resize_image",
                           lambda: mm.encode_fake(0, 4, 4, 1, b"abcd"), (None, None)),
    "sampled_frames": (lambda df: mm.sampled_frames(df, every=10), "sample_frames",
                       lambda: mm.encode_fake(2, 3, 2, 25, bytes(range(100))), (None, None)),
    "avi_frame_stats": (mm.avi_frame_stats, "_decoded_frames", _avi, (None, None, None)),
    "gif_frame_stats": (mm.gif_frame_stats, "_decoded_frames", _gif, (None, None, None)),
}


def _raising_on_boom(real):
    """``real``, but raising an untyped RuntimeError for a blob ending in
    ``BOOM`` (nested, so the stage's pickled closure carries it)."""

    def patched(blob, *args):
        if blob.endswith(b"BOOM"):
            raise RuntimeError("boom")
        return real(blob, *args)

    return patched


@pytest.mark.parametrize("stage", sorted(_STAGES))
def test_media_stage_null_and_untyped_failure_are_one_error_row_each(spark, monkeypatch, stage):
    run, called, make_good, error_values = _STAGES[stage]
    good = make_good()
    schema = "doc_id long, media binary"
    want = sorted(tuple(r) for r in run(spark.createDataFrame([(1, good)], schema)).collect())
    monkeypatch.setattr(mm, called, _raising_on_boom(getattr(mm, called)))
    df = spark.createDataFrame(
        [(1, good), (2, None), (3, good + b"BOOM"), (None, None)], schema
    )
    by_doc = {}
    for r in run(df).collect():
        by_doc.setdefault(r["doc_id"], []).append(tuple(r))
    assert want and sorted(by_doc[1]) == want
    [null] = by_doc[2]
    [boom] = by_doc[3]
    [null_id] = by_doc[None]  # a NULL doc_id too is a row, not a failed job
    assert null[1:] == null_id[1:] == error_values + ("no media: NULL value",)
    assert boom[1:] == error_values + ("internal: RuntimeError: boom",)
