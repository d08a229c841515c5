"""Pure-stdlib GIF codec: LSB-first LZW, palettes, interlace, typed
errors, and the multimodal integration."""

from __future__ import annotations

import pytest

from pdf_parser_spark import multimodal as mm
from pdf_parser_spark.gifcore import (
    GifError,
    decode_gif,
    encode_gif,
    parse_gif_header,
)

PAL4 = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])  # 4 RGB entries


def _indices(w, h, n):
    return bytes(((x * 3 + y * 5) % n) for y in range(h) for x in range(w))


def test_roundtrip_plain():
    for w, h in [(4, 3), (8, 8), (13, 7), (1, 1)]:
        idx = _indices(w, h, 4)
        blob = encode_gif(w, h, idx, PAL4)
        img = decode_gif(blob)
        assert (img["width"], img["height"], img["channels"]) == (w, h, 3)
        assert img["n_frames"] == 1
        want = b"".join(PAL4[3 * i : 3 * i + 3] for i in idx)
        assert img["pixels"] == want


def test_roundtrip_interlaced():
    w, h = 10, 9
    idx = _indices(w, h, 4)
    blob = encode_gif(w, h, idx, PAL4, interlace=True)
    assert decode_gif(blob)["pixels"] == decode_gif(encode_gif(w, h, idx, PAL4))["pixels"]


def test_256_color_palette():
    pal = bytes(range(256)) * 3  # 256 entries, channel-planar-ish but valid bytes
    pal = bytes(b for i in range(256) for b in (i, 255 - i, i // 2))
    idx = bytes(range(256))[:64]
    blob = encode_gif(8, 8, idx, pal)
    img = decode_gif(blob)
    assert img["pixels"][:3] == pal[0:3]
    assert img["pixels"][3:6] == pal[3:6]


def test_header_and_typed_errors():
    blob = encode_gif(5, 4, bytes(20), PAL4)
    assert parse_gif_header(blob) == {"width": 5, "height": 4, "channels": 3}
    with pytest.raises(GifError) as ei:
        decode_gif(b"NOTGIF00")
    assert ei.value.code == "not_gif"
    with pytest.raises(GifError) as ei:
        decode_gif(blob[:20])  # cut mid-stream
    assert ei.value.code in ("truncated", "corrupt", "no_image")
    # corrupt LZW: an immediate out-of-table code (7 with an empty
    # dictionary at width 3) must be a typed error, not garbage
    from pdf_parser_spark.gifcore import _lzw_decode_gif

    with pytest.raises(GifError) as ei:
        _lzw_decode_gif(2, b"\x07", max_pixels=100)
    assert ei.value.code == "lzw"
    # bad minimum code size in-file
    sized = bytearray(blob)
    lzw_at = 6 + 7 + 12 + 10  # header + LSD + GCT(4*3) + image descriptor
    assert sized[lzw_at] == 2
    sized[lzw_at] = 1
    with pytest.raises(GifError) as ei:
        decode_gif(bytes(sized))
    assert ei.value.code == "lzw"


def test_multimodal_integration(spark):
    idx = _indices(6, 4, 4)
    blob = encode_gif(6, 4, idx, PAL4)
    meta = mm.decode_media(blob)
    assert meta["kind"] == "image"
    assert (meta["width"], meta["height"], meta["channels"]) == (6, 4, 3)
    thumb = mm.resize_image(blob, 2, 2)  # GIF in → PNG thumb out
    from pdf_parser_spark.pngcore import decode_png

    assert mm.thumb_pixel_sum(thumb) == sum(decode_png(thumb)["pixels"])
    df = spark.createDataFrame([(1, blob)], "doc_id long, media binary")
    row = mm.media_metadata(df).collect()[0]
    assert row["kind"] == "image" and row["error"] is None


# ----------------------------------------------------------------------
# animated GIF (round 4): GCE disposal/transparency compositing
# ----------------------------------------------------------------------
def _expect_compose(w, h, pal, bg_rgb, steps):
    """Test-local reference compositor (independent of gifcore): steps
    = [(rect, indices, disposal, transparent_idx)] → list of expected
    RGB canvases."""
    canvas = list(bg_rgb) * (w * h)
    out = []
    for (ix, iy, iw, ih), idxs, disp, tidx in steps:
        snap = list(canvas)
        for r in range(ih):
            for c in range(iw):
                if iy + r >= h or ix + c >= w:
                    continue
                i = idxs[r * iw + c]
                if tidx is not None and i == tidx:
                    continue
                o = ((iy + r) * w + ix + c) * 3
                canvas[o:o + 3] = pal[i * 3:i * 3 + 3]
        out.append(bytes(canvas))
        if disp == 2:
            for r in range(ih):
                for c in range(iw):
                    if iy + r >= h or ix + c >= w:
                        continue
                    o = ((iy + r) * w + ix + c) * 3
                    canvas[o:o + 3] = bg_rgb
        elif disp == 3:
            canvas = snap
    return out


def decode_gif_frames(blob):
    """Every frame compose_gif_frames composes, copied out, with its
    delay: {frames, delays, n_frames}."""
    from pdf_parser_spark.gifcore import compose_gif_frames

    frames, delays = [], []
    for canvas, delay in compose_gif_frames(blob):
        frames.append(bytes(canvas))
        delays.append(delay)
    return {"frames": frames, "delays": delays, "n_frames": len(frames)}


def test_animated_roundtrip_disposals_and_transparency():
    from pdf_parser_spark.gifcore import encode_gif_animated

    w, h = 4, 3
    pal = bytes([10, 10, 10,  200, 0, 0,  0, 200, 0,  0, 0, 200])  # 4 colors
    bg = pal[0:3]  # background index 0
    f0 = bytes([1] * (w * h))                     # full red
    f1 = bytes([2, 2, 3, 3])                      # 2x2 patch at (1,1)
    f2 = bytes([0, 3, 3, 0])                      # patch with transparent 0s
    rects = [(0, 0, w, h), (1, 1, 2, 2), (1, 0, 2, 2)]
    disposals = [1, 2, 0]
    blob = encode_gif_animated(
        w, h, [f0, f1, f2], pal, rects=rects,
        delays=[5, 10, 15], disposals=disposals, transparent_idx=0,
    )
    dec = decode_gif_frames(blob)
    assert dec["n_frames"] == 3 and dec["delays"] == [5, 10, 15]
    exp = _expect_compose(
        w, h, pal, bg,
        [(rects[i], [f0, f1, f2][i], disposals[i], 0) for i in range(3)],
    )
    assert dec["frames"] == exp
    # frame 2's disposal=2 restored the (1,1) rect to BACKGROUND before
    # frame 3 — check one restored pixel explicitly: (2,2) was color 3
    # in frame 2, background in frame 3 (f2's transparent 0 at that col)
    o = (2 * w + 2) * 3
    assert dec["frames"][1][o:o + 3] == bytes([0, 0, 200])
    assert dec["frames"][2][o:o + 3] == bg


def test_animated_restore_to_previous():
    from pdf_parser_spark.gifcore import encode_gif_animated

    w, h = 3, 1
    pal = bytes([5, 5, 5,  250, 0, 0,  0, 250, 0,  9, 9, 9])
    f0 = bytes([1, 1, 1])
    f1 = bytes([2])          # 1x1 at (1,0), disposal 3 (restore previous)
    f2 = bytes([0])          # transparent-only frame: canvas unchanged
    blob = encode_gif_animated(
        w, h, [f0, f1, f2], pal,
        rects=[(0, 0, 3, 1), (1, 0, 1, 1), (0, 0, 1, 1)],
        disposals=[1, 3, 0], transparent_idx=0,
    )
    dec = decode_gif_frames(blob)
    red = bytes([250, 0, 0])
    assert dec["frames"][0] == red * 3
    assert dec["frames"][1] == red + bytes([0, 250, 0]) + red
    # disposal 3 restored frame 1's canvas; frame 2 paints nothing
    assert dec["frames"][2] == red * 3


def test_animated_single_frame_matches_decode_gif():
    from pdf_parser_spark.gifcore import decode_gif, encode_gif

    pal = bytes(b for k in range(8) for b in (k * 9, k * 17, k * 33))
    idx = bytes([k % 8 for k in range(12)])
    blob = encode_gif(4, 3, idx, pal)
    one = decode_gif(blob)
    anim = decode_gif_frames(blob)
    assert anim["n_frames"] == 1
    assert anim["frames"][0] == one["pixels"]


def test_decode_gif_counts_later_frames_without_decoding_them():
    """decode_gif decodes only the first frame: a second frame whose LZW
    payload is corrupt is still counted, while compose_gif_frames, which
    composes every frame, raises the typed LZW error."""
    from pdf_parser_spark.gifcore import encode_gif_animated

    f0 = _indices(2, 2, 4)
    blob = bytearray(encode_gif_animated(2, 2, [f0, bytes(4)], PAL4))
    second_gce = blob.index(b"\x21\xf9\x04", 6 + 7 + 12 + 1)  # after frame 0's GCE
    lzw_at = second_gce + 8 + 10  # GCE + image descriptor
    assert blob[lzw_at] == 2 and blob[lzw_at + 1] > 0  # min code size, sub-block length
    blob[lzw_at + 2] = 0x07  # first code 7: outside the empty dictionary
    img = decode_gif(bytes(blob))
    assert img["n_frames"] == 2
    assert img["pixels"] == b"".join(PAL4[3 * i : 3 * i + 3] for i in f0)
    with pytest.raises(GifError) as ei:
        decode_gif_frames(bytes(blob))
    assert ei.value.code == "lzw"
