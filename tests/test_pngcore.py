"""Pure-stdlib PNG codec: encode/decode round-trips across every row
filter, palette expansion, typed errors, and the REAL multimodal path."""

from __future__ import annotations

import struct
import zlib

import pytest

from pdf_parser_spark import multimodal as mm
from pdf_parser_spark.pngcore import (
    PngError,
    _chunk,
    decode_png,
    encode_png,
    resize_nearest,
)


def _pixels(w, h, ch):
    # deterministic gradient with per-channel offset — exercises Sub/Up/
    # Avg/Paeth meaningfully (rows and columns both vary)
    return bytes(((x * 7 + y * 13 + c * 29) % 256)
                 for y in range(h) for x in range(w) for c in range(ch))


@pytest.mark.parametrize("color_type,ch", [(0, 1), (2, 3), (4, 2), (6, 4)])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_roundtrip_all_filters_and_color_types(color_type, ch, filter_type):
    w, h = 13, 7
    px = _pixels(w, h, ch)
    blob = encode_png(w, h, px, color_type=color_type, filter_type=filter_type)
    img = decode_png(blob)
    assert (img["width"], img["height"], img["channels"]) == (w, h, ch if color_type != 3 else 3)
    assert img["pixels"] == px


def test_palette_expansion():
    # hand-built 2x2 palette image: indices 0..3 → distinct RGB entries
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    raw = bytes([0, 0, 1, 0, 2, 3])  # two rows, filter byte 0 + 2 indices
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    blob = (sig + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", plte)
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))
    img = decode_png(blob)
    assert img["channels"] == 3
    assert img["pixels"] == bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])


def test_typed_errors():
    with pytest.raises(PngError) as ei:
        decode_png(b"not a png at all")
    assert ei.value.code == "not_png"
    # unknown interlace method (Adam7 itself is supported since round 3)
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 2)
    blob = sig + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(PngError) as ei:
        decode_png(blob)
    assert ei.value.code == "interlaced"
    # 16-bit depth
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    with pytest.raises(PngError) as ei:
        decode_png(sig + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b""))
    assert ei.value.code == "bit_depth"


def test_resize_nearest_known_values():
    # 2x2 gray: [[10, 20], [30, 40]] → 4x4 nearest repeats each quadrant
    blob = encode_png(2, 2, bytes([10, 20, 30, 40]), color_type=0)
    img = decode_png(blob)
    big = resize_nearest(img, 4, 4)
    assert bytes(big["pixels"]) == bytes(
        [10, 10, 20, 20, 10, 10, 20, 20, 30, 30, 40, 40, 30, 30, 40, 40]
    )
    small = resize_nearest(img, 1, 1)
    assert bytes(small["pixels"]) == bytes([10])


def test_multimodal_decodes_real_png():
    px = _pixels(8, 4, 3)
    blob = encode_png(8, 4, px, color_type=2)
    meta = mm.decode_media(blob)
    assert meta["kind"] == "image"
    assert (meta["width"], meta["height"], meta["channels"]) == (8, 4, 3)
    thumb = mm.resize_image(blob, 4, 2)
    timg = decode_png(thumb)
    assert (timg["width"], timg["height"]) == (4, 2)
    assert mm.thumb_pixel_sum(thumb) == sum(timg["pixels"])
    # JPEG is real as of round 3: garbage after the signature is a
    # typed JpegError, not an install-me stub
    from pdf_parser_spark.jpegcore import JpegError

    with pytest.raises(JpegError):
        mm.decode_media(b"\xff\xd8\xff\xe0rest")


def test_multimodal_spark_stage_on_real_pngs(spark):
    rows = []
    for i in range(6):
        px = _pixels(4 + i, 3, 3)
        rows.append((i, encode_png(4 + i, 3, px, color_type=2)))
    rows.append((99, b"\xff\xd8\xffJPEG-ish"))  # corrupt JPEG → error row
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r for r in mm.media_metadata(df).collect()}
    for i in range(6):
        assert out[i]["kind"] == "image" and out[i]["width"] == 4 + i
        assert out[i]["error"] is None
    assert out[99]["error"] is not None and "overruns" in out[99]["error"]
    thumbs = {r["doc_id"]: r for r in mm.resized_thumbnails(df, 2, 2).collect()}
    # round-3 semantics: NO row disappears — the undecodable doc yields
    # a typed error row (null payload), the PNGs resize for real
    assert set(thumbs) == set(range(6)) | {99}
    assert thumbs[99]["thumb"] is None and thumbs[99]["error"] is not None
    for i in range(6):
        assert thumbs[i]["error"] is None
        assert thumbs[i]["pixel_sum"] == sum(decode_png(bytes(thumbs[i]["thumb"]))["pixels"])


@pytest.mark.parametrize("color_type,ch", [(0, 1), (2, 3), (6, 4)])
def test_adam7_interlaced_roundtrip(color_type, ch):
    """Round 3: Adam7 decode is real — an interlaced encode of the same
    pixels decodes byte-identically to the progressive layout."""
    for w, h in [(4, 3), (8, 8), (13, 11), (1, 1), (2, 9)]:
        px = _pixels(w, h, ch)
        blob = encode_png(w, h, px, color_type=color_type, interlace=True)
        img = decode_png(blob)
        assert (img["width"], img["height"]) == (w, h)
        assert img["pixels"] == px, f"{w}x{h} ct={color_type}"


def test_adam7_truncated_is_typed_error():
    px = _pixels(8, 8, 3)
    blob = encode_png(8, 8, px, color_type=2, interlace=True)
    # truncate the zlib stream: inflate fails OR pass data runs short
    import struct as _s, zlib as _z
    idat_at = blob.index(b"IDAT") - 4
    (ln,) = _s.unpack(">I", blob[idat_at:idat_at+4])
    body = blob[idat_at+8:idat_at+8+ln]
    short = _z.compress(_z.decompress(body)[: 40])
    rebuilt = blob[:idat_at] + _chunk(b"IDAT", short) + blob[idat_at+12+ln:]
    with pytest.raises(PngError) as ei:
        decode_png(rebuilt)
    assert ei.value.code == "truncated"


def test_short_ihdr_typed_error():
    """Round-3 review fix: IHDR with declared length != 13 is a typed
    PngError, never struct.error."""
    sig = b"\x89PNG\r\n\x1a\n"
    blob = sig + _chunk(b"IHDR", b"\x00\x00\x00\x05\x00") + _chunk(b"IEND", b"")
    with pytest.raises(PngError) as ei:
        decode_png(blob)
    assert ei.value.code == "no_ihdr"


def test_unfilter_vector_matches_scalar_reference():
    """Round-5 vectorization must be BYTE-IDENTICAL to the scalar
    reference path for every filter type, bpp, and per-row filter MIX
    (incl. mixes that trigger the wavefront kernel), above and below
    the size threshold."""
    import random

    from pdf_parser_spark.pdfcore import filters as flt

    rng = random.Random(55)
    for bpp, row_len, nrows in ((1, 17, 9), (3, 30, 11), (4, 64, 40), (2, 6, 3)):
        params = {"Predictor": 15, "Colors": bpp, "BitsPerComponent": 8,
                  "Columns": row_len // bpp}
        assert (params["Columns"] * bpp * 8 + 7) // 8 == row_len
        for trial in range(6):
            buf = bytearray()
            for r in range(nrows):
                buf.append(rng.choice([0, 1, 2, 3, 4]))
                buf += bytes(rng.randrange(256) for _ in range(row_len))
            data = bytes(buf)
            old = flt._VECTOR_MIN_BYTES
            try:
                flt._VECTOR_MIN_BYTES = 1 << 60  # force scalar
                want = flt.apply_predictor(data, params)
                flt._VECTOR_MIN_BYTES = 0  # force vector
                got = flt.apply_predictor(data, params)
            finally:
                flt._VECTOR_MIN_BYTES = old
            assert got == want, (bpp, row_len, nrows, trial)


def test_tiff_unfilter_vector_matches_scalar():
    import random

    from pdf_parser_spark.pdfcore.filters import _tiff_unfilter_vector

    rng = random.Random(56)
    for bpp, row_len, nrows, tail in ((1, 13, 7, 0), (3, 30, 5, 4), (4, 16, 9, 2)):
        data = bytes(rng.randrange(256) for _ in range(nrows * row_len + tail))
        out = bytearray(data)
        for r in range(0, len(out) - row_len + 1, row_len):
            for i in range(r + bpp, r + row_len):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        assert _tiff_unfilter_vector(data, row_len, bpp) == bytes(out)
