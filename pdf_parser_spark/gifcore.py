"""Minimal pure-stdlib GIF87a/89a codec (real decode for multimodal).

GIF is a palette container around LSB-first variable-width LZW — a
DIFFERENT LZW than the MSB-first early-change PDF flavor in
:mod:`pdfcore.filters`, so it gets its own 40-line decompressor here.

Scope (typed :class:`GifError` outside it):

- decode: 87a/89a, global/local color tables, interlaced row order,
  sub-block stitching. One block walk (``_walk``) serves both
  decoders: decode_gif decodes the first frame and only counts the
  rest; compose_gif_frames composes the frames one at a time with
  GIF89a Graphic Control semantics — transparency index, disposal 0/1
  (leave) / 2 (restore rect to background color — documented
  convention, output has no alpha) / 3 (restore to previous canvas).
  Palette expansion is C-level (``bytes.translate``), so decode cost
  follows the canvas, never a per-pixel Python loop.
- encode: single- and multi-frame GIF89a with a caller palette and
  NON-compressed LZW emission (clear code before every symbol keeps
  the table empty — legal per the spec, simple, and exercises the
  real bit unpacker).

The reference consumes images only through browser codecs; this exists
so the multimodal pipeline covers the last common crawl image format
natively (PNG/JPEG already decode for real)."""

from __future__ import annotations

import struct
from functools import partial
from typing import Dict, Iterator, List, Tuple

__all__ = ["GifError", "decode_gif", "encode_gif", "parse_gif_header"]


class GifError(ValueError):
    def __init__(self, code: str, msg: str):
        super().__init__(msg)
        self.code = code


def _sub_blocks(data: bytes, pos: int) -> Tuple[bytes, int]:
    """Concatenate data sub-blocks starting at ``pos``; returns
    (payload, position after the 0x00 terminator)."""
    out = bytearray()
    while True:
        if pos >= len(data):
            raise GifError("truncated", "sub-block chain overruns file")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        if pos + n > len(data):
            raise GifError("truncated", "sub-block overruns file")
        out += data[pos : pos + n]
        pos += n


def _lzw_decode_gif(min_code_size: int, data: bytes, max_pixels: int) -> bytes:
    """GIF LZW: LSB-first bit packing, variable code width up to 12,
    clear/EOI codes, table grows AFTER emitting (no early change)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()

    def reset():
        return {i: bytes([i]) for i in range(clear)}, min_code_size + 1, eoi + 1

    table, width, next_code = reset()
    acc = nacc = 0
    prev: bytes = b""
    for byte in data:
        acc |= byte << nacc
        nacc += 8
        while nacc >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nacc -= width
            if code == clear:
                table, width, next_code = reset()
                prev = b""
                continue
            if code == eoi:
                return bytes(out)
            if code in table:
                entry = table[code]
            elif code == next_code and prev:
                entry = prev + prev[:1]
            else:
                raise GifError("lzw", f"invalid LZW code {code}")
            out += entry
            if len(out) >= max_pixels:
                return bytes(out[:max_pixels])
            if prev:
                table[next_code] = prev + entry[:1]
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return bytes(out)


def parse_gif_header(data: bytes) -> Dict:
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise GifError("not_gif", "missing GIF signature")
    if len(data) < 13:
        raise GifError("truncated", "header shorter than logical screen descriptor")
    w, h = struct.unpack("<HH", data[6:10])
    return {"width": w, "height": h, "channels": 3}


# interlaced GIF row passes: (start, step)
_INTERLACE = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _interlace_rows(height: int) -> List[int]:
    """Image row of each stored row of an interlaced frame."""
    rows: List[int] = []
    for start, step in _INTERLACE:
        rows.extend(range(start, height, step))
    return rows


def _frame_indices(min_code: int, payload: bytes, iw: int, ih: int,
                   interlaced: bool, palette: bytes) -> bytes:
    """A frame's palette indices in image row order."""
    if not palette:
        raise GifError("no_palette", "image without global or local color table")
    idx = _lzw_decode_gif(min_code, payload, iw * ih)
    if len(idx) < iw * ih:
        raise GifError("truncated", "LZW data shorter than frame")
    if interlaced:
        ordered = bytearray(iw * ih)
        for src_row, dst_row in enumerate(_interlace_rows(ih)):
            ordered[dst_row * iw : (dst_row + 1) * iw] = idx[
                src_row * iw : (src_row + 1) * iw
            ]
        idx = bytes(ordered)
    return idx


def _walk(data: bytes):
    """→ (width, height, global palette, background index, images): the
    one walk of the block structure both decoders share.  ``images``
    yields ``(rect, palette, gce, indices)`` per image descriptor:
    ``rect`` = (x, y, w, h); ``palette`` = its local color table, else
    the global one; ``gce`` = (disposal, transparent index or None,
    delay) of the Graphic Control Extension before it, None without
    one; ``indices()`` LZW-decodes and de-interlaces the frame on
    demand, so a frame that is only counted is never decoded."""
    hdr = parse_gif_header(data)
    packed = data[10]
    pos = 13
    gct = b""
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = data[pos : pos + 3 * n]
        pos += 3 * n
    return hdr["width"], hdr["height"], gct, data[11], _images(data, pos, gct)


def _images(data: bytes, pos: int, gct: bytes):
    gce = None
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x3B:  # trailer
            return
        if b0 == 0x21:  # extension: label + sub-blocks
            if pos + 2 > len(data):
                raise GifError("truncated", "extension overruns file")
            label = data[pos + 1]
            body, pos = _sub_blocks(data, pos + 2)
            if label == 0xF9 and len(body) >= 4:  # Graphic Control
                flags = body[0]
                tidx = body[3] if flags & 1 else None
                gce = ((flags >> 2) & 7, tidx, struct.unpack("<H", body[1:3])[0])
            continue
        if b0 != 0x2C:
            raise GifError("corrupt", f"unexpected block 0x{b0:02X}")
        if pos + 10 > len(data):
            raise GifError("truncated", "image descriptor overruns file")
        ix, iy, iw, ih = struct.unpack("<HHHH", data[pos + 1 : pos + 9])
        ipacked = data[pos + 9]
        pos += 10
        lct = b""
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            lct = data[pos : pos + 3 * n]
            pos += 3 * n
        if pos >= len(data):
            raise GifError("truncated", "missing LZW minimum code size")
        min_code = data[pos]
        if not (2 <= min_code <= 11):
            raise GifError("lzw", f"bad LZW minimum code size {min_code}")
        payload, pos = _sub_blocks(data, pos + 1)
        palette = lct or gct
        yield (ix, iy, iw, ih), palette, gce, partial(
            _frame_indices, min_code, payload, iw, ih, bool(ipacked & 0x40), palette
        )
        gce = None  # a GCE applies to exactly one following image


def _rgb(indices: bytes, palette: bytes) -> bytearray:
    """RGB bytes of palette ``indices``: one C-level ``translate`` per
    channel, no per-pixel Python.  The caller range-checks the indices
    (an index past a short palette maps to 0 here)."""
    table = palette[: len(palette) // 3 * 3].ljust(768, b"\x00")
    out = bytearray(3 * len(indices))
    for c in range(3):
        out[c::3] = indices.translate(table[c::3])
    return out


def _check_range(indices: bytes, palette: bytes) -> None:
    if indices and max(indices) >= len(palette) // 3:
        raise GifError("palette_range", "palette index out of range")


def decode_gif(data: bytes) -> Dict:
    """→ {width, height, channels=3, pixels (RGB), n_frames}: the FIRST
    frame on a background-index-0 canvas, expanded through its palette;
    later frames are only counted."""
    w, h, _gct, _bg, images = _walk(data)
    pixels = None
    n_frames = 0
    for (ix, iy, iw, ih), palette, _gce, indices in images:
        n_frames += 1
        if pixels is not None:
            continue
        idx = indices()
        canvas = bytearray(w * h)
        for row in range(ih):
            if iy + row >= h:
                break
            span = idx[row * iw : (row + 1) * iw][: max(0, w - ix)]
            canvas[(iy + row) * w + ix : (iy + row) * w + ix + len(span)] = span
        _check_range(canvas, palette)
        pixels = bytes(_rgb(canvas, palette))
    if pixels is None:
        raise GifError("no_image", "no image descriptor found")
    return {"width": w, "height": h, "channels": 3, "pixels": pixels,
            "n_frames": n_frames}


def compose_gif_frames(data: bytes) -> Iterator[Tuple[bytearray, int]]:
    """Compose the frames of a (possibly animated) GIF one at a time
    with GIF89a Graphic Control semantics: transparency index, disposal
    methods 0/1 (leave), 2 (restore rect to background color) and 3
    (restore rect to the previous canvas).  Since the output has no
    alpha channel, "background" restores paint the global background
    color (GCT[bg], black when absent) — the documented convention of
    this pipeline.

    Yields ``(canvas, delay in centiseconds)`` per frame.  ``canvas`` is
    the live RGB canvas, valid until the next frame is requested: copy
    a frame to keep it.  Memory is the canvas plus, for a disposal-3
    frame, a copy of that frame's rect."""
    w, h, gct, bg_idx, images = _walk(data)
    bg_rgb = gct[3 * bg_idx : 3 * bg_idx + 3] if len(gct) >= 3 * bg_idx + 3 else b"\x00\x00\x00"
    canvas = bytearray(bg_rgb * (w * h))
    n_frames = 0
    for (ix, iy, iw, ih), palette, gce, indices in images:
        idx = indices()
        disp, tidx, delay = gce or (0, None, 0)
        # the frame's rect clipped to the canvas: (index offset, canvas
        # byte offset) per row, cw pixels each
        cw = min(iw, max(0, w - ix))
        rows = [(r * iw, ((iy + r) * w + ix) * 3) for r in range(min(ih, max(0, h - iy)))]
        clip = b"".join(idx[i : i + cw] for i, _ in rows)
        clear = b"" if tidx is None else bytes([tidx])
        _check_range(clip.replace(clear, b"") if clear else clip, palette)
        rgb = _rgb(clip, palette)
        snapshot = [canvas[o : o + 3 * cw] for _, o in rows] if disp == 3 else None
        for r, (_, o) in enumerate(rows):
            src = 3 * cw * r
            if not clear:
                canvas[o : o + 3 * cw] = rgb[src : src + 3 * cw]
                continue
            x = 0  # transparent: previous canvas shows through
            for run in clip[cw * r : cw * (r + 1)].split(clear):
                n = 3 * len(run)
                canvas[o + 3 * x : o + 3 * x + n] = rgb[src + 3 * x : src + 3 * x + n]
                x += len(run) + 1
        n_frames += 1
        yield canvas, delay
        if disp == 2:  # restore rect to background color
            for _, o in rows:
                canvas[o : o + 3 * cw] = bg_rgb * cw
        elif disp == 3:  # restore rect to the previous canvas
            for (_, o), old in zip(rows, snapshot):
                canvas[o : o + 3 * cw] = old
    if not n_frames:
        raise GifError("no_image", "no image descriptor found")


# ----------------------------------------------------------------------
# encoders (fixture synthesis)
# ----------------------------------------------------------------------
def _color_table(palette: bytes) -> Tuple[int, bytes]:
    """→ (LZW minimum code size, palette zero-padded to 2^size entries)."""
    n_colors = len(palette) // 3
    if n_colors < 2 or n_colors > 256 or (n_colors & (n_colors - 1)):
        raise GifError("encode_palette", "palette size must be a power of two in 2..256")
    depth = max(2, n_colors.bit_length() - 1)  # min LZW code size >= 2
    return depth, palette + b"\x00" * (3 * ((1 << depth) - n_colors))


def _image_data(indices: bytes, depth: int) -> bytes:
    """LZW minimum code size + the data sub-blocks of a clear-before-
    every-pixel payload: a clear code before each symbol keeps the
    dictionary empty — valid output that fully exercises the decoder's
    bit unpacker and reset path."""
    clear = 1 << depth
    eoi = clear + 1
    width_bits = depth + 1
    acc = nacc = 0
    payload = bytearray()
    for i in list(indices) + [None]:
        for code in ((clear, i) if i is not None else (eoi,)):
            acc |= code << nacc
            nacc += width_bits
            while nacc >= 8:
                payload.append(acc & 0xFF)
                acc >>= 8
                nacc -= 8
    if nacc:
        payload.append(acc & 0xFF)
    out = bytearray([depth])
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    return bytes(out + b"\x00")


def encode_gif(width: int, height: int, indices: bytes, palette: bytes,
               interlace: bool = False) -> bytes:
    """Single-frame GIF89a from palette ``indices`` (one byte each) and
    an RGB ``palette`` (len = 3·2^n)."""
    if len(indices) != width * height:
        raise GifError("encode_size", "index buffer does not match dimensions")
    depth, table = _color_table(palette)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (depth - 1), 0, 0)
    out += table
    ipacked = 0x40 if interlace else 0
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + bytes([ipacked])
    src = indices
    if interlace:
        src = b"".join(indices[r * width : (r + 1) * width] for r in _interlace_rows(height))
    out += _image_data(src, depth) + b"\x3b"
    return bytes(out)


def encode_gif_animated(
    width: int,
    height: int,
    frames,
    palette: bytes,
    rects=None,
    delays=None,
    disposals=None,
    transparent_idx: int = None,
    background: int = 0,
) -> bytes:
    """Multi-frame GIF89a for fixture synthesis: per-frame Graphic
    Control Extensions (disposal method, delay, optional transparency)
    and per-frame rects (defaults to the full canvas)."""
    depth, table = _color_table(palette)
    rects = rects or [(0, 0, width, height)] * len(frames)
    delays = delays or [4] * len(frames)
    disposals = disposals or [0] * len(frames)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (depth - 1), background, 0)
    out += table
    for idxs, (ix, iy, iw, ih), delay, disp in zip(frames, rects, delays, disposals):
        if len(idxs) != iw * ih:
            raise GifError("encode_size", "frame buffer does not match its rect")
        flags = (disp & 7) << 2
        tidx = 0
        if transparent_idx is not None:
            flags |= 1
            tidx = transparent_idx
        out += b"\x21\xf9\x04" + bytes([flags]) + struct.pack("<H", delay) + bytes([tidx, 0])
        out += b"\x2c" + struct.pack("<HHHH", ix, iy, iw, ih) + b"\x00"
        out += _image_data(idxs, depth)
    out += b"\x3b"
    return bytes(out)
