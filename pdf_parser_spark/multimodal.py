"""Multimodal column plumbing (north-rule addition).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata; the decode / feature-extract / resize / frame-sample kernels
run as Arrow-batched functions over ``mapInPandas``.

- **PNG decodes FOR REAL** (round 2): pure-stdlib codec in
  :mod:`.pngcore` — zlib + the repo's own PNG row filters; metadata,
  nearest-neighbor resize, and re-encode all operate on actual pixels.
- **JPEG decodes FOR REAL** (round 3): baseline/extended-sequential
  AND progressive (SOF2) huffman codec in :mod:`.jpegcore` (markers,
  DQT/DHT, MCU entropy decode, successive-approximation scans, IDCT,
  chroma upsampling, YCbCr→RGB); lossless/arithmetic modes surface as
  typed error rows naming the mode.
- **GIF decodes FOR REAL** (round 3): :mod:`.gifcore` — LSB-first LZW,
  global/local palettes, interlace, frame counting.
- **WAV (stdlib), MP4/AVI/WebP metadata walks** are real;
  WebP-LOSSLESS (VP8L) pixel decode is real via webpcore; only video
  FRAME decode (except MJPEG-in-AVI) and lossy-VP8 pixels stay gated
  (``NotImplementedError`` naming the library a deployment would
  install — real codecs are genuinely absent in this container).
- the deterministic ``FAKE`` container (our synthetic corpus format)
  also decodes for real, so every downstream stage — schema,
  partitioning, Arrow batch shape, resize math, frame sampling — is
  exercised and oracle-checkable at driver scale.

FAKE container layout (little-endian):
    b"FAKE" | u8 kind (0=image,1=audio,2=video) | u16 w|sr|w
            | u16 h|ch|h | u16 1|n_sec|n_frames | payload bytes
Payload "pixel"/"sample" at index i is ``(payload[i % len]) `` — enough
structure for resize/frame-sample to have verifiable semantics.
"""

from __future__ import annotations

import struct
from contextlib import contextmanager
from typing import Iterator, List, Tuple

from pyspark.sql import DataFrame

from .extract import map_documents, typed_error

MEDIA_SCHEMA = (
    "doc_id long, kind string, width int, height int, sample_rate int,"
    " channels int, n_frames int, n_bytes int, error string"
)

_KINDS = {0: "image", 1: "audio", 2: "video"}
_MAGICS = {
    # WAVE/AVI/WEBP RIFF payloads decode (or metadata-walk) for real;
    # anything else RIFF-shaped still needs real codecs
    b"RIFF": "unrecognized RIFF container (install ffmpeg)",
}
_PNG_SIG = b"\x89PNG"
_JPEG_SIG = b"\xff\xd8\xff"


def encode_fake(kind: int, a: int, b: int, c: int, payload: bytes) -> bytes:
    return b"FAKE" + struct.pack("<BHHH", kind, a, b, c) + payload


def decode_media(blob: bytes) -> dict:
    """Header decode: PNG, JPEG, WAV, MP4 metadata and FAKE for real;
    remaining real formats → NotImplementedError (stub gate)."""
    if blob[: len(_JPEG_SIG)] == _JPEG_SIG:
        from . import jpegcore

        hdr = jpegcore.parse_jpeg_header(blob)  # cheap: SOF scan only
        return {
            "kind": "image", "width": hdr["width"], "height": hdr["height"],
            "sample_rate": 0, "channels": hdr["channels"], "n_frames": 1,
            "n_bytes": hdr["width"] * hdr["height"] * hdr["channels"],
        }
    if blob[: len(_PNG_SIG)] == _PNG_SIG:
        from . import pngcore

        img = pngcore.decode_png(blob)
        return {
            "kind": "image", "width": img["width"], "height": img["height"],
            "sample_rate": 0, "channels": img["channels"], "n_frames": 1,
            "n_bytes": len(img["pixels"]),
        }
    if blob[:4] == b"GIF8":
        from . import gifcore

        _check_gif_canvas(blob)
        img = gifcore.decode_gif(blob)  # real LZW decode (frame count too)
        return {
            "kind": "image", "width": img["width"], "height": img["height"],
            "sample_rate": 0, "channels": 3, "n_frames": img["n_frames"],
            "n_bytes": len(img["pixels"]),
        }
    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        with _wav(blob) as wf:  # REAL PCM WAV decode (stdlib wave)
            return {
                "kind": "audio", "width": 0, "height": 0,
                "sample_rate": wf.getframerate(),
                "channels": wf.getnchannels(),
                "n_frames": wf.getnframes(),
                "n_bytes": wf.getnframes() * wf.getnchannels() * wf.getsampwidth(),
            }
    if len(blob) >= 12 and blob[4:8] == b"ftyp":
        # REAL ISO-BMFF metadata walk (frame decode needs real codecs)
        return decode_mp4_metadata(blob)
    if blob[:4] == b"RIFF" and blob[8:12] == b"AVI ":
        # REAL RIFF/avih metadata walk (frame decode stays gated)
        return decode_avi_metadata(blob)
    if blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
        # REAL WebP header walk (VP8/VP8L/VP8X dims; pixel decode needs
        # a real VP8 codec and stays gated)
        return decode_webp_metadata(blob)
    for magic, what in _MAGICS.items():
        if blob[: len(magic)] == magic:
            raise NotImplementedError(f"real codec not available in sandbox: {what}")
    if blob[:4] != b"FAKE" or len(blob) < 11:
        raise ValueError("unknown media container")
    kind, a, b, c = struct.unpack("<BHHH", blob[4:11])
    payload = blob[11:]
    out = {
        "kind": _KINDS.get(kind, "unknown"),
        "width": 0, "height": 0, "sample_rate": 0, "channels": 0, "n_frames": 0,
        "n_bytes": len(payload),
    }
    if kind == 0:
        out.update(width=a, height=b, n_frames=1)
    elif kind == 1:
        out.update(sample_rate=a, channels=b, n_frames=c)
    else:
        out.update(width=a, height=b, n_frames=c)
    return out


def _px(payload: bytes, i: int) -> int:
    return payload[i % len(payload)] if payload else 0


def _decoded_image(blob: bytes):
    """Real pixels of a JPEG, PNG, GIF (first frame) or lossless-WebP
    blob as a pngcore image dict (``color_type`` included); None for
    any other container.  Lossy WebP raises the typed
    ``WebpError('lossy_gate')``."""
    if blob[: len(_JPEG_SIG)] == _JPEG_SIG:
        from . import jpegcore

        img = jpegcore.decode_jpeg(blob)
        img["color_type"] = 0 if img["channels"] == 1 else 2
        return img
    if blob[: len(_PNG_SIG)] == _PNG_SIG:
        from . import pngcore

        return pngcore.decode_png(blob)
    if blob[:4] == b"GIF8":
        from . import gifcore

        _check_gif_canvas(blob)
        img = gifcore.decode_gif(blob)
        img["color_type"] = 2
        return img
    if blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
        from . import webpcore

        return webpcore.decode_webp(blob)
    return None


def resize_image(blob: bytes, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resize: REAL pixels for JPEG, PNG, GIF and
    lossless WebP (thumb encoded as lossless PNG), fake pixels for the
    FAKE container (same math either way)."""
    img = _decoded_image(blob)
    if img is not None:
        from . import pngcore

        small = pngcore.resize_nearest(img, out_w, out_h)
        return pngcore.encode_png(
            out_w, out_h, small["pixels"], color_type=small["color_type"]
        )
    meta = decode_media(blob)
    if meta["kind"] != "image":
        raise ValueError("not an image")
    if blob[:4] != b"FAKE":
        # any remaining metadata-only image format: dims are real but
        # pixels need a codec this sandbox can't have — typed gate,
        # never fake pixels
        raise NotImplementedError("pixel decode not available for this format")
    w, h = meta["width"], meta["height"]
    payload = blob[11:]
    if not payload:
        return encode_fake(0, out_w, out_h, 1, b"\x00" * (out_w * out_h))
    # the floor/clamp index math of pngcore.resize_nearest over the
    # payload[i % len] wraparound of _px()
    import numpy as np

    sy = np.minimum(h - 1, (np.arange(out_h) * h) // out_h) if h else np.zeros(out_h, dtype=np.int64)
    sx = np.minimum(w - 1, (np.arange(out_w) * w) // out_w) if w else np.zeros(out_w, dtype=np.int64)
    idx = (sy[:, None] * w + sx[None, :]) % len(payload)
    pay = np.frombuffer(payload, dtype=np.uint8)
    return encode_fake(0, out_w, out_h, 1, pay[idx].tobytes())


@contextmanager
def _wav(blob: bytes):
    """The stdlib ``wave`` reader over ``blob``.  A cut or corrupt WAV
    raises ``ValueError('corrupt WAV: ...')``: ``wave`` itself raises
    ``wave.Error``, ``EOFError`` on a cut header and ``RuntimeError``
    from its chunk ``seek`` on a chunk size past the end."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(blob)) as wf:
            yield wf
    except (wave.Error, EOFError, RuntimeError) as e:
        raise ValueError(f"corrupt WAV: {str(e) or type(e).__name__}") from None


def wav_samples(blob: bytes) -> bytes:
    """Raw PCM frame bytes of a real WAV (for sample-level features)."""
    with _wav(blob) as wf:
        return wf.readframes(wf.getnframes())


def thumb_pixel_sum(thumb: bytes) -> int:
    """Sum of the thumbnail's raw pixel bytes (PNG or FAKE container)."""
    if thumb[: len(_PNG_SIG)] == _PNG_SIG:
        from . import pngcore

        return int(sum(pngcore.decode_png(thumb)["pixels"]))
    return int(sum(thumb[11:]))


# Executor-side safety caps for GIF decoding: beyond them a blob yields
# a typed error row, never an unbounded pure-Python decode.  A decode
# allocates the whole canvas the header claims (RGB: 3 bytes a pixel),
# so the pixel cap keeps its cost from following a 10-byte header.
_MAX_GIF_FRAMES = 4096
_MAX_GIF_PIXELS = 1 << 24


def _check_gif_canvas(blob: bytes) -> None:
    """A typed ``GifError('too_large')`` for a canvas over
    ``_MAX_GIF_PIXELS``, before any decode allocates it."""
    from . import gifcore

    hdr = gifcore.parse_gif_header(blob)
    if hdr["width"] * hdr["height"] > _MAX_GIF_PIXELS:
        raise gifcore.GifError(
            "too_large",
            f"GIF canvas {hdr['width']}x{hdr['height']} exceeds the "
            f"{_MAX_GIF_PIXELS}-pixel decode cap",
        )


def sample_frames(blob: bytes, every: int) -> List[Tuple[int, int]]:
    """(frame_index, first_pixel) for every ``every``-th video frame:
    REAL decoded pixels for animated GIF and MJPEG-in-AVI
    (:func:`_decoded_frames`), the payload math for the FAKE container.
    Every other real codec (H.264 in MP4, non-MJPEG AVI streams) raises
    the typed gate."""
    if blob[:4] != b"GIF8":
        meta = decode_media(blob)
        if meta["kind"] != "video":
            raise ValueError("not a video")
        if blob[:4] == b"FAKE":
            w, h, n = meta["width"], meta["height"], meta["n_frames"]
            payload = blob[11:]
            frame_sz = max(1, w * h)
            return [(i, _px(payload, i * frame_sz)) for i in range(0, n, every)]
        if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
            raise NotImplementedError(
                "real codec not available in sandbox: video frame decode (install ffmpeg)"
            )
    return [(i, px[0] if px else 0) for i, px in _decoded_frames(blob, every)]


def _decoded_frames(blob: bytes, every: int) -> Iterator[Tuple[int, bytes]]:
    """(frame index, pixel bytes) of every ``every``-th frame of a GIF
    or MJPEG-in-AVI blob; the caller gates the container.

    GIF frames are fully COMPOSED canvases per GIF89a disposal and
    transparency semantics.  Compositing is sequential (disposal
    state): every frame is composed, one at a time, and only the
    sampled ones are copied out.  A GIF past ``_MAX_GIF_FRAMES``
    raises a typed error instead of pinning an executor in pure
    Python.  AVI frames are the ``movi`` chunks of the first video
    stream, each decoded by :mod:`.jpegcore`; any other stream codec
    raises the typed gate."""
    if blob[:4] == b"GIF8":
        from . import gifcore

        _check_gif_canvas(blob)
        for i, (canvas, _delay) in enumerate(gifcore.compose_gif_frames(blob)):
            if i == _MAX_GIF_FRAMES:
                raise ValueError(
                    f"animated GIF exceeds the {_MAX_GIF_FRAMES}-frame decode cap"
                )
            if i % every == 0:
                yield i, bytes(canvas)
        return
    idx, handler = _avi_video_stream(blob)
    if handler not in (b"MJPG", b"mjpg"):
        raise NotImplementedError(
            "real codec not available in sandbox: AVI stream "
            f"{handler.decode('latin-1').strip()!r} (install ffmpeg)"
        )
    from . import jpegcore

    frames = _avi_frame_chunks(blob, idx)
    for i in range(0, len(frames), every):
        if frames[i][: len(_JPEG_SIG)] != _JPEG_SIG:
            raise ValueError(f"corrupt AVI: MJPEG frame {i} lacks JPEG SOI")
        yield i, jpegcore.decode_jpeg(frames[i])["pixels"]


def _avi_video_stream(blob: bytes) -> Tuple[int, bytes]:
    """(stream index, fccHandler) of the first ``vids`` stream from the
    ``hdrl`` list (streams are numbered in ``strl`` order, public AVI
    spec)."""
    idx = 0
    for ckid, s, e in _walk_riff(blob, 12, len(blob)):
        if ckid != b"LIST" or blob[s : s + 4] != b"hdrl":
            continue
        for ck2, s2, e2 in _walk_riff(blob, s + 4, e):
            if ck2 == b"LIST" and blob[s2 : s2 + 4] == b"strl":
                for ck3, s3, e3 in _walk_riff(blob, s2 + 4, e2):
                    if ck3 == b"strh":
                        if blob[s3 : s3 + 4] == b"vids":
                            return idx, blob[s3 + 4 : s3 + 8]
                        break
                idx += 1
    raise ValueError("corrupt AVI: no video stream in hdrl")


def _avi_frame_chunks(blob: bytes, stream_idx: int) -> List[bytes]:
    """Video frame chunk payloads from ``LIST movi`` (incl. nested
    ``rec `` grouping lists), in stream order."""
    want = {b"%02ddc" % stream_idx, b"%02ddb" % stream_idx}
    out: List[bytes] = []

    def scan(start: int, end: int) -> None:
        for ckid, s, e in _walk_riff(blob, start, end):
            if ckid == b"LIST" and blob[s : s + 4] == b"rec ":
                scan(s + 4, e)
            elif ckid in want:
                out.append(blob[s:e])

    for ckid, s, e in _walk_riff(blob, 12, len(blob)):
        if ckid == b"LIST" and blob[s : s + 4] == b"movi":
            scan(s + 4, e)
    return out


def _riff_chunk(ckid: bytes, body: bytes) -> bytes:
    return ckid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")


def _riff_list(listtype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", listtype + body)


def encode_avi_mjpeg(width: int, height: int, frames: List[bytes], fps: int = 25) -> bytes:
    """Minimal spec-conformant MJPEG AVI (RIFF → hdrl(avih, strl(strh
    'vids'/'MJPG', strf BITMAPINFOHEADER)) → movi(00dc...)). Fixture
    encoder for the frame-decode path — per the repo's codec rule the
    decode tests break encoder/decoder bug-cancellation with closed-form
    pixel oracles derived from the source values, not from this code."""
    usec_pf = 1_000_000 // fps
    avih = _riff_chunk(
        b"avih",
        struct.pack(
            "<14I", usec_pf, 0, 0, 0, len(frames), 0, 1, 0, width, height, 0, 0, 0, 0
        ),
    )
    strh = _riff_chunk(
        b"strh",
        b"vids" + b"MJPG"
        + struct.pack("<10I", 0, 0, 0, 1, fps, 0, len(frames), 0, 0, 0)
        + struct.pack("<4H", 0, 0, width, height),
    )
    strf = _riff_chunk(
        b"strf",
        struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
                    width * height * 3, 0, 0, 0, 0),
    )
    hdrl = _riff_list(b"hdrl", avih + _riff_list(b"strl", strh + strf))
    movi = _riff_list(b"movi", b"".join(_riff_chunk(b"00dc", f) for f in frames))
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi)


# ----------------------------------------------------------------------
# Spark stages
# ----------------------------------------------------------------------
def _media_stage(df: DataFrame, media_col: str, schema: str, rows_of, error_row: tuple) -> DataFrame:
    """One per-document stage over (doc_id, media) under the typed-row
    contract of :func:`.extract.map_documents`.  ``schema`` is
    ``doc_id long, <value columns>, error string``; ``rows_of(blob)``
    gives a document's value rows.  Any failure gives the one row
    ``error_row + (message,)`` instead: a ``ValueError`` (the typed
    codec errors included) or a ``NotImplementedError`` gate with its
    message, a NULL media value as ``no media: NULL value``, anything
    else as ``internal: Type: message``."""

    def doc_rows(doc_id, blob):
        if blob is None:
            raise ValueError("no media: NULL value")
        return [(doc_id,) + r + (None,) for r in rows_of(bytes(blob))]

    def failed(inputs, exc):
        code, message = typed_error(exc, (ValueError, NotImplementedError))
        if code == "internal":
            message = f"internal: {message}"
        # doc_id passes through as pandas gave it: NaN for a NULL id,
        # which int() would turn into a failed job
        return (inputs[0],) + error_row + (message[:200],)

    return map_documents(df, ["doc_id", media_col], schema, doc_rows, failed)


_META_KEYS = [c.split()[0] for c in MEDIA_SCHEMA.split(",")][1:-1]


def media_metadata(df: DataFrame, media_col: str = "media") -> DataFrame:
    """binary → typed metadata; decode failures are rows, not errors."""

    def rows_of(blob):
        meta = decode_media(blob)
        return [tuple(meta.get(k) for k in _META_KEYS)]

    return _media_stage(df, media_col, MEDIA_SCHEMA, rows_of,
                        ("unknown", 0, 0, 0, 0, 0, 0))


def resized_thumbnails(df: DataFrame, out_w: int, out_h: int, media_col: str = "media") -> DataFrame:
    """One output row per input row: success → (thumb, pixel_sum,
    error=NULL); undecodable / wrong-kind / gated-codec input → a typed
    error row (NULL payload, error string)."""

    def rows_of(blob):
        thumb = resize_image(blob, out_w, out_h)
        return [(thumb, thumb_pixel_sum(thumb))]

    return _media_stage(df, media_col,
                        "doc_id long, thumb binary, pixel_sum long, error string",
                        rows_of, (None, None))


def sampled_frames(df: DataFrame, every: int = 10, media_col: str = "media") -> DataFrame:
    """Frame rows per decodable video; every undecodable / wrong-kind
    input contributes exactly ONE typed error row (NULL frame_idx /
    first_pixel) so no document silently disappears from the stage."""
    return _media_stage(df, media_col,
                        "doc_id long, frame_idx int, first_pixel int, error string",
                        lambda blob: sample_frames(blob, every), (None, None))


_FRAME_STATS_SCHEMA = (
    "doc_id long, frame_idx int, first_pixel int, pixel_sum long, error string"
)


def _frame_stats(df: DataFrame, every: int, media_col: str, is_container, not_container: str) -> DataFrame:
    """(frame_idx, first_pixel, pixel_sum) of every ``every``-th decoded
    frame; a blob ``is_container`` rejects is a ``not_container`` error
    row."""

    def rows_of(blob):
        if not is_container(blob):
            raise ValueError(not_container)
        return [(i, px[0] if px else 0, int(sum(px)))
                for i, px in _decoded_frames(blob, every)]

    return _media_stage(df, media_col, _FRAME_STATS_SCHEMA, rows_of, (None, None, None))


def avi_frame_stats(df: DataFrame, every: int = 1, media_col: str = "media") -> DataFrame:
    """REAL video-frame feature extraction for MJPEG-in-AVI: every
    ``every``-th frame is entropy-decoded by :mod:`.jpegcore` and
    reduced to (first_pixel, pixel_sum) — the feature-extract shape a
    training pipeline runs per sampled frame. Non-MJPEG streams and
    corrupt containers contribute ONE typed error row each (never
    dropped, same contract as every other multimodal stage)."""
    return _frame_stats(df, every, media_col,
                        lambda blob: blob[:4] == b"RIFF" and blob[8:12] == b"AVI ",
                        "not an AVI container")


def gif_frame_stats(df: DataFrame, every: int = 1, media_col: str = "media") -> DataFrame:
    """REAL animated-GIF frame feature extraction: frames are COMPOSED
    per GIF89a disposal semantics (leave / restore-to-background /
    restore-previous carry state ACROSS frames — the part a per-frame
    decoder gets wrong), then every ``every``-th composed canvas is
    reduced to (first_pixel, pixel_sum).  Same typed-error-row contract
    and frame cap as :func:`sample_frames`."""
    return _frame_stats(df, every, media_col, lambda blob: blob[:4] == b"GIF8",
                        "not a GIF container")


# ----------------------------------------------------------------------
# MP4 metadata (real box-structure walk — ffprobe-lite; frame DECODE
# still needs real codecs and stays gated)
# ----------------------------------------------------------------------
def _walk_boxes(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        btype = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("corrupt MP4: truncated largesize header")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            hdr = 16
        elif size == 0:  # box extends to end
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("corrupt MP4: bad box size")
        yield btype, pos + hdr, pos + size
        pos += size


def _walk_riff(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        ckid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = pos + 8
        if body + size > end:
            raise ValueError("corrupt RIFF: chunk overruns file")
        yield ckid, body, body + size
        pos = body + size + (size & 1)  # chunks are word-aligned


def decode_webp_metadata(blob: bytes) -> dict:
    """REAL WebP container walk: dimensions from VP8X (extended
    canvas), VP8 (lossy key-frame header) or VP8L (lossless stream
    header) per the public WebP container spec.  Lossless (VP8L) PIXEL
    decode is real via webpcore (see :func:`resize_image`); lossy VP8
    pixels stay a typed gate."""
    for ckid, s, e in _walk_riff(blob, 12, len(blob)):
        if ckid == b"VP8X" and e - s >= 10:
            w = 1 + int.from_bytes(blob[s + 4 : s + 7], "little")
            h = 1 + int.from_bytes(blob[s + 7 : s + 10], "little")
        elif ckid == b"VP8 " and e - s >= 10:
            if blob[s + 3 : s + 6] != b"\x9d\x01\x2a":
                raise ValueError("corrupt WebP: bad VP8 start code")
            w = int.from_bytes(blob[s + 6 : s + 8], "little") & 0x3FFF
            h = int.from_bytes(blob[s + 8 : s + 10], "little") & 0x3FFF
        elif ckid == b"VP8L" and e - s >= 5:
            if blob[s] != 0x2F:
                raise ValueError("corrupt WebP: bad VP8L signature")
            bits = int.from_bytes(blob[s + 1 : s + 5], "little")
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
        else:
            continue
        return {
            "kind": "image", "width": w, "height": h, "sample_rate": 0,
            "channels": 3, "n_frames": 1, "n_bytes": len(blob),
        }
    raise ValueError("corrupt WebP: no VP8/VP8L/VP8X chunk")


def decode_avi_metadata(blob: bytes) -> dict:
    """REAL RIFF/AVI main-header walk (LIST hdrl → avih, public AVI
    spec): width/height/frame count/fps without any codec. Frame
    DECODE still needs real codecs and stays gated. sample_rate
    carries the frame rate (µs-per-frame inverted)."""
    for ckid, s, e in _walk_riff(blob, 12, len(blob)):
        if ckid == b"LIST" and blob[s : s + 4] == b"hdrl":
            for ck2, s2, e2 in _walk_riff(blob, s + 4, e):
                if ck2 == b"avih":
                    if e2 - s2 < 40:
                        raise ValueError("corrupt AVI: short avih")
                    vals = struct.unpack("<10I", blob[s2 : s2 + 40])
                    usec_pf, total_frames, w, h = vals[0], vals[4], vals[8], vals[9]
                    return {
                        "kind": "video", "width": w, "height": h,
                        "sample_rate": (1_000_000 // usec_pf) if usec_pf else 0,
                        "channels": 0, "n_frames": total_frames,
                        "n_bytes": len(blob),
                    }
    raise ValueError("corrupt AVI: no avih header")


def decode_mp4_metadata(blob: bytes) -> dict:
    """moov/mvhd (timescale, duration) + first video tkhd (width,
    height) from the ISO BMFF box tree. Returns the MEDIA_SCHEMA dict:
    sample_rate = mvhd timescale, n_frames = mvhd duration in ticks."""
    timescale = duration = width = height = 0
    found_moov = False
    for btype, s, e in _walk_boxes(blob, 0, len(blob)):
        if btype != b"moov":
            continue
        found_moov = True
        for b2, s2, e2 in _walk_boxes(blob, s, e):
            if b2 == b"mvhd":
                # version, flags, times, then timescale and duration:
                # 32-bit times and duration in version 0, 64-bit in 1
                v1 = s2 < e2 and blob[s2] == 1
                if e2 - s2 < (32 if v1 else 20):
                    raise ValueError("corrupt MP4: short mvhd")
                if v1:
                    timescale, duration = struct.unpack(">IQ", blob[s2 + 20 : s2 + 32])
                else:
                    timescale, duration = struct.unpack(">II", blob[s2 + 12 : s2 + 20])
            elif b2 == b"trak":
                for b3, s3, e3 in _walk_boxes(blob, s2, e2):
                    if b3 == b"tkhd" and not width:
                        if e3 - s3 < 8:
                            raise ValueError("corrupt MP4: short tkhd")
                        # width/height: last 8 bytes, 16.16 fixed point
                        w_fx, h_fx = struct.unpack(">II", blob[e3 - 8 : e3])
                        width, height = w_fx >> 16, h_fx >> 16
    if not found_moov:
        raise ValueError("corrupt MP4: no moov box")
    return {
        "kind": "video", "width": width, "height": height,
        "sample_rate": timescale, "channels": 0, "n_frames": duration,
        "n_bytes": len(blob),
    }
