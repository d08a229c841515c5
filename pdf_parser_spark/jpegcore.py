"""Minimal pure-stdlib+numpy baseline JPEG codec (real decode).

Baseline JFIF (ITU-T T.81 sequential DCT, huffman coding) is the one
image format the round-2 multimodal path still gated; the reference
gets DCTDecode from its vendored pdf.js worker
(`public/assets/pdf.worker.min.js`) and browser codecs, so a real 100 TB
crawl corpus — which is JPEG-heavy — needs a native decoder here.

Scope (typed :class:`JpegError` outside it):

- **decode**: baseline + extended-sequential huffman (SOF0/SOF1),
  8-bit, grayscale and 3-component YCbCr, any h/v sampling factors in
  1..4 (4:4:4, 4:2:2, 4:2:0, ...) with nearest-neighbor chroma
  upsampling, restart markers (DRI/RSTn), arbitrary in-file DQT/DHT
  tables (canonical reconstruction per T.81 Annex C). Progressive
  (SOF2) per Annex G and LOSSLESS (SOF3) per Annex H (predictors 1-7,
  point transform, restarts, mod-2^16 differences incl. the
  category-16 special; round 4). Arithmetic (SOF9+), hierarchical and
  12-bit frames raise typed errors naming the feature.
- **encode**: valid baseline files (grayscale / 4:4:4 / 4:2:0, optional
  restart interval, caller-supplied quantization tables) used to
  synthesize test corpora, plus progressive (encode_jpeg_progressive)
  and true-lossless SOF3 (encode_jpeg_lossless) twins. The emitted
  huffman tables are simple uniform-length canonical tables — legal
  per T.81 (tables travel in the file's own DHT segments), just not
  Annex-K-optimal.

Entropy (de)coding is sequential Python over the bitstream; dequant +
IDCT run vectorized over ALL blocks at once via a numpy tensor
contraction, and plane assembly / color convert are numpy array ops —
the per-Arrow-batch cost model matches :mod:`.pngcore`.

Exactness property used by the ``jpeg_roundtrip`` oracle: with an
all-ones quantization table, a block that is CONSTANT has one integer
DCT coefficient (DC = 8·(v−128), exactly representable) and zero ACs,
so encode→decode reproduces the block byte-identically — the DuckDB
oracle can therefore derive decoded pixel sums straight from the
source bytes without ever touching JPEG.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Optional, Tuple

import numpy as np

__all__ = [
    "JpegError", "decode_jpeg", "encode_jpeg", "encode_jpeg_lossless",
    "parse_jpeg_header",
]


class JpegError(ValueError):
    def __init__(self, code: str, msg: str):
        super().__init__(msg)
        self.code = code


# ----------------------------------------------------------------------
# shared constant tables
# ----------------------------------------------------------------------
def _make_zigzag() -> List[int]:
    """Zigzag index → raster index, generated by the T.81 diagonal walk
    (independently cross-checked against the literal table in tests)."""
    order, x, y = [], 0, 0
    for _ in range(64):
        order.append(y * 8 + x)
        if (x + y) % 2 == 0:  # heading up-right
            if x == 7:
                y += 1
            elif y == 0:
                x += 1
            else:
                x, y = x + 1, y - 1
        else:  # heading down-left
            if y == 7:
                x += 1
            elif x == 0:
                y += 1
            else:
                x, y = x - 1, y + 1
    return order


ZIGZAG = _make_zigzag()

# orthonormal DCT-II basis: block_dct = C @ block @ C.T
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = (np.sqrt(0.125) if _u == 0 else 0.5) * np.cos(
            (2 * _x + 1) * _u * np.pi / 16
        )


def _dct2(blocks: np.ndarray) -> np.ndarray:
    """(n,8,8) spatial −128-shifted blocks → (n,8,8) coefficients."""
    return np.einsum("ux,nxy,vy->nuv", _C, blocks, _C, optimize=True)


def _idct2(coefs: np.ndarray) -> np.ndarray:
    return np.einsum("xu,nuv,yv->nxy", _C.T, coefs, _C.T, optimize=True)


# ----------------------------------------------------------------------
# huffman tables (canonical, T.81 Annex C generation)
# ----------------------------------------------------------------------
def _build_decode_table(bits: List[int], huffval: List[int]) -> Dict[Tuple[int, int], int]:
    """{(code_length, code): symbol} from the DHT (BITS, HUFFVAL) lists."""
    table: Dict[Tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(huffval):
                raise JpegError("dht", "DHT: more codes than symbols")
            table[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _build_encode_table(bits: List[int], huffval: List[int]) -> Dict[int, Tuple[int, int]]:
    return {sym: (ln, code) for (ln, code), sym in _build_decode_table(bits, huffval).items()}


def _uniform_table(symbols: List[int]) -> Tuple[List[int], List[int]]:
    """Smallest uniform code length fitting all symbols with the
    all-ones codeword left unused (T.81 C.2 requirement)."""
    n = len(symbols)
    length = 1
    while (1 << length) - 1 < n:  # reserve the all-ones code
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    return bits, list(symbols)


_DC_SYMBOLS = list(range(12))
_AC_LUMA_SYMBOLS: List[int] = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]


# ----------------------------------------------------------------------
# bit I/O
# ----------------------------------------------------------------------
class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing;
    surfaces RSTn markers to the scan loop."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0
        self.marker: Optional[int] = None  # pending RST/other marker

    def _fill(self) -> bool:
        if self.pos >= len(self.data):
            return False
        byte = self.data[self.pos]
        if byte == 0xFF:
            # T.81 B.1.1.2: runs of 0xFF are fill bytes before a marker
            while (self.pos + 1 < len(self.data)
                   and self.data[self.pos + 1] == 0xFF):
                self.pos += 1
            if self.pos + 1 >= len(self.data):
                return False
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7 or nxt == 0xD9:  # RSTn / EOI
                self.marker = nxt
                return False
            else:
                raise JpegError("marker_in_scan", f"unexpected marker 0xFF{nxt:02X} in scan")
        else:
            self.pos += 1
        self.buf = (self.buf << 8) | byte
        self.nbits += 8
        return True

    def read_bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            raise JpegError("truncated", "entropy data ended mid-symbol")
        self.nbits -= 1
        return (self.buf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: Dict[Tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise JpegError("huffman", "invalid huffman code in scan")

    def sync_restart(self, n: int) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.buf = 0
        self.nbits = 0
        if self.marker is None:
            # marker not yet hit while buffered — scan forward for it
            # (skipping stuffed FF00 and T.81 B.1.1.2 fill-byte FF runs)
            while self.pos + 1 < len(self.data):
                if (self.data[self.pos] == 0xFF
                        and self.data[self.pos + 1] not in (0x00, 0xFF)):
                    self.marker = self.data[self.pos + 1]
                    break
                self.pos += 1
        if self.marker != 0xD0 + (n & 7):
            raise JpegError("restart", f"expected RST{n & 7}, found {self.marker}")
        self.pos += 2
        self.marker = None


def _receive_extend(s: int, bits: int) -> int:
    """T.81 EXTEND: magnitude-category bits → signed value."""
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


# ----------------------------------------------------------------------
# decoder
# ----------------------------------------------------------------------
_SOF_UNSUPPORTED = {
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCD: "differential arithmetic (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def _parse_segments(data: bytes, stop_at_sos: bool):
    """Yield (marker, body_start, body_end) for each tabled segment."""
    if data[:2] != b"\xff\xd8":
        raise JpegError("not_jpeg", "missing SOI marker")
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise JpegError("corrupt", f"expected marker at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            return
        if 0xD0 <= marker <= 0xD8 or marker == 0x01:  # standalone
            pos += 2
            continue
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if length < 2 or pos + 2 + length > len(data):
            raise JpegError("truncated", "segment overruns file")
        yield marker, pos + 4, pos + 2 + length
        if marker == 0xDA and stop_at_sos:
            return
        pos += 2 + length
    raise JpegError("truncated", "no EOI/SOS before end of data")


def _typed(fn):
    """Malformed segment bodies surface as struct.error/IndexError from
    fixed-layout unpacks; the decoder's contract is typed JpegError
    ONLY (the multimodal mappers catch (ValueError, NotImplementedError)
    — anything else would kill the Spark task on one corrupt blob)."""
    import functools

    @functools.wraps(fn)
    def wrapper(data: bytes):
        try:
            return fn(data)
        except (struct.error, IndexError) as e:
            raise JpegError("corrupt", f"malformed segment: {e}") from None

    return wrapper


@_typed
def parse_jpeg_header(data: bytes) -> Dict:
    """Cheap metadata (no entropy decode): width, height, channels."""
    for marker, s, e in _parse_segments(data, stop_at_sos=True):
        if marker in _SOF_UNSUPPORTED:
            raise JpegError("unsupported_sof", f"unsupported JPEG mode: {_SOF_UNSUPPORTED[marker]}")
        if marker in (0xC0, 0xC1, 0xC2, 0xC3):
            precision, h, w, nc = struct.unpack(">BHHB", data[s : s + 6])
            if precision != 8:
                raise JpegError("precision", f"{precision}-bit samples not supported (8 only)")
            return {"width": w, "height": h, "channels": nc}
    raise JpegError("no_sof", "no SOF frame header found")


@_typed
def decode_jpeg(data: bytes) -> Dict:
    """→ {width, height, channels, pixels}: gray (1ch) or RGB (3ch)
    interleaved bytes, same layout as :func:`pngcore.decode_png`.

    Handles baseline/extended-sequential (SOF0/1) AND progressive
    (SOF2) huffman frames: spectral-selection + successive-approximation
    scans accumulate into per-component coefficient grids (DC
    first/refine, AC first with EOB runs, AC refinement with
    correction bits per T.81 G.1.2), then one vectorized dequant+IDCT
    pass reconstructs the image — identical back-end to the sequential
    path, so a progressive encode of the same quantized coefficients
    decodes pixel-identically to its baseline twin (asserted in tests).
    """
    if data[:2] != b"\xff\xd8":
        raise JpegError("not_jpeg", "missing SOI marker")
    qtables: Dict[int, np.ndarray] = {}
    dc_tables: Dict[int, Dict] = {}
    ac_tables: Dict[int, Dict] = {}
    frame = None
    progressive = False
    lossless = False
    restart_interval = 0
    comps: List[Dict] = []
    hmax = vmax = mcux = mcuy = 0
    saw_scan = False

    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise JpegError("corrupt", f"expected marker at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD8 or marker == 0x01:  # standalone
            pos += 2
            continue
        if pos + 4 > len(data):
            raise JpegError("truncated", "marker segment header overruns file")
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if length < 2 or pos + 2 + length > len(data):
            raise JpegError("truncated", "segment overruns file")
        body = data[pos + 4 : pos + 2 + length]
        seg_end = pos + 2 + length

        if marker in _SOF_UNSUPPORTED:
            raise JpegError("unsupported_sof", f"unsupported JPEG mode: {_SOF_UNSUPPORTED[marker]}")
        if marker in (0xC0, 0xC1, 0xC2, 0xC3):
            progressive = marker == 0xC2
            lossless = marker == 0xC3
            precision, h, w, nc = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise JpegError("precision", f"{precision}-bit samples not supported (8 only)")
            if nc not in (1, 3):
                raise JpegError("components", f"{nc}-component frames not supported (1 or 3)")
            frame = (w, h)
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack(">BBB", body[6 + 3 * i : 9 + 3 * i])
                hs, vs = hv >> 4, hv & 0xF
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    raise JpegError("sampling", f"sampling factors {hs}x{vs} out of range")
                comps.append({"cid": cid, "hs": hs, "vs": vs, "tq": tq})
            hmax = max(c["hs"] for c in comps)
            vmax = max(c["vs"] for c in comps)
            if lossless:
                # T.81 Annex H: predictor chain over full-resolution
                # samples; subsampled lossless components are a typed
                # gate (essentially unused in the wild)
                if hmax != 1 or vmax != 1:
                    raise JpegError(
                        "sampling", "subsampled lossless components not supported"
                    )
                for c in comps:
                    c["samples"] = np.zeros((h, w), dtype=np.int64)
                pos = seg_end
                continue
            for c in comps:
                if hmax % c["hs"] or vmax % c["vs"]:
                    # np.repeat upsampling is integer-ratio only; 3:2
                    # style ratios are a typed gate, not garbage pixels
                    raise JpegError(
                        "sampling",
                        f"non-integer subsampling ratio {c['hs']}x{c['vs']} vs {hmax}x{vmax}",
                    )
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for c in comps:
                c["cols"] = mcux * c["hs"]
                c["rows"] = mcuy * c["vs"]
                # non-interleaved scans cover only the component raster
                c["cwb"] = -(-(-(-w * c["hs"] // hmax)) // 8)
                c["chb"] = -(-(-(-h * c["vs"] // vmax)) // 8)
                c["coef"] = np.zeros((c["rows"] * c["cols"], 64), dtype=np.int64)
        elif marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                p += 1
                if pq == 0:
                    vals = np.frombuffer(body[p : p + 64], dtype=np.uint8).astype(np.float64)
                    p += 64
                else:
                    vals = np.frombuffer(body[p : p + 128], dtype=">u2").astype(np.float64)
                    p += 128
                raster = np.empty(64)
                raster[ZIGZAG] = vals  # DQT travels in zigzag order
                qtables[tq] = raster.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(body):
                tc, th = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                huffval = list(body[p + 17 : p + 17 + n])
                table = _build_decode_table(bits, huffval)
                (dc_tables if tc == 0 else ac_tables)[th] = table
                p += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegError("no_sof", "SOS before SOF")
            reader = _BitReader(data, seg_end)
            if lossless:
                _decode_scan_lossless(
                    body, comps, dc_tables, reader, restart_interval,
                )
            else:
                _decode_scan(
                    body, comps, dc_tables, ac_tables, reader,
                    progressive, restart_interval,
                )
            saw_scan = True
            # resync: advance to the next unstuffed marker
            p = reader.pos
            while p + 1 < len(data) and not (
                data[p] == 0xFF and data[p + 1] != 0x00
            ):
                p += 1
            pos = p
            continue
        pos = seg_end

    if frame is None:
        raise JpegError("no_sof", "no SOF frame header found")
    if not saw_scan:
        raise JpegError("no_sos", "no SOS scan header found")
    w, h = frame

    if lossless:
        # Components come back verbatim (T.81 defines no colorspace
        # for lossless; like DNG/DICOM practice, 3 components are RGB
        # as stored — a YCbCr pass would defeat losslessness).
        planes = [(c["samples"] & 0xFF).astype(np.uint8) for c in comps]
        if len(planes) == 1:
            return {"width": w, "height": h, "channels": 1,
                    "pixels": planes[0].tobytes()}
        rgb = np.stack(planes, axis=-1).astype(np.uint8)
        return {"width": w, "height": h, "channels": 3, "pixels": rgb.tobytes()}

    planes = []
    for c in comps:
        if c["tq"] not in qtables:
            raise JpegError("dqt", f"missing quantization table {c['tq']}")
        raster = np.zeros_like(c["coef"], dtype=np.float64)
        raster[:, ZIGZAG] = c["coef"]
        deq = raster.reshape(-1, 8, 8) * qtables[c["tq"]]
        spatial = _idct2(deq) + 128.0
        spatial = np.clip(np.round(spatial), 0, 255).astype(np.uint8)
        # raster-major block grid → plane
        grid = spatial.reshape(c["rows"], c["cols"], 8, 8)
        plane = grid.transpose(0, 2, 1, 3).reshape(c["rows"] * 8, c["cols"] * 8)
        plane = np.repeat(
            np.repeat(plane, vmax // c["vs"], axis=0), hmax // c["hs"], axis=1
        )
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return {"width": w, "height": h, "channels": 1, "pixels": planes[0].tobytes()}
    y, cb, cr = (p.astype(np.float64) for p in planes)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    rgb = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return {"width": w, "height": h, "channels": 3, "pixels": rgb.tobytes()}


def _decode_scan(body, comps, dc_tables, ac_tables, reader, progressive,
                 restart_interval):
    ns = body[0] if body else 0
    # length guard BEFORE the component loop: a truncated SOS must raise
    # the typed error, not a bare IndexError escaping the stage mappers
    if ns < 1 or len(body) < 4 + 2 * ns:
        raise JpegError("scan_header", "SOS header shorter than declared Ns")
    scan_comps = []  # (comp_state, dc_tbl_id, ac_tbl_id)
    by_id = {c["cid"]: c for c in comps}
    for i in range(ns):
        cs, tables = body[1 + 2 * i], body[2 + 2 * i]
        if cs not in by_id:
            raise JpegError("scan_comp", f"scan selects unknown component {cs}")
        scan_comps.append((by_id[cs], tables >> 4, tables & 0xF))
    ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0xF

    if not progressive:
        if ns != len(comps) and ns != 1:
            raise JpegError("multi_scan", "non-interleaved multi-scan baseline not supported")
        # T.81 A.2.2: a single-component scan is NON-interleaved (one
        # data unit per MCU over the component raster), regardless of
        # the declared sampling factors — a 2x2-sampled grayscale frame
        # must NOT be decoded on the padded interleaved grid
        _decode_scan_baseline(scan_comps, dc_tables, ac_tables, reader,
                              restart_interval, interleaved=ns > 1)
        return

    if ss == 0:  # DC scan (first or refinement), may be interleaved
        if se != 0:
            raise JpegError("scan_header", "DC scan with Se != 0")
        _decode_scan_dc(scan_comps, dc_tables, reader, restart_interval,
                        ah, al, interleaved=ns > 1)
    else:  # AC scan: always single-component
        if ns != 1:
            raise JpegError("scan_header", "interleaved AC progressive scan")
        if not (1 <= ss <= se <= 63):
            raise JpegError("scan_header", f"bad spectral range {ss}..{se}")
        _decode_scan_ac(scan_comps[0], ac_tables, reader, restart_interval,
                        ss, se, ah, al)


def _iter_mcu_blocks(scan_comps, interleaved):
    """Yield lists of (comp, block_idx) per restart-counted unit."""
    if interleaved:
        c0 = scan_comps[0][0]
        mcux = c0["cols"] // c0["hs"]
        mcuy = c0["rows"] // c0["vs"]
        for my in range(mcuy):
            for mx in range(mcux):
                unit = []
                for ci, (c, _td, _ta) in enumerate(scan_comps):
                    for b in range(c["hs"] * c["vs"]):
                        row = my * c["vs"] + b // c["hs"]
                        col = mx * c["hs"] + b % c["hs"]
                        unit.append((ci, c, row * c["cols"] + col))
                yield unit
    else:
        c, _td, _ta = scan_comps[0]
        for r in range(c["chb"]):
            for cc in range(c["cwb"]):
                yield [(0, c, r * c["cols"] + cc)]


def _restart(reader, n_rst):
    reader.sync_restart(n_rst)
    return (n_rst + 1) & 7


def _predict_lossless(samples, x, y, sel, default):
    """T.81 H.1.2.1 sample prediction.  First line: Ra (left); first
    column of later lines: Rb (above); elsewhere the scan's selector.
    ``default`` (2^(P-Pt-1)) is handled by the caller for the first
    sample of the scan / of a restart interval."""
    if y == 0:
        return int(samples[0, x - 1])
    if x == 0:
        return int(samples[y - 1, 0])
    ra = int(samples[y, x - 1])
    rb = int(samples[y - 1, x])
    rc = int(samples[y - 1, x - 1])
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    if sel == 7:
        return (ra + rb) >> 1
    raise JpegError("scan_header", f"bad lossless predictor {sel}")


def _decode_scan_lossless(body, comps, dc_tables, reader, restart_interval):
    """T.81 Annex H lossless scan: huffman-coded prediction differences
    (DC-style SSSS categories, with the category-16 no-extra-bits
    special) accumulated mod 2^16.  Ss carries the predictor selector,
    Al the point transform.  Components are full-resolution (decode_jpeg
    gates subsampling), MCU = one sample per scan component."""
    ns = body[0] if body else 0
    # length guard BEFORE the component loop (same rationale as
    # _decode_scan): truncated SOS → typed JpegError, not IndexError
    if ns < 1 or len(body) < 4 + 2 * ns:
        raise JpegError("scan_header", "SOS header shorter than declared Ns")
    by_id = {c["cid"]: c for c in comps}
    scan_comps = []
    for i in range(ns):
        cs, tables = body[1 + 2 * i], body[2 + 2 * i]
        if cs not in by_id:
            raise JpegError("scan_comp", f"scan selects unknown component {cs}")
        td = tables >> 4
        if td not in dc_tables:
            raise JpegError("dht", f"missing huffman table dc={td}")
        scan_comps.append((by_id[cs], dc_tables[td]))
    sel, _se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
    pt = ahal & 0xF
    if not 1 <= sel <= 7:
        raise JpegError("scan_header", f"bad lossless predictor {sel}")
    if pt >= 8:  # Pt must be < sample precision (P=8 enforced at SOF)
        raise JpegError("scan_header", f"point transform {pt} out of range")
    default = 1 << (8 - pt - 1)  # 2^(P-Pt-1)
    h, w = scan_comps[0][0]["samples"].shape
    # T.81 H.1.2.1 restart semantics (Cornell/libjpeg-lossless
    # convention): a restart marker resets prediction as at the start of
    # a scan — the first sample of the interval is predicted with
    # 2^(P-Pt-1) and the REST of the interval's first line uses the 1-D
    # predictor Ra, not the scan's selected predictor.
    rst_y, rst_x = 0, 0  # where the current restart interval begins
    n_rst = 0
    for y in range(h):
        for x in range(w):
            if (restart_interval and (y * w + x)
                    and (y * w + x) % restart_interval == 0):
                n_rst = _restart(reader, n_rst)
                rst_y, rst_x = y, x
            for c, table in scan_comps:
                s = reader.decode_symbol(table)
                if s == 16:  # T.81 H.2: category 16 → diff 32768, no bits
                    diff = 32768
                elif s > 16:
                    raise JpegError("huffman", f"bad lossless category {s}")
                else:
                    diff = _receive_extend(s, reader.read_bits(s) if s else 0)
                if y == rst_y and x == rst_x:
                    pred = default
                elif y == rst_y:  # first line of the interval → Ra
                    pred = int(c["samples"][y, x - 1])
                else:
                    pred = _predict_lossless(c["samples"], x, y, sel, default)
                # prediction runs in the point-transformed domain; the
                # << Pt output shift happens once after the scan
                c["samples"][y, x] = (pred + diff) & 0xFFFF
    if pt:
        for c, _table in scan_comps:
            c["samples"] <<= pt


def _decode_scan_baseline(scan_comps, dc_tables, ac_tables, reader,
                          restart_interval, interleaved=True):
    tbls = []
    for c, td, ta in scan_comps:
        if td not in dc_tables or ta not in ac_tables:
            raise JpegError("dht", f"missing huffman table dc={td}/ac={ta}")
        tbls.append((dc_tables[td], ac_tables[ta]))
    preds = [0] * len(scan_comps)
    n_rst = 0
    for mcu, unit in enumerate(_iter_mcu_blocks(scan_comps, interleaved)):
        if restart_interval and mcu and mcu % restart_interval == 0:
            n_rst = _restart(reader, n_rst)
            preds = [0] * len(scan_comps)
        for ci, c, idx in unit:
            dc_tbl, ac_tbl = tbls[ci]
            coef = c["coef"][idx]
            s_cat = reader.decode_symbol(dc_tbl)
            preds[ci] += _receive_extend(s_cat, reader.read_bits(s_cat))
            coef[0] = preds[ci]
            k = 1
            while k < 64:
                rs = reader.decode_symbol(ac_tbl)
                r, s_ac = rs >> 4, rs & 0xF
                if s_ac == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += r
                if k > 63:
                    raise JpegError("ac_overrun", "AC run past end of block")
                coef[k] = _receive_extend(s_ac, reader.read_bits(s_ac))
                k += 1


def _decode_scan_dc(scan_comps, dc_tables, reader, restart_interval, ah, al,
                    interleaved):
    first = ah == 0
    tbls = []
    for c, td, _ta in scan_comps:
        if first and td not in dc_tables:
            raise JpegError("dht", f"missing DC huffman table {td}")
        tbls.append(dc_tables.get(td))
    preds = [0] * len(scan_comps)
    n_rst = 0
    for mcu, unit in enumerate(_iter_mcu_blocks(scan_comps, interleaved)):
        if restart_interval and mcu and mcu % restart_interval == 0:
            n_rst = _restart(reader, n_rst)
            preds = [0] * len(scan_comps)
        for ci, c, idx in unit:
            if first:
                s_cat = reader.decode_symbol(tbls[ci])
                preds[ci] += _receive_extend(s_cat, reader.read_bits(s_cat))
                c["coef"][idx, 0] = preds[ci] << al
            else:  # refinement: one bit per block
                if reader.read_bit():
                    c["coef"][idx, 0] |= 1 << al


def _decode_scan_ac(scan_comp, ac_tables, reader, restart_interval, ss, se,
                    ah, al):
    c, _td, ta = scan_comp
    if ta not in ac_tables:
        raise JpegError("dht", f"missing AC huffman table {ta}")
    ac_tbl = ac_tables[ta]
    coefs = c["coef"]
    eobrun = 0
    n_rst = 0
    first = ah == 0
    p1 = 1 << al
    m1 = -(1 << al)
    for mcu, unit in enumerate(_iter_mcu_blocks([scan_comp], interleaved=False)):
        if restart_interval and mcu and mcu % restart_interval == 0:
            n_rst = _restart(reader, n_rst)
            eobrun = 0
        _ci, _c, idx = unit[0]
        block = coefs[idx]
        if first:  # T.81 G.1.2.2: first AC scan with EOB runs
            if eobrun:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = reader.decode_symbol(ac_tbl)
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r < 15:
                        eobrun = (1 << r) - 1 + reader.read_bits(r)
                        break
                    k += 16  # ZRL
                    continue
                k += r
                if k > se:
                    raise JpegError("ac_overrun", "AC run past spectral band")
                block[k] = _receive_extend(s, reader.read_bits(s)) << al
                k += 1
        else:  # T.81 G.1.2.3: refinement with correction bits
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = reader.decode_symbol(ac_tbl)
                    r, s = rs >> 4, rs & 0xF
                    val = 0
                    if s == 0:
                        if r < 15:
                            eobrun = (1 << r) + (reader.read_bits(r) if r else 0)
                            break
                        # r == 15: pass over 16 zero-history coefficients
                    else:
                        if s != 1:
                            raise JpegError("ac_refine", "refinement size != 1")
                        val = p1 if reader.read_bit() else m1
                    while k <= se:
                        cur = block[k]
                        if cur != 0:
                            if reader.read_bit() and (cur & p1) == 0:
                                block[k] = cur + (p1 if cur >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val and k <= se:
                        block[k] = val
                    k += 1
            if eobrun > 0:
                while k <= se:  # correction bits for the EOB-run tail
                    cur = block[k]
                    if cur != 0:
                        if reader.read_bit() and (cur & p1) == 0:
                            block[k] = cur + (p1 if cur >= 0 else m1)
                    k += 1
                eobrun -= 1


# ----------------------------------------------------------------------
# encoder
# ----------------------------------------------------------------------
class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, length: int, code: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.write(8 - self.nbits, 0xFF)  # 1-bit padding per T.81


def _encode_block(
    wr: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_enc: Dict[int, Tuple[int, int]],
    ac_enc: Dict[int, Tuple[int, int]],
) -> int:
    def put(value: int, table: Dict[int, Tuple[int, int]], run: int = 0) -> None:
        s = int(abs(value)).bit_length()
        ln, code = table[(run << 4) | s]
        wr.write(ln, code)
        if s:
            wr.write(s, value if value >= 0 else value + (1 << s) - 1)

    dc = int(zz[0])
    put(dc - pred, dc_enc)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_enc[0xF0]  # ZRL
            wr.write(ln, code)
            run -= 16
        put(v, ac_enc, run)
        run = 0
    if run:
        ln, code = ac_enc[0x00]  # EOB
        wr.write(ln, code)
    return dc


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _encode_front(
    width: int,
    height: int,
    pixels: bytes,
    channels: int,
    subsampling: str,
    quant_luma: Optional[List[int]],
    quant_chroma: Optional[List[int]],
    sof_marker: int,
    ac_symbols: List[int],
):
    """The encoders' shared front end: YCbCr conversion, edge padding,
    DCT, quantisation and zig-zag, and the SOI/APP0/DQT/SOF/DHT header.

    → (header bytes, per-component zig-zag coefficients shaped (MCU
    rows, MCU cols, blocks per MCU, 64), DC encode table, AC encode
    table built from the uniform table over ``ac_symbols``)."""
    if channels not in (1, 3):
        raise JpegError("encode_channels", "1 or 3 channels only")
    if len(pixels) != width * height * channels:
        raise JpegError("encode_size", "pixel buffer does not match dimensions")
    if subsampling not in ("444", "420"):
        raise JpegError("encode_subsampling", "subsampling must be '444' or '420'")
    ql = np.asarray(quant_luma if quant_luma is not None else [1] * 64,
                    dtype=np.float64).reshape(8, 8)
    qc = np.asarray(quant_chroma if quant_chroma is not None else [1] * 64,
                    dtype=np.float64).reshape(8, 8)

    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, channels).astype(np.float64)
    if channels == 1:
        planes = [arr[:, :, 0]]
        samp = [(1, 1)]
        qsel = [0]
    else:
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        y = np.round(0.299 * r + 0.587 * g + 0.114 * b)
        cb = np.round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0)
        cr = np.round(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0)
        y, cb, cr = (np.clip(p, 0, 255) for p in (y, cb, cr))
        if subsampling == "420":
            ph, pw = (height + 1) // 2 * 2, (width + 1) // 2 * 2
            def half(p):
                full = np.empty((ph, pw))
                full[:height, :width] = p
                full[height:, :width] = p[-1:, :]
                full[:, width:] = full[:, width - 1 : width]
                return np.round(
                    (full[0::2, 0::2] + full[0::2, 1::2] + full[1::2, 0::2] + full[1::2, 1::2]) / 4.0
                )
            planes = [y, half(cb), half(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qsel = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))

    comp_coefs = []
    for plane, (hs, vs), qi in zip(planes, samp, qsel):
        quant = ql if qi == 0 else qc
        ph, pw = mcuy * vs * 8, mcux * hs * 8
        padded = np.empty((ph, pw), dtype=np.float64)
        padded[: plane.shape[0], : plane.shape[1]] = plane
        padded[plane.shape[0] :, : plane.shape[1]] = plane[plane.shape[0] - 1 : plane.shape[0], :]
        padded[:, plane.shape[1] :] = padded[:, plane.shape[1] - 1 : plane.shape[1]]
        grid = padded.reshape(mcuy, vs, 8, mcux, hs, 8).transpose(0, 3, 1, 4, 2, 5)
        blocks = grid.reshape(-1, 8, 8) - 128.0
        coefs = np.round(_dct2(blocks) / quant).astype(np.int64).reshape(-1, 64)
        comp_coefs.append(coefs[:, ZIGZAG].reshape(mcuy, mcux, vs * hs, 64))

    # huffman tables: simple uniform canonical tables, written into DHT
    dc_bits, dc_vals = _uniform_table(_DC_SYMBOLS)
    ac_bits, ac_vals = _uniform_table(ac_symbols)

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    zz_ql = ql.reshape(64)[ZIGZAG].astype(np.uint8).tobytes()
    out += _seg(0xDB, bytes([0x00]) + zz_ql)
    if channels == 3:
        zz_qc = qc.reshape(64)[ZIGZAG].astype(np.uint8).tobytes()
        out += _seg(0xDB, bytes([0x01]) + zz_qc)
    sof = struct.pack(">BHHB", 8, height, width, channels)
    for i, (hs, vs) in enumerate(samp):
        sof += struct.pack(">BBB", i + 1, (hs << 4) | vs, qsel[i])
    out += _seg(sof_marker, sof)
    out += _seg(0xC4, bytes([0x00] + dc_bits + dc_vals))
    out += _seg(0xC4, bytes([0x10] + ac_bits + ac_vals))
    if channels == 3:
        out += _seg(0xC4, bytes([0x01] + dc_bits + dc_vals))
        out += _seg(0xC4, bytes([0x11] + ac_bits + ac_vals))
    return (bytes(out), comp_coefs, _build_encode_table(dc_bits, dc_vals),
            _build_encode_table(ac_bits, ac_vals))


def encode_jpeg(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    subsampling: str = "444",
    quant_luma: Optional[List[int]] = None,
    quant_chroma: Optional[List[int]] = None,
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF bytes from 8-bit interleaved ``pixels``.

    ``quant_*`` are 64 RASTER-order values (default all ones — the
    lossless-for-flat-blocks configuration the oracle query relies on).
    ``subsampling``: '444' or '420' (3-channel only).
    """
    header, comp_coefs, dc_enc, ac_enc = _encode_front(
        width, height, pixels, channels, subsampling, quant_luma, quant_chroma,
        0xC0, _AC_LUMA_SYMBOLS,
    )
    mcuy, mcux = comp_coefs[0].shape[:2]
    wr = _BitWriter()
    preds = [0] * len(comp_coefs)
    n_rst = 0
    for mcu in range(mcux * mcuy):
        if restart_interval and mcu and mcu % restart_interval == 0:
            wr.pad_to_byte()
            wr.out += bytes([0xFF, 0xD0 + n_rst])
            n_rst = (n_rst + 1) & 7
            preds = [0] * len(comp_coefs)
        my, mx = divmod(mcu, mcux)
        for ci, coefs in enumerate(comp_coefs):
            for blk in range(coefs.shape[2]):
                zz = coefs[my, mx, blk]
                preds[ci] = _encode_block(wr, zz, preds[ci], dc_enc, ac_enc)
    wr.pad_to_byte()

    out = bytearray(header)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([channels])
    for i in range(channels):
        td_ta = 0x00 if i == 0 else 0x11
        sos += bytes([i + 1, td_ta])
    sos += bytes([0, 63, 0])  # Ss, Se, Ah/Al (baseline fixed)
    out += _seg(0xDA, sos)
    out += wr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ----------------------------------------------------------------------
# progressive encoder (fixture synthesis for the SOF2 decode paths)
# ----------------------------------------------------------------------
# all (run, size) symbols incl. EOBn (s=0, r<15) and ZRL (0xF0)
_AC_PROG_SYMBOLS: List[int] = [(r << 4) | s for r in range(16) for s in range(11)]


def _put_scalar(wr: _BitWriter, v: int, enc: Dict[int, Tuple[int, int]], run: int = 0) -> None:
    s = int(abs(v)).bit_length()
    ln, code = enc[(run << 4) | s]
    wr.write(ln, code)
    if s:
        wr.write(s, v if v >= 0 else v + (1 << s) - 1)


def _emit_dc_first(wr, comp_coefs, dc_enc, al):
    preds = [0] * len(comp_coefs)
    for i in range(comp_coefs[0].shape[0]):
        for ci, coefs in enumerate(comp_coefs):
            v = int(coefs[i, 0]) >> al  # arithmetic shift per T.81 DC point transform
            _put_scalar(wr, v - preds[ci], dc_enc)
            preds[ci] = v


def _emit_dc_refine(wr, comp_coefs, al):
    for i in range(comp_coefs[0].shape[0]):
        for coefs in comp_coefs:
            wr.write(1, (int(coefs[i, 0]) >> al) & 1)


def _emit_eobn(wr, ac_enc, eobrun):
    r = eobrun.bit_length() - 1
    ln, code = ac_enc[r << 4]
    wr.write(ln, code)
    if r:
        wr.write(r, eobrun - (1 << r))


def _emit_ac_first(wr, coefs, ac_enc, ss, se, al):
    """G.1.2.2: AC first scan — sign-preserving point transform, zero
    runs, EOB runs folding trailing + all-zero blocks."""
    eobrun = 0
    for i in range(coefs.shape[0]):
        vals = []
        for k in range(ss, se + 1):
            c = int(coefs[i, k])
            vals.append((abs(c) >> al) * (1 if c >= 0 else -1))
        nz = [j for j, v in enumerate(vals) if v != 0]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                _emit_eobn(wr, ac_enc, eobrun)
                eobrun = 0
            continue
        if eobrun:
            _emit_eobn(wr, ac_enc, eobrun)
            eobrun = 0
        r = 0
        for j in range(nz[-1] + 1):
            v = vals[j]
            if v == 0:
                r += 1
                continue
            while r > 15:
                ln, code = ac_enc[0xF0]
                wr.write(ln, code)
                r -= 16
            _put_scalar(wr, v, ac_enc, run=r)
            r = 0
        if nz[-1] < len(vals) - 1:
            eobrun += 1
            if eobrun == 0x7FFF:
                _emit_eobn(wr, ac_enc, eobrun)
                eobrun = 0
    if eobrun:
        _emit_eobn(wr, ac_enc, eobrun)


def _emit_ac_refine(wr, coefs, ac_enc, ss, se, al):
    """G.1.2.3 refinement: newly-significant coefficients (|c|>>Al == 1)
    as (zero-history-run, 1) symbols + sign bit; already-nonzero ones as
    positionally-interleaved correction bits; trailing parts fold into
    EOB runs whose correction bits ride behind the EOBn symbol (the
    jpeglib BE-buffer discipline, mirrored by the decoder's walk)."""
    eobrun = 0
    be_bits: List[int] = []

    def flush_eob():
        nonlocal eobrun, be_bits
        if eobrun:
            _emit_eobn(wr, ac_enc, eobrun)
            for b in be_bits:
                wr.write(1, b)
            eobrun = 0
            be_bits = []

    for i in range(coefs.shape[0]):
        temps = []
        signs = []
        for k in range(ss, se + 1):
            c = int(coefs[i, k])
            temps.append(abs(c) >> al)
            signs.append(1 if c > 0 else 0)
        nz1 = [j for j, t in enumerate(temps) if t == 1]
        eob_idx = nz1[-1] if nz1 else -1
        r = 0
        br: List[int] = []
        for j, t in enumerate(temps):
            if t == 0:
                r += 1
                continue
            while r > 15 and j <= eob_idx:
                flush_eob()
                ln, code = ac_enc[0xF0]
                wr.write(ln, code)
                r -= 16
                for b in br:
                    wr.write(1, b)
                br = []
            if t > 1:
                br.append(t & 1)  # correction bit for a known-nonzero coef
                continue
            flush_eob()
            ln, code = ac_enc[(r << 4) | 1]
            wr.write(ln, code)
            wr.write(1, signs[j])
            for b in br:
                wr.write(1, b)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            be_bits.extend(br)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def encode_jpeg_progressive(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    quant_luma: Optional[List[int]] = None,
    quant_chroma: Optional[List[int]] = None,
) -> bytes:
    """Progressive (SOF2) huffman encode — fixture synthesis for the
    progressive decode paths. Scan script exercises all of them:

    1. DC first, ALL components interleaved, Al=1
    2. DC refinement (Ah=1 → Al=0), raw bits
    3. per component: AC first Ss=1..5, Al=1   (EOB runs, zero runs)
    4. per component: AC first Ss=6..63, Al=1  (band split)
    5. per component: AC refinement Ss=1..63, Ah=1, Al=0

    Grayscale or 4:4:4 color (no subsampling — chroma paths are
    exercised by the sequential encoder; this one targets scan logic).
    The quantized coefficients and the header come from the SAME front
    end as :func:`encode_jpeg` (:func:`_encode_front`), so a progressive
    file must decode pixel-identically to its baseline twin — the cross-mode test
    invariant that keeps encoder/decoder bugs from cancelling."""
    header, comp_coefs, dc_enc, ac_enc = _encode_front(
        width, height, pixels, channels, "444", quant_luma, quant_chroma,
        0xC2, _AC_PROG_SYMBOLS,  # SOF2: progressive
    )
    comp_coefs = [c.reshape(-1, 64) for c in comp_coefs]  # 1x1 MCUs: one block each
    out = bytearray(header)

    def sos(scan_comps, ss, se, ah, al, body_fn):
        hdr = bytes([len(scan_comps)])
        for ci in scan_comps:
            td_ta = 0x00 if ci == 0 else 0x11
            hdr += bytes([ci + 1, td_ta])
        hdr += bytes([ss, se, (ah << 4) | al])
        nonlocal_out = _seg(0xDA, hdr)
        wr = _BitWriter()
        body_fn(wr)
        wr.pad_to_byte()
        return nonlocal_out + wr.out

    all_comps = list(range(channels))
    out += sos(all_comps, 0, 0, 0, 1,
               lambda wr: _emit_dc_first(wr, comp_coefs, dc_enc, 1))
    out += sos(all_comps, 0, 0, 1, 0,
               lambda wr: _emit_dc_refine(wr, comp_coefs, 0))
    for ci in range(channels):
        enc = ac_enc  # same uniform table for luma/chroma ids
        out += sos([ci], 1, 5, 0, 1,
                   lambda wr, c=ci: _emit_ac_first(wr, comp_coefs[c], enc, 1, 5, 1))
        out += sos([ci], 6, 63, 0, 1,
                   lambda wr, c=ci: _emit_ac_first(wr, comp_coefs[c], enc, 6, 63, 1))
    for ci in range(channels):
        out += sos([ci], 1, 63, 1, 0,
                   lambda wr, c=ci: _emit_ac_refine(wr, comp_coefs[c], ac_enc, 1, 63, 0))
    out += b"\xff\xd9"
    return bytes(out)


# ----------------------------------------------------------------------
# lossless (SOF3) encoder — T.81 Annex H fixture synthesis
# ----------------------------------------------------------------------
_DC_LOSSLESS_SYMBOLS = list(range(17))  # SSSS 0-15 + the 32768 special


def encode_jpeg_lossless(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    predictor: int = 1,
    point_transform: int = 0,
    restart_interval: int = 0,
) -> bytes:
    """True-lossless SOF3 bytes from 8-bit interleaved ``pixels``.

    Components are stored verbatim (no YCbCr pass — that would defeat
    losslessness; see decode_jpeg's lossless note).  ``predictor``
    selects T.81 H.1 selectors 1-7; ``point_transform`` drops Pt low
    bits (decode returns samples << Pt, so the round trip is exact only
    for Pt=0).  Differences are coded with DC-style SSSS categories
    mod 2^16 incl. the category-16 (diff 32768) special."""
    if channels not in (1, 3):
        raise JpegError("encode_channels", "1 or 3 channels only")
    if len(pixels) != width * height * channels:
        raise JpegError("encode_size", "pixel buffer does not match dimensions")
    if not 1 <= predictor <= 7:
        raise JpegError("encode_predictor", "predictor selector must be 1-7")
    if not 0 <= point_transform <= 7:
        raise JpegError("encode_pt", "point transform must be 0-7")
    arr = (
        np.frombuffer(pixels, dtype=np.uint8)
        .reshape(height, width, channels)
        .astype(np.int64)
        >> point_transform
    )
    dc_bits, dc_vals = _uniform_table(_DC_LOSSLESS_SYMBOLS)
    enc = _build_encode_table(dc_bits, dc_vals)
    default = 1 << (8 - point_transform - 1)
    wr = _BitWriter()
    # restart prediction reset mirrors _decode_scan_lossless: first
    # sample of each interval → default, rest of the interval's first
    # line → Ra (T.81 H.1.2.1, Cornell/libjpeg-lossless convention)
    rst_y, rst_x = 0, 0
    n_rst = 0
    for y in range(height):
        for x in range(width):
            mcu = y * width + x
            if restart_interval and mcu and mcu % restart_interval == 0:
                wr.pad_to_byte()
                wr.out += bytes([0xFF, 0xD0 + n_rst])
                n_rst = (n_rst + 1) & 7
                rst_y, rst_x = y, x
            for ci in range(channels):
                sample = int(arr[y, x, ci])
                if y == rst_y and x == rst_x:
                    pred = default
                elif y == rst_y:
                    pred = int(arr[y, x - 1, ci])
                else:
                    pred = _predict_lossless(
                        arr[:, :, ci], x, y, predictor, default
                    )
                d = (sample - pred) & 0xFFFF
                if d == 32768:
                    ln, code = enc[16]
                    wr.write(ln, code)
                    continue
                if d > 32768:
                    d -= 65536
                s = int(abs(d)).bit_length()
                ln, code = enc[s]
                wr.write(ln, code)
                if s:
                    wr.write(s, d if d >= 0 else d + (1 << s) - 1)
    wr.pad_to_byte()

    out = bytearray(b"\xff\xd8")
    sof = struct.pack(">BHHB", 8, height, width, channels)
    for i in range(channels):
        sof += struct.pack(">BBB", i + 1, 0x11, 0)  # 1x1 sampling; Tq unused
    out += _seg(0xC3, sof)
    out += _seg(0xC4, bytes([0x00] + dc_bits + dc_vals))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([channels])
    for i in range(channels):
        sos += bytes([i + 1, 0x00])
    sos += bytes([predictor, 0, point_transform])  # Ss=sel, Se=0, Ah<<4|Al
    out += _seg(0xDA, sos)
    out += wr.out
    out += b"\xff\xd9"
    return bytes(out)
