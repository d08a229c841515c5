"""Structural fuzzing of the PDF document layer (hypothesis) — the
round-4 extension of test_property_codecs.py from codec payloads to
DOCUMENT STRUCTURE: truncation, arbitrary byte corruption, startxref
retargeting, ObjStm-container damage, xref-stream predictor damage,
and cyclic /Pages trees.

Contract under test: ``parse_pdf`` on ANY mutation either succeeds or
raises a typed ``PdfError`` — never a bare IndexError / KeyError /
struct.error / zlib.error / RecursionError / OverflowError, and never
a hang (the /Pages walk has an explicit cycle cap,
``document.py`` ``pages_cycle``).  The extraction stage's
``internal`` row (``extract.map_documents`` catches, ``extract._failed``
names it) is a SAFETY NET for the row contract, not the contract
itself — a mutation that escapes as a bare exception is a parser bug
even though the Spark stage would degrade it to a row.

All Spark-free pure-Python, so hundreds of cases are cheap.
"""

from __future__ import annotations

import re

from hypothesis import example, given, settings, strategies as st

from pdf_parser_spark.pdfcore.document import PdfError, parse_pdf
from pdf_parser_spark.extract import _extract_one, _failed
from pdf_parser_spark.synth.pdfgen import make_quote_pdf


def _assert_typed(blob: bytes) -> None:
    """parse_pdf: success or typed PdfError; nothing else escapes.
    Then the same blob through _extract_one, with the stage's error row
    for what it raises, must yield the row contract: error_code None
    (success) or a non-'internal' code — 'internal' here means a bare
    exception slipped past the typed layer."""
    try:
        doc = parse_pdf(blob)
        assert doc.num_pages >= 0
    except PdfError as e:
        assert e.code, "PdfError without a machine-readable code"
    try:
        out = _extract_one(blob, mode="typed")
    except Exception as e:  # noqa: BLE001 — what the extraction stage does
        out = _failed(blob, e)
    assert out["error_code"] != "internal", out["error_message"]


# variant cycle in make_quote_pdf is i % 6; i=5 → ObjStm+xref-stream,
# i=4 → xref stream (predictor rows), i<4 → classic xref table
_GEN_IDS = st.integers(0, 23)


@settings(max_examples=100, deadline=None)
@given(i=_GEN_IDS, cut=st.floats(0.0, 1.0))
def test_truncation_is_typed(i, cut):
    blob, _, _ = make_quote_pdf(i)
    _assert_typed(blob[: int(len(blob) * cut)])


@settings(max_examples=150, deadline=None)
@given(
    i=_GEN_IDS,
    pos=st.floats(0.0, 1.0),
    length=st.integers(1, 64),
    seed=st.integers(0, 2**31),
)
# one corrupted byte in a bfrange once made OverflowError escape the CMap
@example(i=22, pos=0.05728818399461845, length=1, seed=0)
def test_byte_corruption_is_typed(i, pos, length, seed):
    import random

    blob, _, _ = make_quote_pdf(i)
    start = min(len(blob) - 1, int(len(blob) * pos))
    rng = random.Random(seed)
    junk = bytes(rng.randrange(256) for _ in range(min(length, len(blob) - start)))
    _assert_typed(blob[:start] + junk + blob[start + len(junk):])


@settings(max_examples=80, deadline=None)
@given(i=_GEN_IDS, target=st.integers(-1, 2**31))
def test_startxref_retarget_is_typed(i, target):
    """Point startxref anywhere — into object bodies, past EOF,
    negative — the xref walk must fail typed, not crash."""
    blob, _, _ = make_quote_pdf(i)
    mutated = re.sub(
        rb"startxref\s+\d+", b"startxref\n%d" % target, blob, count=1
    )
    _assert_typed(mutated)


@settings(max_examples=80, deadline=None)
@given(pos=st.floats(0.0, 1.0), length=st.integers(1, 32), seed=st.integers(0, 2**31))
def test_objstm_stream_damage_is_typed(pos, length, seed):
    """Corrupt bytes INSIDE the deflated ObjStm container (i % 6 == 5
    layout): bad offsets / broken deflate / garbage object bodies must
    all surface as typed errors through the type-2 xref entries."""
    import random

    blob, _, _ = make_quote_pdf(5)  # ObjStm + xref-stream variant
    m = re.search(rb"/Type\s*/ObjStm.*?stream\r?\n", blob, re.S)
    assert m, "fixture layout changed: no ObjStm in variant-5 PDF"
    s = m.end()
    e = blob.index(b"endstream", s)
    start = s + min(e - s - 1, int((e - s) * pos))
    rng = random.Random(seed)
    junk = bytes(rng.randrange(256) for _ in range(min(length, e - start)))
    _assert_typed(blob[:start] + junk + blob[start + len(junk):])


@settings(max_examples=80, deadline=None)
@given(pos=st.floats(0.0, 1.0), length=st.integers(1, 16), seed=st.integers(0, 2**31))
def test_xref_stream_predictor_damage_is_typed(pos, length, seed):
    """Corrupt the LAST stream in the file — the cross-reference stream
    itself (PNG-predictor-encoded rows): wrong predictor reconstruction
    must fail typed, not IndexError."""
    import random

    blob, _, _ = make_quote_pdf(4)  # xref-stream variant
    starts = [m.end() for m in re.finditer(rb"(?<!end)stream\r?\n", blob)]
    s = starts[-1]  # the cross-reference stream is the last in the file
    e = blob.index(b"endstream", s)
    start = s + min(e - s - 1, int((e - s) * pos))
    rng = random.Random(seed)
    junk = bytes(rng.randrange(256) for _ in range(min(length, e - start)))
    _assert_typed(blob[:start] + junk + blob[start + len(junk):])


def _raw_pdf(bodies) -> bytes:
    """Classic-xref PDF from numbered object bodies (1-based)."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for n, body in enumerate(bodies, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % n + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(bodies) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(bodies) + 1, xref_at)
    )
    return bytes(out)


def test_cyclic_pages_tree_is_typed():
    """Two /Pages nodes referencing each other: the walk must hit the
    cycle cap and raise the typed pages_cycle (or degrade typed), not
    loop forever or blow the stack."""
    blob = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>",
    ])
    try:
        parse_pdf(blob)
        raise AssertionError("cyclic /Pages parsed as a document")
    except PdfError as e:
        assert e.code in ("pages_cycle", "no_pages")


def test_self_referential_page_kid_is_typed():
    blob = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>",
    ])
    try:
        parse_pdf(blob)
        raise AssertionError("self-referential /Pages parsed")
    except PdfError as e:
        assert e.code in ("pages_cycle", "no_pages")


def test_deep_pages_nesting_is_typed():
    """A 2000-deep linear /Pages chain: must terminate typed or parse —
    specifically NOT RecursionError."""
    n = 2000
    bodies = [b"<< /Type /Catalog /Pages 2 0 R >>"]
    for k in range(2, n + 1):
        bodies.append(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % (k + 1))
    bodies.append(
        b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] >>" % n
    )
    _assert_typed(_raw_pdf(bodies))
