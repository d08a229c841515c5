"""The content-stream tokenizer against a byte-at-a-time oracle.

``tokenize_content`` takes one compiled-pattern step per token and hands
escaped names, escaped or nested literal strings, dicts and arrays to
``Lexer``. The oracle below is the byte-at-a-time tokenizer it replaced,
kept here only as a test oracle: both must give the same tokens, of the
same types, and fail with the same error at the same point."""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq
import pytest

from pdf_parser_spark.pdfcore import cmap, content
from pdf_parser_spark.pdfcore.cmap import BASE_ENCODINGS, FontDecoder
from pdf_parser_spark.pdfcore.content import interpret_text
from pdf_parser_spark.pdfcore.document import parse_pdf
from pdf_parser_spark.pdfcore.lexer import Keyword, Lexer, is_ws, tokenize_content
from pdf_parser_spark.synth.pages import build_pages_rows
from pdf_parser_spark.synth.pdfgen import make_quote_pdf

DOCS = "/root/testdata/sf0.01/documents.parquet"


def bytewise_tokenize_content(data: bytes):
    """The byte-at-a-time tokenizer: one Lexer call per token, one Python
    step per byte inside it."""
    lx = Lexer(data)
    while True:
        lx.skip_ws()
        if lx.pos >= lx.n:
            return
        b = lx.data[lx.pos]
        if b in b"+-.0123456789":
            yield lx.read_number()
        elif b == 0x2F:
            yield lx.read_name()
        elif b == 0x28:
            yield lx.read_literal_string()
        elif b == 0x3C:
            if lx.data[lx.pos : lx.pos + 2] == b"<<":
                yield lx.read_dict()
            else:
                yield lx.read_hex_string()
        elif b == 0x5B:
            yield lx.read_array()
        else:
            kw = lx._read_regular_run()
            if not kw:
                lx.pos += 1  # skip stray delimiter byte
                continue
            if kw == b"BI":
                # inline image: skip to 'EI' delimited by whitespace
                idx = lx.data.find(b"EI", lx.pos)
                while idx > 0 and not (
                    is_ws(lx.data[idx - 1])
                    and (idx + 2 >= lx.n or is_ws(lx.data[idx + 2]) or idx + 2 == lx.n)
                ):
                    idx = lx.data.find(b"EI", idx + 2)
                lx.pos = lx.n if idx < 0 else idx + 2
                continue
            if kw == b"true":
                yield True
            elif kw == b"false":
                yield False
            elif kw == b"null":
                yield None
            else:
                yield Keyword(kw)


def _typed(tok):
    """A token as comparable data: its type and repr, recursively (repr
    keeps NaN and -0.0 apart from everything else)."""
    if isinstance(tok, list):
        return ("list", [_typed(t) for t in tok])
    if isinstance(tok, dict):
        return ("dict", {k: _typed(v) for k, v in tok.items()})
    return (type(tok).__name__, repr(tok))


def _tokens(tokenize, data: bytes) -> list:
    out = []
    try:
        for tok in tokenize(data):
            out.append(_typed(tok))
    except Exception as e:  # noqa: BLE001 — the error is part of the output
        out.append(("error", type(e).__name__, str(e)))
    return out


def _assert_same_tokens(data: bytes) -> None:
    assert _tokens(tokenize_content, data) == _tokens(bytewise_tokenize_content, data), data


# fragments that put delimiters, escapes, numbers and keywords next to
# each other in every order
_FRAGMENTS = [
    b"(", b")", b"<", b">", b"[", b"]", b"{", b"}", b"/", b"%", b"\\", b"#",
    b"<<", b">>", b" ", b"\n", b"\r\n", b"\r", b"\t", b"\x00", b"\x0c",
    b"0", b"12", b"-3.5", b"+.5", b"--4", b"1e5", b"1.2.3", b"-nan", b".", b"-",
    b"Tj", b"TJ", b"BT", b"ET", b"BI", b"ID", b"EI", b"true", b"false", b"null",
    b"a", b"F1", b"#20", b"#4", b"\\n", b"\\(", b"\\053", b"\\\r\n", b"0A", b"f",
    b"R", b"1 0 R", b"\x80", b"\xff", b"'", b'"',
]


def test_random_delimiter_heavy_input_gives_the_same_tokens():
    rng = random.Random(20261020)
    for _ in range(30_000):
        data = b"".join(rng.choice(_FRAGMENTS) for _ in range(rng.randrange(0, 24)))
        _assert_same_tokens(data)
    for _ in range(3_000):  # raw bytes too
        _assert_same_tokens(bytes(rng.randrange(256) for _ in range(rng.randrange(0, 64))))


def _pdf_blobs():
    for doc_id in pq.read_table(DOCS, columns=["doc_id"]).column("doc_id").to_pylist():
        yield make_quote_pdf(int(doc_id))[0]
    for row in build_pages_rows(1000):
        if row["html"][:5] == b"%PDF-":
            yield row["html"]


@pytest.mark.skipif(not os.path.exists(DOCS), reason=f"test data absent: {DOCS}")
def test_every_stream_of_the_test_pdfs_gives_the_same_tokens(monkeypatch):
    """Every content and ToUnicode CMap stream the parser tokenizes while
    extracting the sf0.01 quote PDFs and the PDF rows of the page mix."""
    streams = []

    def recording(data):
        streams.append(bytes(data))
        return tokenize_content(data)

    monkeypatch.setattr(content, "tokenize_content", recording)
    monkeypatch.setattr(cmap, "tokenize_content", recording)
    for blob in _pdf_blobs():
        try:
            parse_pdf(blob)
        except Exception:  # noqa: BLE001 — corrupt rows still tokenize what they reach
            pass
    assert len(streams) > 1000
    for data in set(streams):
        _assert_same_tokens(data)


def test_inline_image_between_show_strings_is_skipped():
    """``BI … ID <binary> EI`` between two ``Tj`` leaves the text as it is
    without the image; its bytes would otherwise lex as an unbalanced
    string and stray delimiters."""
    head = b"BT /F1 12 Tf 72 700 Td (Hello) Tj\n"
    tail = b"\n(World) Tj ET"
    image = b"BI /W 4 /H 1 /CS /G /BPC 8 ID \x00(EI)\xffEI<[%\x8a) EI"
    plain = [it.str for it in interpret_text(head + tail, {})]
    assert plain == ["Hello", "World"]
    assert [it.str for it in interpret_text(head + image + tail, {})] == plain


def test_font_decoder_table_matches_the_code_maps():
    """Each byte decodes to its code's entry in the encoding (differences
    applied) or the embedded map, and to U+FFFD where that has none."""
    raw = bytes(range(256))
    differences = {0: "zero", 65: "Å", 200: "fi", 400: "x"}
    for base in [None, *BASE_ENCODINGS]:
        codes = dict(BASE_ENCODINGS.get(base or "StandardEncoding"))
        codes.update(differences)
        expected = "".join(codes.get(b, "�") for b in raw)
        assert FontDecoder(base_encoding=base, differences=differences).decode(raw) == expected
    embedded = {66: "b", 1000: "z"}
    expected = "".join(embedded.get(b, "�") for b in raw)
    assert FontDecoder(base_encoding="WinAnsiEncoding", embedded=embedded).decode(raw) == expected
