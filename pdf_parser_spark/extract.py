"""The extraction stage: ``pages`` → text + spans + metadata string + metrics.

One ``mapInPandas`` over Arrow batches of the binary ``html`` column —
the ONLY Python hot path in the engine (everything downstream is
native Catalyst). Replaces the reference's per-file browser pipeline
(``src/services/pdfParser/index.ts:7-91``) with a distributed stage:

    read parquet/iceberg → repartition(xxhash64(url)) → mapInPandas →
    native field extraction → audit

Scale design (north rule):
- salting: callers repartition on ``xxhash64(url)`` before this stage
  so oversized documents spread across tasks (see job.py);
- Arrow batches are row-capped (session.py ARROW_BATCH_ROWS) because a
  batch of binaries can be GBs;
- failures NEVER throw: they become ``error_code`` rows, mirroring the
  page-loop error swallowing of the reference (``index.ts:65-68``) —
  :func:`map_documents` owns that contract for every per-document stage;
- per-doc decode fallbacks are counted for the audit table.
"""

from __future__ import annotations

from operator import itemgetter
from typing import Callable, List, Optional, Sequence, Tuple, Union

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .htmlcore import extract_main_text
from .pdfcore import PdfError, parse_pdf
from .schema import EXTRACT_SCHEMA

# the first page whose white-text concat contains this marker holds the
# record (`metadata.ts:57` splits on it); the legacy parser instead takes
# the first last-page item containing `_LEGACY_MARKER` (`pdfParser.ts:109`)
_META_MARKER = "||"
_LEGACY_MARKER = "||Name_of_Prospect:"


def sniff_doc_type(blob: Optional[bytes]) -> str:
    if not blob:
        return "unknown"
    head = blob[:1024]
    if b"%PDF-" in head:
        return "pdf"
    low = head[:256].lower()
    if b"<!doctype" in low or b"<html" in low or b"<head" in low or b"<body" in low:
        return "html"
    return "unknown"


def map_documents(
    df: DataFrame,
    in_cols: Sequence[Union[str, Column]],
    schema: Union[str, StructType],
    rows_of: Callable[..., List[tuple]],
    error_row: Optional[Callable[[tuple, Exception], tuple]] = None,
) -> DataFrame:
    """The one per-document ``mapInPandas`` stage: select ``in_cols``
    and call ``rows_of(*inputs)`` once per document, with the inputs in
    ``in_cols`` order. It returns that document's output rows as a list
    of tuples in ``schema`` order. Each batch is built as one list per
    output column: a ``pd.DataFrame`` from a list of dicts re-infers
    every cell (slow with nested spans), per-column lists keep batch
    overhead flat.

    Production form, ``error_row`` given — the typed-row contract:
    every ``Exception`` out of ``rows_of``, also one part-way through a
    document's rows, gives the one row ``error_row(inputs, exc)``
    instead, so no document fails the job and none silently
    disappears (at corpus scale a dropped row makes "no output"
    indistinguishable from a decoder bug in the audit metrics).
    ``error_row`` keeps a typed error's code and message and marks
    anything else ``internal`` (:func:`typed_error`).

    Fixture form, ``error_row=None``: nothing is caught. An oracle
    fixture that fails must fail the run (``queries_data._oracle_bytes``
    says why)."""
    if isinstance(schema, StructType):
        names = schema.fieldNames()
    else:
        names = [c.split()[0] for c in schema.split(",")]
    caught = Exception if error_row is not None else ()

    def mapper(batches):
        for b in batches:
            rows: List[tuple] = []
            for inputs in zip(*(col.tolist() for _, col in b.items())):
                try:
                    rows += rows_of(*inputs)
                except caught as e:  # noqa: BLE001 — the contract above
                    rows.append(error_row(inputs, e))
            cols = list(zip(*rows)) or [()] * len(names)
            yield pd.DataFrame({n: list(c) for n, c in zip(names, cols)}, columns=names)

    return df.select(*in_cols).mapInPandas(mapper, schema=schema)


def typed_error(exc: Exception, typed) -> Tuple[Optional[str], str]:
    """(code, message) of a failed document: an instance of the stage's
    ``typed`` classes keeps its own ``code`` (None without one) and
    message; anything else is ``("internal", "Type: message")``."""
    if isinstance(exc, typed):
        return getattr(exc, "code", None), str(exc)
    return "internal", f"{type(exc).__name__}: {exc}"


def _blank(blob: Optional[bytes]) -> dict:
    """A document's output fields before any parsing."""
    return {
        "doc_type": sniff_doc_type(blob),
        "text": None,
        "spans": None,
        "n_pages": 0,
        "n_items": 0,
        "meta_string": None,
        "error_code": None,
        "error_message": None,
        "decode_fallbacks": 0,
        "n_bytes": len(blob) if blob else 0,
        "decrypted": False,
    }


def _extract_one(blob: Optional[bytes], mode: str, want_text: bool = True,
                 decrypt: bool = False, password: bytes = b"") -> dict:
    """Extract a single document. A failure raises; the stage turns it
    into the document's error row (:func:`_failed`).

    ``want_text=False`` skips assembling the heavy output fields
    (text/spans/meta_string) — the PARSE work is identical, but nothing
    string-shaped is built or shipped. Used by the ``meta`` output mode
    for metrics/audit-only scans.
    """
    out = _blank(blob)
    if out["doc_type"] == "pdf":
        doc = parse_pdf(blob, decrypt=decrypt, password=password)
        out["n_pages"] = doc.num_pages
        out["decode_fallbacks"] = doc.decode_fallbacks
        out["decrypted"] = doc.decrypted
        out["n_items"] = sum(len(p.items) for p in doc.pages)
        if not want_text:
            return out
        # per-item spans (character offsets into doc.text()), PACKED
        # [s0,e0,s1,e1,...] — see schema.SPAN_ARRAY_TYPE. Every item is
        # followed by one separator ('\n', or '\f' after a page's last
        # item), and an EMPTY page still has its own '\f'
        spans: List[int] = []
        pos = 0
        for page in doc.pages:
            for it in page.items:
                spans += (pos, pos + len(it.str))
                pos += len(it.str) + 1
            pos += not page.items
        out["text"] = doc.text()
        out["spans"] = spans
        if mode == "legacy":
            # P2: the first item on the LAST page holding the marker
            # (pdfParser.ts:104-116)
            metas = (it.str for p in doc.pages[-1:] for it in p.items if _LEGACY_MARKER in it.str)
        else:
            # P1/T1: the white-text concat of the first page holding a
            # '||' run (index.ts:34-64, metadata.ts:37-51)
            metas = (m for m in (p.whitetext_metadata() for p in doc.pages) if _META_MARKER in m)
        out["meta_string"] = next(metas, None)
    elif out["doc_type"] == "html":
        text, spans = extract_main_text(blob.decode("utf-8", errors="replace"))
        out["n_pages"] = 1
        if want_text:
            out["text"] = text
            out["spans"] = [x for pair in spans for x in pair]
    else:
        out["error_code"] = "unknown_type"
        out["error_message"] = "not a PDF or HTML document"
    return out


def _failed(blob: Optional[bytes], exc: Exception) -> dict:
    """The fields of a document whose extraction raised ``exc``: a
    ``PdfError`` keeps its code, any failure on an HTML document is
    ``html_error``, anything else ``internal``; all with the message."""
    out = _blank(blob)
    html = out["doc_type"] == "html"
    code, message = typed_error(exc, () if html else PdfError)
    out["error_code"] = "html_error" if html else code
    out["error_message"] = message[:500]
    return out


_OUT_COLS = [f.name for f in EXTRACT_SCHEMA.fields]
# the heavy output fields the 'meta' mode neither builds nor ships
_HEAVY_COLS = {"text", "spans", "meta_string"}
_META_COLS = [c for c in _OUT_COLS if c not in _HEAVY_COLS]
META_SCHEMA = StructType([f for f in EXTRACT_SCHEMA.fields if f.name in _META_COLS])


def extract_documents(
    pages: DataFrame, mode: str = "first_valid", output: str = "full",
    decrypt: bool = False,
    password: bytes = b"",
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → EXTRACT_SCHEMA DataFrame.

    ``mode``: ``first_valid`` (the current reference parser,
    ``src/services/pdfParser/index.ts:34-69``) or ``legacy`` (last-page
    marker path, ``src/services/pdfParser.ts:104-114``).

    ``output``: ``full`` (everything) or ``meta`` (parse identically but
    neither build nor ship text/spans/meta_string). Catalyst cannot prune
    columns THROUGH mapInPandas — a downstream select still pays Python
    assembly + Arrow transfer of every field — so metrics/audit-only
    scans must push the projection into the mapper, which is what
    ``meta`` does.

    Column pruning inbound: only (url, warc_ts, html, lang) are read —
    the golden ``text`` column never ships to Python.
    """
    want_text = output != "meta"
    row = itemgetter(*(_OUT_COLS if want_text else _META_COLS))

    def finish(rec: dict, url, warc_ts, lang) -> tuple:
        rec.update(url=url, warc_ts=warc_ts, lang=lang)
        return row(rec)

    def rows_of(url, warc_ts, blob, lang):
        blob = None if blob is None else bytes(blob)
        return [finish(_extract_one(blob, mode, want_text, decrypt, password), url, warc_ts, lang)]

    def error_row(inputs, exc):
        url, warc_ts, blob, lang = inputs
        return finish(_failed(None if blob is None else bytes(blob), exc), url, warc_ts, lang)

    return map_documents(pages, ["url", "warc_ts", "html", "lang"],
                         EXTRACT_SCHEMA if want_text else META_SCHEMA, rows_of, error_row)


def salted(pages: DataFrame, parallelism: int, factor: int = 2) -> DataFrame:
    """Repartition on url-hash to defuse oversized-document skew.

    Partitioning key = the full 64-bit ``xxhash64(url)`` — NOT
    ``pmod(hash, n)``: pre-modding collapses the key domain to n
    values which the engine then hash-partitions AGAIN, a balls-in-
    bins distribution that leaves ~37% of partitions empty and piles
    multiple buckets onto others (measured 5x skew at n=128). Hashing
    the full domain gives the uniform spread round-robin would, while
    staying deterministic in content (north rule: resumable runs must
    place the same url in the same partition).
    """
    n = max(1, parallelism * factor)
    return pages.repartition(n, F.xxhash64("url"))
