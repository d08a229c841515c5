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
  page-loop error swallowing of the reference (``index.ts:65-68``);
- per-doc decode fallbacks are counted for the audit table.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .htmlcore import extract_main_text
from .pdfcore import PdfError, parse_pdf
from pyspark.sql.types import StructType

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


def _extract_one(blob: Optional[bytes], mode: str, want_text: bool = True,
                 decrypt: bool = False, password: bytes = b"") -> dict:
    """Extract a single document. Never raises.

    ``want_text=False`` skips assembling the heavy output fields
    (text/spans/meta_string) — the PARSE work is identical, but nothing
    string-shaped is built or shipped. Used by the ``meta`` output mode
    for metrics/audit-only scans.
    """
    out = {
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
    if out["doc_type"] == "pdf":
        try:
            doc = parse_pdf(blob, decrypt=decrypt, password=password)
        except PdfError as e:
            out["error_code"] = e.code
            out["error_message"] = str(e)[:500]
            return out
        except Exception as e:  # noqa: BLE001 — any parser bug degrades, never kills the task
            out["error_code"] = "internal"
            out["error_message"] = f"{type(e).__name__}: {e}"[:500]
            return out
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
        try:
            text, spans = extract_main_text(blob.decode("utf-8", errors="replace"))
            out["n_pages"] = 1
            if want_text:
                out["text"] = text
                out["spans"] = [x for pair in spans for x in pair]
        except Exception as e:  # noqa: BLE001
            out["error_code"] = "html_error"
            out["error_message"] = f"{type(e).__name__}: {e}"[:500]
    else:
        out["error_code"] = "unknown_type"
        out["error_message"] = "not a PDF or HTML document"
    return out


_OUT_COLS = [f.name for f in EXTRACT_SCHEMA.fields]
# the heavy output fields the 'meta' mode neither builds nor ships
_HEAVY_COLS = {"text", "spans", "meta_string"}
_META_COLS = [c for c in _OUT_COLS if c not in _HEAVY_COLS]
META_SCHEMA = StructType([f for f in EXTRACT_SCHEMA.fields if f.name in _META_COLS])


def _make_mapper(mode: str, want_text: bool = True, decrypt: bool = False,
                 password: bytes = b""):
    out_cols = _OUT_COLS if want_text else _META_COLS

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            # columnar assembly: list-of-dicts → pd.DataFrame re-infers
            # every cell (slow with nested spans); building
            # per-column lists keeps batch overhead flat
            cols = {name: [] for name in out_cols}
            for url, warc_ts, blob, lang in zip(
                pdf_batch["url"].tolist(),
                pdf_batch["warc_ts"].tolist(),
                pdf_batch["html"].tolist(),
                pdf_batch["lang"].tolist(),
            ):
                rec = _extract_one(
                    bytes(blob) if blob is not None else None, mode, want_text,
                    decrypt=decrypt,
                    password=password,
                )
                rec["url"] = url
                rec["warc_ts"] = warc_ts
                rec["lang"] = lang
                for name in out_cols:
                    cols[name].append(rec[name])
            yield pd.DataFrame(cols, columns=out_cols)

    return mapper


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
    needed = pages.select("url", "warc_ts", "html", "lang")
    if output == "meta":
        return needed.mapInPandas(
            _make_mapper(mode, want_text=False, decrypt=decrypt, password=password),
            schema=META_SCHEMA,
        )
    return needed.mapInPandas(
        _make_mapper(mode, decrypt=decrypt, password=password), schema=EXTRACT_SCHEMA
    )


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
