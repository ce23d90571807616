"""Task-level convenience API mirroring the reference service surface.

The reference exposes upload -> OCR-task -> result/export over HTTP
(SmartPDF-OCR ``app/api/``); a user switching to this engine gets the same
per-document semantics as plain functions (no Spark needed for one
document), and the batch pipeline (``pdf_ocr_spark.pipeline``) for tables.

``process_pdf_bytes`` returns the reference's ocr_result.json row shape
(api/ocr.py:126-133, 261-269): per page ``{page, text, confidence,
method[, paragraphs][, header][, footer][, error]}``.
"""

from __future__ import annotations

from dataclasses import replace

from .config import DEFAULT, EngineConfig
from .extract import _detect, page_rows
from .minipdf.adapters import open_pdf


def normalize_pages(pages: list | None, page_count: int) -> list:
    """Reference _normalize_pages (api/ocr.py:59-65): 1-based request list
    -> validated, deduped, sorted, 0-based; None -> all pages."""
    if not pages:
        return list(range(page_count))
    invalid = [p for p in pages if p < 1 or p > page_count]
    if invalid:
        raise ValueError(f"invalid page numbers: {invalid}")
    return [p - 1 for p in sorted(set(pages))]


def process_pdf_bytes(
    data: bytes,
    pages: list | None = None,
    dpi: int | None = None,
    preprocess: bool = True,
    do_denoise: bool = True,
    do_deskew: bool = True,
    do_binarize: bool = False,
    ignore_top: float = 0.0,
    ignore_bottom: float = 0.0,
    ignore_left: float = 0.0,
    ignore_right: float = 0.0,
    cfg: EngineConfig = DEFAULT,
) -> dict:
    """One document through the full reference task flow
    (api/ocr.py:68-318). Returns {"type", "pages", "combined"}."""
    pdf = open_pdf(data, backend=cfg.pdf_backend)
    info = _detect(pdf, cfg)
    target = normalize_pages(pages, info.page_count)
    dpi = max(cfg.min_dpi, min(cfg.max_dpi, dpi or cfg.default_dpi))

    if info.pdf_type == "text":
        rows = [{"page": p, "text": pdf.extract_text(p),
                 "confidence": 1.0, "method": "extract"} for p in target]
        combined = "\n\n".join(r["text"] for r in rows)
        return {"type": "text", "pages": rows, "combined": combined}

    cfg = replace(cfg, preprocess_denoise=preprocess and do_denoise,
                  preprocess_deskew=preprocess and do_deskew,
                  preprocess_binarize=preprocess and do_binarize)
    rows = page_rows(pdf, info, target, dpi, cfg,
                     (ignore_top, ignore_bottom, ignore_left, ignore_right))
    # the docstring (and the reference, SURVEY.md S8) promise combined
    # text on EVERY path — the ocr path omitted it (review r4)
    combined = "\n\n".join(r["text"] for r in rows)
    return {"type": "ocr", "pages": rows, "combined": combined}


def process_pdf_base64(payload: str, **kw) -> dict:
    # route through the engine's validated decode (O(1) oversize
    # rejection + %PDF magic + contained error semantics) instead of a
    # raw b64decode that would materialize a hostile multi-GB payload
    # (code-review r3)
    from .detector import decode_pdf_payload
    cfg = kw.get("cfg", DEFAULT)
    return process_pdf_bytes(
        decode_pdf_payload(payload, cfg.max_payload_bytes), **kw)
