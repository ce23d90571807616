"""Spark-side extraction: vectorized per-batch implementation.

This is what runs inside ``mapInPandas`` — the whole reference pipeline
(detect -> route -> render -> preprocess -> OCR -> layout -> assemble)
re-expressed over Arrow batches. Routing and geometry are vectorized
(pandas/numpy); per-document decode work iterates documents *within* a batch,
which is the Arrow-batch analog of the reference's per-request loop — there
is no per-row Python UDF dispatch anywhere.

The page chain (``_raster``: render -> preprocess; ``page_rows``: OCR ->
layout -> header/footer) is written once here; ``api.process_pdf_bytes``
and ``export_pdf.with_searchable_pdf`` call it.

Byte-equality contract: for every payload, ``extract_batch`` must produce the
same (extracted_text, spans) as ``pdf_ocr_spark.oracle.extract_turn`` —
enforced by tests/test_pipeline_equality.py.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from .config import DEFAULT, EngineConfig
from .detector import decode_pdf_payload, detect_pdf
from .html_extract import extract_html_blocks
from .kernels import binarize, denoise, deskew
from .ocr import layout
from .ocr.engine import get_engine

_PDF_PREFIX = "JVBERi"

RESULT_COLUMNS = [
    "extracted_text", "spans", "method", "confidence", "n_pages", "error",
    "elapsed_us",
]


def _spans(paragraphs: list, sep_len: int = 2) -> list:
    out = []
    pos = 0
    for i, p in enumerate(paragraphs):
        if i > 0:
            pos += sep_len
        out.append({"start": pos, "end": pos + len(p)})
        pos += len(p)
    return out


def route_kinds(texts: pd.Series) -> pd.Series:
    """Vectorized payload routing (cheap prefix tests, no decode).

    NULL/NaN payloads route to kind "null" (-> explicit error rows); the
    prefix tests run on a ''-filled copy so the boolean masks stay boolean.
    """
    is_null = texts.isna().to_numpy()
    filled = texts.fillna("")
    # lstrip before the PDF prefix test too (matching
    # detector.detect_payload_kind): b64decode ignores whitespace, so a
    # '\nJVBERi...' payload must decode as a PDF here on the light path
    # even though the pipeline's raw-prefix scan pushdown routed it away
    # from the dedup-before-decode path
    stripped = filled.str.lstrip()
    is_pdf = stripped.str.startswith(_PDF_PREFIX).to_numpy()
    head = stripped.str.slice(0, 15).str.lower()
    is_html = (head.str.startswith("<!doctype html") |
               head.str.startswith("<html")).to_numpy()
    return pd.Series(
        np.select([is_null, is_pdf, is_html], ["null", "pdf_b64", "html"],
                  default="plain"),
        index=texts.index)


def _detect(pdf, cfg: EngineConfig):
    """``detect_pdf`` with the config's threshold and sampling knobs."""
    return detect_pdf(pdf, threshold=cfg.pdf_text_threshold,
                      sample_page_limit=cfg.detect_sample_page_limit,
                      sample_head=cfg.detect_sample_head,
                      sample_tail=cfg.detect_sample_tail)


def _raster(pdf, page_num: int, dpi: int, cfg: EngineConfig) -> np.ndarray:
    """Render one page, then run the preprocess kernels ``cfg`` enables,
    in the reference order (api/ocr.py:189-230): denoise, deskew,
    binarize."""
    img = pdf.render_page(page_num, dpi=dpi)
    if cfg.preprocess_denoise:
        img = denoise(img, method="gaussian")
    if cfg.preprocess_deskew:
        img, _ = deskew(img)
    if cfg.preprocess_binarize:
        img = binarize(img, method="otsu")
    return img


def page_rows(pdf, info, pages, dpi: int, cfg: EngineConfig,
              margins: tuple = (0.0, 0.0, 0.0, 0.0)) -> list:
    """The reference's per-page loop (api/ocr.py:163-282) over ``pages``
    (0-based) of a non-text document -> ocr_result.json rows
    ``{page, text, confidence[, paragraphs][, header][, footer]
    [, error], method}``.

    Pages outside ``info.image_pages`` are text-extracted. Image pages go
    render -> preprocess -> OCR -> layout; a render/preprocess failure
    becomes an error row with no ``method`` (per-page containment,
    api/ocr.py:243-252), while an OCR failure propagates to the caller's
    document-level containment. ``margins`` is (top, bottom, left,
    right) in percent of the page."""
    engine = get_engine()
    image_pages = set(info.image_pages)
    rows = []
    processed = []
    for page_num in pages:
        if page_num not in image_pages:
            rows.append({"page": page_num,
                         "text": pdf.extract_text(page_num),
                         "confidence": 1.0, "method": "extract"})
            continue
        try:
            img = _raster(pdf, page_num, dpi, cfg)
        except Exception as e:
            rows.append({"page": page_num, "text": "", "confidence": 0.0,
                         "error": str(e)})
            continue
        res = engine.recognize(img, page_num)
        boxes = np.array([l.box for l in res.lines], dtype=float) \
            if res.lines else np.empty((0, 4, 2))
        confs = np.array([l.confidence for l in res.lines], dtype=float)
        page = layout.process_page(
            [l.text for l in res.lines], boxes, confs, page_num=page_num,
            img_width=res.img_width, img_height=res.img_height,
            ignore_top=margins[0], ignore_bottom=margins[1],
            ignore_left=margins[2], ignore_right=margins[3],
            spacing_threshold=cfg.paragraph_line_spacing_threshold,
            column_aware=cfg.column_aware)
        processed.append(page)
        rows.append({"page": page_num, "text": page.text,
                     "confidence": res.avg_confidence,
                     "paragraphs": [p.text for p in page.paragraphs],
                     "method": "ocr"})

    if cfg.remove_header_footer and processed:
        final_pages = layout.remove_headers_footers(
            processed, cfg.header_footer_repeat_threshold)
        # positional patch by processed index, faithfully misaligned for
        # mixed docs (api/ocr.py:275-282)
        for row, page in zip(rows, final_pages):
            row["text"] = page.text
            row["paragraphs"] = [p.text for p in page.paragraphs]
            if page.header:
                row["header"] = page.header
            if page.footer:
                row["footer"] = page.footer
    return rows


def _extract_pdf_doc(text: str, cfg: EngineConfig) -> tuple:
    """One PDF document -> (text, spans, method, conf, n_pages, error).

    Orchestration mirrors the reference task loop (api/ocr.py:68-318) with
    the vectorized layout core; see oracle._extract_pdf for the loop-style
    twin and the inline citations. Document-level containment mirrors the
    reference's task-level try/except (api/ocr.py:308-318): a corrupt
    payload yields an error row, never a task failure.
    """
    try:
        return _extract_pdf_doc_inner(text, cfg)
    except Exception as e:
        return "", [], "error", 0.0, 0, f"{type(e).__name__}: {e}"


def _extract_pdf_doc_inner(text: str, cfg: EngineConfig) -> tuple:
    from .minipdf.adapters import open_pdf
    try:
        pdf = open_pdf(decode_pdf_payload(text, cfg.max_payload_bytes),
                       backend=cfg.pdf_backend)
    except ValueError as e:
        return "", [], "error", 0.0, 0, str(e)
    info = _detect(pdf, cfg)

    if info.pdf_type == "text":
        page_texts = [pdf.extract_text(p) for p in range(info.page_count)]
        return ("\n\n".join(page_texts), _spans(page_texts), "extract", 1.0,
                info.page_count, None)

    dpi = max(cfg.min_dpi, min(cfg.max_dpi, cfg.default_dpi))
    rows = page_rows(pdf, info, range(info.page_count), dpi, cfg)
    # assembly: export_simple semantics (txt_export.py:79-108)
    paragraphs: list[str] = []
    for row in rows:
        if "paragraphs" in row:
            paragraphs.extend(row["paragraphs"])
        else:
            paragraphs.append(row["text"])
    conf = sum(r["confidence"] for r in rows) / len(rows) if rows else 0.0
    return ("\n\n".join(paragraphs), _spans(paragraphs), "ocr", conf,
            info.page_count, None)


def extract_payload_batch(texts: pd.Series,
                          cfg: EngineConfig = DEFAULT) -> pd.DataFrame:
    """Extract a batch of *distinct PDF payloads* (the dedup-before-decode
    pre-pass): one decode per unique payload cluster-wide. Returns the same
    RESULT_COLUMNS frame as extract_batch, whose PDF turns also go
    through here, so the two stages cannot drift on result shape."""
    n = len(texts)
    out = {c: np.empty(n, dtype=object) for c in
           ("extracted_text", "spans", "method", "error")}
    conf = np.zeros(n)
    pages = np.zeros(n, dtype=np.int32)
    us = np.zeros(n, dtype=np.int64)
    vals = texts.to_numpy(dtype=object)
    for i in range(n):
        t0 = time.perf_counter_ns()
        text, spans, method, c, n_pages, err = _extract_pdf_doc(vals[i], cfg)
        out["extracted_text"][i] = text
        out["spans"][i] = spans
        out["method"][i] = method
        out["error"][i] = err
        conf[i] = c
        pages[i] = n_pages
        us[i] = (time.perf_counter_ns() - t0) // 1000
    return pd.DataFrame({
        "extracted_text": out["extracted_text"], "spans": out["spans"],
        "method": out["method"], "confidence": conf, "n_pages": pages,
        "error": out["error"], "elapsed_us": us,
    }, index=texts.index)


def extract_batch(texts: pd.Series,
                  cfg: EngineConfig = DEFAULT) -> pd.DataFrame:
    """Extract a batch of turn payloads -> result frame (RESULT_COLUMNS)."""
    n = len(texts)
    kinds = route_kinds(texts)
    out_text = np.empty(n, dtype=object)
    out_spans = np.empty(n, dtype=object)
    out_method = np.empty(n, dtype=object)
    out_conf = np.zeros(n)
    out_pages = np.zeros(n, dtype=np.int32)
    out_err = np.full(n, None, dtype=object)
    out_us = np.zeros(n, dtype=np.int64)

    vals = texts.to_numpy(dtype=object)
    kind_arr = kinds.to_numpy()

    # null: explicit error rows, never silently dropped (lineage
    # rows_in/rows_out must balance — ADVICE r1)
    null_mask = kind_arr == "null"
    if null_mask.any():
        out_text[null_mask] = ""
        spans_arr = np.empty(int(null_mask.sum()), dtype=object)
        spans_arr[:] = [[] for _ in range(int(null_mask.sum()))]
        out_spans[null_mask] = spans_arr
        out_method[null_mask] = "error"
        out_err[null_mask] = "null_payload"

    # plain: fully bulk passthrough (no per-row loop)
    plain_mask = kind_arr == "plain"
    if plain_mask.any():
        t0 = time.perf_counter_ns()
        out_text[plain_mask] = vals[plain_mask]
        spans_arr = np.empty(int(plain_mask.sum()), dtype=object)
        spans_arr[:] = [
            [{"start": 0, "end": len(t)}] if t else []
            for t in vals[plain_mask]
        ]
        out_spans[plain_mask] = spans_arr
        out_method[plain_mask] = "plain"
        out_conf[plain_mask] = 1.0
        out_pages[plain_mask] = 1
        n_plain = int(plain_mask.sum())
        out_us[plain_mask] = ((time.perf_counter_ns() - t0) // 1000) \
            // n_plain

    for i in np.nonzero(kind_arr == "html")[0]:
        t0 = time.perf_counter_ns()
        try:
            blocks = extract_html_blocks(
                vals[i], strip_tags=cfg.html_strip_tags,
                repeat_threshold=cfg.html_repeat_threshold)
            out_text[i] = "\n\n".join(blocks)
            out_spans[i] = _spans(blocks)
            out_method[i] = "html"
            out_conf[i] = 1.0
        except Exception as e:  # parser pathology -> error row, not a
            out_text[i] = ""    # task failure (reference C6 containment)
            out_spans[i] = []
            out_method[i] = "error"
            out_conf[i] = 0.0
            out_err[i] = f"{type(e).__name__}: {e}"
        out_pages[i] = 1
        out_us[i] = (time.perf_counter_ns() - t0) // 1000

    pdf_idx = np.nonzero(kind_arr == "pdf_b64")[0]
    if len(pdf_idx):
        res = extract_payload_batch(texts.iloc[pdf_idx], cfg)
        for col, arr in zip(RESULT_COLUMNS, (
                out_text, out_spans, out_method, out_conf, out_pages,
                out_err, out_us)):
            arr[pdf_idx] = res[col].to_numpy()

    return pd.DataFrame({
        "extracted_text": out_text,
        "spans": out_spans,
        "method": out_method,
        "confidence": out_conf,
        "n_pages": out_pages,
        "error": out_err,
        "elapsed_us": out_us,
    }, index=texts.index)
