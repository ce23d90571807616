"""S11 searchable-PDF authoring — from-scratch PDF writer.

The reference builds searchable PDFs with PyMuPDF: page images plus an
INVISIBLE text layer at the OCR line positions (SmartPDF-OCR
``app/export/searchable_pdf.py:32-209`` — ``create_from_images`` builds
image pages, ``_add_text_layer`` inserts text with ``render_mode=3``).
PyMuPDF is not in this environment; a searchable page is just an image
XObject plus a text-showing content stream with text render mode 3, so
this module authors the bytes directly, reusing the minipdf writer's
object/xref assembly.

The geometry comes verbatim from the quirk-pinned model layer
(``docx_model.overlay_spec``, mirroring searchable_pdf.py:72-105):
x/y scaled by 72/dpi, font size = height * scale * 0.8 with the <1 -> 8
floor, baseline at y + font_size, render_mode 3. The model's
``y_baseline`` is measured from the page TOP (fitz convention); PDF
content streams are y-up, so the emitted Tm uses
``page_height - y_baseline``.

Round-trip property (tested): the engine's own MiniPdf reader sees BOTH
layers of the authored page — ``extract_page_text`` finds the overlay
text (searchable) and ``render_page`` returns the scan image (visual).

Scale shape: pure bytes-from-rows authoring behind an Arrow-batched
column stage (``with_searchable_pdf``) — no driver-side file loop.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np

from .docx_model import overlay_spec
from .minipdf.writer import _esc, assemble_pdf


def searchable_pdf_bytes(images: list, lines_per_page: list,
                         dpi: int = 300) -> bytes:
    """Author a searchable PDF from page scans + OCR lines
    (``create_from_images`` + ``_add_text_layer``,
    searchable_pdf.py:72-160).

    ``images``: list of 2-D uint8 grayscale arrays (pixels at ``dpi``).
    ``lines_per_page``: per page, a list of (text, x_min, y_min, height)
    in image pixels — the OCR line geometry the reference feeds fitz.
    Page size in points = pixel size * 72/dpi (the inverse of the
    render zoom, pdf_renderer.py:67)."""
    if len(images) != len(lines_per_page):
        raise ValueError("images and lines_per_page must align")
    scale = 72.0 / dpi
    objects: list[bytes] = []

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)

    add(b"<< /Type /Catalog /Pages 2 0 R >>")  # obj 1
    pages_idx = add(b"PLACEHOLDER")            # obj 2
    page_ids = []
    for img, lines in zip(images, lines_per_page):
        img = np.ascontiguousarray(img, dtype=np.uint8)
        h_px, w_px = img.shape
        w_pt, h_pt = w_px * scale, h_px * scale
        raw = zlib.compress(img.tobytes(), 6)
        img_id = add(
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
            b"/Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream"
            % (w_px, h_px, len(raw), raw))
        ops = [b"q %.2f 0 0 %.2f 0 0 cm /Im0 Do Q" % (w_pt, h_pt)]
        spec = overlay_spec(lines, dpi=dpi)
        if spec:
            ops.append(b"BT 3 Tr")  # render_mode 3: invisible, searchable
            for e in spec:
                ops.append(
                    b"/F1 %.2f Tf 1 0 0 1 %.2f %.2f Tm (%s) Tj"
                    % (e["font_size"], e["x"],
                       h_pt - e["y_baseline"],  # top-down -> y-up
                       _esc(e["text"])))
            ops.append(b"ET")
        stream = b"\n".join(ops)
        content_id = add(
            b"<< /Length %d >>\nstream\n%s\nendstream"
            % (len(stream), stream))
        page_ids.append(add(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %.2f %.2f] "
            b"/Contents %d 0 R /Resources << /XObject << /Im0 %d 0 R >> "
            b"/Font << /F1 << /Type /Font /Subtype /Type1 "
            b"/BaseFont /Helvetica >> >> >> >>"
            % (w_pt, h_pt, content_id, img_id)))
    kids = b" ".join(b"%d 0 R" % i for i in page_ids)
    objects[pages_idx - 1] = (
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_ids)))
    return assemble_pdf(objects)


SEARCHABLE_PDF_SCHEMA = "conv_id string, turn_idx int, searchable_pdf binary"


def with_searchable_pdf(df, cfg=None):
    """Column-level S11 export over raster turns: re-render each PDF
    payload's image pages and author a searchable PDF with the OCR text
    layer. Input df needs (conv_id, turn_idx, text) rows routed to the
    raster path; the per-document loop runs inside Arrow batches.

    Cost honesty: this stage re-runs the full decode -> render ->
    preprocess -> OCR chain per document — the most expensive compute
    in the engine — because the extraction output persists only text +
    spans, not OCR line geometry. A pipeline running extraction AND
    this export at scale should persist the extraction stage's line
    geometry and feed it into searchable_pdf_bytes directly, halving
    the raster-path cost; here the export is standalone-correct and
    pays for itself."""
    import pandas as pd

    from .config import DEFAULT

    cfg = cfg or DEFAULT

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .extract import _detect, _raster, decode_pdf_payload
        from .minipdf.adapters import open_pdf
        from .ocr.engine import get_engine

        engine = get_engine()
        dpi = max(cfg.min_dpi, min(cfg.max_dpi, cfg.default_dpi))
        for batch in batches:
            blobs = []
            for text in batch["text"].values:
                try:
                    pdf = open_pdf(
                        decode_pdf_payload(text, cfg.max_payload_bytes),
                        backend=cfg.pdf_backend)
                    images, lines = [], []
                    for p in _detect(pdf, cfg).image_pages:
                        # the extraction path's raster chain, so the
                        # overlay text matches extracted_text. Deviation
                        # from the reference: searchable_pdf.py:57-66
                        # overlays onto the ORIGINAL page while OCR coords
                        # come from the processed image; we embed the
                        # processed raster so text and pixels stay aligned.
                        img = _raster(pdf, p, dpi, cfg)
                        res = engine.recognize(img, p)
                        images.append(img)
                        lines.append([
                            (ln.text, ln.x_min, ln.y_min, ln.height)
                            for ln in res.lines])
                    blob = searchable_pdf_bytes(images, lines, dpi=dpi) \
                        if images else None
                except Exception:
                    blob = None  # containment: bad payloads yield NULL
                blobs.append(blob)
            yield pd.DataFrame({"conv_id": batch["conv_id"].values,
                                "turn_idx": batch["turn_idx"].values,
                                "searchable_pdf": blobs})

    return df.select("conv_id", "turn_idx", "text") \
        .mapInPandas(run, schema=SEARCHABLE_PDF_SCHEMA)
