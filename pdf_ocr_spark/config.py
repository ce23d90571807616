"""Engine configuration constants.

Mirrors the reference's tunables (SmartPDF-OCR ``app/config.py:54-98``) so the
extraction semantics are pinned to the same numbers, plus Spark-side knobs the
reference has no analog for (partitioning, Arrow batch sizing, salting).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# reference MAX_UPLOAD_SIZE (app/config.py:87, enforced file_manager.py:60-96)
# — single definition; detector.decode_pdf_payload's default derives from it
MAX_PAYLOAD_BYTES = 100 * 1024 * 1024


@dataclass(frozen=True)
class EngineConfig:
    # --- detection (reference app/config.py:54) ---
    pdf_text_threshold: int = 50  # chars/page >= threshold => text page
    max_payload_bytes: int = MAX_PAYLOAD_BYTES  # reference app/config.py:87

    # --- rendering (reference app/config.py:57-59) ---
    default_dpi: int = 300
    max_dpi: int = 600
    min_dpi: int = 150

    # --- OCR (reference app/config.py:66) ---
    # default for the low-confidence flag/highlight surfaces
    # (export.with_low_confidence_flag, docx_model.confidence_runs)
    ocr_confidence_threshold: float = 0.5

    # --- preprocess defaults (reference app/config.py:70-73) ---
    preprocess_denoise: bool = True
    preprocess_binarize: bool = False
    preprocess_deskew: bool = True
    # consumed by the 'simple' binarize method (kernels.binarize(...,
    # method="simple", threshold=...)); the pipeline chain itself uses
    # otsu, the reference default, which takes no threshold
    binarize_threshold: int = 127

    # --- layout postprocess (reference app/config.py:76-78) ---
    paragraph_line_spacing_threshold: float = 1.5
    remove_header_footer: bool = True
    header_footer_repeat_threshold: int = 3
    # ENGINE ADDITION (no reference analog — postprocess.py sorts purely
    # by (y, x)): column-major reading order for multi-column scans via
    # whitespace-projection column detection (layout.detect_columns).
    # Default off so byte-equality with the reference is untouched.
    column_aware: bool = False

    # --- PDF reader backend (minipdf.adapters.open_pdf) ---
    # None -> SPARK_GRAFT_PDF_BACKEND env var -> "mini". "pymupdf" /
    # "pdfplumber" mount the real-world readers (import-guarded).
    pdf_backend: str | None = None

    # --- detection sampling (reference app/core/pdf_detector.py:61-67) ---
    detect_sample_page_limit: int = 50
    detect_sample_head: int = 15
    detect_sample_tail: int = 15

    # --- HTML extraction (no reference analog; our DOM-walk heuristics) ---
    html_strip_tags: tuple = (
        "script", "style", "nav", "header", "footer", "aside",
        "noscript", "template", "iframe", "svg", "form", "button",
        "head", "title",
    )
    html_repeat_threshold: int = 3  # repeated-block boilerplate (mirrors L4)

    # --- Spark physical knobs ---
    num_buckets: int = 64          # deterministic work buckets (lineage unit)
    salt_turns_per_group: int = 64  # long-conversation salting granularity
    arrow_max_records_per_batch: int = 256  # base64 PDFs are fat rows


DEFAULT = EngineConfig()
