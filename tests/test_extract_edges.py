"""Edge cases of the batch extraction surface: empty/homogeneous batches,
Unicode span arithmetic."""

import pandas as pd

from pdf_ocr_spark import oracle
from pdf_ocr_spark.extract import extract_batch, route_kinds


def test_empty_batch():
    out = extract_batch(pd.Series([], dtype=object))
    assert len(out) == 0
    assert list(out.columns) == [
        "extracted_text", "spans", "method", "confidence", "n_pages",
        "error", "elapsed_us"]


def test_homogeneous_batches():
    plain = extract_batch(pd.Series(["a", "b"]))
    assert list(plain["method"]) == ["plain", "plain"]
    html = extract_batch(pd.Series(
        ["<html><body><p>x</p></body></html>"] * 2))
    assert list(html["method"]) == ["html", "html"]


def test_route_kinds_whitespace_pdf_prefix_decodes():
    # b64decode ignores whitespace, so a whitespace-prefixed JVBERi is a
    # PDF payload on BOTH sides (review r4 — previously pinned as plain,
    # which emitted the raw base64 verbatim as 'extracted' text). This
    # one is truncated ('%PDF-1.4' with no body), so both sides agree it
    # is a pdf-path ERROR row, not silently-wrong plain text.
    s = "  JVBERi0xLjQ="
    assert route_kinds(pd.Series([s]))[0] == "pdf_b64"
    out = extract_batch(pd.Series([s]))
    r = oracle.extract_turn(s)
    assert out["method"][0] == r.method == "error"


def test_unicode_spans_plain():
    text = "héllo 🌍 世界"
    out = extract_batch(pd.Series([text]))
    span = out["spans"][0][0]
    assert text[span["start"]:span["end"]] == text
    r = oracle.extract_turn(text)
    assert r.spans == [(0, len(text))]


def test_unicode_spans_html():
    html = "<html><body><p>héllo 🌍</p><p>世界 text</p></body></html>"
    out = extract_batch(pd.Series([html]))
    text = out["extracted_text"][0]
    spans = out["spans"][0]
    assert text[spans[0]["start"]:spans[0]["end"]] == "héllo 🌍"
    assert text[spans[1]["start"]:spans[1]["end"]] == "世界 text"
    r = oracle.extract_turn(html)
    assert r.extracted_text == text
    assert [(s["start"], s["end"]) for s in spans] == r.spans


def test_spark_substring_agrees_with_python_spans(spark):
    """Spans are Python code-point offsets; Spark's substring must slice
    the same characters (it is code-point based too) — guards the
    export-layer span consumers against encoding-unit drift."""
    from pyspark.sql import functions as F
    text = "héllo 🌍 世界"
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(
        F.substring("t", 7, 1).alias("g")).collect()[0]["g"]
    assert got == text[6:7] == "🌍"


def test_payload_cache_is_config_keyed():
    """A second EngineConfig must re-extract (code-review r3): the same
    payload under a config that flips its routing must not return the
    result decoded under the first config."""
    import random
    import pandas as pd
    from pdf_ocr_spark.config import EngineConfig
    from pdf_ocr_spark.extract import extract_batch
    from pdf_ocr_spark.fixtures import _pdf_payload
    payload = _pdf_payload(random.Random(3), "text")
    a = extract_batch(pd.Series([payload]), EngineConfig())
    # absurd text threshold => every page classifies as image => OCR path
    b = extract_batch(pd.Series([payload]),
                      EngineConfig(pdf_text_threshold=10 ** 6))
    assert a["method"][0] == "extract"
    assert b["method"][0] == "ocr"


def test_column_aware_config_reaches_ocr_layout_end_to_end():
    """VERDICT r3 #8: EngineConfig.column_aware must reach process_page
    through _extract_pdf_doc_inner. A scanned two-column page read with
    the default config interleaves rows (the reference's exact (y, x)
    order); column_aware=True reads the left column top-to-bottom first.
    Default path stays byte-identical to the flag-off result."""
    import base64

    from pdf_ocr_spark.config import DEFAULT, EngineConfig
    from pdf_ocr_spark.extract import extract_batch
    from pdf_ocr_spark.minipdf.writer import ImagePage, ScanLine, build_pdf

    left = ["data", "spark", "table"]
    right = ["query", "batch", "merge"]
    lines = [ScanLine(x=20, y=40 + 70 * i, size=12, text=w)
             for i, w in enumerate(left)]
    lines += [ScanLine(x=170, y=43 + 70 * i, size=12, text=w)
              for i, w in enumerate(right)]
    payload = base64.b64encode(
        build_pdf([ImagePage(lines=lines)])).decode()

    off = extract_batch(pd.Series([payload]))
    assert off["method"][0] == "ocr" and not off["error"][0]
    off_text = off["extracted_text"][0]
    on = extract_batch(pd.Series([payload]),
                       EngineConfig(column_aware=True))
    assert on["method"][0] == "ocr" and not on["error"][0]
    on_text = on["extracted_text"][0]

    for w in left + right:
        assert w in off_text and w in on_text
    # default: row-interleaved — query (row 1 right) before spark (row 2
    # left); column-aware: whole left column before the right column
    assert off_text.index("query") < off_text.index("spark")
    assert on_text.index("table") < on_text.index("query")
    # explicit default config == flag-off (byte-equality path untouched)
    assert DEFAULT.column_aware is False
    assert extract_batch(pd.Series([payload]),
                         DEFAULT)["extracted_text"][0] == off_text


def test_whitespace_prefixed_pdf_payload_routes_to_decode():
    """b64decode ignores whitespace, so a '\\nJVBERi...' payload (ETL
    artifact) must extract as a PDF — not be emitted verbatim as
    'extracted' plain text (review). The pipeline's raw-prefix scan
    pushdown sends it down the light path; route_kinds must still
    route it to the decode there."""
    import pandas as pd

    from pdf_ocr_spark.detector import detect_payload_kind
    from pdf_ocr_spark.extract import extract_batch, route_kinds
    from pdf_ocr_spark.fixtures import _pdf_payload
    import random

    payload = _pdf_payload(random.Random(3), "text")
    assert detect_payload_kind("\n " + payload) == "pdf_b64"
    kinds = route_kinds(pd.Series([payload, "\n " + payload, "hi"]))
    assert list(kinds) == ["pdf_b64", "pdf_b64", "plain"]
    out = extract_batch(pd.Series([payload, "\n " + payload]))
    assert list(out.method) == ["extract", "extract"]
    assert out.extracted_text[0] == out.extracted_text[1]
