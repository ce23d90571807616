"""Golden output digests for the three consumers of the page chain.

``extract_batch`` (the Spark decode UDF body), ``api.process_pdf_bytes``
(the per-document API) and ``export_pdf.with_searchable_pdf`` (the
searchable-PDF export) all run render -> preprocess -> OCR -> layout.
Each test md5s one consumer's output over fixed-seed fixture documents
and compares it with a committed digest. Oracle equality cannot catch a
change in kernel or OCR output, because the oracle shares those
kernels; these digests can. A deliberate output change must update the
digest and say why.
"""

import base64
import hashlib
import json
import random

import pandas as pd

from pdf_ocr_spark.api import process_pdf_bytes
from pdf_ocr_spark.export_pdf import with_searchable_pdf
from pdf_ocr_spark.extract import extract_batch
from pdf_ocr_spark.fixtures import _pdf_payload
from pdf_ocr_spark.minipdf import MiniPdf

FLAVORS = ("text", "image", "mixed", "headfoot", "skew", "noise")
# a %PDF header over garbage: exercises the error column and the NULL blob
CORRUPT = "JVBERi0xLjQKZ2FyYmFnZSBnYXJiYWdl"

GOLDEN = {
    "extract_batch": "0ece64d62410f4c5eeee3fa4f70aaba6",
    "process_pdf_bytes": "5c6ff5efae27bcc84e02af2b05acdc9b",
    "with_searchable_pdf": "669b7d865346156aca1b33844e7b0dcb",
}


def _payloads() -> list:
    return [_pdf_payload(random.Random(1000 + i), f)
            for i, f in enumerate(FLAVORS)]


def _md5(obj) -> str:
    return hashlib.md5(json.dumps(obj, sort_keys=True).encode()).hexdigest()


class _LocalFrame:
    """The two DataFrame calls ``with_searchable_pdf`` makes, run
    in-process over one pandas batch, so the blobs are digested without
    a Spark job."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def select(self, *cols):
        return _LocalFrame(self.pdf[list(cols)])

    def mapInPandas(self, fn, schema):
        return pd.concat(list(fn(iter([self.pdf]))), ignore_index=True)


def test_extract_batch_digest():
    out = extract_batch(pd.Series(_payloads() + [CORRUPT]))
    rows = [[r.extracted_text, list(r.spans), r.method, int(r.n_pages),
             r.error] for r in out.itertuples()]
    assert _md5(rows) == GOLDEN["extract_batch"]


def test_process_pdf_bytes_digest():
    outs = []
    for payload in _payloads():
        data = base64.b64decode(payload)
        n = MiniPdf(data).page_count
        outs.append(process_pdf_bytes(data))
        outs.append(process_pdf_bytes(data, pages=[n, 1]))
        outs.append(process_pdf_bytes(data, ignore_top=12.0,
                                      ignore_bottom=10.0))
    assert _md5(outs) == GOLDEN["process_pdf_bytes"]


def test_with_searchable_pdf_digest():
    payloads = _payloads() + [CORRUPT]
    frame = _LocalFrame(pd.DataFrame({
        "conv_id": ["c"] * len(payloads),
        "turn_idx": list(range(len(payloads))),
        "text": payloads}))
    out = with_searchable_pdf(frame)
    blobs = [None if b is None else hashlib.md5(b).hexdigest()
             for b in out["searchable_pdf"]]
    assert blobs[0] is None      # text-only document: no raster pages
    assert blobs[-1] is None     # corrupt payload: contained as NULL
    assert _md5(blobs) == GOLDEN["with_searchable_pdf"]
