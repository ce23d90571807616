"""Golden output digests for each page kernel and the OCR engine.

The oracle and the golden consumer digests (test_golden_digests.py) run
the same kernels as the Spark path, so equality cannot say which kernel
changed, and a change that cancels out downstream slips past both. Each
test here md5s one kernel's output over the raster pages of the
fixed-seed golden fixture documents, rendered at the engine's default
dpi, and compares it with a committed digest. Renders are pure black
and white, which leaves a kernel's rounding of gray levels untested, so
each page also comes as a fixed-seed scan: the render plus uniform
noise. Every kernel gets the page itself, not another kernel's output,
so a failing digest names the kernel that moved. A deliberate output
change must update the digest and say why.
"""

import base64
import hashlib

import numpy as np
import pytest
from test_golden_digests import _md5, _payloads

from pdf_ocr_spark.config import DEFAULT
from pdf_ocr_spark.detector import detect_pdf
from pdf_ocr_spark.kernels.binarize import binarize
from pdf_ocr_spark.kernels.denoise import denoise
from pdf_ocr_spark.kernels.deskew import deskew, rotate_image
from pdf_ocr_spark.minipdf import MiniPdf
from pdf_ocr_spark.ocr.engine import get_engine

ANGLES = (2.5, -1.25, 90.0)

GOLDEN = {
    "denoise": "0c9c05edcb9b6dd9ba40a180098ff48d",
    "deskew": "effcafb0d1156b323357aec60cc943de",
    "binarize": "6fdc7bab282cd58df060f192f6baa651",
    "rotate_image": "9565f1cd23f218d218e166d407ced83f",
    "recognize": "6253af93e80790c4782e178eeb3ccdfa",
}


@pytest.fixture(scope="module")
def pages() -> list:
    out = []
    for payload in _payloads():
        pdf = MiniPdf(base64.b64decode(payload))
        for page in detect_pdf(pdf).image_pages:
            out.append(pdf.render_page(page, dpi=DEFAULT.default_dpi))
    assert len(out) == 7
    rng = np.random.default_rng(2024)
    scans = [np.clip(img.astype(np.int16)
                     + rng.integers(-48, 49, size=img.shape), 0, 255)
             .astype(np.uint8) for img in out]
    return out + scans


def _img_md5(img: np.ndarray) -> str:
    h = hashlib.md5(f"{img.shape}{img.dtype}".encode())
    h.update(np.ascontiguousarray(img).tobytes())
    return h.hexdigest()


def test_denoise_digest(pages):
    out = [_img_md5(denoise(img, method="gaussian")) for img in pages]
    assert _md5(out) == GOLDEN["denoise"]


def test_deskew_digest(pages):
    out = []
    for img in pages:
        fixed, angle = deskew(img)
        out.append([round(float(angle), 6), _img_md5(fixed)])
    assert any(angle != 0.0 for angle, _ in out)  # the skew fixture
    assert _md5(out) == GOLDEN["deskew"]


def test_binarize_digest(pages):
    out = [_img_md5(binarize(img, method="otsu")) for img in pages]
    assert _md5(out) == GOLDEN["binarize"]


def test_rotate_image_digest(pages):
    out = [_img_md5(rotate_image(img, angle))
           for img in pages for angle in ANGLES]
    assert _md5(out) == GOLDEN["rotate_image"]


def test_recognize_digest(pages):
    engine = get_engine()
    out = []
    for n, img in enumerate(pages):
        res = engine.recognize(img, n)
        out.append([[line.text,
                     [[round(float(v), 3) for v in p] for p in line.box]]
                    for line in res.lines])
    assert any(out)
    assert _md5(out) == GOLDEN["recognize"]
