"""Deterministic synthetic transcripts fixtures (FIXTURES.md).

Generates the Iceberg-shaped transcripts table
``(conv_id, turn_idx, role, text, tool, ts)`` as parquet, pure pyarrow (no
Spark needed), seed-stable. Three tiers:

  * unit     — 4 conversations, ~20 turns, every payload kind represented
  * pipeline — 100 conversations, ~2000 turns, one 500-turn skew conversation
  * bench    — parameterizable, default 2000 conversations / ~50k turns

Payload kinds (see pdf_ocr_spark.detector): base64 minipdf documents
(text / image / mixed / repeated header-footer / >50-page sampled / skewed),
embedded HTML with boilerplate, plain chat text, plus a malformed-payload
row to exercise error containment.
"""

from __future__ import annotations

import base64
import os
import random
import tempfile
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from .minipdf import ImagePage, ScanLine, TextPage, TextSpan, build_pdf

_EPOCH = datetime(2026, 1, 1, 0, 0, 0)
_ROLES = ["user", "assistant", "tool"]
_WORDS = (
    "data spark table query batch stream filter merge page line text scan "
    "column row value index shard block token layout order group join hash "
    "range split plan stage task core node disk "
).split()


def _sentence(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _text_page(rng: random.Random, n_lines: int = 3,
               min_chars: int = 55) -> TextPage:
    lines = []
    body = _sentence(rng, 12)
    while len(body) < min_chars:
        body += " " + _sentence(rng, 4)
    lines.append(body)
    for _ in range(n_lines - 1):
        lines.append(_sentence(rng, rng.randint(3, 8)))
    return TextPage(spans=[
        TextSpan(x=20.0, y=360.0 - 16.0 * i, size=12.0, text=t)
        for i, t in enumerate(lines)])


def _scan_page(rng: random.Random, n_lines: int = 2, header: str = None,
               footer: str = None, skew: float = 0.0,
               noise: float = 0.0) -> ImagePage:
    lines = []
    y = 36
    if header:
        lines.append(ScanLine(x=20, y=y, size=12, text=header))
        y += 70
    for _ in range(n_lines):
        lines.append(ScanLine(
            x=20, y=y, size=12, text=_sentence(rng, rng.randint(2, 4))))
        y += 70
    if footer:
        lines.append(ScanLine(x=20, y=min(y + 40, 360), size=12,
                              text=footer))
    return ImagePage(lines=lines, skew_deg=skew, noise=noise,
                     seed=rng.randint(0, 2 ** 31))


def _pdf_payload(rng: random.Random, flavor: str) -> str:
    if flavor == "text":
        pages = [_text_page(rng) for _ in range(rng.randint(1, 4))]
    elif flavor == "image":
        pages = [_scan_page(rng) for _ in range(rng.randint(1, 2))]
    elif flavor == "mixed":
        pages = [_text_page(rng), _scan_page(rng), _text_page(rng)]
    elif flavor == "headfoot":
        pages = [_scan_page(rng, header="ACME Quarterly",
                            footer="Company Confidential")
                 for _ in range(3)]
    elif flavor == "big":
        pages = [_text_page(rng, n_lines=1) for _ in range(52)]
    elif flavor == "skew":
        pages = [_scan_page(rng, skew=2.5)]
    elif flavor == "noise":
        pages = [_scan_page(rng, noise=0.0005)]
    else:  # pragma: no cover
        raise ValueError(flavor)
    return base64.b64encode(build_pdf(pages)).decode()


def _html_payload(rng: random.Random, with_boilerplate: bool = True) -> str:
    sections = []
    n = rng.randint(2, 4)
    for i in range(n):
        promo = "<p>Subscribe to our newsletter!</p>" if with_boilerplate \
            else ""
        sections.append(
            f"<section><h2>{_sentence(rng, 3)}</h2>"
            f"<p>{_sentence(rng, rng.randint(8, 20))}</p>{promo}</section>")
    return (
        "<!DOCTYPE html><html><head><title>doc</title>"
        "<style>body{margin:0}</style><script>var t=1;</script></head>"
        "<body><nav>Home | Docs | About</nav><header>SiteName</header>"
        + "".join(sections) +
        "<footer>(c) 2026 SiteName</footer></body></html>")


def _plain_payload(rng: random.Random) -> str:
    return _sentence(rng, rng.randint(5, 40))


_PDF_FLAVORS = ["text", "text", "text", "image", "mixed", "headfoot",
                "skew", "noise"]


def _payload(rng: random.Random, kind_roll: float, pool: dict) -> str:
    """kind mix: 60% plain, 25% html, 15% pdf (pooled payloads)."""
    if kind_roll < 0.60:
        return _plain_payload(rng)
    if kind_roll < 0.85:
        return pool["html"][rng.randrange(len(pool["html"]))]
    return pool["pdf"][rng.randrange(len(pool["pdf"]))]


def _build_pool(rng: random.Random, n_pdf: int, n_html: int,
                include_big: bool) -> dict:
    pdfs = []
    flavors = list(_PDF_FLAVORS)
    if include_big:
        flavors.append("big")
    for i in range(n_pdf):
        pdfs.append(_pdf_payload(rng, flavors[i % len(flavors)]))
    htmls = [_html_payload(rng, with_boilerplate=(i % 2 == 0))
             for i in range(n_html)]
    return {"pdf": pdfs, "html": htmls}


# bump when fixture CONTENT changes so path-keyed caches regenerate
# (v2: added the NULL-payload turn to the unit tier)
FIXTURE_VERSION = 3


def generate_transcripts(out_path: str, tier: str = "unit",
                         n_convs: int | None = None,
                         n_pdf_pool: int | None = None,
                         n_html_pool: int | None = None,
                         seed: int = 42) -> int:
    """Write the transcripts parquet; returns row count."""
    rng = random.Random(seed)
    rows = {k: [] for k in
            ("conv_id", "turn_idx", "role", "text", "tool", "ts")}

    def add(conv_seq: int, turn_idx: int, text: str | None):
        rows["conv_id"].append(f"conv-{conv_seq:06d}")
        rows["turn_idx"].append(turn_idx)
        rows["role"].append(_ROLES[turn_idx % 3])
        rows["text"].append(text)
        # the tool label derives from the SAME router the pipeline uses
        # (a private re-implementation here had case-sensitive and
        # no-lstrip variants that could disagree with actual routing)
        from .detector import KIND_HTML, KIND_PDF, detect_payload_kind
        kind = detect_payload_kind(text)
        rows["tool"].append(
            "pdf_reader" if kind == KIND_PDF
            else ("browser" if kind == KIND_HTML else ""))
        rows["ts"].append(_EPOCH + timedelta(seconds=conv_seq * 3600
                                             + turn_idx * 60))

    if tier == "unit":
        # conversation 0: one turn per PDF flavor (incl. big + invalid)
        flavors = _PDF_FLAVORS[:6] + ["skew", "noise", "big"]
        seen = []
        for f in dict.fromkeys(flavors):
            seen.append(_pdf_payload(rng, f))
        for i, p in enumerate(seen):
            add(0, i, p)
        add(0, len(seen), "JVBERi!!corrupt-base64-payload!!")
        # conversation 1: html variants
        add(1, 0, _html_payload(rng, True))
        add(1, 1, _html_payload(rng, False))
        add(1, 2, "<html><body><p>bare</p></body></html>")
        # conversation 2: plain turns
        for i in range(4):
            add(2, i, _plain_payload(rng))
        add(2, 4, "")
        add(2, 5, None)  # NULL payload: must surface as an error row
        # conversation 3: mixed ordering
        add(3, 0, _plain_payload(rng))
        add(3, 1, _pdf_payload(rng, "text"))
        add(3, 2, _html_payload(rng, True))
    elif tier == "pipeline":
        pool = _build_pool(rng, n_pdf=12, n_html=8, include_big=True)
        for c in range(100):
            n_turns = 500 if c == 7 else rng.randint(5, 25)
            for t in range(n_turns):
                add(c, t, _payload(rng, rng.random(), pool))
    elif tier == "bench":
        n_convs = n_convs or 2000
        # pool sized for ~10-100x payload reuse (realistic attachment
        # duplication), so the dedup-before-decode pre-pass is exercised
        # without trivializing decode work
        pool = _build_pool(rng, n_pdf=n_pdf_pool or 192,
                           n_html=n_html_pool or 64, include_big=False)
        for c in range(n_convs):
            n_turns = 500 if c == 13 else rng.randint(10, 40)
            for t in range(n_turns):
                add(c, t, _payload(rng, rng.random(), pool))
    else:
        raise ValueError(f"unknown tier {tier}")

    table = pa.table({
        "conv_id": pa.array(rows["conv_id"], pa.string()),
        "turn_idx": pa.array(rows["turn_idx"], pa.int32()),
        "role": pa.array(rows["role"], pa.string()),
        "text": pa.array(rows["text"], pa.string()),
        "tool": pa.array(rows["tool"], pa.string()),
        "ts": pa.array(rows["ts"], pa.timestamp("us")),
    })
    # Bounded row groups: a single-row-group file binds every
    # scan-partition stage (the light extraction path, payload hashing)
    # to ONE Spark task regardless of cores — parquet can only split at
    # row-group boundaries. Production 10^12-turn tables have millions of
    # row groups/files; the fixture must not accidentally serialize the
    # scan stages that the scaling bench measures (found r3: the bench
    # fixture was one 299k-row group and the light path showed zero
    # speedup from 1 -> 4 cores).
    pq.write_table(table, out_path, row_group_size=4096)
    return table.num_rows


def cached_fixture(tier: str = "unit", **kw) -> str:
    """Path of a transcripts fixture generated once per machine under
    ``<tempdir>/pdf_ocr_spark_fixtures``. The file name carries the tier,
    FIXTURE_VERSION and every generator argument, so a content change or
    a different argument never reads a stale file."""
    cache = os.path.join(tempfile.gettempdir(), "pdf_ocr_spark_fixtures")
    os.makedirs(cache, exist_ok=True)
    args = "".join(f"_{k}{v}" for k, v in sorted(kw.items()))
    path = os.path.join(
        cache, f"transcripts_{tier}_v{FIXTURE_VERSION}{args}.parquet")
    if not os.path.exists(path):
        # write then rename: a concurrent reader never sees a partial file
        tmp = f"{path}.{os.getpid()}.tmp"
        generate_transcripts(tmp, tier=tier, **kw)
        os.replace(tmp, path)
    return path
