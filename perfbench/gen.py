"""Seed-derived benchmark inputs and their oracle answers.

Every input is a pure function of ``(workload, seed, rep)``:

* ``rep`` is ``"w0", "w1", ...`` for the untimed warm-up calls and
  ``0, 1, ...`` for the timed calls, so each call gets its own payloads;
* every payload string carries the tag ``s<seed>r<rep>`` (in the text
  layer or the scanned raster of PDFs, in a paragraph of HTML, at the
  end of plain turns, at the start of curate texts), so no two runs of
  one process and no two seeds ever share a payload, and the per-worker
  payload cache in the program can never serve a timed run.

Inputs are written under
``<cache>/v<version>-<workload>-s<seed>-<size>-r<rep>/`` together with
the oracle answers (``oracle.extract_turn`` once per
distinct payload, computed in a spawn pool), so a repeated seed reuses
them. Generation runs outside the benchmark's set-up and timed windows.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
from concurrent.futures import ProcessPoolExecutor
import multiprocessing

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_ocr_spark.minipdf import (
    ImagePage, ScanLine, TextPage, TextSpan, build_pdf,
)

WORKLOADS = ("pdf_scan", "chat_mix", "curate_chain")
# bump when generated content changes, so cached inputs are not reused
GEN_VERSION = 2

# Input size of one call (the warm-up and every timed call): the harness
# makes calls until --seconds of timed calls and at least MIN_REPS.
SIZES = {
    # distinct raster PDFs per call, two PDF turns per conversation
    "pdf_scan": {"n_pdfs": 20},
    # conversations per call (~2.5k turns); conversation 13 has 500 turns
    "chat_mix": {"n_convs": 80, "n_pdf_pool": 8, "n_html_pool": 24},
    # extracted turns per call
    "curate_chain": {"n_turns": 300},
}

_WORDS = (
    "data spark table query batch stream filter merge page line text scan "
    "column row value index shard block token layout order group join hash "
    "range split plan stage task core node disk"
).split()
_RASTER_FLAVORS = ("image", "mixed", "headfoot", "skew", "noise")
_POOL_FLAVORS = ("text", "text", "text", "image", "mixed", "headfoot",
                 "skew", "noise")


def tag(seed: int, rep) -> str:
    return f"s{seed}r{rep}"


def size_key(sizes: dict) -> str:
    return "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))


def _rng(workload: str, seed: int, rep) -> random.Random:
    # str seeds hash with sha512: stable across processes and platforms
    return random.Random(f"{workload}:{seed}:{rep}")


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


# -- PDF payloads -------------------------------------------------------------

def _text_page(rng: random.Random, label: str | None = None) -> TextPage:
    lines = [_sentence(rng, 12) + " " + _sentence(rng, 4)]
    lines += [_sentence(rng, rng.randint(3, 8)) for _ in range(2)]
    if label:
        lines.append(label)
    return TextPage(spans=[TextSpan(x=20.0, y=360.0 - 16.0 * i, size=12.0,
                                    text=t) for i, t in enumerate(lines)])


def _scan_page(rng: random.Random, label: str | None = None,
               header: str | None = None, footer: str | None = None,
               skew: float = 0.0, noise: float = 0.0) -> ImagePage:
    texts = [_sentence(rng, rng.randint(2, 4)) for _ in range(2)]
    if label:
        texts[0] = f"{label} {texts[0]}"
    lines, y = [], 36
    if header:
        lines.append(ScanLine(x=20, y=y, size=12, text=header))
        y += 70
    for t in texts:
        lines.append(ScanLine(x=20, y=y, size=12, text=t))
        y += 70
    if footer:
        lines.append(ScanLine(x=20, y=min(y + 40, 360), size=12,
                              text=footer))
    return ImagePage(lines=lines, skew_deg=skew, noise=noise,
                     seed=rng.randint(0, 2 ** 31))


def pdf_payload(rng: random.Random, flavor: str, label: str,
                variant: int) -> str:
    """base64 PDF of one flavor; ``label`` lands on the first page. The
    page count depends only on ``flavor`` and ``variant``, never on the
    seed, so every seed asks for the same decode work."""
    if flavor == "text":
        pages = [_text_page(rng, label)] + [
            _text_page(rng) for _ in range(variant % 4)]
    elif flavor == "image":
        pages = [_scan_page(rng, label)] + [
            _scan_page(rng) for _ in range(variant % 2)]
    elif flavor == "mixed":
        pages = [_text_page(rng, label), _scan_page(rng), _text_page(rng)]
    elif flavor == "headfoot":
        pages = [_scan_page(rng, label if i == 0 else None,
                            header="ACME Quarterly",
                            footer="Company Confidential")
                 for i in range(3)]
    elif flavor == "skew":
        pages = [_scan_page(rng, label, skew=2.5)]
    elif flavor == "noise":
        pages = [_scan_page(rng, label, noise=0.0005)]
    else:
        raise ValueError(flavor)
    return base64.b64encode(build_pdf(pages)).decode()


def _html_payload(rng: random.Random, label: str, promo: bool) -> str:
    sections = []
    for i in range(rng.randint(2, 4)):
        body = _sentence(rng, rng.randint(8, 20))
        if i == 0:
            body = f"{label} {body}"
        extra = "<p>Subscribe to our newsletter!</p>" if promo else ""
        sections.append(f"<section><h2>{_sentence(rng, 3)}</h2>"
                        f"<p>{body}</p>{extra}</section>")
    return ("<!DOCTYPE html><html><head><title>doc</title>"
            "<style>body{margin:0}</style><script>var t=1;</script></head>"
            "<body><nav>Home | Docs | About</nav><header>SiteName</header>"
            + "".join(sections)
            + "<footer>(c) 2026 SiteName</footer></body></html>")


# -- transcripts tables -------------------------------------------------------

def _transcripts(rows: list) -> pa.Table:
    """(conv_id, turn_idx, role, text, tool, ts) like the program's
    transcripts table; ``rows`` holds (conv_seq, turn_idx, text)."""
    roles = ("user", "assistant", "tool")
    base = 1767225600_000_000  # 2026-01-01T00:00:00Z in microseconds
    return pa.table({
        "conv_id": pa.array([f"conv-{c:06d}" for c, _, _ in rows],
                            pa.string()),
        "turn_idx": pa.array([t for _, t, _ in rows], pa.int32()),
        "role": pa.array([roles[t % 3] for _, t, _ in rows], pa.string()),
        "text": pa.array([x for _, _, x in rows], pa.string()),
        "tool": pa.array([
            "pdf_reader" if x.startswith("JVBERi")
            else ("browser" if x.startswith("<!DOCTYPE") else "")
            for _, _, x in rows], pa.string()),
        "ts": pa.array([base + (c * 3600 + t * 60) * 1_000_000
                        for c, t, _ in rows], pa.timestamp("us")),
    })


def pdf_scan_rows(seed: int, rep, n_pdfs: int) -> list:
    """Only PDF turns (two per conversation), raster flavors in turn,
    every payload distinct."""
    rng = _rng("pdf_scan", seed, rep)
    k = len(_RASTER_FLAVORS)
    return [(i // 2, i % 2, pdf_payload(rng, _RASTER_FLAVORS[i % k],
                                        f"{tag(seed, rep)} doc{i}", i // k))
            for i in range(n_pdfs)]


def chat_mix_rows(seed: int, rep, n_convs: int, n_pdf_pool: int,
                  n_html_pool: int) -> list:
    """60% plain, 25% HTML, 15% PDF from per-run pools; conversation 13
    is a 500-turn skew conversation."""
    rng = _rng("chat_mix", seed, rep)
    t = tag(seed, rep)
    k = len(_POOL_FLAVORS)
    pdfs = [pdf_payload(rng, _POOL_FLAVORS[i % k], f"{t} pdf{i}", i // k)
            for i in range(n_pdf_pool)]
    htmls = [_html_payload(rng, f"{t} page{i}", promo=(i % 2 == 0))
             for i in range(n_html_pool)]
    # conversation lengths and the kind counts do not depend on the seed:
    # every seed asks for the same amount of each kind of work
    lengths = [500 if c == 13 else 10 + (7 * c) % 31 for c in range(n_convs)]
    n = sum(lengths)
    n_pdf, n_html = round(0.15 * n), round(0.25 * n)
    kinds = ["pdf"] * n_pdf + ["html"] * n_html \
        + ["plain"] * (n - n_pdf - n_html)
    rng.shuffle(kinds)
    rows, i = [], 0
    for c, length in enumerate(lengths):
        for k in range(length):
            if kinds[i] == "plain":
                text = f"{_sentence(rng, rng.randint(5, 40))} {t}"
            elif kinds[i] == "html":
                text = htmls[rng.randrange(n_html_pool)]
            else:
                text = pdfs[rng.randrange(n_pdf_pool)]
            rows.append((c, k, text))
            i += 1
    return rows


# -- curate_chain: an extraction-output-shaped table -------------------------

_SYLL = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pu", "da",
         "fe", "gi", "ho", "ju", "be", "co", "ya", "wi", "xo")


def _vocab(rng: random.Random, n: int = 400) -> list:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLL)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


# planted shares of the rows: exact copies and light edits of base texts
EXACT_SHARE = 0.20
NEAR_SHARE = 0.15


def curate_rows(seed: int, rep, n_turns: int) -> list:
    """Rows in the shape of the program's OUTPUT_SCHEMA plus the planted
    exact-duplicate cluster id of each row (-1 when not planted).

    About EXACT_SHARE of rows copy a base text verbatim (clusters of 2-5
    copies) and NEAR_SHARE are near-duplicates of a base text (two words
    of ~40 replaced); the rest are unique texts."""
    rng = _rng("curate_chain", seed, rep)
    vocab = _vocab(rng)
    t = tag(seed, rep)
    texts, exact_of = [], []
    n_base = 0
    while len(texts) < n_turns:
        base = " ".join(rng.choice(vocab)
                        for _ in range(rng.randint(25, 60)))
        base = f"{t} b{n_base} {base}"
        n_base += 1
        roll = rng.random()
        if roll < EXACT_SHARE / 2.5:
            k = rng.randint(2, 5)
            texts += [base] * k
            exact_of += [n_base] * k
        elif roll < (EXACT_SHARE / 2.5) + NEAR_SHARE / 2.0:
            texts.append(base)
            exact_of.append(-1)
            w = base.split(" ")
            for _ in range(2):
                w[rng.randrange(2, len(w))] = rng.choice(vocab)
            texts.append(" ".join(w))
            exact_of.append(-1)
        else:
            texts.append(base)
            exact_of.append(-1)
    texts, exact_of = texts[:n_turns], exact_of[:n_turns]
    order = list(range(len(texts)))
    rng.shuffle(order)  # scatter cluster members across conversations
    rows = []
    for pos, i in enumerate(order):
        conv, turn = divmod(pos, 20)
        rows.append((conv, turn, texts[i], exact_of[i]))
    return rows


def _curate_table(rows: list) -> pa.Table:
    span_t = pa.list_(pa.struct([("start", pa.int32()), ("end", pa.int32())]))
    n = len(rows)
    return pa.table({
        "conv_id": pa.array([f"conv-{c:06d}" for c, _, _, _ in rows],
                            pa.string()),
        "turn_idx": pa.array([t for _, t, _, _ in rows], pa.int32()),
        "extracted_text": pa.array([x for _, _, x, _ in rows], pa.string()),
        "spans": pa.array([[{"start": 0, "end": len(x)}]
                           for _, _, x, _ in rows], span_t),
        "method": pa.array(["plain"] * n, pa.string()),
        "confidence": pa.array([1.0] * n, pa.float64()),
        "n_pages": pa.array([1] * n, pa.int32()),
        "error": pa.array([None] * n, pa.string()),
        "elapsed_us": pa.array([0] * n, pa.int64()),
        "bucket": pa.array([c % 64 for c, _, _, _ in rows], pa.int32()),
    })


# -- oracle -------------------------------------------------------------------

def payload_key(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def _oracle_one(text: str) -> tuple:
    from pdf_ocr_spark.oracle import extract_turn
    r = extract_turn(text)
    return r.extracted_text, [list(s) for s in r.spans]


def oracle_answers(payloads: list, procs: int) -> dict:
    """md5(payload) -> [extracted_text, spans] for every distinct payload.

    Plain payloads are answered in-process; PDF and HTML payloads go to a
    spawn pool of ``procs`` workers."""
    distinct = {payload_key(p): p for p in payloads}
    heavy = [(k, p) for k, p in distinct.items()
             if p.startswith(("JVBERi", "<!DOCTYPE"))]
    out = {k: list(_oracle_one(p)) for k, p in distinct.items()
           if not p.startswith(("JVBERi", "<!DOCTYPE"))}
    if heavy:
        ctx = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(max_workers=max(1, procs),
                                 mp_context=ctx) as ex:
            res = ex.map(_oracle_one, [p for _, p in heavy], chunksize=1)
            for (k, _), r in zip(heavy, res):
                out[k] = list(r)
        _stop_resource_tracker()
    return out


def _stop_resource_tracker() -> None:
    """The pool's queues start multiprocessing's resource tracker process;
    stop it and wait for it instead of leaving it to exit after us."""
    from multiprocessing import resource_tracker
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


# -- cached inputs ------------------------------------------------------------

def input_dir(cache_root: str, workload: str, seed: int, rep) -> str:
    sk = size_key(SIZES[workload])
    return os.path.join(cache_root,
                        f"v{GEN_VERSION}-{workload}-s{seed}-{sk}-r{rep}")


def make_inputs(cache_root: str, workload: str, seed: int, reps: list,
                procs: int) -> list:
    """Write (or reuse) the inputs of ``reps`` and their expected answers;
    one oracle pool serves every input that is not cached yet.

    Each returned dict holds "path", "n_turns" and "payload_keys"; for
    extraction workloads "row_keys" (the payload md5 of each input row)
    and "answers" (payload md5 -> oracle [extracted_text, spans]); for
    curate_chain "exact_cluster" (the planted cluster of each row)."""
    metas, todo = {}, {}
    for rep in reps:
        d = input_dir(cache_root, workload, seed, rep)
        meta_path = os.path.join(d, "expected.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                metas[rep] = json.load(f)
            metas[rep]["path"] = os.path.join(d, "input.parquet")
            continue
        sizes = SIZES[workload]
        if workload == "curate_chain":
            rows = curate_rows(seed, rep, **sizes)
            todo[rep] = (_curate_table(rows), {
                "n_turns": len(rows),
                "payload_keys": sorted({payload_key(x)
                                        for _, _, x, _ in rows}),
                "exact_cluster": [e for _, _, _, e in rows]})
        else:
            rows = (pdf_scan_rows if workload == "pdf_scan"
                    else chat_mix_rows)(seed, rep, **sizes)
            keys = [payload_key(x) for _, _, x in rows]
            todo[rep] = (_transcripts(rows), {
                "n_turns": len(rows), "payload_keys": sorted(set(keys)),
                "row_keys": keys, "texts": [x for _, _, x in rows]})
    if workload != "curate_chain" and todo:
        answers = oracle_answers(
            [x for _, m in todo.values() for x in m["texts"]], procs)
        for _, m in todo.values():
            texts = m.pop("texts")
            m["answers"] = {payload_key(x): answers[payload_key(x)]
                            for x in texts}
    for rep, (table, meta) in todo.items():
        d = input_dir(cache_root, workload, seed, rep)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "input.parquet")
        pq.write_table(table, path + ".tmp", row_group_size=4096)
        os.replace(path + ".tmp", path)
        meta_path = os.path.join(d, "expected.json")
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
        meta["path"] = path
        metas[rep] = meta
    return [metas[rep] for rep in reps]
