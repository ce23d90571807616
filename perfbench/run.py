#!/usr/bin/env python3
"""pdf-ocr-spark benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload pdf_scan --seed 1 --seconds 10 \
        --trace 0

Runs from the root of a source checkout. One Spark session (local[k],
k <= nproc) per process, one job at a time:

1. generate the seed's inputs and oracle answers (cached under
   ``.perfbench/inputs``), outside every timed window;
2. set up: session, package ship, Python workers, OCR engine warm-up and
   WARMUP_CALLS untimed calls on inputs of their own (``setup_s``);
3. timed runs, each on never-seen payloads, until ``--seconds`` of timed
   calls and at least MIN_REPS runs; every output row is checked against
   the oracle;
4. with ``--trace 1``, the session logs Spark events, and after the timed
   runs the in-process layers are replayed under spans.

The last stdout line is the JSON result; the line before it holds the
per-run detail. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the program under test is the checkout's own source tree
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import gen  # noqa: E402
import procstat  # noqa: E402
import spans  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
DIGESTS = os.path.join(HERE, "digests.json")

DEFAULT_SEED = 1
MIN_REPS = 3
# untimed calls before the first timed one: JVM code keeps getting faster
# over the first calls of a session
WARMUP_CALLS = 2
# a process must end within 180 s; leave room for teardown
PROCESS_BUDGET_S = 165.0
CALL_TIMEOUT_S = 60.0
TRACE_RESERVE_S = 45.0
# Spark cores and oracle processes: at most 4, never more than nproc
PROCS = max(1, min(4, len(os.sched_getaffinity(0))))

END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "core_s_per_kturn": "s/kturn",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "pipeline.pre_write_s": "s", "pipeline.write_phase_s": "s",
    "pipeline.bookkeeping_s": "s",
    "pipeline.jobs": "count", "pipeline.tasks": "count",
    "pipeline.input_scans": "count", "pipeline.shuffle_write_mb": "MB",
    "pipeline.core_busy_frac": "ratio",
    "stage.pre_write.exec_s": "s", "stage.light_udf.exec_s": "s",
    "stage.payload_agg.exec_s": "s", "stage.decode_udf.exec_s": "s",
    "stage.decode_udf.tasks": "count", "stage.decode_udf.max_task_s": "s",
    "stage.decode_udf.share": "ratio", "stage.join.exec_s": "s",
    "stage.write.exec_s": "s", "stage.lineage.exec_s": "s",
    "stage.coverage": "ratio",
    "extract.payload_s": "s", "extract.light_s": "s",
    "extract.cache_hits": "count", "extract.dup_factor": "ratio",
    "pipeline.decode_gap": "ratio",
    "detector.decode_s": "s", "minipdf.open_s": "s",
    "detector.detect_s": "s", "minipdf.render_s": "s",
    "minipdf.pages_rendered": "count", "minipdf.pages_text": "count",
    "kernels.denoise_s": "s", "kernels.deskew_s": "s",
    "kernels.pages_rotated": "count",
    "ocr.recognize_s": "s", "ocr.lines": "count", "ocr.layout_s": "s",
    "ocr.headfoot_s": "s",
    "html.extract_s": "s", "html.blocks": "count",
    "catalog.output_mb": "MB", "catalog.files": "count",
    "curate.jobs": "count", "curate.shuffle_write_mb": "MB",
    "curate.exact_s": "s", "curate.neardup_s": "s",
    "curate.clusters_s": "s", "curate.kept_frac": "ratio",
    "check.bad_turn_frac": "ratio",
    "trace.turns_per_s": "1/s",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Watchdog:
    """Cancels every Spark job once ``timeout`` seconds pass, and keeps
    cancelling until the guarded call returns, so a hung call raises
    instead of being recorded as a (clamped) timing."""
    def __init__(self, sc, timeout: float):
        self.sc, self.timeout = sc, timeout
        self.fired = False
        self._done = threading.Event()

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        if self._done.wait(self.timeout):
            return
        self.fired = True
        while not self._done.wait(1.0):
            self.sc.cancelAllJobs()
        # one last cancel covers a job submitted during the final wait
        self.sc.cancelAllJobs()

    def __exit__(self, *exc):
        self._done.set()
        self._thread.join()
        return False


# -- correctness

def check_extraction(spark, out_path: str, meta: dict) -> tuple:
    """(bad turns, output digest). A turn is bad when its row is missing,
    duplicated, or differs from the oracle in extracted_text or spans;
    a row for a turn not in the input is bad as well."""
    from pyspark.sql import functions as F

    inp = pq.read_table(meta["path"], columns=["conv_id", "turn_idx"])
    keys = list(zip(inp.column("conv_id").to_pylist(),
                    inp.column("turn_idx").to_pylist()))
    expected = dict(zip(keys, meta["row_keys"]))
    want = {k: (hashlib.md5(t.encode()).hexdigest(), s)
            for k, (t, s) in meta["answers"].items()}
    rows = (spark.read.parquet(out_path)
            .select("conv_id", "turn_idx",
                    F.md5("extracted_text").alias("h"), "spans")
            .collect())
    seen, bad, lines = Counter(), set(), []
    extra = 0
    for r in rows:
        key = (r["conv_id"], r["turn_idx"])
        spans = [[s["start"], s["end"]] for s in (r["spans"] or [])]
        lines.append(f"{key[0]}\t{key[1]}\t{r['h']}\t{spans}")
        seen[key] += 1
        pk = expected.get(key)
        if pk is None:
            extra += 1
        elif (r["h"], spans) != tuple(want[pk]):
            bad.add(key)
    bad |= {k for k in expected if seen[k] != 1}
    return len(bad) + extra, _digest(lines)


def check_curate(rows: list, meta: dict) -> tuple:
    """(bad turns, output digest) for curate_corpus survivors: every
    survivor is an input turn and appears once, no two survivors share a
    text (so at most one survives per planted exact cluster), and a
    survivor of a planted exact cluster reports a cluster at least that
    large."""
    inp = pq.read_table(meta["path"],
                        columns=["conv_id", "turn_idx", "extracted_text"])
    keys = list(zip(inp.column("conv_id").to_pylist(),
                    inp.column("turn_idx").to_pylist()))
    text_of = dict(zip(keys, inp.column("extracted_text").to_pylist()))
    cluster_of = dict(zip(keys, meta["exact_cluster"]))
    planted = Counter(c for c in meta["exact_cluster"] if c >= 0)
    seen_key, seen_text = set(), set()
    bad, lines = 0, []
    for r in rows:
        key = (r["conv_id"], r["turn_idx"])
        lines.append("\t".join(str(v) for v in r))
        if key not in text_of or key in seen_key:
            bad += 1
            continue
        seen_key.add(key)
        text = text_of[key]
        c = cluster_of[key]
        if text in seen_text or (c >= 0 and r["cluster_size"] < planted[c]):
            bad += 1
        seen_text.add(text)
    return bad, _digest(lines)


def _digest(lines: list) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _dir_size(path: str) -> tuple:
    files, size = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size / 1e6


# -- the timed call

def timed_call(spark, workload: str, meta: dict, rep_dir: str, phase: str,
               timeout: float) -> dict:
    """Run one call with the process-tree CPU and RSS probes around it.
    Returns its figures, or {"error": ...} when it raised or timed out."""
    sc = spark.sparkContext
    sc.setLocalProperty(eventlog.PHASE_PROP, phase)
    load0 = os.getloadavg()[0]
    rss = procstat.PeakRss()
    cpu0 = procstat.tree_cpu_s()
    rss.start()
    t0 = time.perf_counter()
    res = {}
    try:
        with Watchdog(sc, timeout) as wd:
            if workload == "curate_chain":
                from pdf_ocr_spark.curate import curate_corpus
                res["rows"] = curate_corpus(
                    spark.read.parquet(meta["path"])).collect()
            else:
                from pdf_ocr_spark.pipeline import run_extraction
                res["m"] = run_extraction(
                    spark, meta["path"], os.path.join(rep_dir, "out"),
                    os.path.join(rep_dir, "lineage"), run_id=phase,
                    resume=False)
    except Exception as e:  # noqa: BLE001 - a failed call is a result
        res = {"error": f"{type(e).__name__}: {str(e)[:300]}"}
    wall = time.perf_counter() - t0
    peak = rss.stop()
    cpu = procstat.tree_cpu_s() - cpu0
    sc.setLocalProperty(eventlog.PHASE_PROP, None)
    if wd.fired:
        res = {"error": f"timeout after {timeout:.0f}s"}
    res.update(wall_s=wall, cpu_s=cpu, peak_rss_mb=peak,
               load_1m=[round(load0, 2), round(os.getloadavg()[0], 2)])
    return res


# -- traced layers

def replay_layers(meta: dict) -> dict:
    """Single-thread, in-process replay of one input's decode work under
    spans around the program's layer functions."""
    import pandas as pd

    from pdf_ocr_spark import extract
    from pdf_ocr_spark.minipdf import adapters, reader
    from pdf_ocr_spark.ocr import layout
    from pdf_ocr_spark.ocr.engine import get_engine

    texts = pq.read_table(meta["path"], columns=["text"]) \
        .column("text").to_pylist()
    pdf_turns = [t for t in texts if t.startswith("JVBERi")]
    pdfs = list(dict.fromkeys(pdf_turns))
    light = [t for t in texts if not t.startswith("JVBERi")]

    tr = spans.Tracer()
    engine_cls = type(get_engine())
    tr.wrap(extract, "decode_pdf_payload", "detector.decode")
    tr.wrap(adapters, "open_pdf", "minipdf.open")
    tr.wrap(extract, "detect_pdf", "detector.detect")
    tr.wrap(reader.MiniPdf, "render_page", "minipdf.render")
    tr.wrap(reader.MiniPdf, "extract_text", "minipdf.text")
    tr.wrap(extract, "denoise", "kernels.denoise")
    tr.wrap(extract, "deskew", "kernels.deskew",
            count=lambda r: {"kernels.pages_rotated": int(r[1] != 0)})
    tr.wrap(engine_cls, "recognize", "ocr.recognize",
            count=lambda r: {"ocr.lines": len(r.lines)})
    tr.wrap(layout, "process_page", "ocr.layout")
    tr.wrap(layout, "remove_headers_footers", "ocr.headfoot")
    tr.wrap(extract, "extract_html_blocks", "html.extract",
            count=lambda r: {"html.blocks": len(r)})
    try:
        if pdfs:
            with tr.span("extract.payload"):
                extract.extract_payload_batch(pd.Series(pdfs))
        if light:
            with tr.span("extract.light"):
                extract.extract_batch(pd.Series(light))
    finally:
        tr.restore()
    tr.dump(os.path.join(STATE, "traces", "spans.json"))
    st, tot, cnt = tr.self_times(), tr.totals(), tr.counts
    out = {f"{name}_s": st.get(name, 0.0) for name in (
        "detector.decode", "minipdf.open", "detector.detect",
        "minipdf.render", "kernels.denoise", "kernels.deskew",
        "ocr.recognize", "ocr.layout", "ocr.headfoot", "html.extract")}
    out.update({
        "extract.payload_s": tot.get("extract.payload", 0.0),
        "extract.light_s": tot.get("extract.light", 0.0),
        "extract.dup_factor": len(pdf_turns) / len(pdfs) if pdfs else 0.0,
        "minipdf.pages_rendered": cnt.get("minipdf.render.calls", 0),
        "minipdf.pages_text": cnt.get("minipdf.text.calls", 0),
        "kernels.pages_rotated": cnt.get("kernels.pages_rotated", 0),
        "ocr.lines": cnt.get("ocr.lines", 0),
        "html.blocks": cnt.get("html.blocks", 0),
    })
    return out


def curate_layers(spark, meta: dict) -> dict:
    """curate_corpus once under the event-log phase "curate" (its job count
    and shuffle bytes are read from the log), then the wall time of each
    dedup_extracted entry point, forced to completion."""
    from pdf_ocr_spark import dedup_extracted as de
    from pdf_ocr_spark.curate import curate_corpus

    df = spark.read.parquet(meta["path"])
    sc = spark.sparkContext
    sc.setLocalProperty(eventlog.PHASE_PROP, "curate")
    kept = len(curate_corpus(df).collect())
    sc.setLocalProperty(eventlog.PHASE_PROP, None)
    out = {"curate.kept_frac": kept / meta["n_turns"]}
    for name, fn in (("curate.exact_s", de.dedup_extracted_exact),
                     ("curate.neardup_s", de.dedup_extracted_neardup),
                     ("curate.clusters_s", de.dedup_extracted_clusters)):
        t0 = time.perf_counter()
        fn(df).write.format("noop").mode("overwrite").save()
        out[name] = time.perf_counter() - t0
    return out


def traced_layers(spark, args, ok: list, metas: list) -> dict:
    """Per-layer figures that need the live session: the curate layers on
    a curate_chain input, and for extraction workloads the in-process
    replay of the first timed input and the size of its output."""
    if args.workload == "curate_chain":
        cmeta = metas[0]
    else:
        cmeta, = gen.make_inputs(os.path.join(STATE, "inputs"),
                                 "curate_chain", args.seed, ["t"], PROCS)
    out = curate_layers(spark, cmeta)
    r0 = next((r for r in ok if r["phase"] == "r0"), None)
    if args.workload != "curate_chain" and r0 is not None:
        out.update(replay_layers(metas[0]))
        out["catalog.files"] = r0["out_files"]
        out["catalog.output_mb"] = r0["out_mb"]
    return out


def log_layers(events: list, ok: list, metas: list, workload: str) -> dict:
    """Event-log figures: the curate phase, and for extraction workloads
    the median over the timed runs of the pipeline and stage figures."""
    out = {}
    cur = eventlog.summarize(events).get("curate")
    if cur is not None:
        out["curate.jobs"] = cur["jobs"]
        out["curate.shuffle_write_mb"] = cur["shuffle_write_mb"]
    if workload == "curate_chain":
        return out
    per = []
    for r in ok:
        path = metas[int(r["phase"][1:])]["path"]
        f = eventlog.summarize(events, path).get(r["phase"])
        if f is None:
            continue
        cls, total = f["classes"], f["exec_s"]
        row = {
            "pipeline.jobs": f["jobs"], "pipeline.tasks": f["tasks"],
            "pipeline.input_scans": f["input_scans"],
            "pipeline.shuffle_write_mb": f["shuffle_write_mb"],
            "pipeline.core_busy_frac": total / (r["wall_s"] * PROCS),
            "stage.decode_udf.tasks": cls["decode_udf"]["tasks"],
            "stage.decode_udf.max_task_s": cls["decode_udf"]["max_task_s"],
            "stage.decode_udf.share":
                cls["decode_udf"]["exec_s"] / total if total else 0.0,
            "stage.coverage": sum(c["exec_s"] for c in cls.values())
            / f["stage_exec_s"] if f["stage_exec_s"] else 0.0,
        }
        for c in eventlog.CLASSES:
            row[f"stage.{c}.exec_s"] = cls[c]["exec_s"]
        for i, name in enumerate(("pipeline.pre_write_s",
                                  "pipeline.write_phase_s",
                                  "pipeline.bookkeeping_s")):
            row[name] = r["phases"][i]
        per.append(row)
    if per:
        out.update({k: _median([p[k] for p in per]) for k in per[0]})
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    pids = [p for p in procstat.tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procstat.wait_gone(pids, timeout=20)


# -- main

def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=gen.WORKLOADS)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    # everything this run and its children write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # a small, fixed driver heap keeps peak RSS steady between runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    cache = os.path.join(STATE, "inputs")
    wl = args.workload
    # a traced run still has the curate layers and the replay to do
    deadline = T_START + PROCESS_BUDGET_S - (TRACE_RESERVE_S if args.trace
                                             else 0.0)

    # 1. inputs (excluded from setup_s)
    t = time.monotonic()
    warm_reps = [f"w{i}" for i in range(WARMUP_CALLS)]
    metas = gen.make_inputs(cache, wl, args.seed,
                            warm_reps + list(range(MIN_REPS)), PROCS)
    warms, metas = metas[:WARMUP_CALLS], metas[WARMUP_CALLS:]
    gen_s = time.monotonic() - t

    # 2. set-up
    from pdf_ocr_spark.ocr.engine import get_engine
    from pdf_ocr_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # full scan locations in the logged plans (input_scans)
            "spark.sql.maxMetadataStringLength": "4096",
        })
    spark = build_session("perfbench", cores=PROCS,
                          shuffle_partitions=PROCS, extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.monotonic() - T_START - gen_s
        get_engine()
        warm_runs = [checked_call(spark, wl, m, os.path.join(work, rep),
                                  rep, max(1.0, deadline - time.monotonic()))
                     for rep, m in zip(warm_reps, warms)]
        setup_s = time.monotonic() - T_START - gen_s
        # 3. timed runs
        runs, gen_more_s = timed_runs(spark, args, work, metas, deadline)
        gen_s += gen_more_s
        ok = [r for r in runs if "error" not in r]
        # 4. per-layer figures that need the session
        layers = traced_layers(spark, args, ok, metas) if args.trace else {}
    finally:
        stop_spark(spark)
    warm_keys = {k for m in warms for k in m["payload_keys"]}
    disjoint = all(not warm_keys & set(m["payload_keys"]) for m in metas)
    checks_ok = disjoint and all(w.get("bad") == 0 for w in warm_runs)
    digest = runs[0].get("digest")

    turns_total = sum(r["turns"] for r in runs)
    bad_total = sum(r["bad"] for r in ok) + sum(
        r["turns"] for r in runs if "error" in r)
    cache_hits = sum(r.get("cache_hits", 0) for r in ok)

    tps = _median([r["turns"] / r["wall_s"] for r in ok])
    if args.trace:
        layers.update(log_layers(
            eventlog.load_events(os.path.join(work, "events")), ok, metas,
            wl))
        layers["check.bad_turn_frac"] = bad_total / turns_total
        layers["extract.cache_hits"] = cache_hits
        layers["trace.turns_per_s"] = tps
        payload_s = layers.get("extract.payload_s", 0.0)
        if payload_s:
            layers["pipeline.decode_gap"] = \
                layers.get("stage.decode_udf.exec_s", 0.0) / payload_s

    digest_ok = None
    if args.seed == DEFAULT_SEED and digest is not None:
        with open(DIGESTS) as f:
            ref = json.load(f)
        digest_ok = ref.get(wl) == digest
        if not digest_ok:
            print(f"WARNING: output digest of {wl} at seed {DEFAULT_SEED} "
                  f"changed: {digest} != {ref.get(wl)}", file=sys.stderr)

    correct = (checks_ok and bad_total == 0
               and cache_hits == 0 and bool(ok))
    metrics = {
        "setup_s": setup_s,
        "turns_per_s": tps,
        "core_s_per_kturn": _median([r["cpu_s"] / r["turns"] * 1000
                                     for r in ok]),
        "peak_rss_mb": _median([r["peak_rss_mb"] for r in ok]),
    }
    detail = {
        "workload": wl, "seed": args.seed, "trace": args.trace,
        "cores": PROCS, "gen_s": round(gen_s, 3),
        "session_s": round(session_s, 3),
        "warmup": [{k: w.get(k) for k in
                    ("wall_s", "error", "bad", "load_1m")}
                   for w in warm_runs],
        "runs": [{k: (round(v, 4) if isinstance(v, float) else v)
                  for k, v in r.items() if k != "digest"} for r in runs],
        "bad_turn_frac": bad_total / turns_total if turns_total else 1.0,
        "cache_hits": cache_hits, "payloads_disjoint": disjoint,
        "digest": digest, "digest_matches_reference": digest_ok,
        "total_s": round(time.monotonic() - T_START, 3),
    }
    print(json.dumps({"detail": detail}))
    table = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else metrics
    print(json.dumps({
        "correct": correct,
        "attempted": len(runs),
        "failed": len(runs) - len(ok),
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in table.items()},
    }))
    return 0


def checked_call(spark, workload: str, meta: dict, rep_dir: str,
                 phase: str, timeout: float) -> dict:
    """timed_call, then the correctness check of its output ("bad" turns
    and the output "digest"); the call's files go once it has returned."""
    r = timed_call(spark, workload, meta, rep_dir, phase, timeout)
    r.update(phase=phase, turns=meta["n_turns"])
    if "error" not in r:
        if workload == "curate_chain":
            rows = r.pop("rows")
            r["survivors"] = len(rows)
            r["bad"], r["digest"] = check_curate(rows, meta)
        else:
            out = os.path.join(rep_dir, "out")
            r["bad"], r["digest"] = check_extraction(spark, out, meta)
            m = r.pop("m")
            r["cache_hits"] = int(m.get("payload_cache_hits", 0))
            r["phases"] = [m["wall_time_s"] - m["write_phase_s"],
                           m["write_phase_s"], m["bookkeeping_s"]]
            r["out_files"], r["out_mb"] = _dir_size(out)
    shutil.rmtree(rep_dir, ignore_errors=True)
    return r


def timed_runs(spark, args, work: str, metas: list,
               deadline: float) -> tuple:
    """Timed calls on fresh inputs until ``args.seconds`` of timed calls
    and at least MIN_REPS calls. Returns (runs, seconds spent generating
    extra inputs); ``metas`` grows by the inputs generated here."""
    runs, timed_s, gen_s = [], 0.0, 0.0
    for rep in itertools.count():
        if rep >= len(metas):
            t = time.monotonic()
            metas += gen.make_inputs(os.path.join(STATE, "inputs"),
                                     args.workload, args.seed, [rep], PROCS)
            gen_s += time.monotonic() - t
        left = deadline - time.monotonic()
        r = checked_call(spark, args.workload, metas[rep],
                         os.path.join(work, f"r{rep}"), f"r{rep}",
                         min(CALL_TIMEOUT_S, max(1.0, left)))
        runs.append(r)
        timed_s += r["wall_s"] if "error" not in r else 0.0
        if rep + 1 >= MIN_REPS and timed_s >= args.seconds:
            break
        # stop early rather than overrun the process budget
        if time.monotonic() + 1.5 * (r["wall_s"] + 2) > deadline:
            break
    return runs, gen_s


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        sys.exit(1)
