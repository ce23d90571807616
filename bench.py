#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Headline = the flagship transcript-extraction pipeline (turns/sec) over the
deterministic bench-tier fixture, plus the relational operator suite at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Env:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     cores (default 32)
  BENCH_TURNS          bench fixture conversations (default 2000)
  BENCH_QUERIES        comma list to restrict relational queries
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


HEADLINE_QUERIES = [
    "pdf_type_classify", "detect_sampling", "page_assembly",
    "mean_of_means", "reading_order", "dedup_minhash_lsh", "dedup_simhash",
    # r4 (VERDICT r3 #5): the newest, joiniest dedup ops tracked so
    # regressions are visible round-over-round
    "dedup_ngram_jaccard", "dedup_simhash_hamming", "dedup_clusters",
    "ann_cosine_topk", "knn_label_vote", "token_count", "quality_score",
    "doc_fingerprint",
    # r4 curation ops: the broadcast contamination join and the map-side
    # repetition metrics
    "contamination_check", "repetition_stats",
    # late-r4: corpus line dedup (CCNet-style) + clustered semantic dedup
    "line_dedup", "semdedup",
    # late-r4: ExactSubstr window dedup, BM25 search, LM perplexity filter
    "substring_dedup", "bm25_topk", "lm_perplexity",
    # late-r4: DSIR hashed-ngram importance weights, MinHash corpus
    # overlap matrix, TF-IDF keyword extraction
    "dsir_weights", "corpus_similarity", "tfidf_top_terms",
    "cardinality_estimate", "lm_perplexity_bigram",
    # r5: CJK-aware pre-tokenizer counting + packing (regex-heavy scans)
    "token_count_pretok", "corpus_pack_pretok",
    # r5: link-density stats + in-query-trained NB quality classifier
    "url_stats", "quality_classifier",
    # r5: int8 scalar-quantized ANN + PQ/ADC (compression scale paths)
    "ann_quantized", "ann_pq", "ann_ivf_pq",
]

# the relational queries of BENCH_r03.json, the suite that
# value_r3_comparable_suite sums
R3_SUITE = frozenset({
    "ann_cosine_topk", "dedup_minhash_lsh", "dedup_simhash",
    "detect_sampling", "doc_fingerprint", "knn_label_vote", "mean_of_means",
    "page_assembly", "pdf_type_classify", "quality_score", "reading_order",
    "token_count",
})


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_convs = int(os.environ.get("BENCH_TURNS", "2000"))
    # tolerate any directory layout: 'sf' elsewhere in the path (e.g.
    # /srv/sfdata/...) previously crashed float() before anything ran
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.0

    from pdf_ocr_spark.fixtures import cached_fixture
    from pdf_ocr_spark.pipeline import run_extraction
    from pdf_ocr_spark.relational import all_queries
    from pdf_ocr_spark.session import build_session

    timings: dict[str, float] = {}
    # shared-host context: the same code has measured 2-4x apart between
    # quiet and contended windows (BENCH/BASELINE.md history; VERDICT r3
    # adjudicated a phantom 41% regression this way) — record load so
    # the artifact itself carries the evidence
    load_start = os.getloadavg()

    # resolve + validate the query list BEFORE the expensive extraction
    # trials — a typo'd BENCH_QUERIES entry must not waste the whole run
    wanted = os.environ.get("BENCH_QUERIES")
    names = [n.strip() for n in wanted.split(",") if n.strip()] \
        if wanted else HEADLINE_QUERIES
    registry = all_queries()
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown BENCH_QUERIES entries: {unknown}")

    # --- headline: extraction throughput -------------------------------
    # best-of-2 against neighbor noise on this shared host; each trial
    # gets a FRESH SparkSession so neither trial inherits the other's
    # JVM or Python workers, and the minimum is the least-interference
    # run (same fresh-process methodology as jobs/scaling_bench.py).
    fixture = cached_fixture("bench", n_convs=n_convs)
    metrics, best_wall = None, None
    for trial in range(2):
        spark = build_session("pdf-ocr-spark-bench", cores=cpus,
                              shuffle_partitions=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        workdir = tempfile.mkdtemp(prefix="bench_extract_")
        try:
            t0 = time.time()
            m = run_extraction(
                spark, fixture, os.path.join(workdir, "out"),
                os.path.join(workdir, "lineage"),
                run_id=f"bench{trial}", num_buckets=max(64, cpus * 4),
                num_partitions=cpus * 4, resume=False)
            wall = time.time() - t0
            if best_wall is None or wall < best_wall:
                best_wall, metrics = wall, m
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            spark.stop()
    timings["extract_transcripts"] = round(best_wall, 3)

    spark = build_session("pdf-ocr-spark-bench-queries", cores=cpus,
                          shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # --- relational suite ----------------------------------------------
    # per-query best-of-N (VERDICT r4 #7): round-over-round artifacts on
    # this shared host swung 2-4x with neighbor load; the min of 2 trials
    # is the least-interference measurement and the per-trial list keeps
    # the artifact honest about the spread. BENCH_TRIALS=1 restores the
    # one-shot form.
    n_trials = max(1, int(os.environ.get("BENCH_TRIALS", "2")))
    query_trials: dict[str, list[float]] = {}
    for name in names:
        fn = registry[name]
        runs = []
        for _ in range(n_trials):
            t0 = time.time()
            fn(spark, sf_dir).collect()
            runs.append(round(time.time() - t0, 3))
        query_trials[name] = runs
        timings[name] = min(runs)

    # --- composed: dedup over the pipeline's OWN extracted output ------
    # (r4) timed separately from the headline so round-over-round
    # comparisons stay apples-to-apples; extraction here is the
    # pipeline-tier fixture (~2k turns, pooled payloads -> genuine
    # duplicate extracted texts)
    composed: dict[str, float | None] = {}
    timed_out: list[str] = []
    from pdf_ocr_spark.dedup_extracted import (
        dedup_extracted_clusters, dedup_extracted_exact,
        dedup_extracted_neardup, semdedup_extracted,
    )
    pfix = cached_fixture("pipeline")
    workdir = tempfile.mkdtemp(prefix="bench_composed_")
    try:
        t0 = time.time()
        run_extraction(spark, pfix, os.path.join(workdir, "out"),
                       os.path.join(workdir, "lineage"),
                       run_id="bench-composed", resume=False)
        composed["extract"] = round(time.time() - t0, 3)
        ext = spark.read.parquet(os.path.join(workdir, "out"))
        from pdf_ocr_spark.curate import curate_corpus
        for cname, cfn in (("exact", dedup_extracted_exact),
                           ("neardup", dedup_extracted_neardup),
                           ("clusters", dedup_extracted_clusters),
                           ("semdedup", semdedup_extracted),
                           ("curate", curate_corpus)):
            t0 = time.time()
            cfn(ext).count()
            composed[cname] = round(time.time() - t0, 3)

        # streaming ops over the same fixture as a directory source
        # (availableNow drain; r5 — tracks the stateful near-dup and
        # session-window paths round-over-round)
        from pdf_ocr_spark.streaming import (
            stream_dedup_neardup, stream_sessionize,
        )
        sdir = os.path.join(workdir, "stream_in")
        os.makedirs(sdir, exist_ok=True)
        shutil.copy(pfix, os.path.join(sdir, "part-0.parquet"))
        for sname, sdf in (
                ("stream_neardup", stream_dedup_neardup(spark, sdir)),
                ("stream_sessionize", stream_sessionize(spark, sdir))):
            t0 = time.time()
            q = (sdf.writeStream.format("memory")
                 .queryName(f"bench_{sname}")
                 .outputMode("append" if sname == "stream_neardup"
                             else "complete")
                 .option("checkpointLocation",
                         os.path.join(workdir, f"ckpt_{sname}"))
                 .trigger(availableNow=True).start())
            try:
                finished = q.awaitTermination(600)
            finally:
                q.stop()  # no-op once finished; the workdir goes next
            if finished:
                composed[sname] = round(time.time() - t0, 3)
            else:  # a timeout is never recorded as a timing
                composed[sname] = None
                timed_out.append(sname)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    spark.stop()

    total = round(sum(timings.values()), 3)
    # like-for-like subtotal over the r3 suite (BENCH_r03.json), null
    # unless every one of its queries ran: a partial sum under the
    # "comparable" label would read as a speedup.
    # Same STATISTIC as the r3 artifact, not just the same query set:
    # r3 recorded one-shot query timings, so the comparable subtotal
    # sums each query's FIRST trial (min-of-2 would read as a speedup
    # that is partly methodology — r5 review); extraction stays
    # best-of-2, as it was in r3/r4
    comparable = None
    if R3_SUITE <= query_trials.keys():
        comparable = round(
            timings["extract_transcripts"]
            + sum(query_trials[k][0] for k in R3_SUITE), 3)
    print(json.dumps({
        "metric": "headline wall time (extraction + relational suite)",
        "value": total,
        "unit": "sec",
        # r4: the headline set grew by three dedup ops (VERDICT r3 #5),
        # so the total is NOT comparable to BENCH_r03 and earlier;
        # the suite list makes the artifact self-describing
        "suite": ["extract_transcripts"] + names,
        "value_r3_comparable_suite": comparable,
        "queries": timings,
        "query_trials": query_trials,
        "bench_trials": n_trials,
        "sf": sf,
        "extraction": {
            "turns": metrics["rows_out"],
            "wall_time_s": round(metrics["wall_time_s"], 3),
            "turns_per_sec": round(metrics["turns_per_sec"], 1),
            "cpus": cpus,
        },
        "composed_dedup_extracted": composed,
        "composed_timed_out": timed_out,
        # the host's 1-minute load exceeded half the cores at the start:
        # the timings are not comparable with a quiet window's
        "contended": load_start[0] > cpus / 2,
        "host_loadavg": {
            "start_1m": round(load_start[0], 2),
            "end_1m": round(os.getloadavg()[0], 2),
            "end_5m": round(os.getloadavg()[1], 2),
        },
    }))


if __name__ == "__main__":
    main()
