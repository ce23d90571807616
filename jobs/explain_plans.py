#!/usr/bin/env python
"""Dump annotated physical plans for the engine's key queries -> PLANS.md.

Evidence that the plans are the intended ones: column-pruned scans, pushed
filters, broadcast joins where a side is small, single shuffles where one
suffices, whole-stage codegen for the relational glue.
"""

from __future__ import annotations

import io
import tempfile
import os
import sys
from contextlib import redirect_stdout

CHECKS = {
    "extraction_flagship": [
        "PushedFilters", "ReadSchema: struct<conv_id:string,turn_idx:int,"
        "text:string>", "RoundRobinPartitioning(8)"],
    "pdf_type_classify": ["HashAggregate"],
    "mean_of_means": ["BroadcastHashJoin"],
    "ann_cosine_topk": ["BroadcastNestedLoopJoin", "TakeOrderedAndProject"],
    "dedup_minhash_lsh": [],
    "dedup_simhash_hamming": ["band_idx", "bit_count"],
    "dedup_ngram_jaccard": [],
    "dedup_extracted_neardup": ["xxhash64"],
    "reading_order": ["WindowGroupLimit"],  # rank pushed into group limit
    # packing window must partition by shard, never a global window
    "corpus_pack": ["hashpartitioning(shard"],
    # eval gram set must be the broadcast side
    "contamination_check": ["BroadcastHashJoin"],
    "curate_corpus": ["hashpartitioning(split", "BroadcastHashJoin"],
    # the df-count join keys on the line hash; no corpus cross join
    "line_dedup": ["HashAggregate"],
    # the quadratic search must be a cent_id equi-join
    "semdedup": ["Join"],
    # window-hash occurrence count; dup-set equi-join; no cartesian
    "substring_dedup": ["HashAggregate"],
    # 3-row query-term table broadcast; top-k never globally sorts
    "bm25_topk": ["BroadcastHashJoin", "TakeOrderedAndProject"],
    # one-pass hashed-feature counts; broadcast-sized ratio join
    "dsir_weights": ["HashAggregate"],
    # signature is a partial min-agg; pairing is broadcast over sources
    "corpus_similarity": ["partial_min", "BroadcastNestedLoopJoin"],
    # the sketch path is the same partial min-agg
    "cardinality_estimate": ["partial_min"],
    # positions in-row: count aggs + hash joins, never a lag window
    "lm_perplexity_bigram": ["HashAggregate"],
    # in-row regex counts feeding one map-side-combinable agg
    "token_count_pretok": ["regexp_extract_all", "HashAggregate"],
    # NB model table broadcast into scoring; counts combine map-side
    "quality_classifier": ["BroadcastHashJoin", "HashAggregate"],
    # 1-row query broadcast; top-k never globally sorts
    "ann_quantized": ["BroadcastNestedLoopJoin", "TakeOrderedAndProject"],
    # ADC table broadcast; shortlist + re-rank both TakeOrdered
    "ann_pq": ["BroadcastHashJoin", "TakeOrderedAndProject"],
    # probed-cell candidate restriction + ADC + re-rank, no global sort
    "ann_ivf_pq": ["BroadcastHashJoin", "TakeOrderedAndProject"],
    # composed semantic dedup: surrogate ids JVM-side, cent_id-confined
    "semdedup_extracted": ["xxhash64", "HashAggregate"],
}


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from pdf_ocr_spark.session import build_session
    from pdf_ocr_spark.relational import all_queries
    from pdf_ocr_spark.pipeline import with_bucket
    from pdf_ocr_spark.config import DEFAULT

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = build_session("explain", cores=2, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    sections = []

    def capture(name, df, note):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        sections.append(f"## {name}\n\n{note}\n\n```\n{plan}\n```\n")
        return plan

    # the REAL flagship plan (build_result), not a hand-built analog
    from pdf_ocr_spark.pipeline import build_result
    from pdf_ocr_spark.fixtures import cached_fixture
    fixture = cached_fixture("unit")
    df = spark.read.parquet(fixture).select("conv_id", "turn_idx", "text")
    result = build_result(with_bucket(df, 64, 64), DEFAULT, 8)
    capture(
        "extraction_flagship", result,
        "The full extraction plan. Look for: (a) the payload route pushed "
        "into EVERY scan — IsNotNull+StringStartsWith on the pdf side, "
        "Or(IsNull, Not(StringStartsWith)) on the light side (never "
        "three-valued: NULL rows go to the light path and become error "
        "rows); (b) 3-column ReadSchema everywhere (role/tool/ts pruned); "
        "(c) the light path runs in the scan partitions, zero shuffles "
        "before the UDF; (d) dedup-before-decode with a round-robin "
        "repartition before the decode UDF (defeats AQE exchange-reuse "
        "coalescing), one decode task per shuffle partition and never "
        "fewer than the session's cores. Viral-attachment skew in the "
        "join-back is AQE's job — broadcast when decoded results are small, "
        "SortMergeJoin(skew=true) partition splitting otherwise "
        "(asserted in tests/test_pipeline_skew.py; an explicit salted "
        "variant measured 15-35% slower in the common case and was "
        "removed).")

    reg = all_queries()
    notes = {
        "pdf_type_classify":
            "Partial aggregation (map-side combine) before the single "
            "shuffle; whole-stage codegen around both aggregates.",
        "mean_of_means":
            "Per-order partial agg combines map-side. The orders join "
            "carries NO broadcast hint — orders scales with the corpus, "
            "so the optimizer broadcasts it from stats at gate scale "
            "(BroadcastHashJoin below) and sort-merges at 100 TB.",
        "ann_cosine_topk":
            "1-row query side broadcast; top-k is TakeOrderedAndProject "
            "(no global sort); dot products are JVM-side higher-order "
            "functions inside codegen.",
        "dedup_minhash_lsh":
            "Production 64-hash/16-band shape: bands posexplode to "
            "(band_idx, band_key) rows and candidates come from ONE "
            "equi-join on that pair regardless of band count (shuffle "
            "carries signatures, not documents); Jaccard verify joins "
            "shingles for candidate pairs only.",
        "dedup_simhash_hamming":
            "Manku-style pigeonhole: fingerprints from the FULL 60-bit "
            "token hash (every bit informative — r3 ADVICE), 4 bands "
            "posexplode to (band_idx, band_bits), candidates from ONE "
            "equi-join on that pair, popcount-xor verify on candidates "
            "only. No cartesian anywhere (locked in test_plans.py).",
        "dedup_ngram_jaccard":
            "Inverted-index self-join: df-stopworded posting lists "
            "(maxdf cap bounds the m^2 blowup per shared shingle); the "
            "candidate join's own groupBy counts shared rare shingles "
            "and an EXACT Jaccard upper bound prunes candidates before "
            "any verify join (r4 count-filtering, AllPairs/PPJoin "
            "family) — only near-threshold pairs sharing stopworded "
            "shingles pay the small non-rare posting join; the score "
            "is true Jaccard (sizes from the uncapped shingle frame).",
        "reading_order":
            "Single hash-partition exchange on user_id feeding the rank "
            "window; filter on rn applied before projection.",
        "corpus_pack":
            "Sequence packing: the cumulative-token window partitions "
            "by the hash SHARD (hashpartitioning(shard...)), never a "
            "single-partition global window — shards pack independently "
            "and scale with the cluster; the only global exchange is "
            "the final output orderBy shared by every oracle query.",
        "contamination_check":
            "Benchmark-contamination scan: the eval gram set (bounded "
            "by the benchmark size at ANY corpus scale) is the "
            "BroadcastHashJoin build side — the training corpus is "
            "never shuffled against it; grams travel as 60-bit hashes, "
            "not strings; one distinct-shuffle + one aggregation.",
        "line_dedup":
            "CCNet-style corpus line dedup: lines travel as 60-bit "
            "hashes into the df-count aggregation (map-side "
            "combinable); the removal join keys on that hash (NOT "
            "broadcast by construction — the boilerplate set is "
            "unbounded at corpus scale, AQE broadcasts it when small); "
            "the ordered rebuild is one groupBy with an in-row "
            "array_sort, no global window.",
        "semdedup":
            "SemDeDup: every vector-vector comparison is confined "
            "within a k-means cell (cent_id equi-join) — the corpus is "
            "never cross-joined; training assignments broadcast the "
            "n_cents centroids; Lloyd means are explode + "
            "map-side-combinable aggregation. At 100 TB raise n_cents "
            "so sum(cluster_size^2) stays bounded — same plan.",
        "substring_dedup":
            "ExactSubstr (Lee et al. 2021) as a sliding-window hash "
            "join: K-token windows travel as 60-bit hashes into a "
            "map-side-combinable occurrence count; the dup-set join "
            "keys on that hash (AQE broadcasts it when small); the "
            "span union + token rebuild are in-row array expressions "
            "inside one groupBy — no global window, no UDF.",
        "bm25_topk":
            "BM25 search: tf/df/dl are map-side-combinable aggs over "
            "one explode; the query-term table is 3 rows (broadcast by "
            "construction), so scoring touches only matching postings; "
            "the top-k is TakeOrderedAndProject — the scored corpus is "
            "never globally sorted, and the rank window runs over k "
            "rows post-limit.",
        "dsir_weights":
            "DSIR importance weights: raw and target feature counts "
            "come out of ONE map-side-combinable aggregation (the "
            "target side is a FILTER of the same scan, not a second "
            "pass); the log-ratio table is <= DSIR_B rows, so the "
            "scoring join broadcasts; the per-doc mean is one more "
            "combinable agg. No UDF, no cartesian — at 100 TB the "
            "explode dominates and everything combines map-side.",
        "corpus_similarity":
            "Corpus-overlap sketch: the per-source MinHash signature "
            "is a partial (map-side) min-aggregation over the shingle "
            "explode, so 100 TB of text reduces to sources x 64 ints "
            "before anything shuffles; the only nested-loop join is "
            "the broadcast self-pairing of that signature table "
            "(n_sources rows, bounded by the domain/snapshot count) — "
            "the corpus-sized side never cross-joins.",
        "cardinality_estimate":
            "MinCount cardinality sketch: the estimate comes from the "
            "same partial min-aggregation as the MinHash signatures — "
            "no count-distinct shuffle on the sketch path. The exact "
            "count(distinct) in this query exists only to exhibit the "
            "estimator's error at gate scale; the production call "
            "drops it and the whole op is one map-side-combinable agg.",
        "lm_perplexity_bigram":
            "Interpolated-bigram LM: token positions stay IN-ROW (one "
            "transform->explode of (tok, prev) structs — no lag window, "
            "no position self-join, no WindowExec anywhere); the "
            "unigram/bigram/context LMs are three map-side-combinable "
            "counts; scoring is hash joins on tok and (prev, tok), "
            "vocab-bounded sides AQE broadcasts when small.",
        "token_count_pretok":
            "CJK-aware pre-tokenizer counting: the regex token counts "
            "are IN-ROW expressions (regexp_extract_all + size inside "
            "codegen, no explode) feeding one map-side-combinable "
            "aggregation; the scan reads only (text, source). At 100 TB "
            "this is a pure scan-side op — per-row regex cost, zero "
            "extra shuffles vs the whitespace count.",
        "quality_classifier":
            "In-query-trained NB quality filter: class-conditional "
            "feature counts are ONE map-side-combinable aggregation "
            "over the token explode (both classes via conditional "
            "count in the same agg); the log-likelihood-ratio model is "
            "<= NB_B rows, so the scoring join is a BroadcastHashJoin "
            "build side; the prior is a broadcast 1-row aggregate. The "
            "single-partition window runs over the NB_B-bounded count "
            "table only (same documented pattern as DSIR). Training "
            "data never shuffles twice; no UDF.",
        "ann_quantized":
            "int8 scalar-quantized ANN: quantization is one in-row "
            "transform (codegen), the 1-row query side broadcasts "
            "(BroadcastNestedLoopJoin over a single row), integer dot "
            "products stay JVM-side, and the top-k is "
            "TakeOrderedAndProject — never a global sort. At 100 TB the "
            "codes table is 4x smaller than float32, which is the whole "
            "point: scan and shuffle bytes shrink 4x for ~1e-3 cosine "
            "error (recall-tested), and production re-ranks a short "
            "exact list.",
        "ann_pq":
            "PQ/ADC with exact re-rank: subspace codebooks and the ADC "
            "distance table are tiny broadcast sides (M*K rows); "
            "per-vector scoring is one (m, code) equi-join + a "
            "combinable M-row sum; the ADC shortlist and the final "
            "re-rank are both TakeOrderedAndProject — the corpus is "
            "never globally sorted and only the shortlist pays an "
            "exact distance. Training assignment windows partition by "
            "(vec_id, m), never a global frame.",
        "ann_ivf_pq":
            "The composed IVF-PQ: the probe set (nprobe rows) "
            "broadcasts into the candidate restriction, so ADC scoring "
            "touches only probed cells' code rows; the ADC table and "
            "codebooks stay broadcast-small; shortlist and final "
            "re-rank are TakeOrderedAndProject. At 100 TB the exact "
            "path reads nprobe/n_cents of the corpus and the rest is "
            "64x-compressed codes.",
    }
    for name in ("pdf_type_classify", "mean_of_means", "ann_cosine_topk",
                 "dedup_minhash_lsh", "dedup_simhash_hamming",
                 "dedup_ngram_jaccard", "reading_order", "corpus_pack",
                 "contamination_check", "line_dedup", "semdedup",
                 "substring_dedup", "bm25_topk", "dsir_weights",
                 "corpus_similarity", "cardinality_estimate",
                 "lm_perplexity_bigram", "token_count_pretok",
                 "quality_classifier", "ann_quantized", "ann_pq",
                 "ann_ivf_pq"):
        capture(name, reg[name](spark, sf_dir), notes[name])

    # composed path: dedup over an extraction run's OUTPUT TABLE — the
    # exact shape jobs/dedup_extracted.py executes in production (read
    # extracted parquet/Iceberg -> surrogate key -> LSH -> join back)
    import shutil
    from pdf_ocr_spark.pipeline import run_extraction
    from pdf_ocr_spark.dedup_extracted import dedup_extracted_neardup
    xd = tempfile.mkdtemp(prefix="plans_extract_")
    try:
        run_extraction(spark, fixture, os.path.join(xd, "out"),
                       os.path.join(xd, "lin"), run_id="plans",
                       input_snapshot_id="plans", num_buckets=8,
                       resume=False)
        extracted = spark.read.parquet(os.path.join(xd, "out"))
        capture(
            "dedup_extracted_neardup", dedup_extracted_neardup(extracted),
            "Dedup composed with the pipeline's own output: turns keyed "
            "by xxhash64(conv_id, turn_idx) JVM-side, extraction-output "
            "scan pruned to (conv_id, turn_idx, extracted_text), the "
            "library's band equi-join + verify untouched, and the "
            "(conv, turn) identity joined back as plain hash joins "
            "(pair side is small -> AQE broadcasts).")

        from pdf_ocr_spark.dedup_extracted import semdedup_extracted
        capture(
            "semdedup_extracted", semdedup_extracted(extracted),
            "Semantic dedup composed with the pipeline's own output: "
            "deterministic signed hashed-gram embeddings built from "
            "in-row JVM expressions (no Python in the embed path), "
            "turns keyed by xxhash64 surrogate ids, and SemDeDup's "
            "cluster-then-verify — every vector-vector comparison "
            "confined to a cent_id equi-join, Lloyd means map-side "
            "combinable, identity joined back as plain hash joins.")

        from pdf_ocr_spark.curate import curate_corpus
        capture(
            "curate_corpus", curate_corpus(extracted),
            "The full curation composition over extraction output. Look "
            "for: the dedup sub-plan unchanged (band equi-join + verify "
            "+ CC label join); quality/repetition metrics evaluated in "
            "the same projection as the canonical filter (no extra "
            "shuffle, no Python UDF stage); split/shard assignment "
            "map-side; the packing window partitioned by (split, shard) "
            "— hashpartitioning(split, shard...), never "
            "SinglePartition.")
    finally:
        shutil.rmtree(xd, ignore_errors=True)

    out = os.path.join(repo, "PLANS.md")
    with open(out, "w") as f:
        f.write(
            "# PLANS — physical-plan review of the engine's key queries\n\n"
            "Generated by `python jobs/explain_plans.py` "
            f"(sf_dir={sf_dir}). Each plan was iterated until it is the "
            "intended one; the notes call out what to look for.\n\n"
            + "\n".join(sections))
    print(f"wrote {out}")

    # sanity: expected operators present IN THE NAMED OP'S OWN SECTION —
    # needles like HashAggregate appear in almost every section, so a
    # whole-file search would be vacuously green after a plan regression
    text = open(out).read()
    missing = []
    for name, needles in CHECKS.items():
        header = f"## {name}\n"
        if header not in text:
            # a vanished section is the WORST regression this gate can
            # see — skipping it would report green precisely when the
            # evidence disappeared (review r4)
            missing.append((name, "<section missing>"))
            continue
        body = text.split(header, 1)[1]
        nxt = body.find("\n## ")
        section = body if nxt == -1 else body[:nxt]
        for n in needles:
            if n not in section:
                missing.append((name, n))
    if missing:
        print("WARNING: expected plan features missing:", missing)
        raise SystemExit(1)
    spark.stop()


if __name__ == "__main__":
    main()
