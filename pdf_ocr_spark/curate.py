"""End-to-end corpus curation over the extraction pipeline's own output.

This is the training-data pipeline the engine exists for, composed from
already-audited pieces instead of re-implemented:

    run_extraction ->  keep-one-per-cluster dedup   (relational/dedup.py)
                   ->  quality + repetition filter  (textstats / curation)
                   ->  stable train/val/test split  (md5 buckets)
                   ->  sharded sequence packing     (per-shard window)

The reference dedups uploads by MD5 before OCR (SmartPDF-OCR
app/core/file_manager.py:137-143); curate_corpus applies the same intent —
plus the standard LLM-corpus curation stages — to the extracted text.

Scale shape at 100 TB:
- dedup is the library's band equi-join + verify-on-candidates + pointer-
  jumping CC (never a cross join; exact-dedup pre-pass bounds degenerate
  corpora);
- quality/repetition metrics and split assignment are pure map-side
  expressions in whole-stage codegen (zero extra shuffles);
- packing windows are partitioned by (split, shard) — no global sort, no
  single-partition window; shard count scales with the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .dedup_extracted import turns_as_docs
from .relational.curation import _dup_frac_expr
from .relational.dedup import minhash_clusters
from .relational.textstats import quality_cols
from .relational.util import round6, salted_mod


def curate_corpus(extracted: DataFrame, *,
                  jaccard_threshold: float = 0.5,
                  min_quality: float = 0.30,
                  rep_2gram_threshold: float = 0.20,
                  rep_3gram_threshold: float = 0.18,
                  train_pct: int = 80, val_pct: int = 10,
                  n_shards: int = 8, budget: int = 2048,
                  max_iters: int = 20,
                  semantic_threshold: float | None = None,
                  semantic_n_cents: int = 16,
                  count_mode: str = "ws") -> DataFrame:
    """Curate extracted turns into a packed training corpus.

    ``extracted`` carries (conv_id, turn_idx, extracted_text) — the
    pipeline's OUTPUT_SCHEMA or any projection. Error turns (NULL text)
    are dropped by turns_as_docs.

    Output: one row per SURVIVING turn —
    (conv_id, turn_idx, cluster_size, n_tokens, quality, split, shard,
    pack_first, n_packs), ordered by (conv_id, turn_idx).

    Survival = is_canonical in its near-dup cluster (MinHash/LSH +
    exact-Jaccard >= ``jaccard_threshold``, component-minimum canonical)
    AND quality >= ``min_quality`` AND not repetitive (duplicate 2/3-gram
    fractions under the repetition thresholds; turns too short for the
    metrics pass the filter). The repetition defaults are Gopher's
    PRODUCTION values (0.20/0.18, Rae et al. 2021 Table A1) — real prose
    routinely repeats word bigrams and the synthetic-corpus-tuned
    constants in relational/curation.py would mass-discard it; pass
    those explicitly when curating the small-vocab gate corpora.

    Token work (counts, repetition grams, quality) runs over
    whitespace-NORMALIZED text: extracted_text joins pages and
    paragraphs with newlines (extract.py), so a single-space split
    would fuse 'kappa\\n\\nalpha' into one token — undercounting the
    pack budget and letting repeated boilerplate paragraphs evade the
    2/3-gram metrics. Dedup still runs on the raw bytes.

    The split bucket is salted-md5 of "conv_id:turn_idx" — a turn never
    migrates between train and eval when the corpus grows, and the pack
    shard uses an independent salt so shards decorrelate from splits.

    ``semantic_threshold`` (optional, VERDICT r4 #2) adds a SemDeDup
    stage AFTER the MinHash keep-one pass: survivors are embedded with
    the deterministic signed hashed-gram projection (embed.embed_docs)
    and turns with a lower-id cluster-mate at cosine >= the threshold
    are dropped — catching paraphrase-class near-dups whose word-3-gram
    Jaccard is far below ``jaccard_threshold``. Docs that embed_docs
    does not embed (zero-norm) are kept. Runs on the (already
    deduped) canonical set, so its within-cluster pair search sees the
    smallest possible input."""
    d = turns_as_docs(extracted)
    cc = minhash_clusters(d.select("doc_id", "text"),
                          jaccard_threshold, max_iters)
    canon = (cc.filter(F.col("is_canonical"))
             .select("doc_id", "cluster_size")
             .join(d, "doc_id"))
    if semantic_threshold is not None:
        from .embed import embed_docs
        from .relational.similarity import semdedup_core
        sem = semdedup_core(
            embed_docs(canon.select("doc_id", "text"))
            .withColumnRenamed("doc_id", "vec_id"),
            semantic_n_cents, 2, semantic_threshold)
        # drop only what SemDeDup marks keep = false: embed_docs omits
        # zero-norm docs, and a doc it could not embed has no semantic
        # duplicate, so it stays in the corpus
        canon = canon.join(
            sem.filter(~F.col("keep"))
            .select(F.col("vec_id").alias("doc_id")),
            "doc_id", "left_anti")

    n_tokens, _avg_tok, _punct, score = quality_cols("t_norm")
    base = (canon
            .withColumn("t_norm",
                        F.trim(F.regexp_replace("text", "\\s+", " ")))
            .withColumn("w", F.split("t_norm", " ")))
    repetitive = F.when(
        F.size("w") >= 6,
        (F.expr(_dup_frac_expr(2)) > rep_2gram_threshold)
        | (F.expr(_dup_frac_expr(3)) > rep_3gram_threshold)
    ).otherwise(F.lit(False))
    from .relational.textstats import check_count_mode
    check_count_mode(count_mode)
    if count_mode == "pretok":
        # CJK-aware GPT-2-style pre-tokenizer (VERDICT r4 #3): the
        # budget count that is right for unspaced scripts and code;
        # quality/repetition metrics stay word-based (they measure
        # prose structure, not budget)
        from .relational.textstats import pretok_count
        n_tokens = pretok_count("t_norm")
    scored = base.select(
        "conv_id", "turn_idx", "cluster_size",
        n_tokens.cast("long").alias("n_tokens"),
        round6(score).alias("quality"),
        repetitive.alias("repetitive"))
    kept = (scored
            .filter((F.col("quality") >= min_quality)
                    & ~F.col("repetitive"))
            .drop("repetitive"))

    key = F.concat(F.col("conv_id"), F.lit(":"),
                   F.col("turn_idx").cast("string"))
    b = salted_mod(key, "split:", 100)
    split = (F.when(b < train_pct, "train")
             .when(b < train_pct + val_pct, "val")
             .otherwise("test"))
    shard = salted_mod(key, "pack:", n_shards).cast("int")
    assigned = kept.withColumn("split", split).withColumn("shard", shard)

    w = (Window.partitionBy("split", "shard")
         .orderBy("conv_id", "turn_idx")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum("n_tokens").over(w)
    first_tok = cum - F.col("n_tokens")
    return (assigned
            .withColumn("pack_first",
                        F.floor(first_tok / budget).cast("long"))
            .withColumn("n_packs",
                        (F.floor((cum - 1) / budget)
                         - F.floor(first_tok / budget) + 1).cast("long"))
            .select("conv_id", "turn_idx", "cluster_size", "n_tokens",
                    "quality", "split", "shard", "pack_first", "n_packs")
            .orderBy("conv_id", "turn_idx"))


def curate_summary(curated: DataFrame) -> DataFrame:
    """Per-(split, shard) corpus accounting: surviving turns, token
    totals, and the number of ``budget``-token packs each shard emits —
    the numbers a training job reads to size its data loader."""
    return (curated.groupBy("split", "shard")
            .agg(F.count("*").alias("n_turns"),
                 F.sum("n_tokens").alias("n_tokens"),
                 (F.max(F.col("pack_first") + F.col("n_packs"))
                  ).alias("n_packs"))
            .orderBy("split", "shard"))
