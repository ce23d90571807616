"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction pipeline; ``queries``/``oracle_sql``
expose the relational operator library (SURVEY.md §2 analogs + training-data
ops) for the driver's DuckDB side-by-side correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _ship(spark: SparkSession) -> None:
    from pdf_ocr_spark.session import ship_package

    try:
        ship_package(spark)
    except Exception as e:
        # suppress ONLY the re-registration case; a real shipping
        # failure (tempdir full, permission) must surface HERE, not as
        # a ModuleNotFoundError deep inside mapInPandas later (review)
        if "already" not in str(e).lower():
            raise


def _extract(spark: SparkSession, tier: str,
             num_partitions: int) -> DataFrame:
    """The flagship extraction plan (pipeline.build_result: route,
    dedup-before-decode, decode, join back, bucket) over a cached
    transcripts fixture tier."""
    _ship(spark)
    from pdf_ocr_spark.config import DEFAULT
    from pdf_ocr_spark.fixtures import cached_fixture
    from pdf_ocr_spark.pipeline import build_result, with_bucket

    df = spark.read.parquet(cached_fixture(tier)) \
        .select("conv_id", "turn_idx", "text")
    df = with_bucket(df, DEFAULT.num_buckets, DEFAULT.salt_turns_per_group)
    return build_result(df, DEFAULT, num_partitions)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the transcript-extraction pipeline end-to-end.

    Smoke-scale input: the deterministic unit-tier transcripts fixture
    (sf0.001-sized; FIXTURES.md) routed through detect -> route ->
    render/OCR/HTML-walk -> layout -> assemble inside mapInPandas, plus a
    relational sanity probe joining the sf0.001 testdata (documents) so the
    driver-provided tables are loaded too.
    """
    from pyspark.sql import functions as F

    result = _extract(spark, "unit", 8).select(
        "conv_id", "turn_idx", "extracted_text", "method", "confidence",
        "n_pages")
    # touch the driver's sf0.001 testdata as well (scan sanity)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_docs = docs.count()
    return result.withColumn("n_testdata_docs", F.lit(n_docs))


def _extract_transcripts_query(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Rows-only check: full extraction pipeline over the UNIT-tier
    fixture (20 turns, every route; non-SQL-expressible: render/OCR/
    layout inside the UDF). The composed dedup queries below use the
    bigger pipeline-tier fixture."""
    return (
        _extract(spark, "unit", 8)
        .select("conv_id", "turn_idx", "extracted_text", "method",
                "confidence", "n_pages", "error")
        .orderBy("conv_id", "turn_idx")
    )


_EXTRACTED_CACHE: dict[str, DataFrame] = {}


def _extracted_frame(spark: SparkSession) -> DataFrame:
    """Extraction-pipeline output over the pipeline-tier fixture (pooled
    payloads -> genuine duplicate extracted texts), localCheckpointed and
    cached per process so the composed dedup/semdedup/curate queries
    pay for extraction once."""
    # keyed by applicationId, not id(spark): CPython reuses object
    # addresses after GC, and a checkpointed frame bound to a stopped
    # context must never be handed to a fresh session
    app = spark.sparkContext.applicationId
    key = f"{app}:pipeline"
    if key not in _EXTRACTED_CACHE:
        # evict entries of other (stopped) applications: a long-lived
        # driver looping sessions would otherwise pin one dead
        # DataFrame graph per applicationId forever
        for k in [k for k in _EXTRACTED_CACHE
                  if not k.startswith(f"{app}:")]:
            del _EXTRACTED_CACHE[k]
        _EXTRACTED_CACHE[key] = (
            _extract(spark, "pipeline", 16)
            .select("conv_id", "turn_idx", "extracted_text", "method")
            .localCheckpoint(eager=True))
    return _EXTRACTED_CACHE[key]


def _dedup_extracted_exact_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Rows-only check (extraction inside is non-SQL-expressible):
    exact duplicate groups over the pipeline's own extracted text —
    the VERDICT r3 composition gap."""
    from pdf_ocr_spark.dedup_extracted import dedup_extracted_exact

    return dedup_extracted_exact(_extracted_frame(spark))


def _dedup_extracted_neardup_query(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Rows-only check: MinHash/LSH near-dup turn pairs over extracted
    text, reassociated to (conv, turn) identities."""
    from pdf_ocr_spark.dedup_extracted import dedup_extracted_neardup

    return dedup_extracted_neardup(_extracted_frame(spark))


def _semdedup_extracted_query(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Rows-only check (extraction + iterative k-means inside are
    non-SQL-expressible): SemDeDup over the pipeline's own extracted
    text using the deterministic signed hashed-gram embedding
    (pdf_ocr_spark/embed.py) — the paraphrase-class near-dup pass the
    MinHash path structurally misses. Equality pinned by
    tests/test_dedup_extracted.py."""
    from pdf_ocr_spark.dedup_extracted import semdedup_extracted

    return semdedup_extracted(_extracted_frame(spark))


def _dedup_extracted_clusters_query(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Rows-only check: keep-one-per-cluster labels (connected
    components over near-dup pairs) on the pipeline's extracted turns."""
    from pdf_ocr_spark.dedup_extracted import dedup_extracted_clusters

    return dedup_extracted_clusters(_extracted_frame(spark))


def _curate_corpus_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only check: the full training-corpus composition — extraction
    output -> keep-one-per-cluster dedup -> quality/repetition filter ->
    stable split -> sharded packing (pdf_ocr_spark/curate.py)."""
    from pdf_ocr_spark.curate import curate_corpus

    return curate_corpus(_extracted_frame(spark))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (plus the
    training-data ops). See pdf_ocr_spark/relational/* for each query's
    reference citation."""
    from pdf_ocr_spark.relational import all_queries

    out = dict(all_queries())
    out["extract_transcripts"] = _extract_transcripts_query
    out["dedup_extracted_exact"] = _dedup_extracted_exact_query
    out["dedup_extracted_neardup"] = _dedup_extracted_neardup_query
    out["dedup_extracted_clusters"] = _dedup_extracted_clusters_query
    out["semdedup_extracted"] = _semdedup_extracted_query
    out["curate_corpus"] = _curate_corpus_query
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (extract_transcripts, the three
    dedup_extracted_* compositions, and curate_corpus are omitted: the
    raster/OCR path
    inside them is not SQL-expressible — driver rows-only checks; their
    dedup math is oracle-gated separately via the dedup_* entries and
    pinned by tests/test_dedup_extracted.py equality tests)."""
    from pdf_ocr_spark.relational import all_oracle_sql

    return dict(all_oracle_sql())
