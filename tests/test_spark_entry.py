"""Driver-contract smoke: entry() runs, queries()/oracle_sql() are
consistent and runnable."""

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"conv_id", "turn_idx", "extracted_text", "method"} \
        <= set(df.columns)


def test_queries_and_oracles_align(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # the only non-SQL-expressible queries embed the raster/OCR pipeline
    assert set(qs) - set(oracles) == {
        "extract_transcripts", "dedup_extracted_exact",
        "dedup_extracted_neardup", "dedup_extracted_clusters",
        "semdedup_extracted", "curate_corpus"}
    assert len(qs) >= 25


def test_extract_transcripts_query_runs(spark):
    df = entrymod.queries()["extract_transcripts"](
        spark, "/root/testdata/sf0.001")
    assert df.count() > 0


def test_extract_transcripts_runs_flagship_plan(spark):
    """The driver's extraction query is pipeline.build_result, not a
    hand-built copy: the round-robin spread into the decode UDF that
    follows dedup-before-decode is in its executed plan."""
    df = entrymod.queries()["extract_transcripts"](
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = max(8, spark.sparkContext.defaultParallelism)
    assert f"RoundRobinPartitioning({n})" in plan
