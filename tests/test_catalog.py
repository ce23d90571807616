"""Table-IO abstraction: identifier detection and parquet fallback."""

from pdf_ocr_spark.catalog import (
    append, is_table_identifier, load_table, overwrite_partitions,
)


def test_identifier_detection():
    assert is_table_identifier("lake.transcripts_out")
    assert is_table_identifier("transcripts")
    assert not is_table_identifier("/data/out")
    assert not is_table_identifier("s3a://bucket/path")
    assert not is_table_identifier("file:///tmp/x")


def test_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1, 0), ("b", 2, 1)], "k string, v int, bucket int")
    path = str(tmp_path / "t")
    overwrite_partitions(df, path, "bucket")
    assert load_table(spark, path).count() == 2
    # dynamic overwrite: rewriting bucket 0 leaves bucket 1 intact
    overwrite_partitions(df.filter("bucket = 0"), path, "bucket")
    out = load_table(spark, path)
    assert out.filter("bucket = 1").count() == 1
    assert out.filter("bucket = 0").count() == 1
    # append targets are unpartitioned (lineage-table shape)
    lin = str(tmp_path / "lin")
    append(df.drop("bucket"), lin)
    append(df.drop("bucket"), lin)
    assert load_table(spark, lin).count() == 4


def test_overwrite_is_dynamic_even_with_static_session_conf(spark, tmp_path):
    """ADVICE r1: run_extraction accepts ANY user session. With the Spark
    default partitionOverwriteMode=static, a partitioned overwrite would
    truncate the whole table — deleting completed buckets that lineage
    still marks done. The per-write option must win over session conf."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        df = spark.createDataFrame(
            [("a", 1, 0), ("b", 2, 1)], "k string, v int, bucket int")
        path = str(tmp_path / "t")
        overwrite_partitions(df, path, "bucket")
        overwrite_partitions(df.filter("bucket = 0"), path, "bucket")
        out = load_table(spark, path)
        assert out.filter("bucket = 1").count() == 1, \
            "static overwrite truncated a completed bucket"
        assert out.filter("bucket = 0").count() == 1
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located bucketed join (the bucketing scale path): two tables
    bucketBy'd on the same key with the same bucket count sort-merge
    join with ZERO Exchange in the plan — the shuffle was paid once at
    write time."""
    from pdf_ocr_spark.catalog import write_bucketed_table

    a = spark.range(0, 200).selectExpr("cast(id as string) conv_id",
                                       "id * 2 AS chars")
    b = spark.range(0, 200).selectExpr("cast(id as string) conv_id",
                                       "id % 7 AS n_pages")
    write_bucketed_table(a, "t_buck_a", str(tmp_path / "a"), 4)
    write_bucketed_table(b, "t_buck_b", str(tmp_path / "b"), 4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_buck_a").join(spark.table("t_buck_b"),
                                         "conv_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_buck_a")
        spark.sql("DROP TABLE IF EXISTS t_buck_b")


def test_schema_read_back_starts_no_spark_job(spark, tmp_path):
    """run_extraction's read-back shape: with the schema given, nothing
    infers it, and 40 bucket directories (above Spark's default
    parallel-discovery threshold of 32) are listed on the driver, so
    building the frame starts no Spark job."""
    from pyspark.sql import functions as F

    from pdf_ocr_spark.pipeline import OUTPUT_SCHEMA

    rows = [(f"c{i}", i, f"text {i}", [(0, 4)], "plain", 1.0, 0, None,
             7 * i, i % 40) for i in range(80)]
    path = str(tmp_path / "out")
    overwrite_partitions(spark.createDataFrame(rows, OUTPUT_SCHEMA), path)
    keep = list(range(0, 40, 3))

    sc = spark.sparkContext
    group = "schema-read-back"
    sc.setJobGroup(group, "read-back with a given schema")
    try:
        read_back = load_table(spark, path, OUTPUT_SCHEMA) \
            .filter(F.col("bucket").isin(keep))
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []

    inferred = load_table(spark, path).filter(F.col("bucket").isin(keep))
    assert read_back.columns == inferred.columns
    assert sorted(read_back.collect()) == sorted(inferred.collect())
    assert read_back.count() == 2 * len(keep)
