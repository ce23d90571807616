"""The north-rule gate: Spark pipeline output must be byte-equal to the
single-process oracle per (conv_id, turn_idx) under stable turn ordering,
with spans indexing paragraph boundaries, plus lineage/resume behavior."""

import pyarrow.parquet as pq
import pytest

from pdf_ocr_spark import oracle
from pdf_ocr_spark.pipeline import run_extraction, history_listing


@pytest.fixture(scope="module")
def run_paths(spark, unit_transcripts, tmp_path_factory):
    base = tmp_path_factory.mktemp("run")
    out = str(base / "output")
    lin = str(base / "lineage")
    metrics = run_extraction(
        spark, unit_transcripts, out, lin, run_id="test-run-1",
        num_buckets=8, num_partitions=8, resume=False)
    return {"out": out, "lin": lin, "metrics": metrics}


def _load_results(spark, path):
    rows = spark.read.parquet(path).collect()
    return {(r["conv_id"], r["turn_idx"]): r for r in rows}


def test_row_counts(spark, unit_transcripts, run_paths):
    n_in = pq.read_table(unit_transcripts).num_rows
    assert run_paths["metrics"]["rows_out"] == n_in


def test_byte_equality_vs_oracle(spark, unit_transcripts, run_paths):
    inputs = pq.read_table(unit_transcripts).to_pylist()
    got = _load_results(spark, run_paths["out"])
    assert len(got) == len(inputs)
    for row in inputs:
        key = (row["conv_id"], row["turn_idx"])
        expect = oracle.extract_turn(row["text"])
        g = got[key]
        assert g["extracted_text"] == expect.extracted_text, key
        assert [(s["start"], s["end"]) for s in g["spans"]] \
            == expect.spans, key
        assert g["method"] == expect.method, key
        assert g["confidence"] == pytest.approx(expect.confidence), key
        assert g["n_pages"] == expect.n_pages, key


def test_spans_index_paragraphs(spark, run_paths):
    for r in spark.read.parquet(run_paths["out"]).collect():
        text = r["extracted_text"]
        for s in r["spans"]:
            seg = text[s["start"]:s["end"]]
            assert "\n\n" not in seg or r["method"] in ("plain", "extract")


def test_error_containment(spark, run_paths):
    rows = spark.read.parquet(run_paths["out"]) \
        .filter("method = 'error'").collect()
    # the corrupt-base64 turn AND the NULL-text turn (routing is never
    # three-valued: NULL payloads become error rows, not silent drops)
    assert len(rows) == 2
    errs = {r["error"] for r in rows}
    assert "null_payload" in errs
    for r in rows:
        assert r["error"]
        assert r["extracted_text"] == ""
        assert r["confidence"] == 0.0


def test_lineage_rows(spark, run_paths):
    lin = spark.read.parquet(run_paths["lin"]).collect()
    assert all(r["status"] == "completed" for r in lin)
    assert sum(r["rows_out"] for r in lin) \
        == run_paths["metrics"]["rows_out"]
    assert all(r["run_id"] == "test-run-1" for r in lin)
    assert any(r["ocr_page_count"] > 0 for r in lin)
    listing = history_listing(spark, run_paths["lin"]).collect()
    assert len(listing) == len({r["bucket"] for r in lin})
    # one run's lineage is appended as one data file
    import glob
    import os
    assert len(glob.glob(os.path.join(run_paths["lin"], "*.parquet"))) == 1


def test_lineage_rows_in_is_honest(spark, unit_transcripts, run_paths):
    """rows_in is counted from the pre-UDF input per bucket — NOT copied
    from rows_out (VERDICT r1 #2). Verified against an independent
    per-bucket count of the input table; with null-containment in place
    every input row yields exactly one output row, so in == out balances."""
    from pdf_ocr_spark.pipeline import with_bucket
    from pdf_ocr_spark.config import DEFAULT
    src = spark.read.parquet(unit_transcripts)
    expected = {
        r["bucket"]: r["n"] for r in
        with_bucket(src, 8, DEFAULT.salt_turns_per_group)
        .groupBy("bucket").count().withColumnRenamed("count", "n").collect()}
    lin = spark.read.parquet(run_paths["lin"]).collect()
    got_in = {r["bucket"]: r["rows_in"] for r in lin}
    assert got_in == expected
    for r in lin:
        assert r["rows_in"] == r["rows_out"], \
            f"bucket {r['bucket']}: input rows lost"


def test_resume_skips_completed_buckets(spark, unit_transcripts,
                                        run_paths):
    metrics2 = run_extraction(
        spark, unit_transcripts, run_paths["out"], run_paths["lin"],
        run_id="test-run-2", input_snapshot_id=unit_transcripts,
        num_buckets=8, num_partitions=8, resume=True)
    # first run recorded every bucket as completed => nothing to do
    assert metrics2["rows_out"] == 0
    assert metrics2["skipped_buckets"] > 0


def test_partial_resume(spark, unit_transcripts, tmp_path_factory):
    """Simulate a crash: lineage only has some buckets; rerun must process
    exactly the missing ones and converge to the full output."""
    from pyspark.sql import functions as F
    base = tmp_path_factory.mktemp("partial")
    out, lin = str(base / "out"), str(base / "lin")
    m1 = run_extraction(spark, unit_transcripts, out, lin,
                        run_id="r1", input_snapshot_id="snap",
                        num_buckets=8, num_partitions=8, resume=False)
    full = spark.read.parquet(out)
    total = full.count()
    buckets = sorted(r["bucket"] for r in
                     spark.read.parquet(lin).select("bucket").collect())
    assert len(buckets) >= 2
    # drop lineage for half the buckets (simulated crash before commit)
    keep = buckets[: len(buckets) // 2]
    spark.read.parquet(lin).filter(F.col("bucket").isin(keep)) \
        .write.mode("overwrite").parquet(lin + "_half")
    m2 = run_extraction(spark, unit_transcripts, out, lin + "_half",
                        run_id="r2", input_snapshot_id="snap",
                        num_buckets=8, num_partitions=8, resume=True)
    assert m2["skipped_buckets"] == len(keep)
    assert 0 < m2["rows_out"] < total
    # final output identical row set to the full run
    after = spark.read.parquet(out)
    assert after.count() == total
    assert after.select("conv_id", "turn_idx").distinct().count() == total


def test_flag_repeated_turns(spark):
    from pdf_ocr_spark.pipeline import flag_repeated_turns
    rows = [("c1", i, "Standard disclaimer") for i in range(3)] + \
        [("c1", 3, "unique content"), ("c2", 0, "Standard disclaimer"),
         ("c1", 4, "")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string")
    out = {(r["conv_id"], r["turn_idx"]): r["is_boilerplate_turn"]
           for r in flag_repeated_turns(df, 3).collect()}
    assert out[("c1", 0)] and out[("c1", 1)] and out[("c1", 2)]
    assert not out[("c1", 3)]
    assert not out[("c2", 0)]   # threshold is per conversation
    assert not out[("c1", 4)]   # empty text never flagged


def test_stable_ordering_within_partitions(spark, unit_transcripts,
                                           run_paths):
    """Determinism across runs: same input -> same per-row bytes regardless
    of partition layout (run twice at different parallelism)."""
    import hashlib
    a = _load_results(spark, run_paths["out"])

    def digest(results):
        items = sorted(
            (k, r["extracted_text"]) for k, r in results.items())
        h = hashlib.sha256()
        for (c, t), txt in items:
            h.update(f"{c}|{t}|{txt}\0".encode())
        return h.hexdigest()

    import tempfile
    with tempfile.TemporaryDirectory() as td:
        run_extraction(spark, unit_transcripts, td + "/out", td + "/lin",
                       num_buckets=3, num_partitions=2, resume=False)
        b = _load_results(spark, td + "/out")
    assert digest(a) == digest(b)
