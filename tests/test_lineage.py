"""Lineage semantics: once-per-payload cost attribution, balance-derived
status, incomplete-bucket reprocessing on resume (VERDICT r2 #4, ADVICE r2)."""

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pdf_ocr_spark.pipeline import (
    build_lineage, completed_buckets, run_extraction,
)


@pytest.fixture(scope="module")
def duplicated_payload_fixture(tmp_path_factory):
    """One PDF payload referenced by 30 turns + 5 distinct payloads."""
    from pdf_ocr_spark.fixtures import _pdf_payload
    rng = random.Random(0xD11D)
    dup = _pdf_payload(rng, "text")
    others = [_pdf_payload(rng, "text") for _ in range(5)]
    rows = {"conv_id": [], "turn_idx": [], "text": []}
    for c in range(6):
        for t in range(6):
            rows["conv_id"].append(f"conv-{c:06d}")
            rows["turn_idx"].append(t)
            rows["text"].append(dup if t < 5 else others[c % 5])
    path = str(tmp_path_factory.mktemp("dup") / "t.parquet")
    pq.write_table(pa.table({
        "conv_id": pa.array(rows["conv_id"], pa.string()),
        "turn_idx": pa.array(rows["turn_idx"], pa.int32()),
        "text": pa.array(rows["text"], pa.string()),
    }), path)
    return path


def test_decode_cost_attributed_once_per_payload(
        spark, duplicated_payload_fixture, tmp_path):
    """A payload referenced by 30 turns must charge its decode cost to
    exactly ONE output row (its first referring turn); the other 29
    referrals carry elapsed_us = 0, so lineage wall_time_s sums actual
    compute, not compute x duplication factor."""
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    m = run_extraction(spark, duplicated_payload_fixture, out, lin,
                       run_id="dup-test", resume=False)
    assert m["rows_out"] == 36
    res = spark.read.parquet(out)
    # the duplicated payload: 30 rows with identical extracted_text
    counts = (res.groupBy("extracted_text")
              .agg(F.count("*").alias("n"),
                   F.sum((F.col("elapsed_us") > 0).cast("int"))
                   .alias("n_charged"))
              .filter(F.col("n") == 30).collect())
    assert len(counts) == 1
    assert counts[0]["n_charged"] == 1
    # and the charged row IS the minimum (conv_id, turn_idx) referral
    charged = (res.join(
        res.groupBy("extracted_text").agg(F.count("*").alias("n"))
        .filter("n = 30").select("extracted_text"), "extracted_text")
        .filter("elapsed_us > 0").collect())
    assert len(charged) == 1
    assert (charged[0]["conv_id"], charged[0]["turn_idx"]) \
        == ("conv-000000", 0)
    # lineage total equals the per-row sum (no double count)
    lineage_total = (spark.read.parquet(lin)
                     .agg(F.sum("wall_time_s")).collect()[0][0])
    row_total = res.agg(F.sum("elapsed_us")).collect()[0][0] / 1e6
    assert lineage_total == pytest.approx(row_total, rel=1e-6)
    # every turn is a PDF: 6 distinct payloads, each charged once
    assert res.filter("elapsed_us > 0").count() == 6


def test_lineage_status_derives_from_row_balance():
    """A bucket that lost rows must be 'incomplete' (ADVICE r2): the loss
    signal triggers reprocessing instead of being locked in."""
    rows_in = {0: 2, 1: 5, 2: 4}
    written = {0: (2, 0, 0.00015), 1: (1, 3, 0.002)}
    rows = {r["bucket"]: r for r in build_lineage(
        rows_in, written, "r1", "snap", "2026-01-01T00:00:00Z", 64, 64)}
    assert rows[0]["status"] == "completed"
    assert rows[0]["rows_in"] == 2 and rows[0]["rows_out"] == 2
    # bucket 1 lost 4 of 5 rows -> incomplete
    assert rows[1]["status"] == "incomplete"
    # bucket 2 lost ALL rows: still gets a row, incomplete
    assert rows[2]["status"] == "incomplete"
    assert rows[2]["rows_out"] == 0 and rows[2]["rows_in"] == 4


def test_incomplete_buckets_are_reprocessed_on_resume(spark, tmp_path):
    """completed_buckets must skip only balanced buckets: an 'incomplete'
    lineage row (data loss) leaves its bucket eligible for reprocessing."""
    lin_path = str(tmp_path / "lineage")
    spark.createDataFrame(
        [("r1", "snap", 0, 5, 5, 0, 0.1, "completed", "t1", 8, 64),
         ("r1", "snap", 1, 5, 3, 0, 0.1, "incomplete", "t1", 8, 64),
         ("r1", "other-snap", 2, 5, 5, 0, 0.1, "completed", "t1", 8, 64)],
        "run_id string, input_snapshot_id string, bucket int, "
        "rows_in long, rows_out long, ocr_page_count long, "
        "wall_time_s double, status string, updated_at string, "
        "num_buckets int, salt_turns int"
    ).write.parquet(lin_path)
    assert completed_buckets(spark, lin_path, "snap", 8, 64) == {0}


def test_enrich_post_stage_composes_with_pipeline(
        spark, duplicated_payload_fixture, tmp_path):
    """run_extraction(enrich_chunk=..., enrich_path=...) writes a
    bucket-partitioned enriched table covering every extracted turn
    (VERDICT r2 #6), with the deterministic fake applied per chunk."""
    from pdf_ocr_spark.enrich import ChunkResult
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    enr = str(tmp_path / "enriched")

    def fake_llm(chunk: str) -> ChunkResult:
        return ChunkResult(original=chunk, formatted=chunk.upper(),
                           success=True)

    m = run_extraction(spark, duplicated_payload_fixture, out, lin,
                       run_id="enr-test", resume=False,
                       enrich_chunk=fake_llm, enrich_path=enr)
    assert m["rows_enriched"] == m["rows_out"] == 36
    e = spark.read.parquet(enr)
    assert set(e.columns) >= {"conv_id", "turn_idx", "formatted_text",
                              "ai_success", "bucket"}
    joined = (spark.read.parquet(out).select("conv_id", "turn_idx",
                                             "extracted_text")
              .join(e, ["conv_id", "turn_idx"]))
    bad = joined.filter(
        F.col("formatted_text") != F.upper("extracted_text")).count()
    assert bad == 0
    assert e.filter(~F.col("ai_success")).count() == 0

    # fully-resumed run with enrichment enabled: nothing to enrich must
    # mean NO crash and rows_enriched == 0 — an empty write to a fresh
    # enrich path would otherwise leave a schema-less parquet dir
    # (code-review r3)
    enr2 = str(tmp_path / "enriched2")
    m2 = run_extraction(spark, duplicated_payload_fixture, out, lin,
                        run_id="enr-resume", resume=True,
                        enrich_chunk=fake_llm, enrich_path=enr2)
    assert m2["rows_out"] == 0 and m2["skipped_buckets"] > 0
    assert m2["rows_enriched"] == 0


def test_empty_input_returns_zeroed_metrics(spark, tmp_path):
    """run_extraction over an empty table must not crash on the
    schema-less output read-back (code-review r3)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    empty = str(tmp_path / "empty.parquet")
    pq.write_table(pa.table({
        "conv_id": pa.array([], pa.string()),
        "turn_idx": pa.array([], pa.int32()),
        "text": pa.array([], pa.string()),
    }), empty)
    m = run_extraction(spark, empty, str(tmp_path / "out"),
                       str(tmp_path / "lin"), run_id="e", resume=False)
    assert m["rows_out"] == 0 and m["turns_per_sec"] == 0.0


def test_resume_distrusts_other_bucketing_config(spark, tmp_path):
    """Bucket ids only name the same turns under the same
    (num_buckets, salt) config: completions recorded at num_buckets=8
    must NOT be skipped by a resume at num_buckets=4 (reprocessing is
    safe; skipping would silently lose the turns that moved buckets)."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {"conv_id": [f"conv-{i:06d}" for i in range(12)],
            "turn_idx": [0] * 12,
            "text": ["plain text turn %d" % i for i in range(12)]}
    inp = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({
        "conv_id": pa.array(rows["conv_id"], pa.string()),
        "turn_idx": pa.array(rows["turn_idx"], pa.int32()),
        "text": pa.array(rows["text"], pa.string()),
    }), inp)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    m1 = run_extraction(spark, inp, out, lin, run_id="r1",
                        input_snapshot_id="snap", num_buckets=8,
                        resume=False)
    assert m1["rows_out"] == 12
    # same snapshot, same config -> full skip
    m2 = run_extraction(spark, inp, out, lin, run_id="r2",
                        input_snapshot_id="snap", num_buckets=8,
                        resume=True)
    assert m2["rows_out"] == 0 and m2["skipped_buckets"] > 0
    # same snapshot, DIFFERENT num_buckets -> nothing skipped
    m3 = run_extraction(spark, inp, out, lin, run_id="r3",
                        input_snapshot_id="snap", num_buckets=4,
                        resume=True)
    assert m3["skipped_buckets"] == 0 and m3["rows_out"] == 12
    # legacy lineage without config columns is not trusted either
    from pdf_ocr_spark.pipeline import completed_buckets
    legacy = spark.read.parquet(lin).drop("num_buckets", "salt_turns")
    legacy_path = str(tmp_path / "lin_legacy")
    legacy.write.parquet(legacy_path)
    assert completed_buckets(spark, legacy_path, "snap",
                             num_buckets=8, salt_turns=64) == set()


def test_crash_before_lineage_append_resumes_to_clean_output(
        spark, unit_transcripts, tmp_path, monkeypatch):
    """A run that dies between the data write and the lineage append
    leaves written buckets with no lineage; the resumed run must rewrite
    them in place (no duplicate turns) and commit balanced lineage."""
    import os

    import pdf_ocr_spark.catalog as catalog
    n_in = pq.read_table(unit_transcripts).num_rows
    key = ["conv_id", "turn_idx"]
    cols = key + ["extracted_text", "spans"]
    kw = dict(input_snapshot_id="snap", num_buckets=8, num_partitions=8)

    clean_out = str(tmp_path / "clean")
    run_extraction(spark, unit_transcripts, clean_out,
                   str(tmp_path / "clean_lin"), run_id="clean",
                   resume=False, **kw)
    clean = spark.read.parquet(clean_out).select(cols)

    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")

    def crash(df, target):
        raise RuntimeError("driver died before the lineage append")

    monkeypatch.setattr(catalog, "append", crash)
    with pytest.raises(RuntimeError, match="lineage append"):
        run_extraction(spark, unit_transcripts, out, lin, run_id="dies",
                       resume=True, **kw)
    assert spark.read.parquet(out).count() > 0
    assert not os.path.exists(lin)

    monkeypatch.undo()
    m = run_extraction(spark, unit_transcripts, out, lin, run_id="resumed",
                       resume=True, **kw)
    got = spark.read.parquet(out).select(cols)
    assert got.count() == got.select(key).distinct().count() == n_in
    assert got.exceptAll(clean).count() == 0
    assert clean.exceptAll(got).count() == 0
    rows = spark.read.parquet(lin).collect()
    assert all(r["status"] == "completed" and r["rows_in"] == r["rows_out"]
               for r in rows)
    assert sum(r["rows_in"] for r in rows) == m["rows_out"] == n_in
