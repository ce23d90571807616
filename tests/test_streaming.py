"""Structured Streaming parity and watermarked aggregation."""

import os
import shutil

import pytest

from pdf_ocr_spark.streaming import (
    conversation_state_stats, stream_extraction, stream_method_counts,
)


@pytest.fixture(scope="module")
def stream_dirs(spark, unit_transcripts, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    input_dir = str(base / "in")
    os.makedirs(input_dir)
    shutil.copy(unit_transcripts, input_dir + "/part-0.parquet")
    return {"base": str(base), "input": input_dir}


def test_duration_ms_units_and_errors():
    """The watermark horizon parser accepts the units withWatermark
    accepts and raises ValueError (not KeyError) for anything else."""
    from pdf_ocr_spark.streaming.jobs import _duration_ms
    assert _duration_ms("1 hour 30 minutes") == 5_400_000
    assert _duration_ms("1.5 hours") == 5_400_000
    assert _duration_ms("250 milliseconds") == 250
    assert _duration_ms("1500 microseconds") == 1
    assert _duration_ms("2 weeks") == 1_209_600_000
    for bad in ("", "10", "10 fortnights", "ten minutes"):
        with pytest.raises(ValueError):
            _duration_ms(bad)


def test_stream_extraction_matches_batch(spark, unit_transcripts,
                                         stream_dirs):
    out = stream_dirs["base"] + "/out"
    ckpt = stream_dirs["base"] + "/ckpt"
    q = stream_extraction(spark, stream_dirs["input"], out, ckpt,
                          available_now=True)
    q.awaitTermination(300)

    got = {(r["conv_id"], r["turn_idx"]): r["extracted_text"]
           for r in spark.read.parquet(out).collect()}
    from pdf_ocr_spark import oracle
    import pyarrow.parquet as pq
    for row in pq.read_table(unit_transcripts).to_pylist():
        expect = oracle.extract_turn(row["text"])
        assert got[(row["conv_id"], row["turn_idx"])] \
            == expect.extracted_text

    # incremental restart with no new files: no duplicate output
    n_before = spark.read.parquet(out).count()
    q2 = stream_extraction(spark, stream_dirs["input"], out, ckpt,
                           available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_before

    # the stream runs the batch plan: same rows as run_extraction over
    # the same one-file input, and the same charged turns
    _assert_stream_matches_batch(spark, stream_dirs["input"], out,
                                 stream_dirs["base"] + "/batch")
    # ... also where PDF payloads repeat (285 PDF turns, 12 distinct):
    # each distinct payload is charged once, at one turn, as in batch
    from pdf_ocr_spark.fixtures import cached_fixture
    dup_in = stream_dirs["base"] + "/dup_in"
    os.makedirs(dup_in)
    shutil.copy(cached_fixture("pipeline"), dup_in + "/part-0.parquet")
    dup_out = stream_dirs["base"] + "/dup_out"
    stream_extraction(spark, dup_in, dup_out,
                      stream_dirs["base"] + "/dup_ckpt").awaitTermination(300)
    _assert_stream_matches_batch(spark, dup_in, dup_out,
                                 stream_dirs["base"] + "/dup_batch")


def _assert_stream_matches_batch(spark, input_dir, stream_out, base):
    """run_extraction over ``input_dir`` must agree with the streamed
    output on every result column per (conv_id, turn_idx), and on which
    decoded PDF turns carry the decode cost (elapsed_us > 0)."""
    from pdf_ocr_spark.pipeline import run_extraction
    run_extraction(spark, input_dir, base + "/out", base + "/lin",
                   resume=False)
    cols = ["extracted_text", "spans", "method", "n_pages", "error"]
    streamed, batch = (spark.read.parquet(p) for p in
                       (stream_out, base + "/out"))

    def rows(f):
        return {(r["conv_id"], r["turn_idx"]): tuple(r[c] for c in cols)
                for r in f.collect()}

    def charged(f):
        return {(r["conv_id"], r["turn_idx"]) for r in
                f.filter("method IN ('ocr', 'extract') AND elapsed_us > 0")
                .collect()}

    assert rows(streamed) == rows(batch)
    assert charged(streamed) == charged(batch)


def test_stream_extraction_replayed_batch_is_exactly_once(
        spark, unit_transcripts, stream_dirs, tmp_path):
    """A crash between a micro-batch's write and its checkpoint commit
    replays that batch under the same id and offsets; the per-batch
    overwrite must replace its own output, not add a second copy."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream_extraction(spark, stream_dirs["input"], out,
                      ckpt).awaitTermination(300)
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    stream_extraction(spark, stream_dirs["input"], out,
                      ckpt).awaitTermination(300)
    assert os.path.exists(os.path.join(commits, str(last)))  # replayed

    import pyarrow.parquet as pq
    res = spark.read.parquet(out)
    assert res.count() == pq.read_metadata(unit_transcripts).num_rows
    assert res.groupBy("conv_id", "turn_idx").count() \
        .filter("count > 1").count() == 0


def test_conversation_state_stats(spark, stream_dirs, unit_transcripts,
                                  tmp_path_factory):
    agg = conversation_state_stats(spark, stream_dirs["input"])
    base = str(tmp_path_factory.mktemp("state"))
    q = (agg.writeStream.format("memory").queryName("conv_state")
         .outputMode("update")
         .option("checkpointLocation", base + "/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {r["conv_id"]: r for r in
            spark.sql("select * from conv_state").collect()}
    import pyarrow.parquet as pq
    import collections
    expect = collections.Counter()
    pdf_counts = collections.Counter()
    for row in pq.read_table(unit_transcripts).to_pylist():
        expect[row["conv_id"]] += 1
        if (row["text"] or "").startswith("JVBERi"):
            pdf_counts[row["conv_id"]] += 1
    for conv, n in expect.items():
        assert rows[conv]["n_turns"] == n, conv
        assert rows[conv]["n_pdf"] == pdf_counts.get(conv, 0), conv


def test_stream_method_counts(spark, stream_dirs, tmp_path_factory):
    agg = stream_method_counts(spark, stream_dirs["input"],
                               watermark="1 minute", window="1 hour")
    base = str(tmp_path_factory.mktemp("agg"))
    q = (agg.writeStream.format("memory").queryName("method_counts")
         .outputMode("complete")
         .option("checkpointLocation", base + "/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from method_counts").collect()
    kinds = {r["kind"] for r in rows}
    assert {"pdf", "html", "plain"} <= kinds
    assert all(r["n_turns"] > 0 for r in rows)


def test_stream_dedup_exact_collapses_cross_batch_duplicates(
        spark, tmp_path_factory):
    """Streaming exact dedup (watermark-bounded state): duplicates
    arriving in DIFFERENT micro-batch files within the horizon collapse
    to one surviving row per distinct payload; parity with the batch
    distinct-md5 count over the same input."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta
    from pdf_ocr_spark.streaming import stream_dedup_exact

    base = tmp_path_factory.mktemp("sdedup")
    input_dir = str(base / "in")
    os.makedirs(input_dir)
    t0 = datetime(2026, 1, 1, 12, 0, 0)

    def write(name, rows):
        pq.write_table(pa.table({
            "conv_id": pa.array([r[0] for r in rows], pa.string()),
            "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
            "role": pa.array(["user"] * len(rows), pa.string()),
            "text": pa.array([r[2] for r in rows], pa.string()),
            "tool": pa.array([None] * len(rows), pa.string()),
            "ts": pa.array([t0 + timedelta(minutes=r[3]) for r in rows],
                           pa.timestamp("us")),
        }), os.path.join(input_dir, name))

    # same payloads recur across both files, minutes apart (inside the
    # 1h horizon); 4 distinct texts total
    write("part-0.parquet", [
        ("c1", 0, "alpha body text", 0), ("c1", 1, "beta body text", 1),
        ("c2", 0, "alpha body text", 2),
    ])
    write("part-1.parquet", [
        ("c3", 0, "beta body text", 10), ("c3", 1, "gamma body text", 11),
        ("c4", 0, "delta body text", 12), ("c4", 1, "alpha body text", 13),
    ])

    dd = stream_dedup_exact(spark, input_dir, watermark="1 hour")
    q = (dd.writeStream.format("memory").queryName("sdedup")
         .outputMode("append")
         .option("checkpointLocation", str(base / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from sdedup").collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["alpha body text", "beta body text",
                     "delta body text", "gamma body text"]
    # parity: batch distinct-md5 count over the same directory
    batch = spark.read.parquet(input_dir)
    assert len(rows) == batch.selectExpr("md5(text) th") \
        .distinct().count()


def test_stream_dedup_exact_null_vs_empty(spark, tmp_path_factory):
    """NULL-text turns bypass dedup state (no content to deduplicate —
    batch-analog rule) and are NOT collapsed with each other or with
    genuinely-empty-text turns; empty texts dedup normally."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta
    from pdf_ocr_spark.streaming import stream_dedup_exact

    base = tmp_path_factory.mktemp("sdedupn")
    input_dir = str(base / "in")
    os.makedirs(input_dir)
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [("c1", 0, None, 0), ("c2", 0, "", 1),
            ("c3", 0, None, 2), ("c4", 0, "", 3),
            ("c5", 0, "real text", 4), ("c6", 0, "real text", 5)]
    pq.write_table(pa.table({
        "conv_id": pa.array([r[0] for r in rows], pa.string()),
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "role": pa.array(["user"] * len(rows), pa.string()),
        "text": pa.array([r[2] for r in rows], pa.string()),
        "tool": pa.array([None] * len(rows), pa.string()),
        "ts": pa.array([t0 + timedelta(minutes=r[3]) for r in rows],
                       pa.timestamp("us")),
    }), os.path.join(input_dir, "part-0.parquet"))

    dd = stream_dedup_exact(spark, input_dir, watermark="1 hour")
    q = (dd.writeStream.format("memory").queryName("sdedupn")
         .outputMode("append")
         .option("checkpointLocation", str(base / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("select * from sdedupn").collect()
    # both NULL turns survive; '' collapses to one; 'real text' to one
    assert sorted(r["conv_id"] for r in out if r["text"] is None) \
        == ["c1", "c3"]
    assert len([r for r in out if r["text"] == ""]) == 1
    assert len([r for r in out if r["text"] == "real text"]) == 1


def _write_turns(input_dir, name, rows, t0=None, mtime=None):
    """rows: (conv_id, turn_idx, text, minutes_offset)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta
    t0 = t0 or datetime(2026, 1, 1, 12, 0, 0)
    path = os.path.join(input_dir, name)
    pq.write_table(pa.table({
        "conv_id": pa.array([r[0] for r in rows], pa.string()),
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "role": pa.array(["user"] * len(rows), pa.string()),
        "text": pa.array([r[2] for r in rows], pa.string()),
        "tool": pa.array([None] * len(rows), pa.string()),
        "ts": pa.array([t0 + timedelta(minutes=r[3]) for r in rows],
                       pa.timestamp("us")),
    }), path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return path


_ND_BASE = ("the quick brown fox jumps over the lazy dog near the wide "
            "river bank while morning fog settles on the quiet valley")


def test_stream_dedup_neardup_parity_across_batches(spark,
                                                    tmp_path_factory):
    """Streaming MinHash band candidates == batch minhash_band_candidates
    over the same rows, INCLUDING near-dup pairs that straddle
    micro-batches (VERDICT r4 #4): identical shingle/hash/band
    arithmetic, state carries batch-1 signatures into batch 2."""
    from pdf_ocr_spark.relational.dedup import (
        _shingles_of, minhash_band_candidates)
    from pdf_ocr_spark.streaming import stream_dedup_neardup
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("snd")
    input_dir = str(base / "in")
    os.makedirs(input_dir)
    # two words differ -> 11/16 signature components match with these
    # deterministic seeds and exactly one band (of 4) still collides:
    # a candidate with est_jaccard strictly between 0 and 1
    w = _ND_BASE.split()
    w[5] = "across"
    w[-1] = "meadow"
    near = " ".join(w)
    _write_turns(input_dir, "part-0.parquet", [
        ("a", 0, _ND_BASE, 0),
        ("b", 0, "completely unrelated short text about database engines "
                 "and columnar storage formats for analytics", 1),
        ("c", 0, "alpha beta gamma delta epsilon zeta eta theta iota "
                 "kappa lambda mu", 2),
    ], mtime=1_000_000)
    _write_turns(input_dir, "part-1.parquet", [
        ("a", 1, near, 10),                    # near-dup of a:0, batch 2
        ("c", 1, "alpha beta gamma delta epsilon zeta eta theta iota "
                 "kappa lambda mu", 11),       # identical to c:0
        ("d", 0, "yet another unrelated sentence mentioning gradient "
                 "descent and learning rate schedules", 12),
    ], mtime=2_000_000)

    nd = stream_dedup_neardup(spark, input_dir, watermark="1 hour",
                              n_hashes=16, n_bands=4,
                              max_files_per_trigger=1)
    q = (nd.writeStream.format("memory").queryName("snd")
         .outputMode("append")
         .option("checkpointLocation", str(base / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("select * from snd").collect()
    got = {(r["doc_a"], r["doc_b"]) for r in out}

    docs = (spark.read.parquet(input_dir)
            .filter(F.col("text").isNotNull())
            .select(F.concat_ws(":", "conv_id", "turn_idx")
                    .alias("doc_id"), "text"))
    want = {(r["doc_a"], r["doc_b"])
            for r in minhash_band_candidates(
                _shingles_of(docs), 16, 4).collect()}
    assert got == want
    assert ("a:0", "a:1") in got          # near-dup straddling batches
    # identical texts: the MinHash estimate is exactly 1.0
    ident = [r["est_jaccard"] for r in out
             if (r["doc_a"], r["doc_b"]) == ("c:0", "c:1")]
    assert ident and all(e == 1.0 for e in ident)
    # near-but-not-identical: high estimate, below 1
    nd_est = [r["est_jaccard"] for r in out
              if (r["doc_a"], r["doc_b"]) == ("a:0", "a:1")]
    assert nd_est and all(0.5 <= e < 1.0 for e in nd_est)


def test_stream_dedup_neardup_state_evicts_past_watermark(
        spark, tmp_path_factory):
    """Entries older than the horizon leave state: an identical pair 3h
    apart (watermark 1h) is NOT emitted once the watermark has advanced
    past the first copy, while an in-horizon identical pair IS."""
    from pdf_ocr_spark.streaming import stream_dedup_neardup

    base = tmp_path_factory.mktemp("sndw")
    input_dir = str(base / "in")
    os.makedirs(input_dir)
    old = ("stale viral page text repeated long after the horizon "
           "expired for everyone involved")
    fresh = ("fresh duplicate text arriving well inside the watermark "
             "horizon this very hour")
    _write_turns(input_dir, "part-0.parquet",
                 [("x", 0, old, 0)], mtime=1_000_000)
    # advances the watermark to t0+2h-1h = t0+1h, evicting x:0 (ts=t0)
    _write_turns(input_dir, "part-1.parquet",
                 [("z", 0, fresh, 120),
                  ("u", 0, "unrelated filler sentence to carry the "
                           "event time forward in this batch", 121)],
                 mtime=2_000_000)
    _write_turns(input_dir, "part-2.parquet",
                 [("x", 1, old, 180),      # 3h after x:0 -> no pair
                  ("z", 1, fresh, 180)],   # 1h after z:0 -> pair
                 mtime=3_000_000)

    nd = stream_dedup_neardup(spark, input_dir, watermark="1 hour",
                              n_hashes=16, n_bands=4,
                              max_files_per_trigger=1)
    q = (nd.writeStream.format("memory").queryName("sndw")
         .outputMode("append")
         .option("checkpointLocation", str(base / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["doc_a"], r["doc_b"])
           for r in spark.sql("select * from sndw").collect()}
    assert ("z:0", "z:1") in got
    assert ("x:0", "x:1") not in got


def test_stream_sessionize_batch_parity_and_gap_semantics(
        spark, tmp_path_factory):
    """Native session windows: streaming result == the same
    session_window aggregation run in batch over the same files, and
    the inactivity-gap semantics match q_sessionize (<=gap merges,
    >gap splits) — sessions straddling micro-batches merge in state."""
    from pdf_ocr_spark.streaming import stream_sessionize
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("ssess")
    input_dir = str(base / "in")
    os.makedirs(input_dir)
    # conv a: turns at 0,10,20 min (one session), then 60,65 (second
    # session) — the second session STARTS in file 2; conv b: a turn at
    # 5 in file 1 and one at 25 in file 2 (20-min gap -> SAME session,
    # merged across micro-batches)
    _write_turns(input_dir, "part-0.parquet", [
        ("a", 0, "t", 0), ("a", 1, "t", 10), ("a", 2, "t", 20),
        ("b", 0, "t", 5),
    ], mtime=1_000_000)
    _write_turns(input_dir, "part-1.parquet", [
        ("a", 3, "t", 60), ("a", 4, "t", 65),
        ("b", 1, "t", 25),
    ], mtime=2_000_000)

    ss = stream_sessionize(spark, input_dir, gap="30 minutes",
                           watermark="1 hour")
    q = (ss.writeStream.format("memory").queryName("ssess")
         .outputMode("complete")
         .option("checkpointLocation", str(base / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["conv_id"], r["session_start"], r["session_end"],
            r["n_turns"])
           for r in spark.sql("select * from ssess").collect()}

    want = {(r["conv_id"], r["session_start"], r["session_end"],
             r["n_turns"])
            for r in (spark.read.parquet(input_dir)
                      .groupBy("conv_id",
                               F.session_window("ts", "30 minutes"))
                      .agg(F.count("*").alias("n_turns"))
                      .select("conv_id",
                              F.col("session_window.start")
                              .alias("session_start"),
                              F.col("session_window.end")
                              .alias("session_end"),
                              "n_turns")).collect()}
    assert got == want
    by_conv = {}
    for conv, *_rest, n in got:
        by_conv.setdefault(conv, []).append(n)
    assert sorted(by_conv["a"]) == [2, 3]   # 30-min gap splits
    assert by_conv["b"] == [2]              # 20-min gap merges x-batch


def test_stream_dedup_neardup_randomized_parity(spark, tmp_path_factory):
    """Randomized scale-up of the parity test: 60 documents (clusters of
    near-dup variants + unrelated fillers) shuffled across 3 micro-batch
    files — the streaming candidate-pair set must equal the batch
    minhash_band_candidates set over the same rows."""
    import random

    from pdf_ocr_spark.relational.dedup import (
        _shingles_of, minhash_band_candidates)
    from pdf_ocr_spark.streaming import stream_dedup_neardup
    from pyspark.sql import functions as F

    rng = random.Random(99)
    vocab = ("spark arrow parquet shuffle executor stage task driver "
             "memory broadcast join filter scan codegen batch column "
             "row group page index vector hash sort merge union").split()

    def sentence(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    docs = []
    for c in range(8):                       # 8 clusters of near-dups
        base = sentence(25).split()
        for v in range(rng.randint(2, 4)):
            w = base[:]
            for _ in range(rng.randint(0, 3)):   # 0-3 word edits
                w[rng.randrange(len(w))] = rng.choice(vocab)
            docs.append(f"c{c}v{v}: " + " ".join(w))
    docs += [f"f{i}: " + sentence(rng.randint(10, 30)) for i in range(20)]
    rng.shuffle(docs)

    base = tmp_path_factory.mktemp("sndr")
    input_dir = str(base / "in")
    os.makedirs(input_dir)
    per = (len(docs) + 2) // 3
    for b in range(3):
        chunk = docs[b * per:(b + 1) * per]
        _write_turns(input_dir, f"part-{b}.parquet",
                     [(f"c{b}", i, t, b * 5 + i * 0.01)
                      for i, t in enumerate(chunk)],
                     mtime=1_000_000 * (b + 1))

    nd = stream_dedup_neardup(spark, input_dir, watermark="1 hour",
                              n_hashes=16, n_bands=4,
                              max_files_per_trigger=1)
    q = (nd.writeStream.format("memory").queryName("sndr")
         .outputMode("append")
         .option("checkpointLocation", str(base / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["doc_a"], r["doc_b"])
           for r in spark.sql("select * from sndr").collect()}

    all_docs = (spark.read.parquet(input_dir)
                .filter(F.col("text").isNotNull())
                .select(F.concat_ws(":", "conv_id", "turn_idx")
                        .alias("doc_id"), "text"))
    want = {(r["doc_a"], r["doc_b"])
            for r in minhash_band_candidates(
                _shingles_of(all_docs), 16, 4).collect()}
    assert got == want
    assert len(want) >= 5   # the fixture really does produce candidates
