"""curate_corpus: the full extraction -> dedup -> filter -> split -> pack
composition (pdf_ocr_spark/curate.py).

Value-level checks on a hand-built extracted frame where every stage has
a planted positive AND negative case, plus python-side recomputation of
the split/shard/pack arithmetic."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_ocr_spark.curate import curate_corpus, curate_summary

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
GOOD2 = "totally different words nothing shared here at all ok friend"
JUNK = "!!!! ???? ;;;; ::::"                      # low quality (punct)
SPAM = " ".join(["spam"] * 24)                    # repetitive 2-grams


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string")


@pytest.fixture(scope="module")
def curated(spark):
    ext = _frame(spark, [
        ("c1", 0, BASE),                          # exact trio ...
        ("c2", 0, BASE),
        ("c3", 5, BASE),
        ("c1", 1, BASE[:-5] + "lambda"),          # ... + near-dup
        ("c9", 0, GOOD2),                         # unique, survives
        ("c9", 1, None),                          # error turn, dropped
        ("c9", 2, JUNK),                          # quality-filtered
        ("c9", 3, SPAM),                          # repetition-filtered
    ])
    return curate_corpus(ext, budget=16, n_shards=4).toPandas()


def test_dedup_keeps_one_per_cluster(curated):
    dup_turns = {("c1", 0), ("c2", 0), ("c3", 5), ("c1", 1)}
    survivors = {(r.conv_id, r.turn_idx)
                 for r in curated.itertuples()} & dup_turns
    assert len(survivors) == 1
    row = curated.set_index(["conv_id", "turn_idx"]) \
        .loc[list(survivors)[0]]
    assert row.cluster_size == 4


def test_quality_and_repetition_filters(curated):
    kept = {(r.conv_id, r.turn_idx) for r in curated.itertuples()}
    assert ("c9", 0) in kept                      # good doc survives
    assert ("c9", 2) not in kept                  # junk: quality < 0.30
    assert ("c9", 3) not in kept                  # spam: repetitive
    assert ("c9", 1) not in kept                  # error turn dropped
    assert (curated.quality >= 0.30).all()


def test_split_and_shard_are_stable_md5(curated):
    for r in curated.itertuples():
        key = f"{r.conv_id}:{r.turn_idx}"
        b = int(hashlib.md5(f"split:{key}".encode())
                .hexdigest()[:15], 16) % 100
        want = "train" if b < 80 else ("val" if b < 90 else "test")
        assert r.split == want, (key, b)
        s = int(hashlib.md5(f"pack:{key}".encode())
                .hexdigest()[:15], 16) % 4
        assert r.shard == s


def test_packing_matches_recomputed_cumsum(curated):
    budget = 16
    for (_, _), g in curated.groupby(["split", "shard"]):
        g = g.sort_values(["conv_id", "turn_idx"])
        cum = 0
        for r in g.itertuples():
            assert r.pack_first == cum // budget
            assert r.n_packs == (cum + r.n_tokens - 1) // budget \
                - cum // budget + 1
            cum += r.n_tokens


def test_summary_accounts_for_every_survivor(spark, curated):
    cur = spark.createDataFrame(curated)
    summ = curate_summary(cur).toPandas()
    assert summ.n_turns.sum() == len(curated)
    assert summ.n_tokens.sum() == curated.n_tokens.sum()
    # n_packs is the shard's pack count: max end index, 1-based
    for r in summ.itertuples():
        g = curated[(curated.split == r.split)
                    & (curated.shard == r.shard)]
        assert r.n_packs == (g.pack_first + g.n_packs).max()


def test_e2e_over_real_pipeline_output(spark, tmp_path):
    """The composition runs over the REAL pipeline's output schema: extract
    the unit fixture, curate, and check survivors are a subset of the
    successfully extracted turns with sane metrics."""
    from pdf_ocr_spark.fixtures import generate_transcripts
    from pdf_ocr_spark.pipeline import run_extraction

    inp = str(tmp_path / "t.parquet")
    generate_transcripts(inp, tier="unit")
    run_extraction(spark, inp, str(tmp_path / "out"),
                   str(tmp_path / "lin"), run_id="cur",
                   num_buckets=8, resume=False)
    out = spark.read.parquet(str(tmp_path / "out"))
    cur = curate_corpus(out).toPandas()
    ok = out.filter(F.col("extracted_text").isNotNull()) \
        .select("conv_id", "turn_idx").toPandas()
    ok_keys = set(map(tuple, ok.values))
    assert 0 < len(cur) <= len(ok_keys)
    assert {(r.conv_id, r.turn_idx) for r in cur.itertuples()} <= ok_keys
    assert (cur.n_tokens > 0).all()
    assert set(cur.split) <= {"train", "val", "test"}


def test_curate_tokens_split_on_any_whitespace(spark):
    """extracted_text joins pages/paragraphs with newlines: token
    counting (and hence the pack budget) must not fuse words across
    the paragraph join."""
    ext = _frame(spark, [
        ("cw", 0, "one two three\n\nfour five six seven eight nine ten")])
    cur = curate_corpus(ext).toPandas()
    assert len(cur) == 1
    assert cur.n_tokens.iloc[0] == 10


def test_curate_repetition_default_is_production(spark):
    """Ordinary prose repeats bigrams ('in the', 'there is') at ~0.15 —
    the synthetic-tuned 0.05 threshold would discard it; the Gopher
    production default (0.20) must keep it, and the threshold must be
    overridable back down for small-vocab corpora."""
    text = ("in the house there is a cat and in the garden there is a "
            "dog and nothing else to report today")
    ext = _frame(spark, [("cp", 0, text)])
    assert len(curate_corpus(ext).toPandas()) == 1
    assert len(curate_corpus(
        ext, rep_2gram_threshold=0.05,
        rep_3gram_threshold=0.02).toPandas()) == 0


def test_curate_semantic_stage_drops_paraphrase(spark):
    """semantic_threshold adds a SemDeDup pass after MinHash keep-one:
    a 25%-word-substituted paraphrase (shingle Jaccard ~0.14, hashed-BoW
    cosine ~0.7) survives the default pipeline but not the semantic
    stage — and exactly one of the pair survives, deterministically."""
    base = [f"word{i:03d}" for i in range(40)]
    para = list(base)
    for i in range(0, 40, 4):
        para[i] = f"syn{i:03d}"
    ext = spark.createDataFrame(
        [("cA", 0, " ".join(base)),
         ("cB", 0, " ".join(para)),
         ("cC", 0, " ".join(f"other{i:03d}" for i in range(40)))],
        "conv_id string, turn_idx int, extracted_text string")
    plain = curate_corpus(ext)
    assert plain.count() == 3
    sem = curate_corpus(ext, semantic_threshold=0.5, semantic_n_cents=1)
    got = {(r["conv_id"], r["turn_idx"]) for r in sem.collect()}
    assert ("cC", 0) in got and len(got) == 2
    assert len({("cA", 0), ("cB", 0)} & got) == 1
    # repeat: deterministic
    sem2 = {(r["conv_id"], r["turn_idx"])
            for r in curate_corpus(ext, semantic_threshold=0.5,
                                   semantic_n_cents=1).collect()}
    assert sem2 == got


def test_curate_semantic_stage_keeps_unembedded_docs(spark, monkeypatch):
    """A doc that embed_docs omits (it drops zero-norm vectors) has no
    semantic duplicate: the semantic stage must keep it, not drop it
    from the corpus because SemDeDup never saw it."""
    import pdf_ocr_spark.embed as embed
    ext = _frame(spark, [("cA", 0, BASE), ("cC", 0, GOOD2)])
    gone = ext.select(F.xxhash64("conv_id", "turn_idx")).first()[0]
    real = embed.embed_docs
    monkeypatch.setattr(
        embed, "embed_docs",
        lambda d, *a, **k: real(d, *a, **k).filter(F.col("doc_id") != gone))
    got = {(r["conv_id"], r["turn_idx"])
           for r in curate_corpus(ext, semantic_threshold=0.5,
                                  semantic_n_cents=1).collect()}
    assert got == {("cA", 0), ("cC", 0)}


def test_curate_count_mode_pretok_budgets_cjk(spark):
    """count_mode='pretok' budgets unspaced CJK by per-char tokens."""
    ext = spark.createDataFrame(
        [("zh", 0, "中文文档没有空格所以按词计数完全失败"),
         ("en", 0, "plain english words counted the usual way here")],
        "conv_id string, turn_idx int, extracted_text string")
    pre = {r["conv_id"]: r["n_tokens"]
           for r in curate_corpus(ext, min_quality=0.0,
                                  count_mode="pretok").collect()}
    ws = {r["conv_id"]: r["n_tokens"]
          for r in curate_corpus(ext, min_quality=0.0).collect()}
    assert ws["zh"] == 1 and pre["zh"] == 18
    assert pre["en"] == ws["en"] == 8
