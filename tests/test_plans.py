"""Physical-plan regression locks: the optimizations the engine depends on
must stay in the plan (pushdown, broadcast, top-k) — a refactor that
silently drops one should fail here, not in production."""


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString() + \
        df._jdf.queryExecution().optimizedPlan().toString()


def test_flagship_plan_locks(spark, unit_transcripts):
    """Locks on the REAL build_result plan (not a hand-built analog):
    route predicates pushed into every parquet scan, slim ReadSchema, and
    broadcast hot-key routing."""
    from pdf_ocr_spark.pipeline import build_result, with_bucket
    from pdf_ocr_spark.config import DEFAULT
    df = spark.read.parquet(unit_transcripts) \
        .select("conv_id", "turn_idx", "text")
    result = build_result(with_bucket(df, 64, 64), DEFAULT, 8)
    plan = _plan(result)
    # pdf side: both conjuncts pushed
    assert "PushedFilters: [IsNotNull(text), " \
        "StringStartsWith(text,JVBERi)]" in plan
    # light side: the never-three-valued complement is pushed too
    assert "Or(IsNull(text),Not(StringStartsWith(text,JVBERi)))" in plan
    # column pruning: no physical scan reads role/tool/ts
    assert "ReadSchema: struct<conv_id:string,turn_idx:int,text:string>" \
        in plan
    import re
    for rs in re.findall(r"ReadSchema: (\S+)", plan):
        assert "role" not in rs and "tool" not in rs and "ts:" not in rs
    # round-robin decode spread survives (not swallowed by AQE reuse), at
    # one decode task per shuffle partition, never fewer than the cores:
    # every extra Python task pays PySpark's fixed per-task worker setup
    n = max(8, spark.sparkContext.defaultParallelism)
    assert f"RoundRobinPartitioning({n})" in plan


def test_mean_of_means_broadcasts_dim(spark):
    from pdf_ocr_spark.relational.queries import q_mean_of_means
    plan = _plan(q_mean_of_means(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_ann_topk_uses_take_ordered(spark):
    from pdf_ocr_spark.relational.similarity import q_ann_cosine_topk
    plan = _plan(q_ann_cosine_topk(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_minhash_dedup_prepass_plan_locks(spark):
    """The r3 exact-dedup pre-pass must stay join-shaped: no cartesian
    product anywhere, the band-collision candidates come from an
    equi-join, and the signature aggregation keeps its map-side partial
    phase (partial_min) — the properties that make the query survive a
    100 TB corpus."""
    from pdf_ocr_spark.relational.dedup import q_dedup_minhash
    plan = _plan(q_dedup_minhash(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_idx" in plan and "band_key" in plan  # the LSH equi-join
    assert "partial_min" in plan  # map-side combine of the 64 sig mins


def test_ngram_jaccard_plan_locks(spark):
    """Inverted-index similarity must stay equi-join shaped: no
    cartesian/nested-loop anywhere even with the pre-pass + fan-out."""
    from pdf_ocr_spark.relational.dedup import q_dedup_ngram_jaccard
    plan = _plan(q_dedup_ngram_jaccard(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_hamming_plan_locks(spark):
    """The pigeonhole band join must stay equi-join shaped (VERDICT r3:
    ngram had a lock, hamming did not): candidates from an equi-join on
    (band_idx, band_bits), no cartesian/nested-loop anywhere, popcount
    verify on candidates only."""
    from pdf_ocr_spark.relational.dedup import q_dedup_simhash_hamming
    plan = _plan(q_dedup_simhash_hamming(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_idx" in plan and "band_bits" in plan
    assert "bit_count" in plan  # verify stage present


def test_dedup_extracted_neardup_plan_locks(spark):
    """The composed dedup-over-extraction-output path inherits the
    library's scale shape: no cartesian, LSH band equi-join, and the
    (conv, turn) identity join-back stays a hash/equi join."""
    from pdf_ocr_spark.dedup_extracted import dedup_extracted_neardup
    ext = spark.createDataFrame(
        [("c1", 0, "alpha beta gamma delta epsilon zeta"),
         ("c2", 0, "alpha beta gamma delta epsilon zeta"),
         ("c3", 0, "unrelated words entirely different from those")],
        "conv_id string, turn_idx int, extracted_text string")
    plan = _plan(dedup_extracted_neardup(ext))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_idx" in plan and "band_key" in plan
    assert "xxhash64" in plan  # surrogate key computed JVM-side


def test_assemble_conversations(spark):
    from pdf_ocr_spark.export import assemble_conversations
    df = spark.createDataFrame(
        [("c1", 1, "beta", "plain"), ("c1", 0, "alpha", "plain"),
         ("c2", 0, "", "error")],
        "conv_id string, turn_idx int, extracted_text string, "
        "method string")
    rows = {r["conv_id"]: r
            for r in assemble_conversations(df).collect()}
    assert rows["c1"]["conversation_text"] == "alpha\n\nbeta"
    assert rows["c1"]["n_turns"] == 2 and rows["c1"]["n_errors"] == 0
    assert rows["c2"]["n_errors"] == 1


def test_group_pairs_cap_window_is_partial_group_limit(spark):
    """The max_group_pairs row_number window must compile to a
    WindowGroupLimit with a PARTIAL stage before the exchange: the cap's
    own motivating scenario (a 10^8-member viral duplicate group) must
    not funnel every member row through one task — each map partition
    pre-limits to m_cap rows per group (r5 review)."""
    from pdf_ocr_spark.relational.dedup import minhash_pairs

    d = spark.createDataFrame(
        [(i, "same viral text repeated for every doc in the group here")
         for i in range(10)] +
        [(100 + i, f"unique filler document number {i} with words")
         for i in range(5)],
        "doc_id long, text string")
    plan = _plan(minhash_pairs(d, 8, 2, max_group_pairs=3))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan
