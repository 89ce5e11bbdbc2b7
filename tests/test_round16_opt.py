"""Round-16 OPTIMIZATION tests: pin the internals the optimization
round changed (sized codec-stage widths, fused tokenizer merge tails,
the bm25 tokenize-once projection, the broadcast truth semi-joins) so
a later edit cannot silently undo them. Behavior-level coverage lives
in the existing multimodal/tokenizer/oracle tests; these assert the
NEW contracts directly."""

import pytest
from pyspark.sql import functions as F


# ------------------ change A: sized codec-stage width (multimodal.py)


def test_sized_codec_partitions_noop_cases(spark):
    """The width rule must leave alone (return None for) inputs that
    are tiny (sized width <= 1) or already at least as wide as the
    sized width — the 100 TB case where the scan out-parallelizes any
    cap."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        sized_codec_partitions,
        _BPT_CHEAP,
        _BPT_JPEG,
    )

    tiny = spark.createDataFrame(
        [(i, "x" * 10) for i in range(5)], "doc_id long, text string"
    )
    assert sized_codec_partitions(tiny, _BPT_CHEAP) is None

    # wide-enough input: even if the estimate says a few tasks, an
    # input already partitioned wider must not be narrowed
    wide = spark.createDataFrame(
        [(i, "x" * 2000) for i in range(200)], "doc_id long, text string"
    ).repartition(32)
    w = sized_codec_partitions(wide, _BPT_JPEG)
    assert w is None or w > 32


def test_sized_codec_partitions_grows_with_input(spark):
    """Bigger plan-estimated input -> wider stage, capped at session
    parallelism; the jpeg class (16 KiB/task) is wider than the cheap
    class (64 KiB/task) on the same input."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        sized_codec_partitions,
        _BPT_CHEAP,
        _BPT_JPEG,
    )

    cores = spark.sparkContext.defaultParallelism
    df = spark.createDataFrame(
        [(i, "x" * 2000) for i in range(500)], "doc_id long, text string"
    )
    w_jpeg = sized_codec_partitions(df, _BPT_JPEG)
    w_cheap = sized_codec_partitions(df, _BPT_CHEAP)
    if w_jpeg is not None:
        assert w_jpeg <= cores
        assert w_cheap is None or w_cheap <= w_jpeg


def test_payload_synth_auto_width_rows_identical(spark):
    """The sized stage width must not change a single payload byte:
    a one-partition input and an eight-partition input of the same
    docs emit the same payloads."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        text_to_gif_payload,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i} " + "abcdefgh" * 12) for i in range(50)],
        "doc_id long, text string",
    )

    def payloads(src):
        return {
            r["doc_id"]: bytes(r["payload"])
            for r in text_to_gif_payload(src, "text").collect()
        }

    assert payloads(df.coalesce(1)) == payloads(df.repartition(8))


# --------------- change B: fused merge tails (bpe.py / wordpiece.py)


def _words_df(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        _WORDS_SCHEMA,
    )

    rows = [
        (list("banana"), 3),
        (list("bandana"), 2),
        (list("ananas"), 5),
        (list("nab"), 1),
    ]
    return spark.createDataFrame(rows, _WORDS_SCHEMA)


def test_bpe_apply_merges_fused_equals_sequential(spark):
    """Applying the pending list in ONE Python stage must rewrite
    exactly like the old one-stage-per-merge chain (order matters:
    later merges see earlier fusions)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        _apply_merges,
    )

    merges = [("a", "n"), ("an", "an"), ("b", "anan")]
    words = _words_df(spark)
    chained = words
    for left, right in merges:
        chained = _apply_merges(chained, [(left, right)])
    fused = _apply_merges(words, merges)
    key = lambda r: (tuple(r["syms"]), r["n"])
    assert sorted(map(key, fused.collect())) == sorted(
        map(key, chained.collect())
    )
    # empty pending list is the identity (no Python stage at all)
    assert _apply_merges(words, []) is words


def test_wordpiece_apply_merges_fused_equals_sequential(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        _apply_merges,
        _word_table,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wordpiece import (
        _fuse,
        _wp_symbols,
    )

    docs = spark.createDataFrame(
        [(1, "banana bandana ananas nab banana")], "doc_id long, text string"
    )
    words = _word_table(docs, "text", lowercase=True, symbols=_wp_symbols)
    merges = [("a", "##n"), ("an", "##a")]
    chained = words
    for left, right in merges:
        chained = _apply_merges(chained, [(left, right)], _fuse)
    fused = _apply_merges(words, merges, _fuse)
    key = lambda r: (tuple(r["syms"]), r["n"])
    assert sorted(map(key, fused.collect())) == sorted(
        map(key, chained.collect())
    )


# ------------------- change C: bm25 tokenize-once (retrieval.py)


def test_bm25_plan_tokenizes_once_per_pass(spark):
    """The scoring pass must evaluate the regex+split tokenization
    once per row, not once per term: the physical plan carries at most
    one split( per corpus pass plus cheap attribute references — the
    pre-r16 inline form showed ~18 (9 per pass with 4 query terms)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.retrieval import (
        bm25_topk,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i}") for i in range(40)],
        "doc_id long, text string",
    )
    plan = (
        bm25_topk(docs, ["alpha", "beta", "gamma", "delta"], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_split = plan.count("split(")
    assert n_split <= 6, f"tokenization duplicated again: {n_split} split( nodes"


# ----------- change D: broadcast truth semi-joins (__spark_entry__)


def test_ann_recall_report_has_no_sort_merge_join(spark):
    """The q x k truth is always broadcastable; a SortMergeJoin here
    means the hint was dropped and both ANN results pay an exchange +
    sort again."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["ann_recall_report"](
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
