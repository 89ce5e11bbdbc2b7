"""Round-15 tests: VERDICT r14 worklist — the charlm_score persist
leak (#3), the SRP eager-count fallback guard (#6) — and the ADVICE
r14 items (BPE oracle delimiter corpus guard, oov null-id pinning,
scan_audit eager-query exception)."""

import pytest
from conftest import SMALL_CORPUS
from pyspark.sql import functions as F


# ------------------------------------- VERDICT r14 #3: charlm persist leak


def test_charlm_score_leaves_no_persistent_rdds(spark, make_docs):
    """charlm_score(model='broadcast') must not leak a session-lifetime
    cache on the default call (the jaccard/BPE/incremental_dedup
    contract: library ops own their storage; persists are cache_out
    opt-ins whose lifecycle the CALLER controls)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import (
        charlm_score,
    )

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    charlm_score(make_docs(SMALL_CORPUS, start=1)).collect()
    charlm_score(make_docs(SMALL_CORPUS, start=1), model="window").collect()
    assert len(sc._jsc.getPersistentRDDs()) == before


def test_charlm_score_cache_out_handle(spark, make_docs):
    """cache_out=[] is the opt-in: the per-(doc, bigram) frame persists
    during the run, the caller unpersists the handle, and the result
    matches the cache-free default bit-for-bit."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import (
        charlm_score,
    )

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    expected = sorted(tuple(r) for r in charlm_score(make_docs(SMALL_CORPUS, start=1)).collect())
    handles: list = []
    got = sorted(
        tuple(r)
        for r in charlm_score(make_docs(SMALL_CORPUS, start=1), cache_out=handles).collect()
    )
    assert got == expected
    assert len(handles) == 1
    for f in handles:
        f.unpersist()
    assert len(sc._jsc.getPersistentRDDs()) == before


# ------------------------------------------ ADVICE r14 #4: oov null-id pin


def _docs_with_null_id(spark):
    """The round-14 corpus plus a null-id doc whose tokens ('zzz' x 12)
    would DOMINATE a small-k vocabulary if counted — the exact case
    where the composed and fused OOV forms used to diverge."""
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "pack my box with five dozen liquor jugs"),
            (4, "sphinx of black quartz judge my vow"),
            (5, ""),
            (6, "the the the quick quick zebra"),
            (None, "zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz zzz"),
        ],
        "doc_id long, text string",
    )


def test_vocab_top_terms_excludes_null_id_docs(spark, make_docs):
    """Null-id docs contribute no tokens to the vocabulary (the shared
    contract, ADVICE r14 #4): 'zzz' outnumbers every real token yet
    must not appear, and the list must equal the null-free corpus's."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.text import (
        vocab_top_terms,
    )

    with_null = {
        tuple(r) for r in vocab_top_terms(_docs_with_null_id(spark), k=3).collect()
    }
    without = {tuple(r) for r in vocab_top_terms(make_docs(SMALL_CORPUS, start=1), k=3).collect()}
    assert with_null == without
    assert not any(r[0] == "zzz" for r in with_null)


def test_oov_forms_agree_on_null_id_corpus(spark):
    """The fused and composed OOV forms must agree row-for-row on a
    corpus WITH a null-id doc, unconditionally (no ids-are-PK
    assumption)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.text import (
        oov_rate,
        oov_rate_against_top,
        vocab_top_terms,
    )

    d = _docs_with_null_id(spark)
    for k in (3, 5, 100):
        composed = {
            tuple(r) for r in oov_rate(d, vocab_top_terms(d, k=k)).collect()
        }
        fused = {tuple(r) for r in oov_rate_against_top(d, k=k).collect()}
        assert fused == composed
        # the null-id doc's row exists and is all-zero in both forms
        assert (None, 0, 0, 0.0) in fused


# --------------------------------- VERDICT r14 #6: SRP eager-count fallback


def test_no_registry_query_hits_eager_count_fallback(spark):
    """embed_neardup_pairs(planes=None) falls back to an eager
    df.count() (with a RuntimeWarning) when Catalyst sizeInBytes is
    unavailable. No registry entry may pay that hidden job: parquet-
    backed plans carry stats, and the embed callers pin planes= or use
    block=False. Constructing every plan under a warnings trap proves
    it and keeps it true for future entries (VERDICT r14 #6)."""
    import warnings

    import __spark_entry__ as entrymod

    # eager-at-construction queries (training loops / convergence
    # iterations) are excluded on cost grounds, same set as the
    # duplicate-scan column of tools/dump_plans.py — their code paths
    # contain no SRP sizing.
    eager = {"bpe_train_merges"}
    # connected-components queries run their convergence loop at
    # construction and the RETURNED frame rides the final
    # localCheckpoint, which the library cannot release — drop the
    # session-leaked checkpoint storage afterwards so the shared-
    # session cleanliness tests downstream see what they saw before
    # this test existed
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        _persistent_rdd_ids,
        _release_rdds,
    )

    before = _persistent_rdd_ids(spark)
    hits = []
    try:
        for name, fn in entrymod.queries().items():
            if name in eager:
                continue
            with warnings.catch_warnings(record=True) as rec:
                warnings.simplefilter("always")
                fn(spark, "/root/testdata/sf0.001")
            for w in rec:
                if issubclass(w.category, RuntimeWarning) and "sizeInBytes" in str(
                    w.message
                ):
                    hits.append(name)
    finally:
        _release_rdds(spark, _persistent_rdd_ids(spark) - before)
    assert hits == [], f"eager-count SRP fallback hit by: {hits}"


# ----------------------------- r15: fused dual-mode span removal


def test_span_removal_modes_equals_union_of_single_modes(spark):
    """remove_duplicate_spans_modes must be row-identical to unioning
    the two single-mode remove_duplicate_spans calls — the fusion is a
    plan change (one span-frequency pass, one rebuild), not a
    semantics change. Corpus includes an empty doc, a fully-duplicated
    doc, and a null-id doc."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        remove_duplicate_spans,
        remove_duplicate_spans_modes,
    )

    common = "one two three four five six seven"
    d = spark.createDataFrame(
        [
            (1, f"{common} alpha beta"),
            (2, f"gamma {common} delta"),
            (3, common),  # fully covered in 'all' mode
            (4, "unrelated words only here"),
            (5, ""),
            (None, f"{common} from a null-id doc"),
        ],
        "doc_id long, text string",
    )
    n, md = 4, 2
    union = []
    for mode, kf in (("all", False), ("keep_first", True)):
        for r in remove_duplicate_spans(d, n=n, min_docs=md, keep_first=kf).collect():
            union.append((r["doc_id"], mode, r["text_clean"], r["n_tokens"], r["n_removed"]))
    fused = [
        (r["doc_id"], r["dedup_mode"], r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in remove_duplicate_spans_modes(d, n=n, min_docs=md).collect()
    ]
    key = lambda t: (t[0] is None, t[0], t[1])
    assert sorted(fused, key=key) == sorted(union, key=key)
    # the fully-covered doc loses everything in 'all' mode but keeps
    # its tokens in keep_first mode when it is the smallest carrier
    by = {(r[0], r[1]): r for r in fused}
    assert by[(3, "all")][2] == ""
    assert by[(1, "keep_first")][4] == 0  # doc 1 is the first carrier


# ------------------------------------- VERDICT r14 #4: BPE merge budgets


def _bpe_corpora(spark, make_docs):
    yield make_docs(SMALL_CORPUS, start=1)
    # overlapping runs — the non-overlapping left-to-right rule and
    # per-position pair counting must agree between trainers
    yield spark.createDataFrame(
        [(1, "aaaa aaa aa a"), (2, "aaa bbb aab"), (3, "ab ab ab")],
        "doc_id long, text string",
    )


def test_bpe_hybrid_merge_identical_to_distributed(spark, make_docs):
    """bpe_train_hybrid (one histogram job + driver merge loop) must
    produce the EXACT merge list of bpe_train (one Spark job per merge)
    — same tie-break, same non-overlapping application, same min_freq
    stop. This is what makes the hybrid the production path for
    30-50k-merge budgets without leaving the oracle's semantics."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        bpe_train,
        bpe_train_hybrid,
    )

    for d in _bpe_corpora(spark, make_docs):
        for n_merges, min_freq in ((12, 2), (40, 1)):
            dist = bpe_train(d, n_merges=n_merges, min_freq=min_freq)
            hyb = bpe_train_hybrid(d, n_merges=n_merges, min_freq=min_freq)
            assert hyb == dist


def test_bpe_histogram_trainer_property_vs_reference():
    """Hypothesis property (no Spark in the loop): the hybrid's
    in-memory merge loop (`_train_from_histogram` — lazy-deletion heap
    + incremental per-affected-word pair updates) must match the
    independent full-recount reference implementation
    (test_round13._reference_bpe) merge-for-merge on random corpora.
    The incremental bookkeeping is exactly the kind of code a fixed
    corpus undertests: overlap runs, ties, pairs whose counts fall to
    zero and return."""
    from hypothesis import given, settings, strategies as st

    from test_round13 import _reference_bpe
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        _train_from_histogram,
    )

    words_st = st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6), min_size=1, max_size=30
    )

    @settings(max_examples=300, deadline=None)
    @given(words=words_st, n_merges=st.integers(1, 25), min_freq=st.integers(1, 3))
    def prop(words, n_merges, min_freq):
        from collections import Counter

        hist = Counter(words)
        got = _train_from_histogram(
            list(hist.keys()), list(hist.values()), n_merges, min_freq
        )
        want = _reference_bpe([" ".join(words)], n_merges, min_freq=min_freq)
        assert got == want

    prop()


def test_bpe_hybrid_histogram_cutoffs_are_deterministic(spark):
    """The escape hatches truncate the histogram deterministically:
    min_word_freq drops rare words, max_distinct_words keeps the top-N
    by (count desc, word asc). Training on the truncated histogram
    equals training on a corpus containing exactly those words."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        bpe_train,
        bpe_train_hybrid,
    )

    d = spark.createDataFrame(
        [(1, "foo foo foo bar bar baz"), (2, "foo bar qux")],
        "doc_id long, text string",
    )
    # min_word_freq=2 keeps {foo:4, bar:3} — same merges as a corpus of
    # just those words at those counts
    trunc = spark.createDataFrame(
        [(1, "foo foo foo foo bar bar bar")], "doc_id long, text string"
    )
    got = bpe_train_hybrid(d, n_merges=10, min_word_freq=2)
    want = bpe_train(trunc, n_merges=10)
    assert got == want
    assert bpe_train_hybrid(d, n_merges=10, max_distinct_words=2) == want
