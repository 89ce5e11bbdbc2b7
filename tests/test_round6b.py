"""Unit tests for the round-6 second-wave operators: RAG chunking,
char-bigram LM scoring, OOV rate, Levenshtein blocked pairs, rolling
event-time despike, and the CUBE report."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.chunking import (
    chunk_tokens,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import (
    charlm_score,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
    levenshtein_blocked_pairs,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.text import (
    oov_rate,
    vocab_top_terms,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators import (
    rolling_extrema_flags,
)


# ------------------------------------------------------------- chunking


def test_chunk_tokens_windows_and_trailing_partial(spark, make_docs):
    ten = " ".join(f"t{i}" for i in range(1, 11))  # 10 tokens
    out = chunk_tokens(make_docs([ten]), chunk_size=4, stride=3)
    rows = {r["chunk_idx"]: r for r in out.collect()}
    # starts 1,4,7,10 -> four chunks, last is a 1-token suffix
    assert sorted(rows) == [0, 1, 2, 3]
    assert rows[0]["chunk_text"] == "t1 t2 t3 t4"
    assert rows[1]["chunk_text"] == "t4 t5 t6 t7"
    assert rows[3]["chunk_text"] == "t10"
    assert rows[3]["n_tok"] == 1
    assert all(r["n_tok"] == len(r["chunk_text"].split()) for r in rows.values())


def test_chunk_tokens_overlap_invariant(spark, make_docs):
    # stride < size => adjacent chunks share exactly size - stride tokens
    text = " ".join(f"w{i}" for i in range(25))
    out = chunk_tokens(make_docs([text]), chunk_size=8, stride=5)
    rows = sorted(out.collect(), key=lambda r: r["chunk_idx"])
    for a, b in zip(rows, rows[1:]):
        if b["n_tok"] >= 3:
            assert a["chunk_text"].split()[-3:] == b["chunk_text"].split()[:3]


def test_chunk_tokens_empty_and_whitespace_doc_emits_nothing(spark, make_docs):
    out = chunk_tokens(make_docs(["", "   ", "one two"]), 4, 4)
    assert [r["doc_id"] for r in out.collect()] == [2]


def test_chunk_tokens_rejects_degenerate_params(spark, make_docs):
    with pytest.raises(ValueError):
        chunk_tokens(make_docs(["x"]), chunk_size=0, stride=3)
    with pytest.raises(ValueError):
        chunk_tokens(make_docs(["x"]), chunk_size=4, stride=0)


# ------------------------------------------------------------- charlm


def test_charlm_in_distribution_beats_gibberish(spark, make_docs):
    bland = "the cat sat on the mat and the dog sat on the log. "
    corpus = [bland * 3] * 8 + ["zq xv jk qz wx kj zzqqxxvvjj"]
    out = {r["doc_id"]: r for r in charlm_score(make_docs(corpus)).collect()}
    in_dist = out[0]["avg_neglogprob"]
    gib = out[8]["avg_neglogprob"]
    assert gib > in_dist > 0


def test_charlm_short_docs_score_zero(spark, make_docs):
    out = {
        r["doc_id"]: r
        for r in charlm_score(make_docs(["", "a", "ab"])).collect()
    }
    assert out[0]["n_bigrams"] == 0 and out[0]["avg_neglogprob"] == 0.0
    assert out[1]["n_bigrams"] == 0
    assert out[2]["n_bigrams"] == 1  # 'ab' -> one bigram


# ------------------------------------------------------------- oov rate


def test_oov_rate_exact_counts(spark, make_docs):
    docs = make_docs(["a a a b", "a c", ""])
    vocab = vocab_top_terms(docs, k=1)  # top-1 term is 'a' (4 occurrences)
    out = {r["doc_id"]: r for r in oov_rate(docs, vocab).collect()}
    assert (out[0]["n_tok"], out[0]["n_oov"]) == (4, 1)
    assert out[0]["oov_rate"] == 0.25
    assert (out[1]["n_tok"], out[1]["n_oov"]) == (2, 1)
    assert (out[2]["n_tok"], out[2]["n_oov"], out[2]["oov_rate"]) == (0, 0, 0.0)


# ------------------------------------------------- levenshtein pairs


def test_levenshtein_pairs_blocked_and_bounded(spark, make_docs):
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = make_docs(
        [
            base,
            base.replace("lazy", "hazy"),  # same prefix, distance 1
            "completely different text that shares no prefix with base",
            base.replace("the quick", "a quick"),  # different block
        ],
    )
    out = levenshtein_blocked_pairs(
        docs, prefix_len=16, probe_len=60, max_dist=5
    ).collect()
    assert [(r["doc_a"], r["doc_b"], r["dist"]) for r in out] == [(0, 1, 1)]


def test_levenshtein_pairs_threshold_filters(spark, make_docs):
    a = "shared prefix here " + "x" * 40
    b = "shared prefix here " + "y" * 40
    out = levenshtein_blocked_pairs(
        make_docs([a, b]), prefix_len=16, probe_len=60, max_dist=10
    ).collect()
    assert out == []  # distance 40 > threshold -> dropped, not clamped


def test_levenshtein_pairs_rejects_bad_params(spark, make_docs):
    with pytest.raises(ValueError):
        levenshtein_blocked_pairs(make_docs(["x"]), prefix_len=0)
    with pytest.raises(ValueError):
        levenshtein_blocked_pairs(
            make_docs(["x"]), prefix_len=16, probe_len=8
        )


# ------------------------------------------------- rolling despike


def _events(spark, rows):
    return spark.createDataFrame(
        [
            Row(
                event_id=i,
                user_id=u,
                ts=datetime.datetime(2022, 3, 1)
                + datetime.timedelta(seconds=s),
                value=float(v),
            )
            for i, (u, s, v) in enumerate(rows)
        ]
    )


def test_rolling_flags_spike_after_min_prior(spark):
    rows = [(1, 0, 10), (1, 10, 11), (1, 20, 9), (1, 30, 10), (1, 40, 100)]
    out = {r["event_id"]: r for r in rolling_extrema_flags(
        _events(spark, rows), lookback_s=3600, min_prior=3
    ).collect()}
    assert out[4]["spike"] is True
    assert out[4]["prev_n"] == 4 and out[4]["prev_max"] == 11.0
    # first rows lack min_prior context -> never flagged
    assert not any(out[i]["spike"] for i in range(3))


def test_rolling_frame_is_event_time_not_rows(spark):
    # a value far outside lookback must NOT provide context
    rows = [(1, 0, 10), (1, 1, 10), (1, 2, 10), (1, 3600 + 100, 500)]
    out = {r["event_id"]: r for r in rolling_extrema_flags(
        _events(spark, rows), lookback_s=60, min_prior=3
    ).collect()}
    assert out[3]["prev_n"] == 0 and out[3]["spike"] is False


def test_rolling_excludes_current_timestamp_peers(spark):
    # two readings at the SAME instant never see each other
    rows = [(1, 0, 10), (1, 0, 1000), (1, 5, 10)]
    out = {r["event_id"]: r for r in rolling_extrema_flags(
        _events(spark, rows), lookback_s=60, min_prior=1
    ).collect()}
    assert out[0]["prev_n"] == 0 and out[1]["prev_n"] == 0
    assert out[2]["prev_n"] == 2  # later row sees both peers


def test_rolling_rejects_bad_params(spark):
    with pytest.raises(ValueError):
        rolling_extrema_flags(_events(spark, [(1, 0, 1)]), lookback_s=0)
    with pytest.raises(ValueError):
        rolling_extrema_flags(_events(spark, [(1, 0, 1)]), min_prior=0)


def test_rolling_low_side_spike(spark):
    rows = [(2, 0, 100), (2, 10, 110), (2, 20, 90), (2, 30, 10)]
    out = {r["event_id"]: r for r in rolling_extrema_flags(
        _events(spark, rows), lookback_s=3600, min_prior=3
    ).collect()}
    assert out[3]["spike"] is True  # 10 < 0.5 * prev_min(90)
