"""Absolute pins of the six tokenizer trainers (``llm/bpe.py``,
``llm/wordpiece.py``, ``llm/unigram.py``) on one small fixed corpus.

The identity tests compare each trainer with its twin (distributed vs
hybrid, Spark vs local). The twins share their histogram, rewrite and
checkpoint code, so a fault in a shared part moves both sides together
and an identity test stays green; ``tests/golden/tokenizers.json`` holds
the merge lists and the unigram pieces with their exact log-probs.

Regenerate (only when a trainer's output is meant to change) with
``PYTHONPATH=. python tests/test_tokenizer_golden.py`` from the repo
root.
"""

from __future__ import annotations

import json
from pathlib import Path

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import (
    bpe_train,
    bpe_train_hybrid,
    unigram_train,
    unigram_train_local,
    wordpiece_train,
    wordpiece_train_hybrid,
)

GOLDEN = Path(__file__).parent / "golden" / "tokenizers.json"

_VOCAB = (
    "low", "lower", "Lowest", "newer", "newest", "wide", "widest", "slow",
    "snow", "show", "flower", "renew", "aaaa", "banana", "bandana", "a",
)


def corpus() -> list[str]:
    """40 documents of 4-8 words drawn by a fixed stride from ``_VOCAB``:
    repeated stems, a capitalized word for ``lowercase``, an overlapping
    run (``aaaa``) and a one-letter word."""
    n = len(_VOCAB)
    return [
        " ".join(_VOCAB[(i * 7 + j * 5 + i * j) % n] for j in range(4 + i % 5))
        for i in range(40)
    ]


def _merges(rows) -> list[list]:
    return [list(r) for r in rows]


def _pieces(rows) -> list[list]:
    return [[p, lp] for p, lp in rows]


def run_all(spark) -> dict:
    from collections import Counter

    df = spark.createDataFrame(
        list(enumerate(corpus())), "doc_id long, text string"
    )
    hist = Counter(w for t in corpus() for w in t.split())
    uni = dict(vocab_size=30, seed_size=60, max_piece_len=5, n_em_iters=1)
    return {
        # 7 merges over checkpoint_every=3: two checkpoints plus a tail
        "bpe_train": _merges(
            bpe_train(df, n_merges=7, lowercase=True, checkpoint_every=3)
        ),
        "bpe_train_hybrid": _merges(bpe_train_hybrid(df, n_merges=60, min_freq=1)),
        "bpe_train_hybrid_cutoffs": _merges(
            bpe_train_hybrid(
                df, n_merges=20, min_word_freq=3, max_distinct_words=8
            )
        ),
        "wordpiece_train": _merges(
            wordpiece_train(df, n_merges=6, checkpoint_every=4)
        ),
        "wordpiece_train_hybrid": _merges(
            wordpiece_train_hybrid(df, n_merges=60, min_freq=1, lowercase=True)
        ),
        "wordpiece_train_hybrid_cutoffs": _merges(
            wordpiece_train_hybrid(
                df, n_merges=20, min_word_freq=3, max_distinct_words=8
            )
        ),
        "unigram_train": _pieces(
            unigram_train(df, min_word_freq=2, max_distinct_words=12, **uni)
        ),
        "unigram_train_local": _pieces(
            unigram_train_local(list(hist), list(hist.values()), **uni)
        ),
    }


def test_tokenizer_trainers_golden(spark):
    got = run_all(spark)
    want = json.loads(GOLDEN.read_text())
    assert sorted(got) == sorted(want)
    for name in want:
        assert len(want[name]) > 0, name
        assert got[name] == want[name], name  # exact doubles, no tolerance


if __name__ == "__main__":
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import (
        get_spark,
    )

    out = run_all(get_spark(app_name="tokenizer-golden", shuffle_partitions=4))
    GOLDEN.write_text(json.dumps(out, indent=1) + "\n")
    print(f"wrote {GOLDEN}: " + ", ".join(f"{k}={len(v)}" for k, v in out.items()))
