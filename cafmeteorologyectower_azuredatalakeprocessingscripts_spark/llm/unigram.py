"""Distributed unigram-LM tokenizer training — the third trainer
family next to :mod:`.bpe` and :mod:`.wordpiece`: EM over a piece
lattice instead of greedy merges.

Algorithm (Kudo 2018, the SentencePiece unigram model): a piece
vocabulary with log-probabilities; a word's likelihood marginalizes
over all segmentations into pieces (forward algorithm over the word's
substring lattice). Training alternates

1. **E-step**: expected piece counts by forward-backward over each
   distinct word's lattice, weighted by word frequency;
2. **M-step**: piece probability = expected count / total;
3. **prune**: drop the lowest-expected-count pieces (never the
   single-character alphabet — coverage must stay total) until the
   vocabulary shrinks by ``shrink_factor``, repeating EM+prune until
   ``vocab_size`` remains.

Spark-first split (the same 100 TB argument as the hybrid trainers,
but here the DISTRIBUTED side carries the per-iteration work): the
corpus collapses ONCE to the distinct-word histogram; every E-step is
an Arrow-batched ``mapInPandas`` over that word table with the
vocab-sized piece table broadcast in the closure, aggregated by one
``groupBy(piece).sum()`` — per-iteration cost is corpus-size-
independent and embarrassingly parallel. Only vocab-sized data
(expected counts, piece probs) ever reaches the driver.

Determinism contract: floating-point summation order differs between
Spark's partition-tree aggregation and a driver loop, so raw expected
counts can differ at ~1e-15 relative between the two paths. Both
paths therefore QUANTIZE aggregated expected counts to
``_QUANT`` (1e-9) before the M-step and prune ranking — surviving
pieces carry counts ≳ 1e-6, so quantization is ~3 orders below signal
and the two paths agree exactly unless a true tie sits on a 1e-9
boundary. Prune ties break by (count asc, piece desc): the
lexicographically LATER piece drops first, pinned in both paths.
(SentencePiece itself guarantees no cross-machine bit identity; this
engine's quantization rule is what makes the identity testable.)

Scale: the word table is ~1e8 rows at 100 TB; the piece table is
``vocab_size``-ish (ships via closure like the BPE merge list). No
all-pairs, no per-doc loop, no driver-side corpus-sized state.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bpe import _check_counts, _checkpoint_scope, _word_histogram

_QUANT = 1e-9
_NEG_INF = float("-inf")


def _quantize(x: float) -> float:
    return round(x / _QUANT) * _QUANT


def seed_pieces(
    hist_words: list[str],
    hist_counts: list[int],
    seed_size: int,
    max_piece_len: int,
) -> list[str]:
    """Deterministic seed vocabulary: every substring of length
    <= ``max_piece_len``, scored by frequency x length (the
    SentencePiece seed heuristic, substring-counted exactly instead
    of via a suffix array); keep the top ``seed_size`` by
    (score desc, piece asc), then union the full single-character
    alphabet (coverage is non-negotiable)."""
    score: dict[str, int] = {}
    for w, c in zip(hist_words, hist_counts):
        ln = len(w)
        for i in range(ln):
            for j in range(i + 1, min(i + max_piece_len, ln) + 1):
                p = w[i:j]
                score[p] = score.get(p, 0) + c * (j - i)
    alphabet = {p for p in score if len(p) == 1}
    multi = sorted(
        (p for p in score if len(p) > 1),
        key=lambda p: (-score[p], p),
    )
    keep = max(seed_size - len(alphabet), 0)
    return sorted(alphabet) + multi[:keep]


def _forward_backward(
    word: str,
    wfreq: float,
    logp: dict[str, float],
    max_len: int,
    out: dict[str, float],
) -> float:
    """Accumulate expected piece counts for one word (weighted by its
    corpus frequency) into ``out``; returns the word's log-likelihood.
    Standard lattice forward-backward: alpha[i] = logsumexp over
    incoming pieces, beta[i] symmetric; piece posterior =
    exp(alpha[i] + logp + beta[j] - alpha[n])."""
    n = len(word)
    alpha = [_NEG_INF] * (n + 1)
    alpha[0] = 0.0
    for j in range(1, n + 1):
        acc = _NEG_INF
        for i in range(max(0, j - max_len), j):
            lp = logp.get(word[i:j])
            if lp is None or alpha[i] == _NEG_INF:
                continue
            v = alpha[i] + lp
            acc = v if acc == _NEG_INF else (
                max(acc, v) + math.log1p(math.exp(-abs(acc - v)))
            )
        alpha[j] = acc
    total = alpha[n]
    if total == _NEG_INF:
        return _NEG_INF  # unsegmentable (alphabet hole) — caller guards
    beta = [_NEG_INF] * (n + 1)
    beta[n] = 0.0
    for i in range(n - 1, -1, -1):
        acc = _NEG_INF
        for j in range(i + 1, min(i + max_len, n) + 1):
            lp = logp.get(word[i:j])
            if lp is None or beta[j] == _NEG_INF:
                continue
            v = lp + beta[j]
            acc = v if acc == _NEG_INF else (
                max(acc, v) + math.log1p(math.exp(-abs(acc - v)))
            )
        beta[i] = acc
    for i in range(n):
        for j in range(i + 1, min(i + max_len, n) + 1):
            lp = logp.get(word[i:j])
            if lp is None:
                continue
            post = alpha[i] + lp + beta[j] - total
            if post > -30.0:  # exp underflow guard, symmetric both paths
                out[word[i:j]] = out.get(word[i:j], 0.0) + wfreq * math.exp(post)
    return total


def _em_counts_local(
    hist_words: list[str],
    hist_counts: list[int],
    logp: dict[str, float],
    max_len: int,
) -> dict[str, float]:
    out: dict[str, float] = {}
    for w, c in zip(hist_words, hist_counts):
        _forward_backward(w, float(c), logp, max_len, out)
    return {p: _quantize(v) for p, v in out.items()}


def _em_counts_spark(
    words: DataFrame, logp: dict[str, float], max_len: int
) -> dict[str, float]:
    """One distributed E-step: Arrow-batched lattice forward-backward
    over the distinct-word table (piece table rides the closure,
    vocab-sized), then one piece-keyed aggregation. The per-partition
    float-sum order is absorbed by the _QUANT rounding AFTER the
    global sum."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc: dict[str, float] = {}
            for w, c in zip(pdf["w"], pdf["n"]):
                _forward_backward(str(w), float(c), logp, max_len, acc)
            if acc:
                yield pd.DataFrame(
                    {"piece": list(acc.keys()), "cnt": list(acc.values())}
                )

    rows = (
        words.mapInPandas(run, "piece string, cnt double")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    return {r["piece"]: _quantize(float(r["cnt"])) for r in rows}


def _m_step_and_prune(
    counts: dict[str, float],
    pieces: list[str],
    vocab_size: int,
    shrink_factor: float,
    final: bool,
) -> list[str]:
    """Drop the lowest-count multi-char pieces (never the alphabet):
    down to ``vocab_size`` when ``final``, else by ``shrink_factor``.
    Tie-break (count asc, piece desc) — the lexicographically later
    piece drops first."""
    alphabet = [p for p in pieces if len(p) == 1]
    multi = [p for p in pieces if len(p) > 1]
    target = max(
        vocab_size - len(alphabet),
        0 if final else int(len(multi) * shrink_factor),
    )
    if not final:
        target = max(target, vocab_size - len(alphabet))
    survivors = sorted(
        multi, key=lambda p: (-counts.get(p, 0.0), p)
    )[:target]
    return alphabet + survivors


def _probs_from_counts(
    counts: dict[str, float], pieces: list[str]
) -> dict[str, float]:
    """M-step with additive smoothing so alphabet pieces that drew no
    expected mass stay segmentable (coverage), deterministic given the
    quantized counts."""
    eps = _QUANT
    total = sum(counts.get(p, 0.0) + eps for p in pieces)
    return {
        p: math.log((counts.get(p, 0.0) + eps) / total) for p in pieces
    }


def _seed_pieces_spark(
    words: DataFrame, seed_size: int, max_piece_len: int
) -> list[str]:
    """The distributed seed build — same (freq x length) scoring and
    (score desc, piece asc) selection as :func:`seed_pieces`, but the
    substring explode/aggregate runs JVM-side over the word table
    (at 1e8 distinct words the driver-side substring scan would be
    the scale bottleneck; only the alphabet and the top-``seed_size``
    pieces ever reach the driver). Integer scores, so the two builds
    are exactly interchangeable."""
    subs = words.select(
        "n",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(
                                F.lit(max_piece_len), F.length("w") - i + 1
                            ),
                        ),
                        lambda l: F.substring(F.col("w"), i, l),
                    ),
                )
            )
        ).alias("p"),
    )
    scored = subs.groupBy("p").agg(
        (F.sum(F.col("n") * F.length("p"))).alias("score")
    )
    alphabet = sorted(
        r["p"] for r in scored.filter(F.length("p") == 1).collect()
    )
    keep = max(seed_size - len(alphabet), 0)
    multi = [
        r["p"]
        for r in scored.filter(F.length("p") > 1)
        .orderBy(F.desc("score"), F.asc("p"))
        .limit(keep)
        .collect()
    ]
    return alphabet + multi


def _train(
    em_counts,  # callable: (logp, max_len) -> quantized counts
    pieces: list[str],
    vocab_size: int,
    n_em_iters: int,
    shrink_factor: float,
    max_piece_len: int,
) -> list[tuple[str, float]]:
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    n_alpha = sum(1 for p in pieces if len(p) == 1)
    if vocab_size < n_alpha:
        raise ValueError(
            f"vocab_size={vocab_size} is below the corpus alphabet size "
            f"{n_alpha}; the single-character pieces are never pruned "
            "(total coverage), so no smaller vocabulary exists"
        )
    # uniform init
    logp = {p: -math.log(len(pieces)) for p in pieces}
    while True:
        for _ in range(n_em_iters):
            counts = em_counts(logp, max_piece_len)
            logp = _probs_from_counts(counts, pieces)
        n_multi = sum(1 for p in pieces if len(p) > 1)
        n_alpha = len(pieces) - n_multi
        if n_alpha + n_multi <= vocab_size:
            break
        final = int(n_multi * shrink_factor) + n_alpha <= vocab_size
        pieces = _m_step_and_prune(
            counts, pieces, vocab_size, shrink_factor, final
        )
        logp = _probs_from_counts(counts, pieces)
        if final:
            # one last EM pass over the final vocabulary
            for _ in range(n_em_iters):
                counts = em_counts(logp, max_piece_len)
                logp = _probs_from_counts(counts, pieces)
            break
    return sorted(logp.items(), key=lambda kv: (-kv[1], kv[0]))


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 200,
    seed_size: int = 2000,
    max_piece_len: int = 8,
    n_em_iters: int = 2,
    shrink_factor: float = 0.75,
    lowercase: bool = False,
    min_word_freq: int = 1,
    max_distinct_words: int | None = None,
) -> list[tuple[str, float]]:
    """Learn a unigram-LM piece vocabulary; returns
    ``[(piece, logprob), ...]`` sorted by (logprob desc, piece asc).

    Fully distributed: seed build, E-steps and the word table all stay
    on the cluster — only vocab-sized data (alphabet, seed pieces,
    expected counts) reaches the driver, so unlike the BPE/WordPiece
    hybrids there is NO histogram collect at all. The word table is
    localCheckpointed once (it feeds every E-step) and the storage is
    released before returning (the ``bpe._checkpoint_scope`` session
    contract).
    ``min_word_freq`` / ``max_distinct_words`` are the same documented
    histogram cutoffs as the hybrid trainers."""
    with _checkpoint_scope(df.sparkSession) as checkpoint:
        words = checkpoint(
            _word_histogram(
                df, text_col, lowercase, min_word_freq, max_distinct_words
            )
        )
        pieces = _seed_pieces_spark(words, seed_size, max_piece_len)

        def em(logp, max_len):
            return _em_counts_spark(words, logp, max_len)

        return _train(
            em, pieces, vocab_size, n_em_iters, shrink_factor, max_piece_len
        )


def unigram_train_local(
    hist_words: list[str],
    hist_counts: list[int],
    vocab_size: int = 200,
    seed_size: int = 2000,
    max_piece_len: int = 8,
    n_em_iters: int = 2,
    shrink_factor: float = 0.75,
) -> list[tuple[str, float]]:
    """Driver-only twin over a (word, count) histogram — the
    Spark-free half for property tests and for corpora whose
    histogram is already in hand. Identical results to
    :func:`unigram_train` under the quantization contract.
    Precondition: ``bpe._check_counts``."""
    _check_counts(hist_counts, "corrupt the expected-count weighting")

    pieces = seed_pieces(hist_words, hist_counts, seed_size, max_piece_len)

    def em(logp, max_len):
        return _em_counts_local(hist_words, hist_counts, logp, max_len)

    return _train(
        em, pieces, vocab_size, n_em_iters, shrink_factor, max_piece_len
    )


def unigram_segment(
    word: str, vocab: dict[str, float], max_piece_len: int = 8
) -> list[str] | None:
    """Viterbi segmentation of one word under a trained vocabulary —
    max-probability path; ties break toward the LONGER trailing piece
    (i.e. the smaller split point), pinned. None if unsegmentable."""
    n = len(word)
    best = [(_NEG_INF, -1)] * (n + 1)
    best[0] = (0.0, 0)
    for j in range(1, n + 1):
        for i in range(max(0, j - max_piece_len), j):
            lp = vocab.get(word[i:j])
            if lp is None or best[i][0] == _NEG_INF:
                continue
            cand = best[i][0] + lp
            # strict > keeps the SMALLEST i on ties (longest last piece)
            if cand > best[j][0]:
                best[j] = (cand, i)
    if best[n][0] == _NEG_INF:
        return None
    out: list[str] = []
    j = n
    while j > 0:
        i = best[j][1]
        out.append(word[i:j])
        j = i
    return out[::-1]
