"""Distributed WordPiece tokenizer training — the second trainer
family next to :mod:`.bpe` (VERDICT r15 #5): same merge-loop shape,
likelihood-ratio pair score.

Algorithm (Schuster & Nakajima 2012; the formulation popularized by
BERT and the HuggingFace ``tokenizers`` WordPiece trainer): words are
symbol sequences with the ``##`` continuation-prefix convention —
``"fox" -> ["f", "##o", "##x"]`` — and each round merges the adjacent
pair maximizing the likelihood gain

    score(l, r) = freq(l, r) / (freq(l) * freq(r))

instead of BPE's raw pair frequency. Dividing by the unigram
frequencies prefers pairs whose parts rarely occur apart, so WordPiece
grows linguistically cohesive units earlier than BPE does. Fusing
``(l, r)`` strips the continuation prefix from the right part:
``("f", "##o") -> "f o" -> "fo"`` stays word-initial, ``("##o",
"##x") -> "##ox"`` stays a continuation — which is why no ``</w>``
end-marker is needed (word position is encoded in the symbol itself).

Determinism pins (the cross-engine contract, mirroring ``bpe``):

- score compares as an IEEE-754 double of ``freq(l,r) /
  (freq(l) * freq(r))`` — the same integer division in Spark's DOUBLE
  and Python's float yields the identical bit pattern, so the
  distributed and hybrid paths cannot disagree on rounding;
- tie-break: score desc, then (left, right) ascending binary compare;
- merge application is non-overlapping left-to-right (the one
  ``bpe._rewrite_syms`` loop, with :func:`_fuse` as the fusion rule);
- the stop rule is on the winning pair's raw FREQUENCY
  (``min_freq``), not its score — a score threshold would couple the
  stop to corpus-size-dependent unigram mass.

Same two execution shapes as BPE, same scale split:

- :func:`wordpiece_train` — one Spark job per merge (pair counts +
  symbol counts + broadcast join for the score); the audit path, run
  by the shared ``bpe._merge_train`` loop.
- :func:`wordpiece_train_hybrid` — ONE distributed (word, count)
  histogram, then a driver-side merge loop with incremental pair AND
  unigram maintenance (lazy-deletion heap; a merge only re-scores
  pairs it touched plus pairs containing a symbol whose unigram count
  changed — exactly ``l``, ``r`` and the fused symbol). The
  histogram is corpus-size-independent after the first aggregation,
  so this is the production path for vocab-scale budgets.

Scale: never an all-pairs or per-doc loop; the only per-row Python is
the Arrow-batched merge rewriter over the distinct-word table (audit
path) or the vocabulary-sized driver loop (hybrid path).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .bpe import (
    _best_pair,
    _check_counts,
    _merge_train,
    _pair_counts,
    _rewrite_syms,
    _word_histogram,
    _word_table,
)

_CONT = "##"


def _fuse(left: str, right: str) -> str:
    """WordPiece pair fusion: strip the continuation prefix from the
    right part (a right neighbor is always a continuation symbol)."""
    return left + (right[len(_CONT):] if right.startswith(_CONT) else right)


def _wp_syms(word: str) -> list[str]:
    return [word[0]] + [_CONT + c for c in word[1:]]


def _wp_symbols(w: Column) -> Column:
    """The word's characters in the ##-continuation convention, all
    JVM-side."""
    chars = F.split(w, "(?!$)")
    return F.concat(
        F.slice(chars, 1, 1),
        F.transform(
            F.slice(chars, 2, F.greatest(F.size(chars) - 1, F.lit(0))),
            lambda c: F.concat(F.lit(_CONT), c),
        ),
    )


def _counts_after_merges(
    words: DataFrame, merges: list[tuple[str, str]]
) -> tuple[DataFrame, DataFrame]:
    """``(pairs, unigrams)`` of the word table with the pending
    ``merges`` applied: (left, right, freq) adjacent-pair counts and
    (s, uni) symbol counts, both word-count weighted.

    With a pending tail, ONE Python stage rewrites each word
    (:func:`bpe._rewrite_syms`) and emits both partial histograms,
    unigram rows with a NULL ``right`` — as BPE's fused
    ``_pair_counts_after_merges`` does for pairs alone. One aggregation
    follows and both frames are filters over it; the filters test an
    aggregate output, which Catalyst cannot push below the aggregation,
    so every use shares one shuffle and the rewrite runs once (see
    :func:`_scored_pairs` for the join side of that contract). With no
    tail (the round right after a checkpoint) both counts stay
    JVM-side."""
    if not merges:
        unigrams = (
            words.select("n", F.explode("syms").alias("s"))
            .groupBy("s")
            .agg(F.sum("n").alias("uni"))
        )
        return _pair_counts(words), unigrams
    pairs = [(left, right, _fuse(left, right)) for left, right in merges]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc: dict[tuple[str, str | None], int] = {}
            for syms, n in zip(pdf["syms"], pdf["n"]):
                syms = _rewrite_syms(syms, pairs)
                n = int(n)
                for s in syms:
                    acc[(s, None)] = acc.get((s, None), 0) + n
                for i in range(len(syms) - 1):
                    key = (syms[i], syms[i + 1])
                    acc[key] = acc.get(key, 0) + n
            if acc:
                yield pd.DataFrame(
                    {
                        "left": [k[0] for k in acc],
                        "right": [k[1] for k in acc],
                        "freq": list(acc.values()),
                    }
                )

    counts = (
        words.mapInPandas(run, "left string, right string, freq long")
        .groupBy("left", "right")
        .agg(
            F.sum("freq").alias("freq"),
            F.max(F.isnull("right")).alias("unigram"),
        )
    )
    return (
        counts.filter(~F.col("unigram")).select("left", "right", "freq"),
        counts.filter(F.col("unigram")).select(
            F.col("left").alias("s"), F.col("freq").alias("uni")
        ),
    )


def _scored_pairs(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(left, right, freq, score) of the word table with the pending
    ``merges`` applied, score = pair/(left_uni*right_uni) as DOUBLE.
    The unigram side is vocabulary-sized, so both score joins are
    broadcast — no shuffle beyond the counts' aggregation.

    The right-symbol join key goes through a (no-op) ``coalesce``: from
    a bare ``right = s`` Catalyst infers ``right IS NOT NULL`` for the
    pair side alone and pushes it below the shared aggregation, which
    splits the pair branch off the unigram branches and runs the Python
    rewrite a second time."""
    pairs, unigrams = _counts_after_merges(words, merges)
    return (
        pairs.join(
            F.broadcast(unigrams.withColumnRenamed("uni", "l_uni")),
            pairs["left"] == F.col("s"),
        )
        .drop("s")
        .join(
            F.broadcast(unigrams.withColumnRenamed("uni", "r_uni")),
            F.coalesce(pairs["right"], F.lit("")) == F.col("s"),
        )
        .drop("s")
        .select(
            "left",
            "right",
            "freq",
            (
                F.col("freq").cast("double")
                / (F.col("l_uni") * F.col("r_uni")).cast("double")
            ).alias("score"),
        )
    )


def _top_scored_pair(
    words: DataFrame, merges: list[tuple[str, str]]
) -> tuple[str, str, int] | None:
    """One distributed scoring round: the winner of
    :func:`_scored_pairs` by (score desc, left asc, right asc). Returns
    (left, right, pair_freq) or None."""
    return _best_pair(_scored_pairs(words, merges), "score")


def wordpiece_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_freq: int = 2,
    lowercase: bool = False,
    checkpoint_every: int = 8,
) -> list[tuple[int, str, str, int]]:
    """Learn up to ``n_merges`` WordPiece merges from the corpus;
    returns ``[(rank, left, right, pair_freq), ...]`` in merge order.
    Stops early when the winning pair's raw frequency drops below
    ``min_freq``. Checkpoint storage is released before returning —
    the session's persistent-RDD set is left exactly as found (the
    ``bpe._checkpoint_scope`` contract)."""
    return _merge_train(
        _word_table(df, text_col, lowercase, _wp_symbols),
        n_merges,
        min_freq,
        checkpoint_every,
        _top_scored_pair,
        _fuse,
    )


def wordpiece_train_hybrid(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_freq: int = 2,
    lowercase: bool = False,
    min_word_freq: int = 1,
    max_distinct_words: int | None = None,
) -> list[tuple[int, str, str, int]]:
    """Merge-identical fast path: ONE distributed (word, count)
    histogram, then the driver-side incremental merge loop. Same
    escape hatches as :func:`bpe.bpe_train_hybrid` (``min_word_freq``
    drops rare words, ``max_distinct_words`` keeps the top-N by
    (count desc, word asc)) with the same documented caveat: a
    truncated histogram changes learned merges only where the dropped
    words would have contributed pair or unigram mass."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    hist = _word_histogram(
        df, text_col, lowercase, min_word_freq, max_distinct_words
    ).toPandas()
    return _wordpiece_from_histogram(
        list(hist["w"]), [int(x) for x in hist["n"]], n_merges, min_freq
    )


def _wordpiece_from_histogram(
    hist_words: list[str],
    hist_counts: list[int],
    n_merges: int,
    min_freq: int,
) -> list[tuple[int, str, str, int]]:
    """The driver-side exact WordPiece merge loop over a (word, count)
    histogram — factored out for Spark-free property testing against
    an independent full-recount reference. Incremental maintenance:
    pair counts update per affected word (the BPE bookkeeping); the
    unigram counts that change on a merge of (l, r) are EXACTLY those
    of ``l``, ``r`` and the fused symbol, so only pairs touched by a
    rewrite or containing one of those three symbols are re-scored
    (``sym_pairs`` index). Heap entries snapshot (pair, left-uni,
    right-uni) counts and are dropped as stale when any differ —
    lazy deletion, no in-heap updates. Precondition:
    ``bpe._check_counts``."""
    import heapq

    _check_counts(hist_counts)

    words: list[list[str]] = [_wp_syms(w) for w in hist_words]
    counts: list[int] = list(hist_counts)
    pair_count: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    uni_count: dict[str, int] = {}
    sym_pairs: dict[str, set[tuple[str, str]]] = {}
    for wi, syms in enumerate(words):
        cw = counts[wi]
        for s in syms:
            uni_count[s] = uni_count.get(s, 0) + cw
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_count[p] = pair_count.get(p, 0) + cw
            pair_words.setdefault(p, set()).add(wi)

    def index_pair(p: tuple[str, str]) -> None:
        sym_pairs.setdefault(p[0], set()).add(p)
        sym_pairs.setdefault(p[1], set()).add(p)

    for p in pair_count:
        index_pair(p)

    def score_entry(p: tuple[str, str]):
        pf = pair_count.get(p, 0)
        if pf <= 0:
            return None
        lu = uni_count.get(p[0], 0)
        ru = uni_count.get(p[1], 0)
        if lu <= 0 or ru <= 0:
            return None
        # cast-then-divide, exactly as Spark computes
        # freq::double / (l_uni*r_uni)::double — NOT Python's int/int
        # true division, which rounds the exact ratio and can differ
        # from the two-step form once lu*ru exceeds 2^53. The
        # cross-path determinism pin is bit-identical doubles.
        return (-(float(pf) / float(lu * ru)), p[0], p[1], pf, lu, ru)

    heap = []
    for p in pair_count:
        e = score_entry(p)
        if e is not None:
            heap.append(e)
    heapq.heapify(heap)

    def push(p: tuple[str, str]) -> None:
        e = score_entry(p)
        if e is not None:
            heapq.heappush(heap, e)

    merges: list[tuple[int, str, str, int]] = []
    for k in range(n_merges):
        best = None
        while heap:
            negs, l, r, pf, lu, ru = heap[0]
            if (
                pair_count.get((l, r), 0) != pf
                or uni_count.get(l, 0) != lu
                or uni_count.get(r, 0) != ru
            ):
                heapq.heappop(heap)  # stale snapshot
                continue
            best = (l, r, pf)
            break
        if best is None or best[2] < min_freq:
            break
        left, right, freq = best
        merges.append((k, left, right, freq))
        fused = _fuse(left, right)
        touched: set[tuple[str, str]] = set()
        for wi in list(pair_words.get((left, right), ())):
            syms = words[wi]
            cw = counts[wi]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_count[p] -= cw
                if pair_count[p] <= 0:
                    del pair_count[p]
                    pair_words.pop(p, None)
                else:
                    pair_words[p].discard(wi)
                touched.add(p)
            res = words[wi] = _rewrite_syms(syms, ((left, right, fused),))
            # each fusion shortens the word by one symbol
            n_fused = len(syms) - len(res)
            if n_fused:
                d = n_fused * cw
                uni_count[left] = uni_count.get(left, 0) - d
                if uni_count[left] <= 0:
                    uni_count.pop(left, None)
                uni_count[right] = uni_count.get(right, 0) - d
                if uni_count[right] <= 0:
                    uni_count.pop(right, None)
                uni_count[fused] = uni_count.get(fused, 0) + d
            for i in range(len(res) - 1):
                p = (res[i], res[i + 1])
                pair_count[p] = pair_count.get(p, 0) + cw
                pair_words.setdefault(p, set()).add(wi)
                index_pair(p)
                touched.add(p)
        # pairs whose SCORE moved: rewritten ones, plus every pair
        # containing a symbol whose unigram count changed
        for s in (left, right, fused):
            for p in sym_pairs.get(s, ()):
                if p in pair_count:
                    touched.add(p)
        for p in touched:
            push(p)
    return merges


def wordpiece_vocab(
    merges: list[tuple[int, str, str, int]],
    alphabet: set[str] | None = None,
) -> list[str]:
    """Vocabulary induced by a merge list: the (optional) base
    alphabet symbols, then each fused symbol in merge order —
    deduplicated, first occurrence wins."""
    out: list[str] = []
    seen: set[str] = set()
    for s in sorted(alphabet or ()):
        if s not in seen:
            seen.add(s)
            out.append(s)
    for _, l, r, _f in merges:
        s = _fuse(l, r)
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def wordpiece_segment(word: str, vocab: set[str]) -> list[str] | None:
    """Greedy longest-match-first WordPiece inference (the BERT
    tokenizer rule): repeatedly take the longest vocab symbol matching
    at the cursor — word-initial symbols bare, continuations with the
    ``##`` prefix. Returns None when some position matches nothing
    (the caller maps that to ``[UNK]``)."""
    out: list[str] = []
    i = 0
    n = len(word)
    while i < n:
        end = n
        cur = None
        while end > i:
            sub = word[i:end]
            if i > 0:
                sub = _CONT + sub
            if sub in vocab:
                cur = sub
                break
            end -= 1
        if cur is None:
            return None
        out.append(cur)
        i = end
    return out
