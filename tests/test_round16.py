"""Round-16 tests: VERDICT r15 worklist — the hybrid-BPE registry
promotion (#3) — and the ADVICE r15 items (span-removal cross-engine
replay coverage, the histogram-trainer count precondition guard)."""

import pytest


# --------------------- VERDICT r15 #3: hybrid BPE behind the hash gate


def test_bpe_hybrid_query_matches_duckdb_replay(spark):
    """The r16 registry addition end-to-end at sf0.001: the hybrid
    trainer (one histogram job + driver merge loop) and the unrolled
    double-delimiter SQL replay must agree merge for merge
    (rank, left, right, freq). Together with r14's
    test_bpe_query_matches_duckdb_replay this pins
    hybrid == greedy-SQL-replay == distributed through one oracle."""
    import duckdb

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    got = [
        (r["rank"], r["left"], r["right"], r["freq"])
        for r in entrymod.queries()["bpe_train_hybrid"](spark, sf).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    want = con.execute(entrymod.oracle_sql()["bpe_train_hybrid"]).fetchall()
    assert got == [tuple(w) for w in want]
    assert len(got) == entrymod._BPE_MERGES_Q


def test_bpe_hybrid_and_distributed_queries_share_one_oracle():
    """The equivalence claim is transitive THROUGH the oracle: both
    registry entries must replay against the identical SQL text, and
    at the identical shared budget — if either drifts, a green pair of
    rows stops proving hybrid == distributed."""
    import __spark_entry__ as entrymod

    sqls = entrymod.oracle_sql()
    assert sqls["bpe_train_hybrid"] == sqls["bpe_train_merges"]


# ----------------- ADVICE r15 #1: span-removal cross-engine replay test


def test_span_removal_query_matches_duckdb_replay(spark):
    """The r15 registry addition end-to-end at sf0.001: the fused
    dual-mode Spark span removal and its DuckDB oracle must agree
    row for row. Mirrors r14's BPE replay test — without this, a
    future edit to either side is only caught by the driver's external
    hash gate (ADVICE r15 #1 verified the agreement manually; this
    pins it in-repo)."""
    import duckdb

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    df = entrymod.queries()["dedup_span_removal"](spark, sf)
    cols = df.columns
    got = sorted(tuple(r[c] for c in cols) for r in df.collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    cur = con.execute(entrymod.oracle_sql()["dedup_span_removal"])
    assert [d[0] for d in cur.description] == cols
    want = sorted(tuple(w) for w in cur.fetchall())
    assert got == want
    assert len(got) > 0


# -------------- ADVICE r15 #2: histogram-trainer count precondition


def test_histogram_trainer_rejects_nonpositive_counts():
    """_train_from_histogram's incremental retraction bookkeeping
    (del on running total <= 0) is only sound for strictly positive
    counts; the public boundary must refuse a zero/negative count
    loudly instead of desyncing pair_words from pair_count and
    silently skipping rewrites."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        _train_from_histogram,
    )

    for bad in (0, -3):
        with pytest.raises(ValueError, match=">= 1"):
            _train_from_histogram(["ab", "cd"], [2, bad], 5, 1)
    # the guard must not reject the valid boundary
    assert _train_from_histogram(["ab"], [1], 1, 1) == [(0, "a", "b", 1)]


# --------------- VERDICT r15 #5: WordPiece — the second trainer family


def _reference_wordpiece(docs, n_merges, min_freq=2):
    """Independent WordPiece reference: full recount of pair AND
    unigram frequencies every iteration (no incremental bookkeeping,
    no heap) — the same role test_round13._reference_bpe plays for the
    BPE trainers. Score uses the identical cast-then-divide double."""
    from collections import Counter

    wc = Counter(w for d in docs for w in d.split() if w)
    words = [([w[0]] + ["##" + c for c in w[1:]], n) for w, n in wc.items()]
    merges = []
    for k in range(n_merges):
        pc, uc = Counter(), Counter()
        for syms, n in words:
            for s in syms:
                uc[s] += n
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += n
        if not pc:
            break
        best = min(
            pc.items(),
            key=lambda kv: (
                -(float(kv[1]) / float(uc[kv[0][0]] * uc[kv[0][1]])),
                kv[0][0],
                kv[0][1],
            ),
        )
        (l, r), pf = best
        if pf < min_freq:
            break
        merges.append((k, l, r, pf))
        fused = l + (r[2:] if r.startswith("##") else r)
        nxt = []
        for syms, n in words:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(fused)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            nxt.append((res, n))
        words = nxt
    return merges


def test_wordpiece_histogram_trainer_property_vs_reference():
    """Hypothesis property (no Spark in the loop): the hybrid's
    incremental merge loop — pair bookkeeping PLUS unigram maintenance
    and symbol-indexed re-scoring — must match the full-recount
    reference merge-for-merge on random corpora. The unigram index is
    the part BPE's property test cannot cover: a merge silently
    changing the score of an untouched pair (through its symbols'
    counts) is exactly the bug class this hunts."""
    from hypothesis import given, settings, strategies as st

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wordpiece import (
        _wordpiece_from_histogram,
    )

    words_st = st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6), min_size=1, max_size=30
    )

    @settings(max_examples=300, deadline=None)
    @given(words=words_st, n_merges=st.integers(1, 25), min_freq=st.integers(1, 3))
    def prop(words, n_merges, min_freq):
        from collections import Counter

        hist = Counter(words)
        got = _wordpiece_from_histogram(
            list(hist.keys()), list(hist.values()), n_merges, min_freq
        )
        want = _reference_wordpiece([" ".join(words)], n_merges, min_freq)
        assert got == want

    prop()


def test_wordpiece_hybrid_merge_identical_to_distributed(spark):
    """wordpiece_train_hybrid (one histogram job + driver merge loop)
    must produce the EXACT merge list of wordpiece_train (one Spark
    scoring job per merge) — same double score, same tie-break, same
    non-overlapping application, same min_freq stop."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wordpiece import (
        wordpiece_train,
        wordpiece_train_hybrid,
    )

    corpora = [
        spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "pack my box with five dozen liquor jugs"),
                (4, ""),
                (5, "the the the quick quick zebra"),
            ],
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(1, "aaaa aaa aa a"), (2, "aaa bbb aab"), (3, "ab ab ab")],
            "doc_id long, text string",
        ),
    ]
    for d in corpora:
        for n_merges, min_freq in ((12, 2), (30, 1)):
            dist = wordpiece_train(d, n_merges=n_merges, min_freq=min_freq)
            hyb = wordpiece_train_hybrid(d, n_merges=n_merges, min_freq=min_freq)
            assert hyb == dist
            assert dist == _reference_wordpiece(
                [r["text"] for r in d.collect()], n_merges, min_freq
            )


def test_wordpiece_train_leaves_no_persistent_rdds(spark):
    """The bpe_train storage contract carries over: checkpoint blocks
    are released before returning; the session's persistent-RDD set is
    left exactly as found."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wordpiece import (
        wordpiece_train,
    )

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    d = spark.createDataFrame(
        [(1, "aa ab aa ab ba"), (2, "aa aa bb")], "doc_id long, text string"
    )
    got = wordpiece_train(d, n_merges=20, min_freq=1, checkpoint_every=2)
    assert got  # learned something
    assert len(sc._jsc.getPersistentRDDs()) == before


def test_wordpiece_prefers_cohesive_pairs_over_frequent_ones():
    """The score divides by unigram mass, so a pair whose parts never
    occur apart must beat a more frequent pair built from ubiquitous
    symbols — the defining behavioral difference from BPE (which would
    pick the raw-frequency winner)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wordpiece import (
        _wordpiece_from_histogram,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        _train_from_histogram,
    )

    # 'qz' only ever together (freq 3, score 3/(3*3)=1/3);
    # 'aa' everywhere (freq 12 across words but symbols a ubiquitous)
    words = ["aaaa", "aaab", "qz"]
    counts = [6, 6, 3]
    wp = _wordpiece_from_histogram(words, counts, 1, 1)
    assert (wp[0][1], wp[0][2]) == ("q", "##z")
    bpe = _train_from_histogram(words, counts, 1, 1)
    assert (bpe[0][1], bpe[0][2]) == ("a", "a")  # raw frequency winner


def test_wordpiece_vocab_and_greedy_segmentation():
    """Vocab = alphabet + fused symbols in merge order; inference is
    longest-match-first with ## continuations; unmatched -> None."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wordpiece import (
        wordpiece_segment,
        wordpiece_vocab,
    )

    merges = [(0, "f", "##o", 9), (1, "fo", "##x", 7)]
    vocab = set(
        wordpiece_vocab(merges, alphabet={"f", "##o", "##x", "b", "##a"})
    )
    assert {"fo", "fox"} <= vocab
    assert wordpiece_segment("fox", vocab) == ["fox"]
    # greedy longest-match: "fof" -> "fo", then "##f" NOT in vocab -> None
    assert wordpiece_segment("fof", vocab) is None
    assert wordpiece_segment("ba", vocab) == ["b", "##a"]
    assert wordpiece_segment("q", vocab) is None


def test_wordpiece_histogram_rejects_nonpositive_counts():
    """Same precondition as the BPE histogram trainer (ADVICE r15 #2):
    counts < 1 must fail loudly at the public boundary."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wordpiece import (
        _wordpiece_from_histogram,
    )

    with pytest.raises(ValueError, match=">= 1"):
        _wordpiece_from_histogram(["ab"], [0], 1, 1)


# ----------------------- unigram-LM — the third trainer family (r16)


def test_unigram_forward_backward_matches_brute_force_enumeration():
    """Hypothesis property: the lattice forward-backward (likelihood
    + expected piece counts) must match brute-force enumeration of
    ALL segmentations — an exponential, genuinely independent
    reference. This is the DP half every EM result depends on."""
    import math

    from hypothesis import given, settings, strategies as st

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.unigram import (
        _forward_backward,
    )

    def enum_segs(word, logp):
        if not word:
            yield []
            return
        for l in range(1, len(word) + 1):
            p = word[:l]
            if p in logp:
                for rest in enum_segs(word[l:], logp):
                    yield [p] + rest

    @settings(max_examples=200, deadline=None)
    @given(
        word=st.text(alphabet="ab", min_size=1, max_size=7),
        data=st.data(),
    )
    def prop(word, data):
        pieces = {word[i:j] for i in range(len(word)) for j in range(i + 1, len(word) + 1)}
        pieces = sorted(pieces)
        kept = data.draw(
            st.lists(st.sampled_from(pieces), unique=True, min_size=0, max_size=8)
        )
        vocab = sorted(set(kept) | set(word))  # chars always in (coverage)
        logp = {
            p: data.draw(st.floats(-3.0, -0.1), label=f"logp[{p}]")
            for p in vocab
        }
        got: dict = {}
        got_ll = _forward_backward(word, 2.0, logp, 8, got)
        segs = list(enum_segs(word, logp))
        scores = [sum(logp[p] for p in s) for s in segs]
        m = max(scores)
        z = m + math.log(sum(math.exp(s - m) for s in scores))
        assert abs(got_ll - z) < 1e-9
        want: dict = {}
        for s, sc in zip(segs, scores):
            w = 2.0 * math.exp(sc - z)
            for p in s:
                want[p] = want.get(p, 0.0) + w
        for p in set(want) | set(got):
            assert abs(want.get(p, 0.0) - got.get(p, 0.0)) < 1e-6, p

    prop()


def test_unigram_spark_equals_local_and_learns_dominant_words(spark):
    """The fully-distributed trainer (JVM seed build + Arrow E-steps)
    must equal the driver-only twin exactly under the quantization
    contract; a dominant repeated word must survive as a whole piece
    and Viterbi-segment to itself; the session keeps no storage."""
    from collections import Counter

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.unigram import (
        unigram_segment,
        unigram_train,
        unigram_train_local,
    )

    rows = [(1, "spark spark spark engine engine lattice")] * 20 + [
        (2, "sp ar k en gine lat tice")
    ]
    d = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(rows)], "doc_id long, text string"
    )
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    got = unigram_train(d, vocab_size=24, seed_size=60, n_em_iters=2)
    assert len(sc._jsc.getPersistentRDDs()) == before
    wc = Counter(
        w for _, t in [(i, t) for i, (_, t) in enumerate(rows)] for w in t.split()
    )
    want = unigram_train_local(
        list(wc.keys()), list(wc.values()), vocab_size=24, seed_size=60,
        n_em_iters=2,
    )
    assert got == want
    vocab = dict(got)
    assert "spark" in vocab
    assert unigram_segment("spark", vocab) == ["spark"]
    assert unigram_segment("sparkengine", vocab) == ["spark", "engine"]
    # normalization: piece probs sum to 1
    import math

    assert abs(sum(math.exp(lp) for _, lp in got) - 1.0) < 1e-9
    # coverage: every corpus character survives as a piece
    chars = {c for w in wc for c in w}
    assert chars <= set(vocab)


def test_unigram_seed_builds_agree(spark):
    """JVM substring seed build == driver substring seed build on the
    same histogram — exact interchangeability (integer scores, same
    (score desc, piece asc) selection)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        _word_histogram,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.unigram import (
        _seed_pieces_spark,
        seed_pieces,
    )

    d = spark.createDataFrame(
        [(1, "abc abcd bc a"), (2, "abc zz zz q")],
        "doc_id long, text string",
    )
    words = _word_histogram(d, "text", False)
    got = _seed_pieces_spark(words, 12, 4)
    wc = Counter(w for t in ("abc abcd bc a", "abc zz zz q") for w in t.split())
    want = seed_pieces(list(wc.keys()), list(wc.values()), 12, 4)
    assert got == want
    assert all(len(p) == 1 for p in got[: len({c for w in wc for c in w})])


def test_unigram_guards():
    """vocab_size below the alphabet is impossible (single chars are
    never pruned); counts < 1 rejected at the public boundary."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.unigram import (
        unigram_train_local,
    )

    with pytest.raises(ValueError, match="alphabet"):
        unigram_train_local(["abcdefgh"], [5], vocab_size=3)
    with pytest.raises(ValueError, match=">= 1"):
        unigram_train_local(["ab"], [0])


# ------------- VERDICT r15 #2: fixed-cost abs bands in the triage tool


def test_bench_diff_abs_bands_load_from_frozen_file():
    """The fixed-cost bands must come from BASELINE_RATIO.json at
    runtime (ADVICE r15 #3: no hand-copied literals that silently go
    stale on a re-freeze) and cover the whole payload-synthesis
    family, each with a sane lo < hi."""
    from tools.bench_diff import abs_bands

    bands = abs_bands()
    for name in (
        "multimodal_png_pixels", "multimodal_bmp_pixels",
        "multimodal_tiff_pixels", "multimodal_jpeg_pixels",
        "multimodal_gif_pixels", "multimodal_gif_frames",
        "multimodal_wav_features", "variant_props_extract",
    ):
        assert name in bands, name
        lo, hi = bands[name]
        assert 0 < lo < hi < 10, (name, lo, hi)
