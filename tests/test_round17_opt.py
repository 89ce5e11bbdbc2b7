"""Round-17 (optimization round 2/2) regression tests, pinning this
round's changes:

- VERDICT r16 #1: the embed_neardup_pairs SRP auto-sizer no longer runs
  an EAGER full df.count() when Catalyst stats are unavailable — it
  estimates from a bounded sampled-partition job (no warning, no full
  pass).
- ADVICE r16: sized_codec_partitions degrades to None on any
  internal-API failure.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import Row


# --------------------------- VERDICT r16 #1: bounded SRP size fallback


def test_sampled_count_estimate_exact_on_small_frames(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.functions.sql import (
        plan_size_bytes,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        _sampled_count_estimate,
    )

    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(300)]
    )
    # the precondition this fallback exists for: RDD-backed plans carry
    # no Catalyst sizeInBytes
    assert plan_size_bytes(df) is None
    est = _sampled_count_estimate(df)
    assert est is not None
    # every partition of a small frame is sampled -> the estimate is
    # within the documented 2x band (and typically exact)
    assert 150 <= est <= 600


def test_embed_neardup_statsless_sizing_never_full_counts(spark):
    """Stats-less input + planes=None + approx_count=None must size the
    SRP buckets WITHOUT a full df.count() and WITHOUT the RuntimeWarning
    (VERDICT r16 #1 — the old fallback ran a full upstream pass before
    the real job). The instance shadow trips if the full count runs;
    simplefilter('error') trips if the eager-count warning fires."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        embed_neardup_pairs,
    )

    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0, 0.5, 0.25]) for i in range(64)]
    )

    def _boom():
        raise AssertionError("stats-less sizing must not run a full df.count()")

    df.count = _boom
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = embed_neardup_pairs(df, threshold=0.9, dim=4)
    assert out is not None
    # the result itself still computes (bounded job sized the planes)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ----------------------- VERDICT r16 #5: fused BPE rewrite+pair-count


def test_bpe_fused_pair_count_identical_to_jvm_explode(spark):
    """_top_pair_after_merges (rewrite + adjacent-pair count fused into
    ONE Python stage, histogram-only Arrow return) must agree with the
    r16 shape (_apply_merges then the JVM transform/explode _top_pair)
    for every pending-tail length — same winning pair, same frequency,
    same tie-break."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        _apply_merges,
        _pair_counts_after_merges,
        _top_pair,
        _top_pair_after_merges,
        _word_table,
    )

    df = spark.createDataFrame(
        [("low low lower lowest newer newest new",), ("wider wide widest low",)],
        ["text"],
    )
    words = _word_table(df, "text", False)
    pending: list[tuple[str, str]] = []
    for _ in range(6):
        old = _top_pair(_apply_merges(words, pending))
        new = _top_pair_after_merges(words, pending)
        assert old == new
        if old is None:
            break
        pending.append((old[0], old[1]))
    assert len(pending) >= 4  # the loop exercised real multi-merge tails

    # and the full histogram (not just the winner) matches the explode
    from pyspark.sql import functions as F

    counts_fused = {
        (r["left"], r["right"]): r["freq"]
        for r in _pair_counts_after_merges(words, pending)
        .groupBy("left", "right")
        .agg(F.sum("freq").alias("freq"))
        .collect()
    }

    rewritten = _apply_merges(words, pending)
    exploded = (
        rewritten.filter(F.size("syms") >= 2)
        .select(
            "n",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("syms") - 2),
                    lambda i: F.struct(
                        F.col("syms").getItem(i).alias("left"),
                        F.col("syms").getItem(i + 1).alias("right"),
                    ),
                )
            ).alias("p"),
        )
        .groupBy("p.left", "p.right")
        .agg(F.sum("n").alias("freq"))
    )
    counts_jvm = {(r["left"], r["right"]): r["freq"] for r in exploded.collect()}
    assert counts_fused == counts_jvm


def test_bpe_train_merges_unchanged_by_fused_count(spark):
    """End-to-end: bpe_train's learned merge sequence is byte-identical
    to the hybrid trainer's (the standing cross-implementation identity
    — the hybrid path has no distributed pair-count stage at all, so it
    is an independent witness that the fused count changed nothing)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        bpe_train,
        bpe_train_hybrid,
    )

    df = spark.createDataFrame(
        [
            ("the quick brown fox jumps over the lazy dog",),
            ("the quicker browner foxes jumped over lazy dogs",),
            ("pack my box with five dozen liquor jugs",),
        ],
        ["text"],
    )
    assert bpe_train(df, n_merges=12, min_freq=1) == bpe_train_hybrid(
        df, n_merges=12, min_freq=1
    )


# ------------- VERDICT r16 #3: incremental_dedup recompute-diet identity


def test_jaccard_pairs_bipartite_candidate_sizes_identical(spark):
    """The r17 diet knobs (sizes riding the candidate rows via
    lsh_buckets(carry=), bipartite verify via shingles_b_df) must
    produce EXACTLY the rows of the legacy union-everything shape —
    same pairs, same Jaccard values."""
    from pyspark.sql import Row as R
    from pyspark.sql import functions as F

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        jaccard_pairs,
        lsh_buckets,
        minhash_signatures,
        shingles,
    )

    new_docs = spark.createDataFrame(
        [
            R(doc_id=10, text="the quick brown fox jumps over the lazy dog today"),
            R(doc_id=11, text="an entirely different document about spark shuffles"),
            R(doc_id=12, text="the quick brown fox leaps over the lazy dog today"),
        ]
    )
    base_docs = spark.createDataFrame(
        [
            R(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
            R(doc_id=2, text="completely unrelated base corpus text goes here now"),
        ]
    )
    sh_new = shingles(new_docs)
    sh_base = shingles(base_docs)
    sig_new = minhash_signatures(new_docs, shingles_df=sh_new, with_sizes=True)
    sig_base = minhash_signatures(base_docs, shingles_df=sh_base, with_sizes=True)

    # carry= rides the named column onto every membership row, values
    # equal to the signature frame's own n_sh
    bn = lsh_buckets(sig_new, carry=("n_sh",))
    assert "n_sh" in bn.columns
    carried = {r.id: r.n_sh for r in bn.select("id", "n_sh").distinct().collect()}
    truth = {r.id: r.n_sh for r in sig_new.select("id", "n_sh").collect()}
    assert carried == truth

    # the incremental candidate shape: (id_a=new, id_b=base) bucket hits
    bn = bn.select(
        F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), "band", "bucket"
    )
    bb = lsh_buckets(sig_base, carry=("n_sh",)).select(
        F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), "band", "bucket"
    )
    cand = bn.join(bb, ["band", "bucket"]).select(
        "id_a", "id_b", "n_a", "n_b"
    ).distinct()

    legacy = jaccard_pairs(
        None,
        threshold=0.05,
        candidates=cand.select("id_a", "id_b"),
        shingles_df=sh_new.union(sh_base),
        sizes_df=sig_new.select("id", "n_sh").union(
            sig_base.select("id", "n_sh")
        ),
    )
    diet = jaccard_pairs(
        None,
        threshold=0.05,
        candidates=cand,
        shingles_df=sh_new,
        shingles_b_df=sh_base,
        candidate_sizes=True,
    )
    rows_legacy = sorted(map(tuple, legacy.collect()))
    rows_diet = sorted(map(tuple, diet.collect()))
    assert rows_diet == rows_legacy
    assert rows_diet  # non-vacuous: the near-dup pair must verify


def test_jaccard_pairs_diet_knobs_require_candidates(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        jaccard_pairs,
    )
    from pyspark.sql import Row as R

    docs = spark.createDataFrame([R(doc_id=1, text="a b c d e f")])
    with pytest.raises(ValueError, match="candidate_sizes"):
        jaccard_pairs(docs, candidate_sizes=True)
    with pytest.raises(ValueError, match="shingles_b_df"):
        jaccard_pairs(docs, shingles_b_df=docs)


# --------------------- VERDICT r16 #6: JPEG DCT einsum->matmul identity


def test_jpeg_dct_matmul_bitwise_matches_einsum_reference():
    """The r17 matmul DCT forms must be BITWISE equal to the einsum
    expressions they replaced (the optimized einsum always contracted
    (A, blocks) first, then (·, A) — the explicit pairwise form is the
    same association, minus the per-call greedy path planner)."""
    import numpy as np

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.jpeg import (
        _A,
        _fdct_blocks,
        _idct_blocks,
    )

    rng = np.random.default_rng(123)
    for n in (1, 3, 17, 256):
        c = rng.standard_normal((n, 8, 8))
        ref_i = np.einsum("ux,nuv,vy->nxy", _A, c, _A, optimize=True)
        ref_f = np.einsum("ux,nxy,vy->nuv", _A, c, _A, optimize=True)
        assert np.array_equal(_idct_blocks(c), ref_i)
        assert np.array_equal(_fdct_blocks(c), ref_f)


def test_jpeg_roundtrip_unchanged_after_codec_micro_opts():
    """Random-content encode/decode still round-trips through the
    entropy coder after the tolist()/memoized-table changes (the
    DC-exactness oracle only exercises constant blocks; this pins the
    general path)."""
    import numpy as np

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    for enc in (encode_jpeg, encode_jpeg_progressive):
        w, h, c, data = decode_jpeg(enc(24, 16, 1, px.tobytes()))
        assert (w, h, c) == (24, 16, 1)
        # lossy codec: sequential and progressive transmit the SAME
        # quantized coefficients, so their decodes must agree exactly
    seq = decode_jpeg(encode_jpeg(24, 16, 1, px.tobytes()))
    prog = decode_jpeg(encode_jpeg_progressive(24, 16, 1, px.tobytes()))
    assert seq == prog


# ------------------------------- ADVICE r16: codec width sizing guards


def test_sized_codec_partitions_degrades_to_none_on_planning_failure(
    spark, monkeypatch
):
    """Any internal-API failure inside the sizer (stats probe OR the
    RDD-conversion partition count) must degrade to the None no-op,
    never raise (ADVICE r16 — getNumPartitions used to sit outside the
    try)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        sized_codec_partitions,
    )

    # wide enough that the sized width beats 1 and the sizer actually
    # consults the input partitioning (the failure site under test)
    df = (
        spark.range(1024)
        .coalesce(1)  # narrower than the sized width, so the sizer engages
        .selectExpr("id as doc_id", "repeat('x', 512) as text")
    )
    # bytes_per_task small enough that the plan-estimated input (~18 KB
    # — Catalyst's default string width, not the literal payload) sizes
    # a width > 1 and the sizer actually consults the input partitioning
    assert sized_codec_partitions(df, 1024) is not None  # healthy path

    def _broken_rdd(self):
        raise RuntimeError("internal API moved")

    monkeypatch.setattr(type(df), "rdd", property(_broken_rdd))
    assert sized_codec_partitions(df, 1024) is None
