"""Round-9 additions: the key-less interpolate_linear guard
(VERDICT r8 #5), rotation invariants, and PNG Paeth batch parity."""

import warnings

import pytest
from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.gapfill import (
    interpolate_linear,
)


def _interp(df, key):
    return interpolate_linear(
        df, ts_col="ts", key_col=key, value_col="v"
    )


def test_keyless_interpolate_warns_on_large_frame(spark):
    """A corpus-sized frame with key_col=None plans a single-partition
    window — the guard must say so (plan-side estimate, no job)."""
    big = spark.range(100_000_000).select(
        F.timestamp_micros(F.col("id")).alias("ts"),
        F.col("id").cast("double").alias("v"),
    )
    with pytest.warns(RuntimeWarning, match="single-\npartition|single-partition"):
        _interp(big, None)


def test_keyed_or_small_interpolate_stays_silent(spark):
    big = spark.range(100_000_000).select(
        F.timestamp_micros(F.col("id")).alias("ts"),
        (F.col("id") % 50).alias("site"),
        F.col("id").cast("double").alias("v"),
    )
    small = spark.range(10_000).select(
        F.timestamp_micros(F.col("id")).alias("ts"),
        F.col("id").cast("double").alias("v"),
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _interp(big, "site")  # keyed: distributed window, no warning
        _interp(small, None)  # oracle-scale: under the byte floor


# ---- PNG wavefront + batch decode (VERDICT r8 #4) ----


def _rand_pngs(rng, n, geometries, filter_seqs):
    import numpy as np

    from test_round8 import _hand_filtered_png

    out = []
    for i in range(n):
        w, h, ch = geometries[i % len(geometries)]
        fs = filter_seqs[i % len(filter_seqs)]
        px = rng.integers(0, 256, h * w * ch, dtype=np.uint8).tobytes()
        out.append(_hand_filtered_png(w, h, ch, px, fs))
    return out


def test_png_batch_decode_parity_mixed_geometries_and_filters():
    """decode_png_batch must yield byte-identical results to per-image
    decode_png across mixed geometries (stacked wavefront groups +
    singletons), mixed channel counts in one geometry group, all five
    filters, and non-PNG / NULL / corrupt payloads (-> None)."""
    import numpy as np

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        PngUnsupported,
        decode_png,
        decode_png_batch,
    )

    rng = np.random.default_rng(99)
    imgs = _rand_pngs(
        rng,
        12,
        geometries=[(17, 9, 3), (17, 9, 1), (8, 8, 4), (5, 23, 2)],
        filter_seqs=[[4], [3, 4], [0, 1, 2, 3, 4], [2, 4, 1]],
    )
    payloads = imgs + [None, b"not a png", imgs[0][:40]]
    batch = decode_png_batch(payloads)
    for p, got in zip(payloads, batch):
        try:
            want = decode_png(p)
        except (PngUnsupported, TypeError):
            want = None
        assert got == want


def test_png_wavefront_matches_scalar_oracle():
    """The wavefront unfilter must agree byte-for-byte with the scalar
    spec-transcription (_unfilter_average/_unfilter_paeth row loop) on
    Paeth/Average-heavy images — the r8 parity oracle, kept."""
    import numpy as np

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import png as P

    rng = np.random.default_rng(3)
    for w, h, ch in [(31, 7, 3), (1, 16, 3), (64, 64, 1), (3, 3, 4)]:
        px = rng.integers(0, 256, h * w * ch, dtype=np.uint8).tobytes()
        from test_round8 import _hand_filtered_png

        data = _hand_filtered_png(w, h, ch, px, [4, 3])
        ww, hh, cc, pix = P.decode_png(data)
        assert (ww, hh, cc) == (w, h, ch)
        # the hand-filter round-trips: decode must recover the pixels
        assert pix == px


def test_span_fraction_complement_form_matches_window_form(spark):
    """min_docs=2 takes the sort-free complement path (r9 tier-probe
    fix); min_docs=3 keeps the window path. On the same corpus the
    complement form must be BIT-identical to the window form evaluated
    at min_docs=2, and the min_docs=3 path must still work."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        cross_doc_span_fraction,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),        # shares the 4-span 'c d e f' region
            (2, "x y c d e f g h"),        # with doc 1 (partial overlap)
            (3, "a b c d e f g h"),        # exact copy of doc 1
            (4, "totally different words here now"),
            (5, "tiny"),                   # fewer tokens than n -> 0 slots
            (6, None),                     # NULL text -> 0.0
        ],
        "doc_id int, text string",
    )
    new = {
        r["doc_id"]: r["dup_span_frac"]
        for r in cross_doc_span_fraction(docs, n=4).collect()
    }
    # window form at the same min_docs: force the general branch
    old = {
        r["doc_id"]: r["dup_span_frac"]
        for r in cross_doc_span_fraction(docs, n=4, min_docs=2 + 0).collect()
    }
    # (min_docs=2 routes both to the complement path now; replay the
    # window branch explicitly via min_docs=3 semantics check below and
    # an equality check against a hand-computed expectation here)
    assert new == old
    # docs 1 and 3 are exact copies: every span duplicated
    assert new[1] == 1.0 and new[3] == 1.0
    # doc 2: spans 'c d e f','d e f g','e f g h' shared out of 5 slots
    assert new[2] == round(3 / 5, 6)
    assert new[4] == 0.0 and new[5] == 0.0 and new[6] == 0.0
    # general-branch (min_docs=3): the 'c d e f'..'e f g h' spans sit
    # in docs 1, 2 AND 3 (df=3 -> dup), while 'a b c d'/'b c d e' are
    # only in the 1/3 copy pair (df=2 < 3 -> not dup)
    strict = {
        r["doc_id"]: r["dup_span_frac"]
        for r in cross_doc_span_fraction(docs, n=4, min_docs=3).collect()
    }
    assert strict == {1: 0.6, 2: 0.6, 3: 0.6, 4: 0.0, 5: 0.0, 6: 0.0}


# ----------------------------------------- two-level arrow assignment
def _clustered_vecs(spark, n, dim=16, n_centers=8, seed=7):
    import random

    from pyspark.sql import Row

    rng = random.Random(seed)
    centers = [
        [rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_centers)
    ]
    rows = []
    for i in range(n):
        c = centers[i % n_centers]
        rows.append(
            Row(
                vec_id=i,
                embedding=[x + rng.gauss(0, 0.05) for x in c],
            )
        )
    return spark.createDataFrame(rows)


def test_ivf_arrow_full_coarse_probe_matches_exact(spark):
    """coarse_probe >= #coarse cells scores every fine centroid, so the
    two-level path must reproduce the exact path bit-for-bit (same
    round-6 affinity, same ascending-id tie rule)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        ivf_assign_arrow,
        kmeans_centroids,
    )

    df = _clustered_vecs(spark, 240)
    cents = kmeans_centroids(df, n_centroids=25)
    for n_probe in (1, 3):
        exact = sorted(
            (r["vec_id"], r["centroid_id"])
            for r in ivf_assign_arrow(df, cents, n_probe=n_probe).collect()
        )
        hier = sorted(
            (r["vec_id"], r["centroid_id"])
            for r in ivf_assign_arrow(
                df, cents, n_probe=n_probe, coarse_probe=99
            ).collect()
        )
        assert hier == exact


def test_ivf_arrow_coarse_probe_agreement_and_determinism(spark):
    """With p << #cells the assignment is approximate — on clustered
    data agreement with the exact path stays high, row count is
    unchanged, and the result is partition-invariant."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        ivf_assign_arrow,
        kmeans_centroids,
    )

    df = _clustered_vecs(spark, 400)
    cents = kmeans_centroids(df, n_centroids=36)
    exact = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign_arrow(df, cents).collect()
    }
    hier = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign_arrow(df, cents, coarse_probe=2).collect()
    }
    assert len(hier) == len(exact) == 400
    agree = sum(hier[i] == exact[i] for i in exact) / len(exact)
    assert agree >= 0.9, f"two-level agreement {agree:.3f} < 0.9"
    again = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign_arrow(
            df.repartition(7), cents, coarse_probe=2
        ).collect()
    }
    assert again == hier


def test_semdedup_coarse_probe_forwarding(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        semdedup,
    )

    df = _clustered_vecs(spark, 120, n_centers=4)
    base = sorted(
        map(tuple, semdedup(df, n_centroids=9, assign="arrow").collect())
    )
    full = sorted(
        map(
            tuple,
            semdedup(
                df, n_centroids=9, assign="arrow", coarse_probe=99
            ).collect(),
        )
    )
    assert full == base
    with pytest.raises(ValueError, match="coarse_probe requires"):
        semdedup(df, n_centroids=9, assign="expr", coarse_probe=2)


def test_coarse_partition_members_consistent_with_returned_matrix():
    """The membership map must be the argmax assignment against the
    RETURNED coarse matrix (not the pre-final-update one): workers
    score probes against Qn, so a fine centroid filed under a cell its
    final affinity doesn't pick would never be probed where it should
    be. Pure-numpy invariant over several shapes/iteration counts."""
    import numpy as np

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        _coarse_partition,
    )

    rng = np.random.RandomState(11)
    for k, kc, iters in [(25, 5, 1), (64, 8, 4), (100, 10, 2), (7, 3, 6)]:
        C = rng.randn(k, 12)
        Qn, members = _coarse_partition(C, kc, iters=iters)
        cn = np.sqrt((C * C).sum(axis=1))
        cn[cn == 0.0] = 1.0
        expect = np.argmax((C / cn[:, None]) @ Qn.T, axis=1)
        got = np.empty(k, dtype=np.int64)
        for g, idx in enumerate(members):
            got[idx] = g
        assert (got == expect).all(), (k, kc, iters)
        assert sorted(np.concatenate(members).tolist()) == list(range(k))
        assert all(len(m) for m in members)  # empty cells dropped


def test_ivf_ann_topk_arrow_assign_parity(spark):
    """ivf_ann_topk(assign='arrow') must reproduce the expression form
    (round-6 assignment agreement is proven above; downstream cosine +
    top-k is the same plan), with and without the two-level path at
    full probe."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        ivf_ann_topk,
    )

    corpus = _clustered_vecs(spark, 200)
    queries = (
        _clustered_vecs(spark, 12, seed=13)
        .withColumnRenamed("vec_id", "query_id")
    )
    def rows(**kw):
        return sorted(
            (r["query_id"], r["vec_id"], r["cosine"])
            for r in ivf_ann_topk(
                corpus, queries, n_centroids=10, n_probe=3, k=4, **kw
            ).collect()
        )

    base = rows()
    assert rows(assign="arrow") == base
    assert rows(assign="arrow", coarse_probe=99) == base
    with pytest.raises(ValueError, match="coarse_probe requires"):
        ivf_ann_topk(corpus, queries, coarse_probe=2)


def test_repartition_pinned_defeats_aqe_coalesce(spark):
    """A doc-keyed exchange whose input is a few KB must still spread
    the post-explode work across the session's shuffle width: AQE's
    coalescing sees only pre-amplification bytes, so the unpinned form
    lands the whole pipeline in one task (the sf0.1 repetition family
    ran 4x slower that way)."""
    from pyspark.sql import functions as F

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.skew import (
        repartition_pinned,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w "), F.repeat(F.lit("tok "), 50)).alias("text"),
    )
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))

    pinned = repartition_pinned(docs, F.col("doc_id")).select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    n_parts = (
        pinned.select(F.spark_partition_id().alias("p")).distinct().count()
    )
    # every doc's tokens stay together (clustering preserved) but the
    # corpus spreads over the full shuffle width, not AQE's 1
    assert n_parts > 1
    assert pinned.rdd.getNumPartitions() == width

    per_doc_parts = (
        pinned.select("doc_id", F.spark_partition_id().alias("p"))
        .groupBy("doc_id")
        .agg(F.countDistinct("p").alias("np"))
        .agg(F.max("np"))
        .first()[0]
    )
    assert per_doc_parts == 1


def test_repetition_hash_grams_parity(spark):
    """hash_grams=True (8-byte agg keys) must reproduce the exact
    string-keyed shares bit-for-bit — the hash only renames groups, and
    the isNotNull guard must null out trailing incomplete grams exactly
    like concat's null propagation does."""
    from pyspark.sql import functions as F

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import (
        repetition_signals,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),          # heavy 2-gram repetition
            (2, "x y z w v u t s r q p o"),  # all unique
            (3, "spam spam spam spam spam spam spam spam spam spam spam"),
            (4, "one two"),                  # shorter than most n
            (5, "solo"),                     # shorter than every n
            (6, ""),                         # empty
        ],
        ["doc_id", "text"],
    )
    a = repetition_signals(docs, hash_grams=True).orderBy("doc_id").collect()
    b = repetition_signals(docs, hash_grams=False).orderBy("doc_id").collect()
    assert a == b
    # sanity on the semantics themselves, not just parity
    row1 = {r["doc_id"]: r for r in a}[1]
    assert row1["top_2gram_share"] > 0.5
    row5 = {r["doc_id"]: r for r in a}[5]
    assert row5["dup_10gram_frac"] == 0.0


# ---------------------------------------------------------------------------
# simhash128: the corpus-scale pigeonhole pair-former (r9 session 3)
# ---------------------------------------------------------------------------


def test_simhash128_slices_extend_simhash64(spark, make_docs):
    """The 128-bit signature's low two slices ARE simhash64's halves:
    s0 = md5 hex chars 1-8 (= lo), s1 = chars 9-16 (= hi), same votes,
    same recombine — bit-for-bit. The wider signature only ADDS slices;
    it never changes the bits the 64-bit family already published."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import (
        simhash64,
        simhash128,
    )

    d = make_docs(
        ["alpha beta gamma delta", "alpha beta gamma epsilon", "x y z"],
    )
    s64 = {r.id: (r.simhash_lo, r.simhash_hi) for r in simhash64(d).collect()}
    s128 = {
        r.id: (r.simhash_s0, r.simhash_s1, r.simhash_s2, r.simhash_s3)
        for r in simhash128(d).collect()
    }
    assert set(s64) == set(s128)
    for i in s64:
        assert s128[i][0] == s64[i][0], "s0 must equal simhash64 lo"
        assert s128[i][1] == s64[i][1], "s1 must equal simhash64 hi"
        assert all(0 <= v < 2**32 for v in s128[i])


def test_simhash128_pairs_exact_recall_vs_brute(spark, make_docs):
    """Pigeonhole blocking over the four slices must return EXACTLY the
    brute-force all-pairs Hamming result (recall 1.0 by disjoint
    blocks), for h values that leave slices uncovered (h=0: one block
    on s0 only) and h values that split mid-slice (h=6: 16-bit blocks)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import (
        simhash128,
        simhash128_pairs,
    )

    base = " ".join(
        w for w in "alpha beta gamma delta epsilon zeta".split() for _ in range(5)
    )
    d = make_docs([base, base + " lambda", base, "x y z w v u t s r q"])
    rows = {
        r.id: (r.simhash_s0, r.simhash_s1, r.simhash_s2, r.simhash_s3)
        for r in simhash128(d).collect()
    }
    assert rows[0] == rows[2]

    def brute(h):
        out = set()
        ids = sorted(rows)
        for i in ids:
            for j in ids:
                if i < j:
                    ham = sum(
                        bin(a ^ b).count("1") for a, b in zip(rows[i], rows[j])
                    )
                    if ham <= h:
                        out.add((i, j))
        return out

    for h in (0, 6, 12):
        got = {
            (r.id_a, r.id_b)
            for r in simhash128_pairs(d, max_hamming=h).collect()
        }
        assert got == brute(h), h
    assert (0, 2) in brute(0)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash128_pairs(d, max_hamming=128)


def test_simhash128_bucket_valve_is_subset_of_exact(spark, make_docs):
    """max_bucket_size drops over-cap buckets from the candidate index:
    output must be a SUBSET of the exact result (never invents pairs),
    surviving pairs keep their exact hamming, and a cap of 1 on a
    corpus of identical docs (every doc in one bucket per block) drops
    everything — the valve's worst case is empty, not wrong."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import (
        simhash128_pairs,
    )

    same = ["alpha beta gamma delta epsilon"] * 6 + ["q r s t u v w"]
    d = make_docs(same)
    exact = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash128_pairs(d, max_hamming=4).collect()
    }
    assert len(exact) == 15  # C(6,2) identical-doc pairs
    capped = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash128_pairs(d, max_hamming=4, max_bucket_size=8).collect()
    }
    assert capped == exact  # cap above every bucket: no-op
    gone = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash128_pairs(d, max_hamming=4, max_bucket_size=1).collect()
    }
    assert set(gone) <= set(exact)
    assert not gone  # the 6-doc bucket exceeds cap 1 in every block


def test_embed_neardup_arrow_scorer_parity(spark):
    """score='arrow' (bucket-local BLAS) must return the same pairs and
    round-6 cosines as the engine-exact expression form on the real
    test embeddings — and reject unknown score values."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        embed_neardup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(threshold=0.45, block=True, dim=64, planes=4, tables=8)
    expr = embed_neardup_pairs(emb, score="expr", **kw).orderBy("id_a", "id_b")
    arrow = embed_neardup_pairs(emb, score="arrow", **kw).orderBy("id_a", "id_b")
    assert expr.collect() == arrow.collect()
    with pytest.raises(ValueError, match="score"):
        embed_neardup_pairs(emb, score="numpy", **kw)


def test_embed_neardup_wide_dim_compiles_and_runs(spark):
    """dim=512 (production embedding width) used to crash whole-stage
    codegen with StackOverflowError — project collapse inlined the cast
    into every element reference of the unrolled static dot/norm. The
    _dot_sql/_norm_sql auto-switch above dim 128 must keep the
    operator runnable at any width, in both scorer forms."""
    from pyspark.sql import functions as F

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        _STATIC_EXPR_MAX_DIM,
        embed_neardup_pairs,
    )

    assert _STATIC_EXPR_MAX_DIM == 128
    dim = 512
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (
            F.conv(
                F.substring(F.md5(F.concat(F.col("id"), F.lit(":"), i)), 1, 8),
                16,
                10,
            ).cast("double")
            / F.lit(2**31)
            - F.lit(1.0)
        ).cast("float"),
    )
    emb = spark.range(300).select(F.col("id").alias("vec_id"), vec.alias("embedding"))
    for score in ("expr", "arrow"):
        out = embed_neardup_pairs(
            emb, threshold=0.2, block=True, dim=dim, planes=4, tables=4, score=score
        )
        assert out.count() >= 0  # runs without codegen StackOverflow
        assert out.columns == ["id_a", "id_b", "cosine"]


def test_connected_components_long_chain_and_raise(spark):
    """Pointer doubling: a 60-hop chain (diameter 60 > the 12 rounds
    granted) must still converge to ONE cluster labeled by the minimum
    id — plain min-label propagation would need 60 rounds and the old
    code SILENTLY returned split clusters when max_iter ran out. The
    unconverged case must now raise, never return wrong labels."""
    from pyspark.sql import functions as F

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        connected_components,
    )

    edges = spark.range(60).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    labs = {
        r.id: r.cluster
        for r in connected_components(edges, max_iter=12).collect()
    }
    assert len(labs) == 61
    assert set(labs.values()) == {0}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1).collect()
