"""Deduplication operators for a training-data pipeline: exact,
n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each op):

- exact:   one hash-groupBy on the fingerprint — a single shuffle keyed
           by md5, uniform by construction (no skew).
- jaccard: shingle inverted index (explode → self-join on shingle →
           count intersections). Quadratic in docs *per shingle*, so it
           is the verification stage, not the candidate generator.
- minhash: fixed-size signature per doc (16 mins — one groupBy), then
           LSH banding: docs sharing any band bucket become candidate
           pairs. At 100 TB only the banding join shuffles, keyed by
           (band, bucket-hash) — near-uniform; candidates then verified
           with true Jaccard. This is the scale path for fuzzy dedup.
- simhash: 32/64/128-bit signatures per doc via bit-vote aggregation;
           pigeonhole blocking (disjoint bit blocks, exact recall)
           bounds the pair join. Block bucket space is FIXED at 2^width
           so candidate mass is Θ(n²/2^w) — use the 128-bit family at
           corpus scale and the max_bucket_size occupancy valve for
           vote-saturated boilerplate (SCALING.md round-9 addendum 5).

Determinism: all hashes derive from md5 → first-15-hex-digits int
(llm/params.py) so the DuckDB oracles reproduce results bit-for-bit.
Everything is DataFrame ops — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .params import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_HASHES,
    SHINGLE_N,
    SIMHASH_BITS,
)
from .text import fingerprint_md5, norm_text
from ..operators.skew import repartition_pinned


def md5_int(c: Column) -> Column:
    """60-bit integer from md5 (identical in any engine)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def _ngram_arr(toks: Column, n: int) -> Column:
    """Word n-gram array from a token array, built with chained
    ``zip_with``/``concat`` (one pass, cheap lambdas — ~4x faster under
    Spark's interpreted higher-order-function evaluation than per-index
    ``slice`` + ``array_join``). zip pads the shorter side with null and
    null concat -> null, so the trailing (n-1) incomplete grams come out
    null — CALLERS MUST FILTER/IGNORE NULLS. Shared by shingles(),
    cross_doc_span_fraction(), remove_duplicate_spans() and
    curation.top_ngram_share() so the gram identity can never diverge
    between detection and removal."""
    arr = toks
    for k in range(1, n):
        arr = F.zip_with(
            arr,
            F.slice(toks, k + 1, F.size(toks)),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    return arr


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by normalized-text fingerprint: one row per distinct
    content, keeping the smallest id; ``n_dups`` counts the group."""
    return (
        df.select(fingerprint_md5(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_dups"),
        )
    )


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
) -> DataFrame:
    """Distinct hashed word n-gram shingles per document: (id, sh_h).

    Shingles are hashed to a 60-bit int *before* the distinct and every
    downstream join: an 8-byte shuffle key instead of an n-word string
    cuts shuffle bytes and comparison cost on the self-join, which is
    the dominant term at scale. Collisions (~2^-60) affect any engine
    using the same hash identically, so oracles stay exact.

    Construction details that matter for throughput:

    - the n-gram array is built with chained ``zip_with``/``concat``
      (one pass, cheap lambdas) instead of per-index ``slice`` +
      ``array_join`` — ~4x faster under Spark's interpreted
      higher-order-function evaluation;
    - md5 runs *after* the explode, in a whole-stage-codegen projection
      — hash expressions inside ``transform`` lambdas are interpreted
      per element and dominate the runtime (measured, not guessed).

    The input is repartitioned by id first: document tables often arrive
    as few large files (locally: one), and without the spread the
    explode fan-out runs on a handful of cores.
    """
    arr = _ngram_arr(F.split(norm_text(text_col), " "), n)
    return (
        repartition_pinned(df, F.col(id_col))
        .select(F.col(id_col).alias("id"), F.explode(arr).alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .select("id", md5_int(F.col("shingle")).alias("sh_h"))
        .distinct()
    )


def cross_doc_span_fraction(
    df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level exact-span duplication (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" signal —
    published at 50-token spans; ``n`` is the span length): for each
    document, the fraction of its n-token span slots whose exact span
    also occurs in at least ``min_docs`` distinct documents (itself
    included). The cross-document complement of the within-document
    Gopher family (``curation.repetition_signals``): a doc consisting
    mostly of text copied from elsewhere in the corpus scores near 1.

    Scale shape: span slots explode partition-local after one doc
    repartition and collapse to (doc, span_hash, count) under the same
    partitioning; corpus-wide document frequency is ONE aggregation
    keyed by the 60-bit md5 span hash (8-byte shuffle keys, rows ∝
    distinct (doc, span) pairs); the final fraction re-keys by doc.
    No self-join, no pair explosion — a span shared by a million
    documents costs one counter row, not 10¹² join rows, so this needs
    no ``max_doc_freq``-style skew valve.
    """
    toks = F.split(norm_text(text_col), " ")
    arr = _ngram_arr(toks, n)
    spans = (
        repartition_pinned(df, F.col(id_col))
        .select(F.col(id_col), F.explode(arr).alias("__sp"))
        .filter(F.col("__sp").isNotNull())
        .select(id_col, md5_int(F.col("__sp")).alias("sp_h"))
    )
    per_doc_span = spans.groupBy(id_col, "sp_h").agg(F.count("*").alias("c"))
    if min_docs == 2:
        # COMPLEMENT form (default; the r9 tier probe measured the
        # window form super-linear at 1-2M docs — 2.5-2.8x per doubling
        # — because WindowExec must SORT the full ~115-slots-per-doc
        # row set by sp_h before counting; external sort spill is the
        # drifting term). For the df >= 2 case the dup mass has an
        # exact complement: a slot is duplicated iff its span's
        # doc-frequency > 1, and a df == 1 span belongs to exactly ONE
        # document — so
        #   dup_mass(doc) = total_slots(doc) - unique_mass(doc)
        # where unique_mass comes from a HASH aggregation by sp_h
        # (no sort) followed by a doc-keyed sum of the df == 1 rows.
        # total_slots needs no explode at all: max(tokens - (n-1), 0)
        # straight off the text column. Counts are exact integers and
        # the final division is the same two doubles as the window
        # form, so results are bit-identical (parity-tested) and the
        # oracle is unchanged.
        uniq = (
            per_doc_span.groupBy("sp_h")
            .agg(
                F.count("*").alias("df"),
                F.max(id_col).alias(id_col),  # exact: the only doc when df==1
                F.max("c").alias("c"),
            )
            .filter(F.col("df") == 1)
            .groupBy(id_col)
            .agg(F.sum("c").alias("__uniq"))
        )
        total = F.greatest(
            F.size(toks) - F.lit(n - 1), F.lit(0)
        ).cast("long")
        frac = (
            df.select(F.col(id_col), total.alias("__tot"))
            .join(uniq, id_col, "left")
            .filter(F.col("__tot") > 0)
            .select(
                F.col(id_col),
                F.round(
                    (F.col("__tot") - F.coalesce(F.col("__uniq"), F.lit(0)))
                    / F.col("__tot"),
                    6,
                ).alias("dup_span_frac"),
            )
        )
    else:
        # general min_docs: document frequency as an unbounded window
        # count over the span hash rather than an agg + self-join (the
        # join form computes the whole scan→explode→agg subtree TWICE
        # with no exchange reuse). A df < min_docs span can belong to
        # several docs, so the complement trick above does not apply.
        n_docs = F.count("*").over(Window.partitionBy("sp_h"))
        frac = (
            per_doc_span.withColumn("n_docs", n_docs)
            .groupBy(id_col)
            .agg(
                F.round(
                    F.sum(
                        F.when(
                            F.col("n_docs") >= min_docs, F.col("c")
                        ).otherwise(F.lit(0))
                    )
                    / F.sum("c"),
                    6,
                ).alias("dup_span_frac")
            )
        )
    return df.select(id_col).join(frac, id_col, "left").select(
        id_col,
        F.coalesce("dup_span_frac", F.lit(0.0)).alias("dup_span_frac"),
    )


def _span_removal(
    df: DataFrame, n: int, text_col: str, id_col: str, min_docs: int,
    modes: tuple[str, ...],
) -> DataFrame:
    """(id, dedup_mode, text_clean, n_tokens, n_removed), one row per
    document per entry of ``modes`` (in that order): the one builder of
    :func:`remove_duplicate_spans` and :func:`remove_duplicate_spans_modes`.

    Scale shape (never an all-pairs): one doc-keyed repartition feeding
    the token and span explodes; corpus-wide span document-frequency is
    ONE aggregation keyed by the 60-bit md5 span hash (shuffle rows ∝
    span slots, 8-byte keys); dup slots come back by one sp_h-keyed
    join; covered positions fan out dup_slots x n — bounded by the
    corpus's DUPLICATED mass only, the quantity the op exists to
    remove — and collapse under the doc partitioning to one coverage
    flag per (doc, pos). One doc-keyed aggregation rebuilds every
    mode's text (order rides a (pos, token) struct sort inside the
    group, no global sort); one inline explode emits several modes.
    """
    toks = F.split(norm_text(text_col), " ")
    arr = _ngram_arr(toks, n)
    base = repartition_pinned(
        df.filter(F.col(id_col).isNotNull()), F.col(id_col)
    )
    tok = base.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    spans = (
        base.select(F.col(id_col), F.posexplode(arr).alias("pos", "__sp"))
        .filter(F.col("__sp").isNotNull())
        .select(id_col, "pos", md5_int(F.col("__sp")).alias("sp_h"))
    )
    dup = (
        spans.groupBy("sp_h")
        .agg(
            F.count_distinct(F.col(id_col)).alias("__df"),
            F.min(id_col).alias("__first"),
        )
        .filter(F.col("__df") >= min_docs)
        .select("sp_h", "__first")
    )
    slots = spans.join(dup, "sp_h")
    if "all" not in modes:
        # first-carrier slots cover nothing in keep_first: drop them
        # before the x n fan-out (__cov_kf is then 1 or NULL)
        slots = slots.filter(F.col(id_col) != F.col("__first"))
    covered = (
        slots.select(
            F.col(id_col),
            F.explode(F.sequence("pos", F.col("pos") + (n - 1))).alias("pos"),
            (F.col(id_col) != F.col("__first")).cast("int").alias("__kf"),
        )
        .groupBy(id_col, "pos")
        .agg(F.max("__kf").alias("__cov_kf"))
    )
    # __cov_kf per token: NULL = no duplicated span covers it; 0 = only
    # spans whose smallest-id carrier is this document do
    cov = F.col("__cov_kf")
    kept = {"all": cov.isNull(), "keep_first": cov.isNull() | (cov == 0)}
    rebuilt = (
        tok.join(covered, [id_col, "pos"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            *[
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(kept[m], F.struct("pos", "tok"))
                            )
                        ),
                        lambda x: x["tok"],
                    ),
                    " ",
                ).alias(f"__text_{m}")
                for m in modes
            ],
            *[F.count_if(~kept[m]).alias(f"__rm_{m}") for m in modes],
        )
    )
    cols = [
        [
            F.lit(m).alias("dedup_mode"),
            F.coalesce(f"__text_{m}", F.lit("")).alias("text_clean"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce(f"__rm_{m}", F.lit(0)).alias("n_removed"),
        ]
        for m in modes
    ]
    if len(cols) > 1:  # one output row per (doc, mode)
        cols = [[F.inline(F.array(*[F.struct(*c) for c in cols]))]]
    wide = df.select(id_col).join(rebuilt, id_col, "left")
    return wide.select(F.col(id_col), *cols[0])


def remove_duplicate_spans(
    df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """Exact-substring dedup, the REMOVAL op (Lee et al. 2022 ExactSubstr
    — :func:`cross_doc_span_fraction` is the matching detection signal):
    (id, text_clean, n_tokens, n_removed) where every token covered by
    an n-token span occurring in at least ``min_docs`` distinct
    documents is dropped and the survivors are rejoined in order.
    Output text is the NORMALIZED form (whitespace-collapsed,
    lower-cased — span identity is defined on normalized tokens, so the
    cleaned text is too; the reference implementation operates on the
    tokenized corpus for the same reason).

    ``keep_first=True`` keeps one canonical occurrence: the document
    with the smallest id among a span's carriers keeps its tokens (the
    paper's leave-one variant); other documents still lose theirs.
    Scale shape: :func:`_span_removal`.
    """
    mode = "keep_first" if keep_first else "all"
    return _span_removal(
        df, n, text_col, id_col, min_docs, (mode,)
    ).drop("dedup_mode")


def remove_duplicate_spans_modes(
    df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Both :func:`remove_duplicate_spans` modes in ONE corpus pass —
    (id, dedup_mode 'all'|'keep_first', text_clean, n_tokens,
    n_removed), two rows per document, row-identical to unioning the
    single-mode calls (pinned by test). The span document-frequency
    aggregation, the coverage fan-out and the doc-keyed rebuild are
    built once for both modes: the naive union of two single-mode plans
    re-ran the whole pipeline per mode (22 scans / 28 live exchanges at
    sf0.01; ReuseExchange recovered only 5).
    """
    return _span_removal(
        df, n, text_col, id_col, min_docs, ("all", "keep_first")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    threshold: float = 0.1,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
    shingles_df: DataFrame | None = None,
    sizes_df: DataFrame | None = None,
    shingles_b_df: DataFrame | None = None,
    candidate_sizes: bool = False,
) -> DataFrame:
    """Document pairs with shingle-set Jaccard >= threshold.

    Inverted-index join: explode shingles, self-join on the shingle,
    count intersections, divide by union size. If ``candidates``
    (id_a, id_b) is given — e.g. from MinHash LSH — only those pairs are
    verified (the 100 TB path).

    ``max_doc_freq`` is the skew valve for the all-pairs form: a shingle
    appearing in d documents fans out to d² join rows, so one stop-word
    bigram shared by a million documents is a 10¹²-row hot key no
    partitioning trick survives. Capping document frequency drops those
    near-universal shingles from the *index* (they carry almost no
    Jaccard signal but all of the cost); intersection counts then
    undercount by at most the dropped shingles, making reported Jaccard
    a lower bound. Default None = exact semantics (and what the oracle
    checks); set it when running uncapped at scale.

    Measured recall price of the cap (SCALING.md round-10 addendum 1):
    **0.0 % TRUE-pair loss at every cap probed (10-160)** — 29,412 of
    29,412 seeded ~4%-substitution mutant pairs kept at the 500k-doc
    tier, threshold 0.1, including the oracle-checked cap 40. A true
    pair is lost only if its ENTIRE shingle overlap is over-cap
    (identical-boilerplate pages), and those pairs are caught upstream
    by exact dedup (same fp) or the simhash family.

    ``shingles_df`` lets a caller that already built (and cached) the
    shingle table share it — MinHash candidate generation + Jaccard
    verification over the same corpus shingles once, not twice.
    ``sizes_df`` (id, n_sh) likewise shares a precomputed set-size
    frame (e.g. ``minhash_signatures(with_sizes=True)``) instead of
    re-aggregating the shingle table here.

    Two r17 knobs for BIPARTITE candidate verification (VERDICT r16
    #3 — ``incremental_dedup``'s recompute diet; both are pure
    work-avoidance, the verified pairs and their Jaccard values are
    unchanged):

    - ``shingles_b_df``: when every candidate's ``id_a`` can only
      match one side's documents and every ``id_b`` the other's (the
      incremental new-vs-base shape), passing the sides separately
      stops each join side from evaluating the OTHER side's shingle
      subtree just to match nothing. Default None = both sides read
      ``shingles_df`` (the self-join shape).
    - ``candidate_sizes=True``: the candidate frame already carries
      ``n_a``/``n_b`` set-size columns (e.g. ridden through
      :func:`lsh_buckets` ``carry=``), so no sizes frame is evaluated
      or joined at all — the sizes are min-folded out of the
      intersection aggregate. Requires ``candidates``.
    """
    if candidate_sizes and candidates is None:
        raise ValueError("candidate_sizes=True requires candidates=")
    if shingles_b_df is not None and candidates is None:
        raise ValueError("shingles_b_df requires candidates= (bipartite verify)")
    # No .cache() on the internal shingle table: a lazy cache built here
    # materializes when the CALLER executes the result and then lives
    # until session teardown — a library op must not accrete storage it
    # can never release (the r13 BPE-checkpoint lesson). Instead of
    # caching to feed three consumers (sizes / index a / index b), the
    # sizes pass is eliminated outright: set sizes ride the index as a
    # window column over the doc partitioning the shingle table already
    # has (a local sort, no exchange, no sizes joins). The self-join
    # then has two consumers of the shingle pipeline; under AQE's
    # broadcast self-join each side evaluates it once, which interleaved
    # mins measured at the SAME wall-clock as the old cached form
    # (ADJUDICATE_r14 'jaccard_variants': window 1.53s == cache 1.53s
    # at sf0.1 — the saved sizes pass pays for the second evaluation).
    sh = (
        shingles_df
        if shingles_df is not None
        else shingles(df, text_col, id_col, n)
    )
    if sizes_df is not None:
        # caller supplied a precomputed (and caller-owned) sizes frame —
        # attach by join at the end, as before
        sizes = sizes_df.select("id", "n_sh")
        index = sh
    elif candidate_sizes:
        # sizes ride the candidate rows themselves (n_a / n_b): no
        # sizes frame, no sizes joins, no per-doc window
        sizes = None
        index = sh
    else:
        # n_sh attaches WHERE THE ROWS ALREADY ARE: count over the doc
        # partition (the shingle table is doc-partitioned by
        # construction, so this window adds a local sort, not a shuffle)
        sizes = None
        index = sh.withColumn(
            "n_sh", F.count("*").over(Window.partitionBy("id"))
        )
    if candidates is None and max_doc_freq is not None:
        # document-frequency cap as a window over the shingle partition:
        # the count-over-sh_h exchange doubles as the self-join's
        # partitioning (join keys = sh_h), so the cap costs no extra
        # shuffle. n_sh is attached BEFORE this filter — reported sizes
        # are the full set sizes, matching the oracle.
        index = (
            index.withColumn(
                "__df", F.count("*").over(Window.partitionBy("sh_h"))
            )
            .filter(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    # (An explicit repartition(sh_h) boundary here — to guarantee the
    # self-join sides share one materialized exchange — was probed and
    # REJECTED: it demotes AQE's broadcast self-join to a sort-merge /
    # shuffled-hash join and measured 2.7-6x slower at sf0.1. The
    # broadcast plan recomputes the shingle pipeline once per side, but
    # interleaved mins show that costs the same wall-clock as the old
    # cached form — ADJUDICATE_r14 'jaccard_variants'.)
    with_index_sizes = sizes is None and not candidate_sizes
    keep_a = ["sh_h", F.col("n_sh").alias("n_a")] if with_index_sizes else ["sh_h"]
    keep_b = ["sh_h", F.col("n_sh").alias("n_b")] if with_index_sizes else ["sh_h"]
    # bipartite verify: the b side reads its own shingle table instead
    # of re-evaluating the a side's subtree to match nothing (r17)
    index_b = index if shingles_b_df is None else shingles_b_df
    a = index.select(F.col("id").alias("id_a"), *keep_a)
    b = index_b.select(F.col("id").alias("id_b"), *keep_b)
    # candidate-carried sizes are constant per pair: min() folds them
    # through the intersection aggregate exactly like the index-window
    # form (same values — each row of a pair's group carries the same
    # n_a/n_b)
    size_aggs = (
        [F.min("n_a").alias("n_a"), F.min("n_b").alias("n_b")]
        if (with_index_sizes or candidate_sizes)
        else []
    )
    if candidates is not None:
        # verify ONLY the candidate pairs: attach each side's shingles to
        # the pair and count matches — the join fan-out is bounded by
        # |candidates| x shingles-per-doc, never all-pairs
        inter = (
            candidates.join(a, "id_a")
            .join(b, ["id_b", "sh_h"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"), *size_aggs)
        )
    else:
        inter = (
            a.join(b, "sh_h")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"), *size_aggs)
        )
    if sizes is not None:
        inter = inter.join(
            sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a"
        ).join(
            sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b"
        )
    out = (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    n: int = SHINGLE_N,
    shingles_df: DataFrame | None = None,
    with_sizes: bool = False,
) -> DataFrame:
    """(id, mh_0..mh_{k-1}): min of each universal hash over the
    document's shingle set — one explode + one groupBy with k min aggs.

    ``with_sizes=True`` appends ``n_sh`` (the shingle-set size) to the
    SAME aggregate: a downstream Jaccard verification needs per-doc set
    sizes anyway, and folding the count into this groupBy saves the
    separate sizes pass (and its exchange) over the shingle table."""
    sh = shingles_df if shingles_df is not None else shingles(df, text_col, id_col, n)
    x = (F.col("sh_h") % MINHASH_P).alias("x")
    hashed = sh.select("id", x)
    # one SQL parse per agg: ~15 py4j round trips less than the Column
    # API (this listcomp was 0.42 s of dedup_minhash_lsh's profiled
    # construction). Every A/B constant fits int32 and x is bigint, so
    # the literals need no type suffix
    aggs = [
        F.expr(
            f"min(({MINHASH_A[i]} * x + {MINHASH_B[i]}) % {MINHASH_P})"
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    if with_sizes:
        aggs.append(F.count("*").alias("n_sh"))
    return hashed.groupBy("id").agg(*aggs)


def lsh_buckets(
    sig: DataFrame,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band, bucket) membership rows from a MinHash signature
    frame — the join key of every LSH candidate generation (self-join
    for within-corpus dedup, cross-join-by-bucket for incremental).

    ``carry`` names extra ``sig`` columns to ride along on every
    membership row (r17: ``incremental_dedup`` carries ``n_sh`` so the
    verify stage reads set sizes off the candidate rows instead of
    re-evaluating the whole signature pipeline for a separate sizes
    frame — a few bytes per membership row against a corpus-sized
    recompute)."""
    # one parse for the whole band array instead of ~10 py4j round
    # trips per band through the Column API
    band_sql = ", ".join(
        f"named_struct('band', {b}, 'bucket', md5(concat_ws(',', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ")))"
        for b in range(bands)
    )
    return sig.select(
        "id", *carry, F.explode(F.expr(f"array({band_sql})")).alias("bb")
    ).select("id", *carry, "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    n: int = SHINGLE_N,
    shingles_df: DataFrame | None = None,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs from LSH banding of MinHash signatures:
    (id_a, id_b) sharing at least one band bucket.

    ``sig_df`` lets the caller supply (and cache) an existing
    signature frame — e.g. one built ``with_sizes=True`` so Jaccard
    verification reuses the same aggregate.

    A pair appearing in several band buckets must come out once; this
    dedups with a lag() window PARTITIONED BY ``id_a`` ONLY (duplicates
    of a pair are adjacent once sorted by id_b), not ``distinct()``:
    the verification join that consumes these candidates is keyed by
    ``id_a``, so the window's exchange IS the join's exchange — one
    shuffle of the candidate rows instead of two (pair-key distinct +
    id_a re-shuffle). Per-partition volume stays banding-bounded, the
    same guarantee the banding join itself relies on."""
    sig = (
        sig_df
        if sig_df is not None
        else minhash_signatures(df, text_col, id_col, bands * rows, n, shingles_df)
    )
    buckets = lsh_buckets(sig, bands, rows)
    a = buckets.select(F.col("id").alias("id_a"), "band", "bucket")
    b = buckets.select(F.col("id").alias("id_b"), "band", "bucket")
    w = Window.partitionBy("id_a").orderBy("id_b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .withColumn("__prev", F.lag("id_b").over(w))
        .filter(F.col("__prev").isNull() | (F.col("__prev") != F.col("id_b")))
        .drop("__prev")
    )


def incremental_dedup(
    new_df: DataFrame,
    base_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    threshold: float = 0.1,
    cache_out: list | None = None,
) -> DataFrame:
    """Surviving NEW documents after deduplicating against an existing
    corpus — the daily-refresh shape at 100 TB, where base ≫ new and a
    base self-join is unaffordable (and unnecessary: base is already
    deduped).

    Two stages, both generating only new×base work:
    1. exact: anti-join new fingerprints against the base fingerprint
       set (one hash join keyed by md5).
    2. near-dup: MinHash-LSH buckets for each side, candidates from the
       cross bucket join only (no self-pairs), verified with true
       Jaccard over the union shingle table; new docs with any verified
       match ≥ ``threshold`` drop.

    New-vs-new duplicates are deliberately untouched (run the
    within-corpus operators for that); ids must be unique across both
    inputs.

    Storage lifecycle: by default nothing is persisted — the shared
    intermediates (exact-surviving new docs, per-side shingle tables
    and signatures) appear in several subtrees of the one returned
    plan, and their duplicated evaluation is the price of leaving the
    caller's session storage untouched (a library op cannot release a
    cache feeding a still-lazy result; the r13 BPE-checkpoint lesson).
    Callers at scale can pass ``cache_out=[]`` to persist those five
    intermediates and unpersist them EXPLICITLY after consuming the
    result: ``[f.unpersist() for f in cache_out]`` — same contract as
    ``similarity.semdedup(cells_out=...)``. On a 100 TB daily refresh
    the right materialization is usually a parquet checkpoint of
    ``new_exact`` anyway, not executor memory.

    Measured (INCREMENTAL_TIER_r16.json): the recompute multiplier is
    1.27x at a 3:1 base/new ratio but **1.98x at 100:1** — the
    twice-evaluated subtrees are base-sized, so at daily-refresh
    shapes (base ≳ 10x new) pass ``cache_out=[]`` or read the base
    from its parquet location (2.05x vs the cold default, with no
    executor memory needed); never run the leak-free default cold at
    production base sizes.
    """

    def _shared(frame: DataFrame) -> DataFrame:
        if cache_out is None:
            return frame
        frame = frame.persist()
        cache_out.append(frame)
        return frame
    base_fps = base_df.select(
        fingerprint_md5(text_col).alias("__fp")
    ).distinct()
    # feeds BOTH the near-dup shingle build and the final anti-join;
    # persisted only under a caller-owned cache_out handle (see
    # docstring — default is leak-free, recompute-tolerant)
    new_exact = _shared(
        new_df.withColumn("__fp", fingerprint_md5(text_col))
        .join(base_fps, "__fp", "left_anti")
        .drop("__fp")
    )
    sh_new = _shared(shingles(new_exact, text_col, id_col, n))
    sh_base = _shared(shingles(base_df, text_col, id_col, n))
    # r8 exchange diet (VERDICT r7 #8), same moves as minhash_lsh_pairs:
    # set sizes fold into the signature aggregates (no separate sizes
    # groupBy over the union shingle table), the cross-bucket candidate
    # dedup rides the id_a partitioning the verify join needs (lag
    # window, not pair-key distinct), and the final drop set skips its
    # distinct — a left-anti join is insensitive to duplicate build keys
    sig_new = _shared(minhash_signatures(
        new_exact, text_col, id_col, bands * rows, n, sh_new, with_sizes=True
    ))
    sig_base = _shared(minhash_signatures(
        base_df, text_col, id_col, bands * rows, n, sh_base, with_sizes=True
    ))
    # r17 recompute diet (VERDICT r16 #3, the shape the rejected r16
    # exchange-pin was reaching for — but as outright work-avoidance,
    # no reliance on ReuseExchange): set sizes ride the bucket
    # membership rows (carry=("n_sh",), a long per row) into the
    # candidate pairs, so the verify stage never evaluates a separate
    # sizes frame (the old sizes union re-ran BOTH signature pipelines
    # once per sizes join — 2 more base-sized passes); and the verify
    # join's sides are passed bipartite (id_a only ever matches new
    # docs, id_b only base docs), so neither side evaluates the other
    # side's shingle subtree to match nothing. Executed-plan corpus
    # scans: 17 -> 8; base-sized signature aggregations: 3 -> 1.
    # Result-identical (same pairs, same sizes, same Jaccard) — oracle
    # green at sf0.001/sf0.1 and the r17 A/B records the tier runs.
    bn = lsh_buckets(sig_new, bands, rows, carry=("n_sh",)).select(
        F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), "band", "bucket"
    )
    bb = lsh_buckets(sig_base, bands, rows, carry=("n_sh",)).select(
        F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), "band", "bucket"
    )
    w = Window.partitionBy("id_a").orderBy("id_b")
    cand = (
        bn.join(bb, ["band", "bucket"])
        .select("id_a", "id_b", "n_a", "n_b")
        .withColumn("__prev", F.lag("id_b").over(w))
        .filter(F.col("__prev").isNull() | (F.col("__prev") != F.col("id_b")))
        .drop("__prev")
    )
    ver = jaccard_pairs(
        None,
        text_col,
        id_col,
        n,
        threshold=threshold,
        candidates=cand,
        shingles_df=sh_new,
        shingles_b_df=sh_base,
        candidate_sizes=True,
    )
    drops = ver.select(F.col("id_a").alias(id_col))
    return new_exact.join(drops, id_col, "left_anti")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """(id, cluster): connected components of an undirected near-dup
    pair graph by iterative min-label propagation — the step that turns
    pairwise similarity into keep/drop groups (one keeper per cluster).

    Each round every node adopts the smallest label among itself and
    its neighbors, then a POINTER-DOUBLING step shortcuts label chains
    (label(u) ← min(label(u), label(label(u)))) — the PRAM path-halving
    idea, so convergence needs O(log diameter) rounds, not diameter
    rounds: ``max_iter=30`` covers any graph a 2^30-hop chain could
    produce. Without the doubling step a 5,000-hop chain (transitive
    near-dup drift A~B~C~…) needed 5,000 propagation rounds, and the
    old loop SILENTLY returned split clusters once ``max_iter`` ran out
    — wrong keep/drop decisions; the loop now raises if it ever
    exhausts ``max_iter`` unconverged instead of returning a wrong
    answer. Dedup graphs are overwhelmingly tiny star/clique clusters
    (diameter ≤ a few), so the loop still exits after 2-3 rounds. Per
    round: two id-keyed joins + one groupBy — shuffle scales with edge
    count. The driver-side loop holds only a changed-row *count* (no
    collect of data rows), the standard shape for iterative algorithms
    on Spark.

    Labels are the node ids themselves, so the result is deterministic
    (cluster id = smallest member id) — independent of the iteration
    schedule, so the recursive-CTE oracle and every cluster test are
    unchanged by the doubling step.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    sym = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        # materialize the edge list ONCE: every propagation round joins
        # against it, and without this each round re-executes the whole
        # upstream pair-generation plan (minhash banding etc.)
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = (
            sym.join(
                labels.withColumnsRenamed({"id": "dst", "label": "nlabel"}),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nlabel").alias("nlabel"))
            .withColumnRenamed("src", "id")
        )
        # the old label rides along so convergence detection below is a
        # filter over the checkpointed frame, not another id-keyed join
        propagated = labels.join(neigh, "id", "left").select(
            "id",
            F.col("label").alias("__old"),
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
        )
        # pointer doubling: label(u) <- min(label(u), label(label(u))).
        # Every label IS a node id, so the self-join resolves each
        # label's own current label — one extra id-keyed join per round
        # turns diameter-round convergence into log2(diameter) rounds
        new_labels = (
            propagated.join(
                propagated.select(
                    F.col("id").alias("label"), F.col("label").alias("plabel")
                ),
                "label",
                "left",
            )
            .select(
                "id",
                "__old",
                F.least(F.col("label"), F.coalesce("plabel", "label")).alias(
                    "label"
                ),
            )
            # truncate the lineage each round: without this the plan
            # doubles per iteration and analysis time explodes
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("label") != F.col("__old")).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            return labels.select("id", F.col("label").alias("cluster"))
    raise RuntimeError(
        f"connected_components did not converge in max_iter={max_iter} "
        "rounds — with pointer doubling that needs a component of "
        f"diameter > 2^{max_iter}; raise max_iter rather than use the "
        "non-converged (split-cluster) labels"
    )


# SimHash votes and recombine are built as SQL text, one parse per
# column: a Column-built vote costs ~12 py4j round trips and the
# recombine chain ~6 per bit (a profiled construction spent ~75% of
# ~2.1 s in py4j latency). Integer expressions, pinned by test.


def _vote_sql(h: str, i: int) -> str:
    """Per-document vote on bit ``i`` of token hash ``h``: +1 for each
    token with the bit set, -1 for each without."""
    return f"sum(CASE WHEN (shiftright({h}, {i}) & 1) = 1 THEN 1 ELSE -1 END)"


def _recombine_sql(votes: str, bits: int) -> str:
    """BIGINT signature from the vote columns ``{votes}_0..{bits-1}``:
    bit i is set iff vote i is positive."""
    return "CAST(0 AS BIGINT) + " + " + ".join(
        f"CASE WHEN {votes}_{i} > 0 THEN CAST({2 ** i} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(id, simhash): per-bit majority vote over token hashes, weighted
    by token frequency (each occurrence votes ±1, which equals the
    count-weighted vote over distinct tokens).

    Shape: explode tokens → md5 in a whole-stage-codegen projection →
    one hash aggregation with 32 conditional sums. The groupBy(id) looks
    like a token-volume shuffle but is not: tokens of a document stay in
    their scan partition, so map-side partial aggregation collapses them
    to ONE 32-long vote row per document before the exchange — shuffle
    bytes scale with document count, not token count. (A fully row-local
    higher-order ``aggregate`` avoids even that, but hash expressions in
    lambda position run interpreted and measure ~60% slower.)

    ``bits`` is capped at 59: token hashes come from :func:`md5_int`
    (60 bits of entropy) and both the ``2**bits`` modulus and the
    ``2**(bits-1)`` recombine weight must stay inside signed BIGINT —
    ``bits=64`` would overflow both."""
    if not 1 <= bits <= 59:
        raise ValueError(f"bits must be in [1, 59], got {bits}")
    toks = F.split(norm_text(text_col), " ")
    tok = (
        repartition_pinned(df, F.col(id_col))
        .select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
        .select("id", (md5_int(F.col("tok")) % F.lit(2 ** bits)).alias("h"))
    )
    votes = [F.expr(f"{_vote_sql('h', i)} AS v_{i}") for i in range(bits)]
    sig = tok.groupBy("id").agg(*votes)
    return sig.selectExpr("id", f"{_recombine_sql('v', bits)} AS simhash")


# md5 hex offsets of the 32-bit SimHash slices, lowest slice first:
# simhash64's lo/hi halves are hex chars 1-8 / 9-16, the same bits as
# simhash128's s0/s1.
_SIMHASH64_SLICES = (("simhash_lo", 1), ("simhash_hi", 9))
_SIMHASH128_SLICES = (
    ("simhash_s0", 1),
    ("simhash_s1", 9),
    ("simhash_s2", 17),
    ("simhash_s3", 25),
)


def _sliced_simhash(
    df: DataFrame, text_col: str, id_col: str, slices: tuple[tuple[str, int], ...]
) -> DataFrame:
    """(id, *slice names): one 32-bit SimHash per (name, md5 hex offset)
    slice, in ``slices`` order. Every slice is a substring of the ONE
    md5 per token, and all votes land in one hash aggregation that
    map-side-collapses to one row per document before the exchange."""
    toks = F.split(norm_text(text_col), " ")
    tok = (
        repartition_pinned(df, F.col(id_col))
        .select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
        .selectExpr(
            "id",
            *[
                f"CAST(conv(substring(md5(tok), {off}, 8), 16, 10) AS BIGINT)"
                f" AS __h_{name}"
                for name, off in slices
            ],
        )
    )
    votes = [
        F.expr(f"{_vote_sql(f'__h_{name}', i)} AS v_{name}_{i}")
        for name, _ in slices
        for i in range(32)
    ]
    return tok.groupBy("id").agg(*votes).selectExpr(
        "id", *[f"{_recombine_sql(f'v_{name}', 32)} AS {name}" for name, _ in slices]
    )


def _slice_blocks(
    slices: tuple[tuple[str, int], ...], max_hamming: int
) -> list[tuple[str, int, int]]:
    """(slice_column, start_bit, width) layout of the ``max_hamming + 1``
    pigeonhole blocks over 32-bit signature slices: balanced across the
    slices (earlier slices take the remainder), never straddling a
    32-bit seam, each slice's blocks laid out by
    :func:`pigeonhole_blocks`."""
    bits = 32 * len(slices)
    n = max_hamming + 1
    if not 1 <= n <= bits:
        raise ValueError(
            f"max_hamming must be in [0, {bits - 1}] for {bits}-bit signatures, "
            f"got {max_hamming}"
        )
    base, extra = divmod(n, len(slices))
    out: list[tuple[str, int, int]] = []
    for i, (col, _) in enumerate(slices):
        k = base + (1 if i < extra else 0)
        if k:
            out += [(col, s, w) for s, w in pigeonhole_blocks(32, k)]
    return out


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, simhash_hi, simhash_lo): full 64-bit SimHash — the signature
    width production dedup systems standardize on — as TWO 32-bit halves
    so every modulus and recombine weight stays far inside signed BIGINT
    (the single-column :func:`simhash` caps at 59 bits for that reason;
    VERDICT r4 stretch item).

    Each SimHash bit is an independent per-bit majority vote over one
    hash bit of each token, so 64 bits built from two disjoint 32-bit
    md5 slices (hex chars 1-8 → lo, 9-16 → hi) are exactly as valid a
    64-bit SimHash family as one 64-bit hash — and both halves come from
    the ONE md5 the projection already computes.

    Same execution shape as :func:`simhash`: explode → codegen md5
    projection → one hash aggregation with 64 conditional sums that
    map-side-collapses to one row per document before the exchange."""
    # the hi half comes first in the output
    return _sliced_simhash(df, text_col, id_col, _SIMHASH64_SLICES[::-1])


def simhash64_blocks(max_hamming: int) -> list[tuple[str, int, int]]:
    """(half_column, start_bit, width) layout of the ``max_hamming + 1``
    pigeonhole blocks over the two-half 64-bit signature — blocks are
    balanced across the halves (widths ~64/n) and never straddle the
    32-bit seam. Shared by :func:`simhash64_pairs` and the SQL oracle
    builder so both replay the identical buckets."""
    return _slice_blocks(_SIMHASH64_SLICES, max_hamming)


def pigeonhole_tags(
    sig: DataFrame, blocks: list[tuple[str, int, int]], keep: list[str]
) -> DataFrame:
    """``keep`` plus one (blk, val) row per pigeonhole block of each
    signature row: block ``j`` = ``(col, s, w)`` keys on bits
    ``[s, s + w)`` of ``col``. The bucket key of the pair join below and
    of the valve probe's occupancy count."""
    return sig.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("blk"),
                        F.shiftright(F.col(col), s)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("val"),
                    )
                    for j, (col, s, w) in enumerate(blocks)
                ]
            )
        ).alias("b"),
    ).select(*keep, F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))


def _pigeonhole_pairs(
    sig: DataFrame,
    slice_cols: list[str],
    blocks: list[tuple[str, int, int]],
    max_hamming: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Shared pigeonhole pair join for the multi-slice SimHash families:
    tag each signature with its (blk, val) keys, optionally drop
    over-cap buckets (the occupancy valve), self-equi-join on the key,
    dedup candidates, exact-filter on the summed per-slice Hamming."""
    tagged = pigeonhole_tags(sig, blocks, ["id", *slice_cols])
    if max_bucket_size is not None:
        # occupancy valve as a count-over-window on the join key: the
        # window's (blk, val) exchange is the SAME clustering the
        # self-join needs, so the cap rides the join's own shuffle. The
        # alternative (count-aggregate → broadcast anti-join, the
        # max_doc_freq pattern) re-plans the signature subtree into the
        # hot-key branch — and the 128-conditional-sum signature agg is
        # the expensive stage here, so the extra passes made the CAPPED
        # run slower than exact at 500k docs (62 s vs 41 s, A/B in
        # SCALING.md round-9 addendum 5; window form 38 s).
        tagged = (
            tagged.withColumn(
                "__bn", F.count(F.lit(1)).over(Window.partitionBy("blk", "val"))
            )
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    a = tagged.select(
        F.col("id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in slice_cols],
        "blk",
        "val",
    )
    b = tagged.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in slice_cols],
        "blk",
        "val",
    )
    hamming = None
    for c in slice_cols:
        term = F.bit_count(F.col(f"{c}_a").bitwiseXOR(F.col(f"{c}_b")))
        hamming = term if hamming is None else hamming + term
    return (
        a.join(b, ["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            *[F.col(f"{c}_a") for c in slice_cols],
            *[F.col(f"{c}_b") for c in slice_cols],
        )
        .distinct()
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash64_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs on the 64-bit two-half signature with pigeonhole
    blocking. ``max_hamming + 1`` disjoint bit blocks are distributed
    across the halves (never straddling the 32-bit seam); the pigeonhole
    argument needs only DISJOINT blocks — a pair differing in at most
    ``max_hamming`` bits leaves at least one of the ``max_hamming + 1``
    blocks untouched — so recall is 1.0 exactly as in
    :func:`simhash_pairs`, while 64-bit blocks are ~9 bits wide at
    h=6 (vs ~4-5 for 32-bit signatures): each bucket is ~16-32× more
    selective. Exact Hamming is the sum of the two halves'
    bit_count(xor).

    SCALE CEILING (measured, SCALING.md; tools/valve_probe.py): 9-bit blocks
    mean at most 2^9 buckets per block forever, so candidate mass is
    Θ(n²/2^9) — 236M candidates at 50k docs, 375 BILLION at 2M. Above
    ~10^5 docs use :func:`simhash128_pairs` (wider blocks from the same
    md5) and/or ``max_bucket_size`` (the occupancy valve — over-cap
    buckets are vote-saturated boilerplate clusters carrying no
    discriminative signal, the same disease as a stop-word shingle in
    the Jaccard index). ``None`` keeps exact pigeonhole recall."""
    return _pigeonhole_pairs(
        simhash64(df, text_col, id_col),
        ["simhash_hi", "simhash_lo"],
        simhash64_blocks(max_hamming),
        max_hamming,
        max_bucket_size,
    )


def simhash128(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, simhash_s0..simhash_s3): 128-bit SimHash as FOUR 32-bit
    slices — the full width of the md5 the token projection already
    computes, so the wider signature costs zero extra hashing.

    Why width matters (measured, SCALING.md; tools/valve_probe.py): pigeonhole
    blocking keys on a fixed bit-slice of the signature, so the bucket
    space per block is 2^width FOREVER — candidate mass is
    Θ(n²/2^width). At 64 bits / max_hamming=6 the blocks are ~9 bits
    (512 buckets): 50k synthetic docs already produced 236M candidate
    pairs (vote-bias skew puts the max bucket 37× above the uniform
    floor). At 128 bits the same 7 blocks are 16-32 bits wide — 17×
    less candidate mass at 50k, and the gap doubles every doubling.
    Sizing rule: signature bits ≳ (max_hamming+1) · log2(n/occupancy),
    so 128 bits covers ~2^16·occ docs per block at h=6 where 64 bits
    covers ~2^9·occ.

    Same execution shape as :func:`simhash64`: explode → one codegen
    md5 per token (all four slices are substrings of it) → one hash
    aggregation with 128 conditional sums that map-side-collapses to
    one row per document before the exchange."""
    return _sliced_simhash(df, text_col, id_col, _SIMHASH128_SLICES)


def simhash128_blocks(max_hamming: int) -> list[tuple[str, int, int]]:
    """(slice_column, start_bit, width) layout of the ``max_hamming+1``
    pigeonhole blocks over the four 32-bit slices — balanced across the
    slices and never straddling a 32-bit seam, exactly like
    :func:`simhash64_blocks` over its two halves. Shared by
    :func:`simhash128_pairs` and the SQL oracle builder so both replay
    the identical buckets."""
    return _slice_blocks(_SIMHASH128_SLICES, max_hamming)


def simhash128_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs on the 128-bit signature with pigeonhole blocking
    — the corpus-scale SimHash pair-former. Recall is 1.0 by the same
    disjoint-blocks pigeonhole argument as :func:`simhash64_pairs`, but
    the blocks are 16-32 bits wide at the default ``max_hamming=6``
    (vs ~9 bits for 64-bit signatures): candidate mass drops by the
    bucket-space ratio, measured 17× at 50k docs and growing with n
    (SCALING.md, tools/valve_probe.py — the 64-bit layout is quadratic with
    a small constant and is the wrong default above ~10^5 docs).

    ``max_bucket_size`` is the SKEW VALVE (same contract as
    ``levenshtein_blocked_pairs``): SimHash bits are majority votes over
    Zipf-distributed token hashes, so near-boilerplate corpora collapse
    many documents onto shared slice values; buckets larger than the cap
    are dropped from the candidate index by a ``count() over
    (partition by slice, value)`` filter inside :func:`_pigeonhole_pairs`
    (the broadcast-anti-join form was measured SLOWER — 62 vs 41 s at
    the 2M tier — and is plan-guarded against by
    ``test_simhash128_valve_is_window_not_antijoin``).
    Dropping a bucket breaks the pigeonhole exactness for pairs whose
    ONLY untouched block landed in it — ``None`` (default) keeps exact
    recall; a probe-measured cap trades a documented pair loss for a
    bounded join. Exact Hamming is the sum of the four slices'
    ``bit_count(xor)``."""
    return _pigeonhole_pairs(
        simhash128(df, text_col, id_col),
        [name for name, _ in _SIMHASH128_SLICES],
        simhash128_blocks(max_hamming),
        max_hamming,
        max_bucket_size,
    )


def pigeonhole_blocks(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(start_bit, width) for ``n_blocks`` disjoint ranges covering
    [0, bits). Shared by the Spark operator and the SQL oracle builder so
    both replay the identical block layout.

    ``n_blocks`` must be in [1, bits]: more blocks than bits would emit
    width-0 blocks whose mask is 0, putting every row in one (blk, 0)
    bucket and degenerating the blocked join into an n² cross join —
    and the pigeonhole recall guarantee (``max_hamming = n_blocks - 1``
    < bits) no longer holds there, so fail fast instead of silently
    clamping a degenerate parameterization."""
    if not 1 <= n_blocks <= bits:
        raise ValueError(
            f"n_blocks must be in [1, bits={bits}], got {n_blocks}: "
            "max_hamming >= bits voids the pigeonhole recall guarantee"
        )
    base, extra = divmod(bits, n_blocks)
    out: list[tuple[int, int]] = []
    start = 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        out.append((start, width))
        start += width
    return out


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash with pigeonhole blocking: split the
    signature into ``max_hamming + 1`` disjoint bit blocks. Any pair
    within Hamming distance ``max_hamming`` differs in at most
    ``max_hamming`` bit positions, so at least one block is identical on
    both sides (pigeonhole) — the union of per-block equi-joins therefore
    has recall 1.0, unlike single-prefix bucketing. Candidates are
    deduped, then exact-filtered via ``bit_count(xor)``.

    Scale: each block join is an equi-join keyed (block_idx, block_val);
    candidate volume is Σ_blocks Σ_values m², never n². With 32-bit
    signatures block values span only 4-5 bits — at corpus scale use
    wider signatures (``bits=48``, the widest that keeps ~uniform token
    hashes under :func:`simhash`'s 59-bit BIGINT-safety cap) so blocks
    widen to ~7 bits and collision-driven fanout drops ~8×."""
    if max_hamming >= bits:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bits ({bits}): a pair "
            "differing in every bit would be within max_hamming yet agree "
            "on no block, so pigeonhole recall 1.0 would not hold"
        )
    return _pigeonhole_pairs(
        simhash(df, text_col, id_col, bits),
        ["simhash"],
        [("simhash", st, w) for st, w in pigeonhole_blocks(bits, max_hamming + 1)],
        max_hamming,
        max_bucket_size,
    )


def levenshtein_blocked_pairs(
    df: DataFrame,
    prefix_len: int = 16,
    probe_len: int = 120,
    max_dist: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_block_size: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, dist): edit-distance near-duplicate pairs, blocked
    by a shared normalized-text prefix — the classic record-linkage
    shape (prefix blocking + bounded pairwise compare), complementing
    the token-set families (Jaccard/MinHash) with a CHARACTER-level
    similarity that catches small in-place edits token sets miss.

    Scale levers, each explicit:
    - **blocking**: candidates come from an equi-join on
      ``substr(norm, 1, prefix_len)`` — never an all-pairs cross join;
      pair count is Σ block²/2, bounded by how often prefixes collide.
    - **bounded DP**: the compare runs on a ``probe_len`` prefix and
      passes ``max_dist`` as Spark's levenshtein *threshold*, which
      switches the JVM implementation to the banded O(len·dist)
      algorithm and returns -1 early once the band is exceeded —
      per-pair cost is probe_len·max_dist, not probe_len².
    - the id-ordering predicate lives in the join condition, so each
      unordered pair is produced once.

    The ``threshold`` early-exit returns -1 above ``max_dist``; kept
    rows carry the exact distance, so a no-threshold oracle filtered to
    ``dist <= max_dist`` replays it bit-for-bit.

    ``max_block_size`` is the SKEW VALVE (the r8 100x probe measured
    why it must exist: at 500k synth docs one 16-char prefix collected
    10,016 documents — Σ block² ≈ 659M candidate pairs, hours of banded
    DP; the same disease as a stop-word shingle in the Jaccard index,
    ``max_doc_freq``). Blocks larger than the cap are dropped from the
    index entirely: a prefix shared by thousands of documents is
    boilerplate (common page openings) whose pairs the token-set
    families catch more cheaply, and keeping it makes pair count grow
    quadratically in the hot block. Dropped pairs = only those wholly
    inside an over-cap block, making the result a documented recall
    floor. Default None = exact semantics (what the oracle checks);
    SET IT when running at corpus scale.
    """
    if prefix_len < 1 or probe_len < prefix_len:
        raise ValueError(
            f"need probe_len >= prefix_len >= 1, got {prefix_len}/{probe_len}"
        )
    n = norm_text(text_col)
    probes = df.select(
        F.col(id_col).alias("id"),
        F.substring(n, 1, prefix_len).alias("bk"),
        F.substring(n, 1, probe_len).alias("probe"),
    )
    if max_block_size is not None:
        small = (
            probes.groupBy("bk")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_block_size)
            .select("bk")
        )
        probes = probes.join(small, "bk")
    a = probes.alias("a")
    b = probes.alias("b")
    dist = F.levenshtein(F.col("a.probe"), F.col("b.probe"), max_dist)
    return (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def soft_dedup_weights(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Soft deduplication: instead of dropping exact duplicates, keep
    every row and down-weight it by its duplicate count — sampling
    weight 1/n so each distinct content contributes one effective
    document (the "soft dedup" reweighting used by training-data
    pipelines that preserve natural duplication signal).

    One hash shuffle keyed by the md5 fingerprint (an unbounded
    count-window over fp — partial-aggregating groupBy+join would scan
    the input twice, the window computes it in one pipeline, D-28); no
    skew beyond the duplicate groups themselves, which are exactly what
    the weight bounds. Output: id, fp, n_copies, weight (round 6).
    """
    from pyspark.sql import Window as W

    fp = fingerprint_md5(text_col).alias("fp")
    n = F.count(F.lit(1)).over(W.partitionBy("fp"))
    return (
        df.select(F.col(id_col), fp)
        .withColumn("n_copies", n)
        .select(
            id_col,
            "fp",
            "n_copies",
            F.round(F.lit(1.0) / F.col("n_copies"), 6).alias("weight"),
        )
    )
