"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the small-query-set path.
  The query side is broadcast (it is tiny); the corpus side streams, so
  at 100 TB this is a map-only pass + a per-query top-k (no shuffle of
  the corpus). Dot products via ``zip_with``/``aggregate`` — JVM-side,
  no Python.
- ``lsh_ann_topk``: sign-random-projection LSH bucketing (deterministic
  hyperplanes derived from md5 of (plane, dim)), probing only the
  query's bucket — the approximate scale path: the corpus is hashed
  once and the join is keyed by bucket.
- ``embed_neardup_pairs``: all-pairs cosine >= threshold within
  LSH buckets (or brute force if ``block=False``) — embedding near-dup
  dedup for training corpora.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator
from functools import lru_cache, partial

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sql import plan_size_bytes, quote_ident
from .dedup import md5_int
from ..operators.skew import repartition_pinned


# Above this width the unrolled dot and norm forms become fragile:
# Catalyst's project collapse inlines the producing expression into
# every element reference, and codegen recursion over the resulting
# tree overflows the JVM stack (measured: StackOverflowError at
# dim=512 behind a cast; dim<=128 is comfortably safe). The lambda
# left-fold forms are bit-identical (same fold order) and
# depth-constant, just interpreted per element — the right trade for
# wide production embeddings.
_STATIC_EXPR_MAX_DIM = 128

# bucket-local BLAS Gram blocks tile at this many rows: 4096² doubles =
# 128 MiB per task regardless of bucket skew (a boilerplate cluster
# shares every SRP bucket — the r14 tier probe measured one 8,188-row
# bucket from a 10%-boilerplate corpus, a 512 MiB monolithic block).
# Tiling changes memory only; the products and rounding are identical.
_ARROW_BLOCK = 4096

# The vector math is built as SQL text and parsed once by Catalyst: a
# Column-built higher-order function costs ~15-20 py4j round trips
# (F.aggregate/F.zip_with construct their lambdas variable by variable
# through the gateway), a string one. Every builder takes and returns
# SQL expressions, so identifiers are quoted by the caller.


def _as_double_sql(c: str) -> str:
    # native element-wise Cast, not a transform lambda: one expression
    # node (codegen-friendly and immune to ProjectCollapse inlining a
    # per-element lambda into every unrolled element reference)
    return f"CAST({c} AS ARRAY<DOUBLE>)"


def _unrolled(dim: int | None) -> bool:
    return dim is not None and dim <= _STATIC_EXPR_MAX_DIM


def _dot_sql(a: str, b: str, dim: int | None = None) -> str:
    """Dot product of two array<double> expressions. With a known
    ``dim`` up to ``_STATIC_EXPR_MAX_DIM`` it is unrolled into a plain
    codegen expression (the lambda fold runs interpreted, ~an order of
    magnitude slower in hot pair loops); otherwise a
    ``zip_with``/``aggregate`` left fold. The fold order
    (0D + t0) + t1 + ... is the same in both, so doubles are bit-equal."""
    if _unrolled(dim):
        return "(0D + " + " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dim)) + ")"
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


def _norm_sql(a: str, dim: int | None = None) -> str:
    """Euclidean norm of an array<double> expression; same unrolled /
    lambda-fold switch and fold order as :func:`_dot_sql`."""
    if _unrolled(dim):
        return "sqrt" + _dot_sql(a, a, dim)
    return f"sqrt(aggregate({a}, 0D, (acc, v) -> acc + v * v))"


def _cos_sql(
    a: str,
    b: str,
    na: str | None = None,
    nb: str | None = None,
    dim: int | None = None,
    rounded: bool = True,
) -> str:
    """Round-6 cosine ``dot / (na * nb)`` of two array<double>
    expressions. Pass carried norm columns as ``na``/``nb`` where the
    caller computed them once per vector — per-pair work is then one
    dot, with the same doubles as norms computed inline (the default).
    ``rounded=False`` gives the unrounded quotient, for callers that
    filter or aggregate before rounding once (:data:`_COS_SLACK`).

    Callers scoring inside a broadcast-join projection leave ``dim``
    unset on purpose: a 64-dim cosine unrolls to ~190 cast+multiply
    terms, overflows janino's method budget there and runs INTERPRETED
    on a much bigger tree — measured 1.9x slower than the lambda fold
    at 50k x 160 centroids (extends D-17)."""
    na = na or _norm_sql(a, dim)
    nb = nb or _norm_sql(b, dim)
    cos = f"{_dot_sql(a, b, dim)} / ({na} * {nb})"
    return f"round({cos}, 6)" if rounded else cos


# round(x, 6) (HALF_UP on the decimal form of x) lands within 5e-7 of x,
# so round(x, 6) >= t implies x > t - _COS_SLACK: a pre-filter of the
# unrounded cosine at t - _COS_SLACK drops no pair the exact round-6
# test keeps (NaN passes both, as the highest double), and only the
# survivors pay the BigDecimal round.
_COS_SLACK = 1e-6


def _top_k(
    scored: DataFrame, part: str, score: str, tie: str, k: int, rank: str = "rank"
) -> DataFrame:
    """The ``k`` rows of each ``part`` group with the highest ``score``,
    ties broken by ascending ``tie``, numbered 1..k in ``rank``
    (``row_number``: fully deterministic, no shared ranks)."""
    w = Window.partitionBy(part).orderBy(F.col(score).desc(), F.col(tie).asc())
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _with_norm(
    df: DataFrame, id_col: str, vec_col: str, tag: str, *extra
) -> DataFrame:
    """(id, __{tag}v, __{tag}n, *extra): the raw vector and its norm,
    computed once per vector and carried to the pair stage."""
    v = quote_ident(vec_col)
    return df.select(
        F.col(id_col),
        F.expr(f"{v} AS __{tag}v"),
        F.expr(f"{_norm_sql(_as_double_sql(v))} AS __{tag}n"),
        *extra,
    )


# cosine of a broadcast query row (__qv, __qn) against a corpus row
# (__cv, __cn) — the scorer of every carried-norm top-k operator
_QC_COS = _cos_sql(_as_double_sql("__qv"), _as_double_sql("__cv"), "__qn", "__cn")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (query side broadcast;
    ties broken by corpus id — fully deterministic)."""
    q = _with_norm(queries, query_id_col, vec_col, "q")
    # spread the corpus: the scan may be one file/partition locally, and
    # the per-row dot products are the dominant cost
    c = _with_norm(repartition_pinned(corpus, F.col(id_col)), id_col, vec_col, "c")
    sim = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", F.expr(_QC_COS))
    )
    return _top_k(sim, query_id_col, "cosine", id_col, k).select(
        query_id_col, id_col, "cosine", "rank"
    )


@lru_cache(maxsize=64)
def srp_weights(dim: int, planes: int, offset: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, derived from md5 so any
    engine (or the DuckDB oracle) can reproduce them as plain literals:
    w[p][d] = (md5_int('srp:p:d') mod 2001 - 1000) / 1000.

    ``offset`` selects planes [offset, offset+planes) of the same
    infinite family — multi-table LSH uses disjoint slices so the
    tables are independent without a separate seed parameter."""
    import hashlib

    out = []
    for p in range(offset, offset + planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"srp:{p}:{d}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        out.append(row)
    return out


def _srp_bucket_sql(vec_sql: str, dim: int, planes: int, offset: int = 0) -> str:
    """Sign-random-projection bucket id as a SQL string: for each
    hyperplane p, bit p = sign(w[p] . v). Deliberately the
    zip_with/aggregate form: it runs interpreted (once per VECTOR —
    cheap), while an unrolled literal chain over planes x dim terms
    overflows janino's method limit and knocks the whole stage out of
    codegen (measured slower). One string parse per query keeps the
    driver-side plan construction milliseconds, not seconds."""
    parts = []
    for p, row in enumerate(srp_weights(dim, planes, offset)):
        arr = ", ".join(f"{w!r}D" for w in row)
        parts.append(f"IF({_dot_sql(vec_sql, f'array({arr})')} > 0, {2 ** p}, 0)")
    return "(" + " + ".join(parts) + ")"


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: compare only corpus vectors in the query's SRP
    bucket. Recall < 1 by design; the bucket join is the scale win."""
    bucket = F.expr(_srp_bucket_sql(_as_double_sql(quote_ident(vec_col)), dim, planes))
    c = _with_norm(corpus, id_col, vec_col, "c", bucket.alias("__bkt"))
    q = _with_norm(queries, query_id_col, vec_col, "q", bucket.alias("__bkt"))
    sim = (
        c.join(F.broadcast(q), "__bkt")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", F.expr(_QC_COS))
    )
    return _top_k(sim, query_id_col, "cosine", id_col, k).select(
        query_id_col, id_col, "cosine", "rank"
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids (by
    cosine). ``centroids`` must have columns (centroid_id, __ctr).
    Centroids are broadcast — the coarse quantizer is tiny by
    construction — so assignment is a map-only pass over the corpus.
    ``dim`` is accepted for signature stability with the static-SQL
    call sites only and is NOT used by the affinity loop — the unrolled
    form loses here (see ``_cos_sql``); the affinity runs the carried-
    norm lambda-fold dot regardless."""
    # norms computed ONCE per centroid and per corpus vector and carried
    # as scalars: the n_centroids x corpus affinity loop then does one
    # dot per pair instead of dot + two norms (3x less interpreted-HOF
    # work, bit-identical affinity, oracle unchanged)
    vcol = quote_ident(vec_col)
    c = centroids.select(
        "centroid_id",
        "__ctr",
        F.expr(_norm_sql(_as_double_sql("__ctr"))).alias("__cn"),
    )
    v = df.withColumn("__vn", F.expr(_norm_sql(_as_double_sql(vcol))))
    # round-6 affinity: cell choice becomes engine-exact (an oracle in a
    # different engine replays the same assignment; ties break by id)
    scored = v.crossJoin(F.broadcast(c)).withColumn(
        "__aff",
        F.expr(_cos_sql(_as_double_sql(vcol), _as_double_sql("__ctr"), "__vn", "__cn")),
    )
    return _top_k(scored, id_col, "__aff", "centroid_id", n_probe, rank="__cr").drop(
        "__ctr", "__aff", "__cr", "__vn", "__cn"
    )


def _coarse_partition(C: "object", k_coarse: int, iters: int = 4):
    """Group the k fine-centroid rows of ``C`` (k x d float64) under
    ``k_coarse`` coarse cells with a tiny deterministic driver-side
    Lloyd (init = first ``k_coarse`` rows in centroid-id order, cosine
    affinity, argmax keeps the FIRST maximum so ties break by
    ascending id). Returns ``(Qn, members)``: the unit-row coarse
    matrix and, per kept coarse cell, the fine-row indices it holds —
    empty cells are dropped so every probed cell yields candidates.

    k is thousands at most (the fine quantizer is broadcast-sized by
    construction), so this is microseconds of numpy on the driver."""
    import numpy as np

    k = C.shape[0]
    k_coarse = max(1, min(k_coarse, k))
    cn = np.sqrt((C * C).sum(axis=1))
    cn[cn == 0.0] = 1.0
    Cn = C / cn[:, None]
    Qn = Cn[:k_coarse].copy()
    for _ in range(max(1, iters)):
        assign = np.argmax(Cn @ Qn.T, axis=1)
        for g in range(k_coarse):
            m = assign == g
            if m.any():
                v = Cn[m].mean(axis=0)
                nv = float(np.sqrt((v * v).sum()))
                if nv > 0.0:
                    Qn[g] = v / nv
    # final assignment AFTER the last update so the membership map is
    # consistent with the coarse matrix probes actually score against
    assign = np.argmax(Cn @ Qn.T, axis=1)
    members = [np.nonzero(assign == g)[0] for g in range(k_coarse)]
    keep = [g for g in range(k_coarse) if len(members[g])]
    return Qn[keep], [members[g] for g in keep]


def ivf_assign_arrow(
    df: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_probe: int = 0,
) -> DataFrame:
    """Arrow/numpy variant of :func:`ivf_assign` — the THROUGHPUT path
    for large corpora. Same contract (input columns + ``centroid_id``,
    round-6 cosine affinity, centroid-id tiebreak), different physics:

    - the corpus × centroid affinity runs as ONE numpy matmul per Arrow
      batch instead of n·k interpreted HOF folds (BLAS: ~100x), and
    - top-``n_probe`` selection happens inside the batch, so the n·k
      scored rows are never materialized, never shuffled — where the
      expression form shuffles n·k rows through a window
      (the scaling probe measured the difference at 500k x 1600:
      see SCALING.md).

    Exactness caveat (why this is not the oracle path):
    :func:`ivf_assign` folds the dot left-to-right, which DuckDB's
    ``list_sum`` replays exactly; BLAS sums in vectorized blocks, so
    the float64 affinity can differ in the last bits. Both round to 6
    before comparison, so disagreement needs a true value within
    ~1e-10 of a .5e-6 rounding boundary — vanishingly rare but not
    never; keep the expression form wherever a cross-engine replay
    must be bit-exact.

    The quantizer is driver-collected here (it is tiny by construction
    — the same rows every executor would get via broadcast), which
    makes this builder EAGER on the centroids frame.

    ``coarse_probe`` (opt-in; 0 = exact full scoring, the default):
    two-level assignment for corpora sized by the SemDeDup rule
    k ∝ n, where the flat n·k matmul itself turns O(n²/c)
    (SCALING.md round-9 addendum 3 — 8.2x wall for 4x data at 2M
    vectors). The k fine centroids are grouped under ~√k coarse
    cells (driver-side deterministic Lloyd, :func:`_coarse_partition`);
    each vector scores the √k coarse cells, then ONLY the fine
    centroids of its top-``coarse_probe`` cells — O(n·(1+p)·√k)
    total. APPROXIMATE: the true nearest fine centroid can sit
    outside the probed cells (measured agreement vs exact in
    tests + SCALING.md); with ``coarse_probe >= #cells`` every fine
    centroid is scored and the output matches the exact path."""
    cents = centroids.select("centroid_id", "__ctr").toPandas()
    cents = cents.sort_values("centroid_id")  # stable-argsort tiebreak
    cent_ids = [int(x) for x in cents["centroid_id"]]
    cent_rows = [list(map(float, v)) for v in cents["__ctr"]]

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("centroid_id", T.IntegerType())]
    )

    if coarse_probe:
        import numpy as np

        _C0 = np.asarray(cent_rows, dtype=np.float64)
        _k_coarse = max(1, int(np.ceil(np.sqrt(len(cent_rows)))))
        coarse_Qn, coarse_members = _coarse_partition(_C0, _k_coarse)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        C = np.asarray(cent_rows, dtype=np.float64)  # k x d
        cn = np.sqrt((C * C).sum(axis=1))
        ids = np.asarray(cent_ids)
        k_take = min(n_probe, len(cent_ids))
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )  # b x d
            vn = np.sqrt((V * V).sum(axis=1))
            if not coarse_probe:
                aff = np.round((V @ C.T) / np.outer(vn, cn), 6)
                # ids ascend, stable argsort on -aff => ties break by id
                order = np.argsort(-aff, axis=1, kind="stable")[:, :k_take]
                # positional repeat (iloc) — label-based loc would fan
                # out wrongly if a batch ever carried duplicate index
                # labels
                rep = pdf.iloc[
                    np.repeat(np.arange(len(pdf)), k_take)
                ].reset_index(drop=True)
                rep["centroid_id"] = ids[order].ravel()
                yield rep
                continue
            # two-level: b x √k coarse scores, then exact round-6
            # scoring limited to the fine centroids of the top-p cells
            p = min(coarse_probe, len(coarse_members))
            affc = (V @ coarse_Qn.T) / vn[:, None]  # coarse rows are unit
            top_cells = np.argsort(-affc, axis=1, kind="stable")[:, :p]
            rows_l, fidx_l, affs_l = [], [], []
            for g, mem in enumerate(coarse_members):
                rsel = np.nonzero((top_cells == g).any(axis=1))[0]
                if not len(rsel):
                    continue
                sub = np.round(
                    (V[rsel] @ C[mem].T) / np.outer(vn[rsel], cn[mem]), 6
                )
                rows_l.append(np.repeat(rsel, len(mem)))
                fidx_l.append(np.tile(mem, len(rsel)))
                affs_l.append(sub.ravel())
            rows = np.concatenate(rows_l)
            fidx = np.concatenate(fidx_l)
            affs = np.concatenate(affs_l)
            # per-row top-k_take with the exact path's tie rule: fine
            # indices ascend with centroid_id, lexsort is stable =>
            # (row asc, aff desc, id asc)
            order = np.lexsort((fidx, -affs, rows))
            r_sorted = rows[order]
            counts = np.bincount(r_sorted, minlength=len(pdf))
            starts = np.concatenate(([0], np.cumsum(counts[:-1])))
            rank = np.arange(len(order)) - np.repeat(starts, counts)
            sel = order[rank < k_take]
            rep = pdf.iloc[rows[sel]].reset_index(drop=True)
            rep["centroid_id"] = ids[fidx[sel]]
            yield rep

    return df.mapInPandas(run, out_schema)


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Deterministic Lloyd training for the IVF coarse quantizer,
    expressed entirely as grouped aggregation (no UDFs, no driver loop
    over data — only ``iters`` plan iterations).

    Engine-exact by construction, so an oracle in another engine replays
    it bit-for-bit: init is the first ``n_centroids`` vectors by id;
    assignment uses round-6 cosine affinity with centroid-id tiebreak;
    the mean update sums integral micro-units (``floor(x*1e6)`` — exact
    int64 arithmetic, order-free) and divides as double. A cluster that
    loses all members disappears (k shrinks) — identically in any engine.

    ``iters=0`` returns the training-free first-N quantizer.

    Seeding caveat: init takes the first ``n_centroids`` vectors by id
    (TakeOrderedAndProject — not a global sort), so init quality is
    data-layout dependent; this is deliberate (k-means++ would break
    bit-exact oracle replay). Production users who care about cell
    balance should set ``train_iters>0`` in :func:`ivf_ann_topk` —
    Lloyd iterations recover balance without changing the dataflow.
    """
    v = corpus.select(
        F.col(id_col).alias("__kid"),
        F.expr(_as_double_sql(quote_ident(vec_col))).alias("__kv"),
    )
    cents = (
        v.orderBy("__kid")
        .limit(n_centroids)
        .select(
            F.row_number().over(Window.orderBy("__kid")).alias("centroid_id"),
            F.col("__kv").alias("__ctr"),
        )
    )
    for _ in range(iters):
        assigned = ivf_assign(
            v, cents, n_probe=1, id_col="__kid", vec_col="__kv", dim=dim
        )
        exploded = assigned.select(
            "centroid_id", F.posexplode("__kv").alias("__pos", "__x")
        )
        means = exploded.groupBy("centroid_id", "__pos").agg(
            (
                F.sum(F.floor(F.col("__x") * F.lit(1e6))).cast("bigint")
                / F.lit(1e6)
                / F.count(F.lit(1))
            ).alias("__m")
        )
        cents = (
            means.groupBy("centroid_id")
            .agg(
                F.expr("array_sort(collect_list(struct(__pos, __m)))").alias(
                    "__s"
                )
            )
            .select(
                "centroid_id",
                F.expr("transform(__s, s -> s.__m)").alias("__ctr"),
            )
        )
    if iters > 0:
        # the trained quantizer is <= n_centroids rows but its LINEAGE
        # is `iters` full corpus passes; every consumer (cell
        # assignment, query probes — typically 2+) would re-execute the
        # whole Lloyd chain un-persisted (r8 sweep: ann_ivf_kmeans_topk
        # ran 8 corpus scans). Persisting k rows is free; the
        # first-N (iters=0) seed stays lazy — its lineage is one
        # TakeOrderedAndProject
        cents = cents.cache()
    return cents


def _quantizer_assigner(assign: str, coarse_probe: int, dim: int | None):
    """The quantizer-assignment function behind ``assign`` —
    :func:`ivf_assign` (``'expr'``, engine-exact expressions) or
    :func:`ivf_assign_arrow` (``'arrow'``, with ``coarse_probe``) —
    after validating the pair."""
    if assign not in ("expr", "arrow"):
        raise ValueError(f"assign must be 'expr' or 'arrow', got {assign!r}")
    if coarse_probe and assign != "arrow":
        raise ValueError("coarse_probe requires assign='arrow'")
    if assign == "arrow":
        return partial(ivf_assign_arrow, coarse_probe=coarse_probe)
    return partial(ivf_assign, dim=dim)


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    train_iters: int = 0,
    dim: int | None = None,
    assign: str = "expr",
    coarse_probe: int = 0,
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer partitions the
    corpus into cells; each query probes only its ``n_probe`` nearest
    cells.

    ``train_iters=0`` takes the first ``n_centroids`` corpus vectors
    (by id) as cell centers — deterministic and training-free;
    ``train_iters>0`` runs that many deterministic Lloyd iterations
    (``kmeans_centroids``) which improves cell balance/recall without
    changing the dataflow. Scale shape: corpus assignment is map-only
    (broadcast centroids), the probe join is keyed by cell id
    (≤ n_probe × |q| build rows), and per-query top-k is a bounded
    window — the corpus is never self-joined and never shuffled whole.

    ``assign='arrow'`` swaps both assignment passes for
    :func:`ivf_assign_arrow` (numpy matmul — the throughput path once
    ``n_centroids`` grows with the corpus), and ``coarse_probe=p``
    additionally engages the two-level quantizer there — the same
    options :func:`semdedup` exposes, so the whole ANN dataflow has a
    k ∝ n scale path. Defaults keep the engine-exact expression form
    the oracle replays.
    """
    assign_to = _quantizer_assigner(assign, coarse_probe, dim)
    cents = kmeans_centroids(
        corpus,
        n_centroids=n_centroids,
        iters=train_iters,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    )
    vcol = quote_ident(vec_col)
    if assign == "arrow":
        # the arrow assigner reads doubles straight out of the batch
        vcol = _as_double_sql(vcol)
    cells = assign_to(
        corpus.select(F.col(id_col), F.expr(f"{vcol} AS __cv")),
        cents,
        n_probe=1,
        id_col=id_col,
        vec_col="__cv",
    )
    probes = assign_to(
        queries.select(F.col(query_id_col), F.expr(f"{vcol} AS __qv")),
        cents,
        n_probe=n_probe,
        id_col=query_id_col,
        vec_col="__qv",
    )
    sim = (
        cells.join(F.broadcast(probes), "centroid_id")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "cosine",
            F.expr(_cos_sql(_as_double_sql("__qv"), _as_double_sql("__cv"))),
        )
    )
    return _top_k(sim, query_id_col, "cosine", id_col, k).select(
        query_id_col, id_col, "cosine", "rank"
    )


def _bucket_pairs_arrow(tagged: DataFrame, threshold: float) -> DataFrame:
    """Bucket-local BLAS scoring — the wide-dim scale path for
    ``embed_neardup_pairs(score='arrow')``: ``applyInPandas`` over the
    (table, bucket) groups, each group shipping its m vectors through
    Arrow ONCE and scoring the m x m cosine block with one numpy
    matmul. Transfer is n·tables·dim (the same rows the self-join
    shuffles anyway), compute is BLAS.

    Two rejected alternatives, both measured at dim=512 / 20k vectors /
    6.2M candidates (DECISIONS r9s3): a per-candidate pandas_udf ships
    BOTH vectors per pair — 50 GB through Arrow, 4x slower than the
    interpreted expression; the interpreted lambda fold keeps data
    JVM-side but burns ~22 s of per-element interpretation. Bucket-
    local BLAS beats both (measured 5.1x vs the expression form:
    22.7 -> 4.5 s).

    Skew note: SRP buckets are auto-sized to ~256 occupancy
    (``srp_planes_for``), but sign projection CANNOT split a
    boilerplate cluster (near-identical vectors share every bucket in
    every table) — the r14 tier probe measured a 10%-boilerplate 80k
    corpus producing one 8,188-vector bucket (SCALING.md r14
    addendum). So the m x m Gram block is computed BLOCKWISE past
    ``_ARROW_BLOCK`` rows: per-task memory is bounded at
    ``_ARROW_BLOCK²`` doubles (128 MiB) regardless of bucket skew,
    with bit-identical output (same products, same rounding — only
    the loop tiling changes). Compute is still the inherent m²·dim.
    Rounding is numpy HALF_EVEN vs the expression form's HALF_UP —
    differs only at exact half-microunit midpoints (same caveat as
    ``ivf_assign_arrow``)."""

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64")}
            )
        ids = pdf["__id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        v = np.stack(pdf["__v"].to_numpy())[order]
        nrm = pdf["__n"].to_numpy()[order]
        B = _ARROW_BLOCK
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, m, B):
            vi, ni = v[i0 : i0 + B], nrm[i0 : i0 + B]
            for j0 in range(i0, m, B):
                g = (vi @ v[j0 : j0 + B].T) / np.outer(
                    ni, nrm[j0 : j0 + B]
                )
                # transient memory stays ~the block itself: round in
                # place, threshold to a bool mask (B²/8 doubles), and
                # let nonzero size the index arrays to the KEPT pairs —
                # np.indices/fancy-index copies here were ~5x the
                # documented per-task bound (r14 code review)
                np.round(g, 6, out=g)
                keep2d = g >= threshold
                if i0 == j0:
                    keep2d = np.triu(keep2d, k=1)
                ii, jj = np.nonzero(keep2d)
                out_a.append(ids[i0 + ii])
                out_b.append(ids[j0 + jj])
                out_c.append(g[ii, jj])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else np.array([], "int64"),
                "id_b": np.concatenate(out_b) if out_b else np.array([], "int64"),
                "cosine": np.concatenate(out_c) if out_c else np.array([], "float64"),
            }
        )

    return tagged.groupBy("__tbl", "__bkt").applyInPandas(
        _score, "id_a long, id_b long, cosine double"
    )


def embed_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: bool = True,
    dim: int | None = None,
    planes: int | None = None,
    tables: int = 8,
    approx_count: int | None = None,
    score: str = "expr",
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= threshold).

    ``score`` picks the candidate-pair cosine implementation:
    ``'expr'`` (default) is the engine-exact expression form the DuckDB
    oracle replays — unrolled static SQL at dim <= 128, the
    bit-identical lambda left fold above (see ``_dot_sql``). The
    lambda fold runs INTERPRETED per element, so at production widths
    (dim 384-1536) the candidate scoring dominates the whole operator;
    ``'arrow'`` swaps the whole candidate stage for bucket-local BLAS
    (``applyInPandas`` per (table, bucket) group, one numpy matmul per
    bucket — measured 5.1x whole-operator at dim=512 on 6.2M
    candidates, SCALING.md) at the cost of strict engine-exactness:
    numpy HALF_EVEN rounding can flip a round-6 tie at exact midpoints
    (~never on real data; same caveat as ``ivf_assign_arrow``).

    NOTE on laziness: with ``block=True`` and ``planes=None`` (the
    defaults) the SRP bucket structure is auto-sized PLAN-SIDE from
    Catalyst's ``sizeInBytes`` estimate — zero eager jobs (VERDICT
    r12 #3; planes moves by 1 per 2x of estimate error, so a coarse
    byte-derived row count is plenty). Only when plan stats are
    genuinely unavailable (RDD-backed frames — file-backed plans
    always carry stats) does sizing fall back to a BOUNDED sampled-
    partition row-count estimate (:func:`_sampled_count_estimate`:
    a targeted ``runJob`` over at most 4 partitions, never a full
    upstream pass — r17, replacing the old eager ``df.count()``
    full-scan fallback). Pass ``planes=`` to pin the structure, or
    ``approx_count=`` (any within-2x estimate) to size it with zero
    jobs of any kind.

    ``block=True`` (the default — the scale path; requires ``dim``):
    SRP-LSH blocking, never an all-pairs join. ``block=False`` is the
    brute-force O(n²) cross join: exact, the oracle baseline at test
    scale, a scale-killer on a real corpus — opt in explicitly only for
    small frames or oracle replay.

    ``block=True``: multi-table SRP-LSH blocking — each vector is hashed
    into ``tables`` independent sign-random-projection buckets (disjoint
    plane slices of the deterministic md5 family) and only same-bucket
    pairs are compared. The self-join is an equi-join keyed by
    (table, bucket): shuffle ∝ n·tables rows, candidate pairs ∝
    Σ bucket²  — never the full n². Recall per pair at angle θ is
    1-(1-(1-θ/π)^planes)^tables (tunable); collisions in several
    tables are deduped by a (id_a,id_b) groupBy before emission, so
    output pairs are unique and each cosine is computed per-collision
    but emitted once. Requires ``dim``."""
    if score not in ("expr", "arrow"):
        raise ValueError(f"score must be 'expr' or 'arrow', got {score!r}")
    if score == "arrow" and not block:
        # arrow scoring is bucket-local BLAS: without SRP buckets there
        # is no (table, bucket) group to matmul over, and silently
        # falling back to the expression scorer would misreport what ran
        raise ValueError("score='arrow' requires block=True (bucket-local BLAS)")
    if block:
        if dim is None:
            raise ValueError("block=True requires dim=")
        if planes is None:
            # auto-size the bucket count to the corpus: a FIXED plane
            # count means occupancy ∝ n and candidate pairs ∝ n²
            # (measured 72.6x runtime for 10x data — SCALING.md, D-29).
            # Sizing is PLAN-SIDE by default (VERDICT r12 #3): Catalyst
            # sizeInBytes / estimated row width. planes moves by 1 per
            # 2x of estimate error, so a coarse byte-based row count is
            # plenty (the old default ran an eager df.count() — a full
            # upstream pass before the real job, re-run per call).
            n_est = approx_count
            if n_est is None:
                est = plan_size_bytes(df)
                if est is not None:
                    # the vector column dominates the row: dim doubles
                    # (8B each in the optimized plan) + id/overhead
                    n_est = max(1, est // (8 * dim + 16))
                else:
                    # stats unavailable (RDD-backed frames) — bounded
                    # sampled-partition estimate, never a full pass
                    # (VERDICT r16 #1: the old eager df.count() here
                    # was a silent 2x-input cost on the default path)
                    n_est = _sampled_count_estimate(df)
                    if n_est is None:
                        # even the RDD conversion failed — the true
                        # last resort, kept loud (unreached in the
                        # suite since the r17 estimator landed)
                        warnings.warn(
                            "embed_neardup_pairs(planes=None): Catalyst "
                            "sizeInBytes is unavailable for this plan "
                            "AND the sampled-partition estimate failed, "
                            "so auto-sizing the SRP buckets falls back "
                            "to an EAGER df.count() — a full upstream "
                            "pass before the real job. Pass planes= to "
                            "pin the structure or approx_count= (any "
                            "within-2x estimate) to size it without "
                            "the job.",
                            RuntimeWarning,
                            stacklevel=2,
                        )
                        n_est = df.count()
            planes = srp_planes_for(n_est)
        from ..operators.unions import spread

        v = spread(
            df.select(
                F.col(id_col).alias("__id"),
                F.expr(_as_double_sql(quote_ident(vec_col))).alias("__v"),
            )
        ).withColumn("__n", F.expr(_norm_sql("__v", dim)))
        # norms computed ONCE per vector and carried as scalars — the
        # per-pair cosine is then a single unrolled dot (bit-identical
        # to recomputing norms inline, so the oracle form is unchanged);
        # bucket tagging stays per-vector (n rows), the pair stage is
        # the hot loop and gets the codegen static dot.
        buckets = ", ".join(
            _srp_bucket_sql("__v", dim, planes, offset=t * planes)
            for t in range(tables)
        )
        tagged = v.select(
            "__id",
            "__v",
            "__n",
            F.posexplode(F.expr(f"array({buckets})")).alias("__tbl", "__bkt"),
        )
        if score == "arrow":
            return (
                _bucket_pairs_arrow(tagged, threshold)
                .groupBy("id_a", "id_b")
                .agg(F.max("cosine").alias("cosine"))
                .select("id_a", "id_b", "cosine")
            )
        raw = _cos_sql("__va", "__vb", "__na", "__nb", dim, rounded=False)
        a = tagged.select(
            F.col("__id").alias("id_a"),
            F.col("__v").alias("__va"),
            F.col("__n").alias("__na"),
            "__tbl",
            "__bkt",
        )
        b = tagged.select(
            F.col("__id").alias("id_b"),
            F.col("__v").alias("__vb"),
            F.col("__n").alias("__nb"),
            "__tbl",
            "__bkt",
        )
        return (
            a.join(b, ["__tbl", "__bkt"])
            .filter(
                (F.col("id_a") < F.col("id_b"))
                & (F.expr(raw) >= threshold - _COS_SLACK)
            )
            .groupBy("id_a", "id_b")
            # every table's collision of a pair carries the same cosine:
            # round the max once per pair, then the exact round-6 test
            .agg(F.round(F.max(F.expr(raw)), 6).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )
    vcol = quote_ident(vec_col)
    a = repartition_pinned(df, F.col(id_col)).select(
        F.col(id_col).alias("id_a"), F.col(vcol).alias("__va")
    )
    b = df.select(F.col(id_col).alias("id_b"), F.col(vcol).alias("__vb"))
    raw = _cos_sql(_as_double_sql("__va"), _as_double_sql("__vb"), rounded=False)
    return (
        a.crossJoin(b)
        .filter(
            (F.col("id_a") < F.col("id_b")) & (F.expr(raw) >= threshold - _COS_SLACK)
        )
        .select("id_a", "id_b", F.round(F.expr(raw), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# semdedup's 'expr' assignment materializes (and window-shuffles) n·k
# scored rows; SCALING.md 2x2 measured that term at 902 s for 500k
# vectors x k=1600 vs 67 s with assign='arrow'. The guard fires at the
# probe's shape and stays silent at oracle scale (k<=64, tiny inputs):
#  - k alone >= 128 (the probe's smallest k was 160; oracle runs k=16)
#  - or Catalyst's sizeInBytes estimate x k > 4 GB of assignment rows
_EXPR_ASSIGN_WARN_K = 128
_EXPR_ASSIGN_WARN_BYTES_K = 4_000_000_000


_SAMPLE_PARTS = 4  # partitions counted by _sampled_count_estimate
_SAMPLE_ROWS_CAP = 1 << 22  # per-partition row cap bounding the job


def _sampled_count_estimate(df: DataFrame) -> int | None:
    """Bounded row-count estimate for plans whose Catalyst stats are
    unavailable (RDD-backed frames — file scans always carry
    ``sizeInBytes``): count rows in up to ``_SAMPLE_PARTS`` evenly
    spaced partitions with a targeted ``SparkContext.runJob`` and
    extrapolate by the partition count. The job touches ONLY the
    sampled partitions (and at most ``_SAMPLE_ROWS_CAP`` rows in each —
    a capped sample yields an underestimate, which costs planes
    logarithmically, never another full pass), so the cost is bounded
    regardless of input size — unlike the eager ``df.count()`` this
    replaces (VERDICT r16 #1). A single 1-column ``lit(1)`` projection
    crosses into Python, so per-row pickling is as cheap as the RDD
    path gets. Returns None when the RDD conversion or the job itself
    fails (caller falls back); accuracy is within the sampled
    partitions' skew, and planes move by 1 per 2x of estimate error."""
    from itertools import islice

    try:
        rdd = df.select(F.lit(1)).rdd
        nparts = rdd.getNumPartitions()
        if nparts <= 0:
            return 1
        take = min(_SAMPLE_PARTS, nparts)
        idx = sorted({(i * nparts) // take for i in range(take)})
        cap = _SAMPLE_ROWS_CAP

        def _count(it):
            return [sum(1 for _ in islice(it, cap))]

        per = df.sparkSession.sparkContext.runJob(rdd, _count, idx)
        if not per:
            return None
        return max(1, round(sum(per) / len(per) * nparts))
    except Exception:
        return None


def _warn_if_expr_assign_quadratic(corpus: DataFrame, n_centroids: int) -> None:
    """Loud foot-gun guard (VERDICT r7 #6): the default ``assign='expr'``
    is the oracle-exact path, NOT the scale path. Estimation stays plan
    side (Catalyst ``sizeInBytes``) — no job, no count."""
    est_bytes = plan_size_bytes(corpus)
    if n_centroids >= _EXPR_ASSIGN_WARN_K or (
        est_bytes is not None
        and est_bytes * n_centroids > _EXPR_ASSIGN_WARN_BYTES_K
    ):
        warnings.warn(
            "semdedup(assign='expr') scores n_centroids x rows "
            f"(k={n_centroids}, est. input ~{est_bytes or '?'} bytes) "
            "through a window shuffle — quadratic when k grows with the "
            "corpus (SCALING.md: 902 s vs 67 s at 500k x k=1600). Use "
            "assign='arrow' for production scale; 'expr' is the "
            "bit-exact oracle-replay path.",
            RuntimeWarning,
            stacklevel=3,
        )


def semdedup(
    corpus: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.95,
    train_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist_cells: bool = True,
    dim: int | None = None,
    cells_out: list | None = None,
    assign: str = "expr",
    coarse_probe: int = 0,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and dropping near-identical
    vectors WITHIN each cluster.

    Deterministic keep rule (the published method keeps one arbitrary
    representative per semantic-duplicate group; here the lowest id in
    the cluster wins so any engine replays it): vector *i* is dropped
    iff some *j* in the same cluster has cosine(i, j) >= threshold and
    j.id < i.id. Output: one row per vector with its cluster, its max
    same-cluster similarity to a lower id, and the keep flag.

    Scale shape: the coarse quantizer is the broadcast k-means of
    :func:`kmeans_centroids` (map-only assignment); the pair stage is a
    self-equi-join keyed by ``centroid_id`` — pair cost is bounded by
    the largest cluster (Σ cluster², never n²), and cluster count grows
    with the corpus, so per-cluster work stays flat at 100 TB. No
    global shuffle of the corpus beyond the one hash by cluster id.

    Cache lifecycle: ``persist_cells=True`` (default) persists the
    assigned-cells frame (read 3x by the plan). Pass ``cells_out=[]``
    to receive that persisted DataFrame and ``.unpersist()`` it after
    consuming the result — see the inline comment for why the builder
    cannot release it itself.

    ``assign`` picks the quantizer-assignment implementation:
    ``'expr'`` (default) is the engine-exact expression form the
    oracle replays bit-for-bit; ``'arrow'`` is
    :func:`ivf_assign_arrow` — numpy-matmul affinity, no n·k row
    shuffle — the throughput path once ``n_centroids`` grows with the
    corpus (assignment is n·k work; SCALING.md quantifies both). A
    ``RuntimeWarning`` fires when ``'expr'`` is requested at a shape
    where the n·k term dominates (see ``_warn_if_expr_assign_quadratic``).

    ``coarse_probe`` (arrow only; 0 = exact full scoring): two-level
    quantizer assignment for the k ∝ n sizing regime where even the
    arrow matmul is O(n²/c) — see :func:`ivf_assign_arrow` and
    SCALING.md round-9 addendum 3. Approximate (a vector can land in
    a neighboring cluster), so keep/drop decisions can differ near
    cluster boundaries; the dedup *rule* stays deterministic.
    """
    assign_to = _quantizer_assigner(assign, coarse_probe, dim)
    if assign == "expr":
        _warn_if_expr_assign_quadratic(corpus, n_centroids)
    cents = kmeans_centroids(
        corpus,
        n_centroids=n_centroids,
        iters=train_iters,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    )
    cast_corpus = corpus.select(
        F.col(id_col), F.expr(_as_double_sql(quote_ident(vec_col))).alias("__cv")
    )
    assigned = assign_to(cast_corpus, cents, n_probe=1, id_col=id_col, vec_col="__cv")
    cells = assigned.withColumn("__n", F.expr(_norm_sql("__cv")))
    # norm computed BEFORE the persist so both pair sides read the
    # materialized value instead of re-deriving it per branch
    if persist_cells:
        # ``cells`` feeds BOTH pair sides and the final left join —
        # un-persisted, Spark re-runs the quantizer-train + assign
        # subtree once per use (no common-subexpression reuse across
        # exchanges, D-28); one materialization is corpus-sized, the
        # recompute is 3x. Lifecycle: the builder cannot unpersist for
        # you (the result is lazy), so pass ``cells_out=[]`` and call
        # ``cells_out[0].unpersist()`` after consuming the result —
        # otherwise the corpus-sized cache lives until the caller's
        # ``spark.catalog.clearCache()`` or LRU eviction
        # (MEMORY_AND_DISK). Long-lived sessions: use the handle, or
        # pass ``persist_cells=False``.
        cells = cells.persist()
        if cells_out is not None:
            cells_out.append(cells)
    # norms ride the persisted cells (computed once per vector): the
    # within-cluster pair loop does ONE dot per pair, bit-identical to
    # norms computed inline
    a = cells.select(
        F.col(id_col).alias("__ida"),
        F.col("__cv").alias("__va"),
        F.col("__n").alias("__na"),
        "centroid_id",
    )
    b = cells.select(
        F.col(id_col).alias("__idb"),
        F.col("__cv").alias("__vb"),
        F.col("__n").alias("__nb"),
        "centroid_id",
    )
    # lower-id side only: each kept/dropped decision needs similarity to
    # LOWER ids exclusively, so the join emits each unordered pair once
    pair_sim = (
        a.join(b, "centroid_id")
        .filter(F.col("__idb") < F.col("__ida"))
        .groupBy(F.col("__ida").alias(id_col))
        # round-6 is non-decreasing, so the max of the unrounded cosines,
        # rounded once, equals the max of the rounded ones
        .agg(
            F.round(
                F.max(F.expr(_cos_sql("__va", "__vb", "__na", "__nb", rounded=False))), 6
            ).alias("max_sim_lower")
        )
    )
    return (
        cells.select(id_col, "centroid_id")
        .join(pair_sim, id_col, "left")
        .select(
            id_col,
            "centroid_id",
            "max_sim_lower",
            (
                F.coalesce(F.col("max_sim_lower"), F.lit(-1.0))
                < F.lit(threshold)
            ).alias("keep"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the top-k most-similar corpus vectors whose ``label`` DIFFERS from
    the query's — the classic retrieval-training negative sampler.

    The query set (anchors) is broadcast; the corpus streams map-only
    through the scored filter and the per-query top-k is a bounded
    window — same 100 TB shape as :func:`cosine_topk`. For corpus-sized
    anchor sets use the SRP-blocked path (:func:`lsh_ann_topk` with a
    label filter) instead of broadcasting.
    """
    from ..operators.unions import spread

    q = _with_norm(
        queries, query_id_col, vec_col, "q", F.col(label_col).alias("__ql")
    )
    # spread(): no-op on well-partitioned data — only un-serializes a
    # single-row-group local scan; the join itself needs no particular
    # corpus partitioning (anchors broadcast), so the map-only claim
    # holds at scale
    c = _with_norm(spread(corpus), id_col, vec_col, "c", F.col(label_col))
    sim = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(label_col) != F.col("__ql"))
        .withColumn("cosine", F.expr(_QC_COS))
    )
    return _top_k(sim, query_id_col, "cosine", id_col, k).select(
        query_id_col, id_col, label_col, "cosine", "rank"
    )


def srp_planes_for(n_vectors: int, occupancy: int = 256) -> int:
    """Plane count that keeps expected SRP bucket occupancy ~constant:
    planes = ceil(log2(n / occupancy)) (min 1).

    THE scaling rule for :func:`embed_neardup_pairs` /
    :func:`lsh_ann_topk`: with a FIXED plane count, bucket occupancy
    grows ∝ n and candidate pairs ∝ n² — measured 72.6× runtime for a
    10× corpus (SCALING.md). Scaling planes with log2(n)
    holds occupancy flat so pair work grows ~linearly (measured ~12×
    for 10× data with the recall-compensating table doubling below —
    SCALING.md).

    More planes lower per-table recall at a given angle
    (recall/table = (1-θ/π)^planes), so when planes grow, grow
    ``tables`` too: doubling tables roughly compensates one extra
    plane at small angles. The md5-derived plane family is infinite —
    changing counts never changes existing plane vectors, and the
    oracle replays any (planes, tables) choice.
    """
    import math

    if n_vectors < 1 or occupancy < 1:
        raise ValueError(f"need n >= 1 and occupancy >= 1, got {n_vectors}/{occupancy}")
    return max(1, math.ceil(math.log2(max(2.0, n_vectors / occupancy))))
