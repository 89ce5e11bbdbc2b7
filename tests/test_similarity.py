"""Similarity operators (``llm/similarity.py``): golden output pins,
vector-column quoting, and bounded plan-construction cost.

The pins in ``tests/golden/similarity.json`` hold the exact doubles,
column order and ``schema.json()`` of every operator on a fixed corpus:
the 500 x 64 test embeddings plus two small generated frames, one at a
width the dot and norm builders unroll (16) and one above
``_STATIC_EXPR_MAX_DIM`` where they switch to the lambda fold (130).
They were captured from the earlier Column-built operators, so they
also prove the SQL-string builders reproduce that math bit for bit.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.functions.sql import quote_ident
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
    cosine_topk,
    embed_neardup_pairs,
    hard_negatives,
    ivf_ann_topk,
    kmeans_centroids,
    lsh_ann_topk,
    semdedup,
)

EMBEDDINGS = "/root/testdata/sf0.001/embeddings.parquet"
GOLDEN = Path(__file__).parent / "golden" / "similarity.json"


def small_frame(spark, dim: int, n: int = 90, vec_col: str = "embedding"):
    """``n`` array<float> vectors in triples of near-duplicates (the
    members of a triple differ by ~1e-3 per element) with a 4-way label."""
    rows = []
    for i in range(n):
        g = i // 3
        vec = [
            math.sin(g * 1.7 + j * 0.31)
            + 0.1 * ((g * 7 + j * 3) % 5)
            + (i % 3) * 1e-3 * math.cos(i + j)
            for j in range(dim)
        ]
        rows.append((i, vec, i % 4))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).withColumnRenamed("embedding", vec_col)


def queries_of(corpus, vec_col: str = "embedding", n: int = 4):
    return corpus.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col(quote_ident(vec_col)), "label"
    )


def _cases(spark) -> dict:
    emb = spark.read.parquet(EMBEDDINGS)
    q = queries_of(emb)
    s16 = small_frame(spark, 16)
    s130 = small_frame(spark, 130, n=60)
    return {
        "cosine_topk": lambda: cosine_topk(emb, q, k=3),
        "lsh_ann_topk": lambda: lsh_ann_topk(emb, q, dim=64, k=3, planes=2),
        "hard_negatives": lambda: hard_negatives(emb, q, k=3),
        "ivf_ann_topk": lambda: ivf_ann_topk(
            emb, q, n_centroids=8, n_probe=2, k=3, train_iters=1, dim=64
        ),
        "kmeans_centroids": lambda: kmeans_centroids(
            emb, n_centroids=8, iters=1, dim=64
        ),
        "embed_neardup_block_dim16": lambda: embed_neardup_pairs(
            s16, threshold=0.9, dim=16, planes=2, tables=4
        ),
        "embed_neardup_block_dim130": lambda: embed_neardup_pairs(
            s130, threshold=0.9, dim=130, planes=2, tables=4
        ),
        "embed_neardup_brute": lambda: embed_neardup_pairs(
            s16, threshold=0.9, block=False
        ),
        "semdedup": lambda: semdedup(
            emb, n_centroids=8, threshold=0.3, train_iters=1, dim=64
        ),
    }


def _snapshot(df) -> dict:
    rows = [
        [list(v) if isinstance(v, (list, tuple)) else v for v in r]
        for r in df.collect()
    ]
    return {
        "columns": df.columns,
        "schema": df.schema.json(),
        "rows": sorted(rows, key=lambda r: r[:2]),
    }


@pytest.fixture(scope="module")
def golden():
    return json.loads(GOLDEN.read_text())


@pytest.mark.parametrize(
    "name",
    [
        "cosine_topk",
        "lsh_ann_topk",
        "hard_negatives",
        "ivf_ann_topk",
        "kmeans_centroids",
        "embed_neardup_block_dim16",
        "embed_neardup_block_dim130",
        "embed_neardup_brute",
        "semdedup",
    ],
)
def test_similarity_golden(spark, golden, name):
    got = _snapshot(_cases(spark)[name]())
    want = golden[name]
    assert got["columns"] == want["columns"]
    assert got["schema"] == want["schema"]
    assert len(got["rows"]) == len(want["rows"]) > 0
    assert got["rows"] == want["rows"]  # exact doubles, no tolerance


def _py4j_commands(build) -> int:
    """py4j commands sent while ``build()`` constructs (not runs) a
    plan. Call once first so JVM-view lookups are cached."""
    import gc

    import py4j.clientserver as cs

    send = cs.ClientServerConnection.send_command
    sent = [0]

    def counting(self, command, *args, **kwargs):
        sent[0] += 1
        return send(self, command, *args, **kwargs)

    gc.collect()
    gc.disable()
    cs.ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        cs.ClientServerConnection.send_command = send
        gc.enable()
    return sent[0]


def _all_operators(frame, vec_col: str) -> dict:
    q = queries_of(frame, vec_col)
    kw = dict(vec_col=vec_col)
    return {
        "cosine_topk": cosine_topk(frame, q, k=3, **kw),
        "lsh_ann_topk": lsh_ann_topk(frame, q, dim=16, k=3, planes=2, **kw),
        "hard_negatives": hard_negatives(frame, q, k=3, **kw),
        "ivf_ann_topk": ivf_ann_topk(
            frame, q, n_centroids=4, n_probe=2, k=3, train_iters=1, dim=16, **kw
        ),
        "neardup_block": embed_neardup_pairs(
            frame, threshold=0.9, dim=16, planes=2, tables=4, **kw
        ),
        "neardup_brute": embed_neardup_pairs(
            frame, threshold=0.9, block=False, **kw
        ),
        "semdedup": semdedup(
            frame, n_centroids=4, threshold=0.99, dim=16, **kw
        ),
    }


@pytest.mark.parametrize("vec_col", ["emb.v", "e`b"])
def test_vector_column_names_with_dots_and_backticks(spark, vec_col):
    """A vector column is a name, never a struct path: every operator
    gives the plain-name result for ``emb.v`` and ``e`b``."""
    plain = _all_operators(small_frame(spark, 16, n=30), "embedding")
    odd = _all_operators(small_frame(spark, 16, n=30, vec_col=vec_col), vec_col)
    for name, df in odd.items():
        want = plain[name]
        assert df.columns == want.columns, name
        assert sorted(df.collect()) == sorted(want.collect()), name


# py4j commands to build each operator at the Column-built parent
# (warm, gc off, the call shapes below); the SQL-string builders must
# never send more
_PARENT_PY4J = {
    "cosine_topk": 311,
    "lsh_ann_topk": 648,
    "hard_negatives": 661,
    "ivf_ann_topk": 985,
    "embed_neardup_blocked": 473,
    "embed_neardup_brute": 469,
}


def test_construction_py4j_commands_bounded(spark):
    """Plan construction cost in py4j commands: no similarity operator
    sends more than the Column-built form did, and the 128-bit SimHash
    (four slices) costs at most twice the 64-bit one (two slices). The
    minimum of three counted builds absorbs the odd gateway-side spike."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        simhash64,
        simhash128,
    )

    emb = spark.read.parquet(EMBEDDINGS)
    q = queries_of(emb)
    s16 = small_frame(spark, 16)
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    builds = {
        "cosine_topk": lambda: cosine_topk(emb, q, k=3),
        "lsh_ann_topk": lambda: lsh_ann_topk(emb, q, dim=64, k=3, planes=2),
        "hard_negatives": lambda: hard_negatives(emb, q, k=3),
        "ivf_ann_topk": lambda: ivf_ann_topk(
            emb, q, n_centroids=8, n_probe=2, k=3, dim=64
        ),
        "embed_neardup_blocked": lambda: embed_neardup_pairs(
            s16, threshold=0.9, dim=16, planes=2, tables=4
        ),
        "embed_neardup_brute": lambda: embed_neardup_pairs(
            s16, threshold=0.9, block=False
        ),
        "simhash64": lambda: simhash64(docs),
        "simhash128": lambda: simhash128(docs),
    }
    sent = {}
    for name, build in builds.items():
        build()  # warm-up: JVM-view lookups cached
        sent[name] = min(_py4j_commands(build) for _ in range(3))
    for name, bound in _PARENT_PY4J.items():
        assert sent[name] <= bound, (name, sent[name])
    assert sent["simhash128"] <= 2 * sent["simhash64"], sent
