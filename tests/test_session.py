"""Session defaults: the generated-class cache holds a whole llm/ pipeline.

Spark's default cache of compiled generated classes keeps 100 entries; a
corpus dedup pass uses about 200, so at that size every repeat of the
pass recompiled nearly all of them. The cache is also keyed by code
alone, without the whole-stage ids that AQE hands out in completion
order (DECISIONS.md, "Generated-class cache").
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
    connected_components,
    exact_dedup_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    shingles,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
    embed_neardup_pairs,
    semdedup,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import _DEFAULTS
from tools.ab import compiles
from tools.synth import synth_docs

CACHE_CONF = {
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.sql.codegen.useIdInClassName": "false",
}
DIM = 8


def _vectors(n: int) -> list[tuple[int, list[float]]]:
    """``n`` seeded vectors; every tenth one is a small perturbation of
    its predecessor, so the near-dup and SemDeDup joins emit pairs."""
    rng = random.Random(7)
    rows = []
    for i in range(n):
        if i % 10 == 1:
            v = [x + rng.uniform(-1e-3, 1e-3) for x in rows[-1][1]]
        else:
            v = [rng.uniform(-1.0, 1.0) for _ in range(DIM)]
        rows.append((i, v))
    return rows


def _llm_chain(spark, vecs) -> None:
    """Exact dedup -> shingles -> MinHash-LSH -> Jaccard verify ->
    connected components -> embedding near-dup pairs -> SemDeDup."""
    docs = synth_docs(spark, 120)
    groups = exact_dedup_groups(docs)
    survivors = docs.join(
        groups.select(F.col("keeper_id").alias("doc_id")), "doc_id", "left_semi"
    )
    sh = shingles(survivors)
    sig = minhash_signatures(survivors, shingles_df=sh, with_sizes=True)
    cand = minhash_lsh_pairs(survivors, sig_df=sig)
    pairs = jaccard_pairs(
        survivors, threshold=0.5, candidates=cand, shingles_df=sh, sizes_df=sig
    )
    assert connected_components(pairs).count() > 0
    assert embed_neardup_pairs(vecs, threshold=0.95, dim=DIM, planes=4).count() > 0
    sem = semdedup(vecs, n_centroids=4, threshold=0.95, dim=DIM, persist_cells=False)
    assert sem.filter(~F.col("keep")).count() > 0


def test_get_spark_sizes_the_generated_class_cache(spark):
    conf = spark.sparkContext.getConf()
    for key, value in CACHE_CONF.items():
        assert _DEFAULTS[key] == value
        assert conf.get(key) == value


# a repeat may still compile a few classes: the generated code of a
# handful of stages differs from run to run (0 or 2 in the chain below,
# up to 6 in a corpus_dedup pass; DECISIONS.md, "Generated-class cache")
REPEAT_COMPILES_MAX = 10


def test_llm_chain_repeat_compiles_nothing(spark, make_vecs):
    """A second run of the same llm/ chain (about 130 classes) finds its
    generated classes in the cache. With Spark's 100-entry default the
    chain does not fit, so the repeat recompiled about 150 of them."""
    vecs = make_vecs(_vectors(120))
    _llm_chain(spark, vecs)
    before = compiles(spark)
    _llm_chain(spark, vecs)
    assert compiles(spark) - before <= REPEAT_COMPILES_MAX
