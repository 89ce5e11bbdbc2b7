"""Synthetic corpora for the probe tools and tests. Every generator is
a pure Spark expression over ``spark.range`` (or over the sf tables),
md5/xxhash-deterministic, so a tier is reproducible bit for bit.

- :func:`synth_docs` — the natural near-dup corpus: Zipf-ish body,
  boilerplate openings, ~5.9 % seeded mutants of their id-1 neighbour.
- :func:`synth_control_docs` — the failing-by-construction corpus for
  the n-gram Jaccard ``max_doc_freq`` valve (exactly half the seeded
  pairs must be lost at any cap).
- :func:`seeded_pairs` — the known (id-1, id) true pairs of both.
- :func:`write_replica_tier` — an ``REPLICAS``x tier of the sf tables
  (key-offset fact replicas, word-shuffled documents).
- :func:`write_toa5` — one Campbell TOA5 logger file from given rows.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

VOCAB = 50_000
# openings are SHORTER than the 16-char levenshtein prefix so blocks
# split on the first Zipf body word (an opening longer than the prefix
# degenerates to 8 corpus-sized blocks, every candidate pair over-cap).
# Half the docs get no opening: their prefix is pure body, giving the
# fine-grained block population.
OPENINGS = (
    "welcome to",
    "about us",
    "faq on",
    "terms of",
    "privacy",
    "notice",
    "intro to",
    "",
    "",
    "",
    "",
    "",
    "",
    "",
    "",
    "",
)

# the control corpus is built for 3-word shingles at the oracle-checked
# Jaccard operating point (__spark_entry__'s dedup_ngram_jaccard)
THRESHOLD = 0.1
SHINGLE_N = 3
_TEMPLATE = " ".join(f"tmpl{k:02d}" for k in range(30))
TAIL_WORDS = 10

STRIDE = 1_000_000_000


def _md5_int(parts, start: int, length: int):
    return F.conv(F.substring(F.md5(F.concat(*parts)), start, length), 16, 10).cast("bigint")


def synth_docs(spark, n: int):
    """n synthetic docs: Zipf-ish body (word rank = floor(V^u), the
    harmonic shape, so hot shingles exist), one of 8 boilerplate
    openings on half the docs, and mutants at id % 17 == 1 that replay
    their id-1 neighbour with ~4 % of words substituted."""
    opening = F.element_at(
        F.array(*[F.lit(o) for o in OPENINGS]),
        (_md5_int([F.lit("open:"), F.col("seed")], 1, 6) % 16 + 1).cast("int"),
    )
    return (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.when((F.col("id") % 17 == 1) & (F.col("id") > 0), F.col("id") - 1)
            .otherwise(F.col("id"))
            .alias("seed"),
        )
        .select(
            "doc_id",
            "seed",
            (F.col("doc_id") != F.col("seed")).alias("is_mut"),
            (_md5_int([F.lit("len:"), F.col("seed")], 1, 8) % 60 + 60).cast("int").alias("n_words"),
            opening.alias("op"),
        )
        .select(
            "doc_id",
            F.concat(
                F.when(F.col("op") == "", F.lit("")).otherwise(F.concat(F.col("op"), F.lit(" "))),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.col("n_words")),
                        lambda i: F.when(
                            F.col("is_mut")
                            & (_md5_int([F.lit("m"), F.col("doc_id"), F.lit(":"), i], 1, 4) % 25 == 0),
                            # substituted word: doc-specific, disjoint prefix
                            F.concat(
                                F.lit("x"),
                                _md5_int([F.col("doc_id"), F.lit("#"), i], 1, 8) % VOCAB,
                            ),
                        ).otherwise(
                            # Zipf-ish body word from the SEED stream
                            F.concat(
                                F.lit("w"),
                                F.pow(
                                    F.lit(float(VOCAB)),
                                    _md5_int([F.col("seed"), F.lit(":"), i], 1, 12) % 1_000_000 / 1_000_000.0,
                                ).cast("bigint"),
                            )
                        ),
                    ),
                    " ",
                ),
            ).alias("text"),
        )
    )


def synth_control_docs(spark, n: int):
    """Every doc = one shared 30-word template + a 10-word tail, so
    template shingles have doc_freq = n (over any probed cap).

    - type A pair (id % 34 == 1, seed id-1): unique tails, so the whole
      shingle overlap is the 28 over-cap template shingles. A true pair
      (Jaccard 28/52) that the capped index can never pair: LOST at any
      cap < n.
    - type B pair (id % 34 == 18, seed id-1): the mutant replays the
      seed's tail with only the last word changed, so 9 shared df=2
      shingles keep it at any cap >= 2.

    Predicted loss = |A| / (|A| + |B|) ~ 0.5, exactly countable."""
    base = spark.range(n).select(F.col("id").alias("doc_id"))
    is_b = (F.col("doc_id") % 34 == 18) & (F.col("doc_id") > 0)
    # tail word j: unique per doc ("u<id>x<j>"); type B replays the
    # seed's first TAIL_WORDS-1 words and swaps only the last
    tail_seed = F.when(is_b, F.col("doc_id") - 1).otherwise(F.col("doc_id"))

    def word(j):
        unique = F.concat(F.lit("u"), tail_seed, F.lit(f"x{j}"))
        if j == TAIL_WORDS - 1:
            return F.when(is_b, F.concat(F.lit("z"), F.col("doc_id"))).otherwise(unique)
        return unique

    tail = F.concat_ws(" ", *[word(j) for j in range(TAIL_WORDS)])
    return base.select(
        "doc_id",
        F.concat(F.lit(_TEMPLATE + " "), tail).alias("text"),
    )


def seeded_pairs(spark, n_docs: int):
    """(id_a, id_b) = (id-1, id) for every id % 17 == 1: the seeded
    near-dup pairs of :func:`synth_docs` (and a superset of the control
    corpus's type A and B pairs)."""
    return (
        spark.range(n_docs)
        .filter((F.col("id") % 17 == 1) & (F.col("id") > 0))
        .select((F.col("id") - 1).alias("id_a"), F.col("id").alias("id_b"))
    )


def _replicas(df, replicas: int, offset_cols):
    out = None
    for r in range(replicas):
        p = df
        for c in offset_cols:
            p = p.withColumn(c, F.col(c) + F.lit(r * STRIDE))
        out = p if out is None else out.unionByName(p)
    return out


def write_replica_tier(spark, sf_dir: str, out_dir: str, replicas: int) -> None:
    """Write a ``replicas``x tier of ``sf_dir`` as parquet tables:

    - lineitem/orders: key-offset replicas (o_custkey unchanged, so the
      customer dim stays 1x broadcast size); pricing_summary's groups
      are unchanged and top_revenue's join fan-out stays 1:1 per replica;
    - events: user_id/event_id offset per replica, ts unchanged, so the
      per-event_type series carry ``replicas``x rows;
    - documents: replica 0 verbatim, the others word-shuffled (vocab
      kept, shingle overlap destroyed, so fuzzy-dedup candidates stay
      sparse instead of exploding quadratically);
    - the small dims are copied through."""
    rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))  # noqa: E731
    out = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731

    _replicas(rd("lineitem"), replicas, ["l_orderkey"]).write.mode("overwrite").parquet(out("lineitem"))
    _replicas(rd("orders"), replicas, ["o_orderkey"]).write.mode("overwrite").parquet(out("orders"))
    _replicas(rd("events"), replicas, ["user_id", "event_id"]).write.mode("overwrite").parquet(out("events"))
    d = rd("documents")
    docs = d
    for r in range(1, replicas):
        shuffled = d.select(
            (F.col("doc_id") + F.lit(r * STRIDE)).alias("doc_id"),
            F.array_join(
                F.expr(
                    "transform(split(text, ' '), "
                    f"(w, i) -> element_at(split(text, ' '), "
                    f"1 + CAST(pmod(xxhash64(w, i, {r}), "
                    "size(split(text, ' '))) AS INT)))"
                ),
                " ",
            ).alias("text"),
            *[c for c in d.columns if c not in ("doc_id", "text")],
        )
        docs = docs.unionByName(shuffled)
    docs.write.mode("overwrite").parquet(out("documents"))
    for t in ("customer", "nation", "region", "supplier", "part", "embeddings"):
        rd(t).write.mode("overwrite").parquet(out(t))


def write_toa5(path: str, names, rows, table: str = "Flux") -> None:
    """Write a TOA5 file: the four header lines (environment, field
    names, units, processing) for columns ``names``, then one line per
    row of ``rows``, each a sequence of already-formatted field texts
    (quote strings and timestamps yourself; ``NAN`` is the logger's
    missing-value sentinel)."""
    header = [
        f'"TOA5","CookEast","CR6","1","CR6.Std","CPU:{table.lower()}","1","{table}"',
        ",".join(f'"{n}"' for n in names),
        ",".join('"TS"' if n == "TIMESTAMP" else '""' for n in names),
        ",".join('""' if n == "TIMESTAMP" else '"Avg"' for n in names),
    ]
    lines = header + [",".join(str(v) for v in r) for r in rows]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
