"""``corpus_dedup``: exact dedup, MinHash-LSH near-dup dedup with Jaccard
verification and connected components, the all-pairs Jaccard join at the
same threshold, embedding near-dup pairs and SemDeDup, over a seeded corpus
with planted duplicates. Keep flags are written to parquet."""

from __future__ import annotations

import hashlib
import os
import shutil
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.parquet as pq
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
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.text import fingerprint_md5
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.sources.sinks import write_partitioned

import gen
from harness import Clock, EventLog, Tracer, dir_bytes, digest, layer_totals

JACCARD_T = 0.5
COSINE_T = 0.95
CENTROIDS = 16
#: documents of the warm-up corpus
WARM_DOCS = 300


class CorpusWorkload:
    def __init__(self, spark, work, seed, docs, words, dim):
        self.spark, self.work, self.seed = spark, work, seed
        self.docs, self.words, self.dim = docs, words, dim
        rows, vecs, self.truth = gen.corpus_inputs(seed, docs, words, dim)
        self.docs_path = os.path.join(work, "inputs", "docs")
        self.vecs_path = os.path.join(work, "inputs", "vecs")
        self.keep_path = os.path.join(work, "sink", "keep")
        _write_parquet(self.docs_path, doc_id=[i for i, _ in rows], text=[t for _, t in rows])
        _write_parquet(self.vecs_path, vec_id=[i for i, _ in vecs], embedding=[v for _, v in vecs])
        self.planted = {("t", a, b) for a, b in self.truth["text_pairs"]} | {
            ("v", a, b) for a, b in self.truth["vec_pairs"]
        }
        self.vec_partner = {b for _, b in self.truth["vec_pairs"]}
        self.family = {d for pair in self.truth["text_pairs"] for d in pair}
        self.keep_digest: str | None = None
        self.result: dict = {}

    # ---------------------------------------------------------------- pass

    def _stages(self, step, span=None):
        """The pass, stage by stage. ``step(layer, action)`` runs one
        materializing action; ``span(layer)`` wraps driver-side
        construction. Returns the frames and collected pairs."""
        span = span or (lambda layer: nullcontext())
        spark = self.spark
        r = {}
        with span("corpus.construct"):
            docs = spark.read.parquet(self.docs_path)
            vecs = spark.read.parquet(self.vecs_path)
        step("corpus.scan", docs)
        with span("corpus.construct"):
            fps = docs.select("doc_id", fingerprint_md5("text").alias("fp"))
        step("llm.text", fps)
        with span("corpus.construct"):
            groups = exact_dedup_groups(docs)
            exact = (
                fps.join(groups.filter(F.col("n_dups") > 1), "fp")
                .filter(F.col("doc_id") != F.col("keeper_id"))
                .select(F.col("keeper_id").alias("id_a"), F.col("doc_id").alias("id_b"))
            )
        # the shingles below extend the fingerprint prefix, not this join
        r["exact"] = step("llm.dedup.exact", lambda: exact.collect(), prefix=False)
        with span("corpus.construct"):
            survivors = docs.join(
                groups.select(F.col("keeper_id").alias("doc_id")), "doc_id", "left_semi"
            )
            sh = shingles(survivors).persist()
        step("llm.dedup.shingles", lambda: sh.count())
        with span("llm.dedup.minhash.construct"):
            sig = minhash_signatures(survivors, shingles_df=sh, with_sizes=True)
        step("llm.dedup.minhash", sig, cumulative=False)
        with span("corpus.construct"):
            cand = minhash_lsh_pairs(survivors, sig_df=sig)
        step("llm.dedup.lsh", cand)

        def verify():
            pairs = jaccard_pairs(
                survivors, threshold=JACCARD_T, candidates=cand, shingles_df=sh, sizes_df=sig
            ).localCheckpoint(eager=True)
            return pairs, pairs.collect()

        verified, r["verified"] = step("llm.dedup.verify", verify)
        labels = step("llm.dedup.cc", lambda: _cc(verified), cumulative=False)
        r["allpairs"] = step(
            "llm.dedup.allpairs",
            lambda: jaccard_pairs(survivors, threshold=JACCARD_T, shingles_df=sh).collect(),
            cumulative=False,
        )
        with span("llm.similarity.construct"):
            near = embed_neardup_pairs(vecs, threshold=COSINE_T, block=True, dim=self.dim)
            cells: list = []
            sem = semdedup(vecs, n_centroids=CENTROIDS, threshold=COSINE_T, dim=self.dim, cells_out=cells)
        r["near"] = step("llm.similarity.neardup", lambda: near.collect(), cumulative=False)
        sem = step("llm.similarity.semdedup", lambda: sem.localCheckpoint(eager=True), cumulative=False)
        step(
            "sources.sinks.write",
            lambda: write_partitioned(
                _keep_flags(docs, groups, labels, sem), self.keep_path, partition_cols=()
            ),
            cumulative=False,
        )
        sh.unpersist()
        for c in cells:
            c.unpersist()
        r["frames"] = {"sh": sh, "cand": cand, "vecs": vecs}
        return r

    def warm_up(self) -> None:
        """Untimed: one pass over a small corpus of the same shape, so the
        JVM has compiled the code of a pass before the first timed one."""
        warm = os.path.join(self.work, "warm")
        CorpusWorkload(self.spark, warm, self.seed, min(WARM_DOCS, self.docs), self.words, self.dim).run_pass()
        shutil.rmtree(warm)

    def run_pass(self) -> dict:
        shutil.rmtree(self.keep_path, ignore_errors=True)
        clock = Clock()
        self.result = self._stages(_plain_step)
        wall = clock.elapsed()
        return {
            "wall_s": wall,
            "job_s": [wall],
            "raw_rows": self.truth["n_docs"],
            "raw_bytes": dir_bytes(self.docs_path)[0] + dir_bytes(self.vecs_path)[0],
            "written_bytes": dir_bytes(self.keep_path)[0],
            "failed": [],
        }

    # -------------------------------------------------------------- checks

    def found_pairs(self, r) -> set:
        found = {("t", a, b) for a, b in r["exact"]}
        found |= {("t", row["id_a"], row["id_b"]) for row in r["verified"]}
        found |= {("v", row["id_a"], row["id_b"]) for row in r["near"]}
        return found

    def expected_keep(self, verified) -> dict[int, tuple[bool, bool]]:
        """``(exact_keep, near_keep)`` of every document, from the planted
        truth and the verified pairs: an exact copy loses to its family's
        lowest id, and each group of survivors joined by verified pairs
        keeps its lowest id."""
        parent: dict[int, int] = {}

        def root(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for row in verified:
            a, b = root(row["id_a"]), root(row["id_b"])
            if a != b:
                parent[max(a, b)] = min(a, b)
        copies = {d for fam in self.truth["exact_families"] for d in fam[1:]}
        return {d: (d not in copies, root(d) == d) for d in range(self.truth["n_docs"])}

    def check(self) -> tuple[int, list[str], dict]:
        """Checks of the last pass: planted-pair recall and precision, the
        all-pairs join containing every verified pair, keep flags equal to
        those the planted truth and the verified pairs give, no document
        outside a planted family dropped, SemDeDup dropping only planted
        partners, and a keep-set digest identical on every pass of the run."""
        r = self.result
        failures = []
        found = self.found_pairs(r)
        hit = len(found & self.planted)
        recall = hit / len(self.planted)
        precision = hit / len(found) if found else 0.0
        allpairs = {(row["id_a"], row["id_b"]) for row in r["allpairs"]}
        missing = {(row["id_a"], row["id_b"]) for row in r["verified"]} - allpairs
        if missing:
            failures.append(f"{len(missing)} verified pairs absent from the all-pairs join")
        rows = self.spark.read.parquet(self.keep_path).collect()
        got = {row["doc_id"]: row for row in rows}
        if len(rows) != self.truth["n_docs"] or len(got) != len(rows):
            failures.append("keep flags do not cover every document once")
        want = self.expected_keep(r["verified"])
        wrong = [
            d for d, row in got.items()
            if (row["exact_keep"], row["near_keep"]) != want.get(d)
            or row["keep"] != (row["exact_keep"] and row["near_keep"] and row["sem_keep"])
        ]
        if wrong:
            failures.append(f"keep flags of {len(wrong)} documents differ from the truth, first {min(wrong)}")
        lost = [
            d for d, row in got.items()
            if d not in self.family and not (row["exact_keep"] and row["near_keep"])
        ]
        if lost:
            failures.append(f"{len(lost)} documents in no planted family were dropped")
        stray = {d for d, row in got.items() if not row["sem_keep"]} - self.vec_partner
        if stray:
            failures.append(f"semdedup dropped {len(stray)} vectors with no planted partner")
        got_digest = hashlib.md5(repr(sorted(tuple(row) for row in rows)).encode()).hexdigest()
        if self.keep_digest is None:
            self.keep_digest = got_digest
        elif got_digest != self.keep_digest:
            failures.append(f"keep-set digest {got_digest} != first pass {self.keep_digest}")
        if precision < 0.99:
            failures.append(f"pair precision {precision:.4f}: found pairs that were never planted")
        return 7, failures, {"pair_recall": recall, "pair_precision": precision,
                             "sink_rows": self.truth["n_docs"],
                             "sink_bytes": dir_bytes(self.keep_path)[0]}

    # --------------------------------------------------------------- trace

    def trace_pass(self, tracer: Tracer) -> dict:
        """The untraced pass, then the same stages under per-layer spans;
        both must produce the same pairs and keep flags."""
        shutil.rmtree(self.keep_path, ignore_errors=True)
        clock = Clock()
        with tracer.span("pass") as gid:
            real = self._stages(_plain_step)
        real_s = clock.elapsed()
        real_keep = digest(self.spark.read.parquet(self.keep_path))
        shutil.rmtree(self.keep_path, ignore_errors=True)
        chain = tracer.chain()
        counter = _CountCalls()
        clock = Clock()

        def step(layer, action, cumulative=True, prefix=True):
            if layer == "llm.dedup.cc":
                with counter:
                    return chain.step(layer, action, cumulative, prefix)
            return chain.step(layer, action, cumulative, prefix)

        traced = self._stages(step, tracer.span)
        traced_s = clock.elapsed()
        if self.found_pairs(real) != self.found_pairs(traced) or real_keep != digest(
            self.spark.read.parquet(self.keep_path)
        ):
            raise AssertionError("traced corpus pass differs from the untraced pass")
        tracer.untimed()
        fr = traced["frames"]
        sh = fr["sh"]
        cands = fr["cand"].count()
        counts = {
            "llm.dedup.lsh.candidates": cands,
            "llm.dedup.verify.pairs_out": len(traced["verified"]),
            "llm.dedup.verify.useful_ratio": len(traced["verified"]) / max(cands, 1),
            "llm.dedup.cc.iterations": counter.calls,
            "llm.dedup.allpairs.pairs_out": len(traced["allpairs"]),
            # rows of the all-pairs self-join on shingle hash: C(df, 2) per shingle
            "llm.dedup.allpairs.join_rows": sh.groupBy("sh_h").count().agg(
                F.sum(F.col("count") * (F.col("count") - 1) / 2)
            ).first()[0],
            "llm.similarity.neardup.candidates": embed_neardup_pairs(
                fr["vecs"], threshold=-1.0, block=True, dim=self.dim
            ).count(),
            "llm.similarity.neardup.pairs_out": len(traced["near"]),
        }
        return {"real_s": real_s, "traced_s": traced_s, "real_group": gid, "counts": counts}

    def trace_metrics(self, tracer: Tracer, log: EventLog, rec: dict) -> dict:
        m = dict(rec["counts"])
        m.update(layer_totals(tracer, log))
        m["llm.dedup.minhash.construct_s"] = tracer.seconds.get("llm.dedup.minhash.construct", 0.0)
        m["llm.similarity.construct_s"] = tracer.seconds.get("llm.similarity.construct", 0.0)
        m["sources.sinks.write_s"] = m.pop("sources.sinks.write.self_s", 0.0)
        m["corpus.scan_s"] = m.pop("corpus.scan.self_s", 0.0)
        m.update(log.engine([rec["real_group"]], passes=1))
        spans = sum(s for _, _, _, s in tracer.steps) + sum(
            tracer.seconds.get(k, 0.0)
            for k in ("corpus.construct", "llm.dedup.minhash.construct", "llm.similarity.construct")
        )
        m["trace.traced_wall_s"] = rec["traced_s"]
        m["trace.untraced_wall_s"] = rec["real_s"]
        m["trace.overhead_s"] = rec["traced_s"] - rec["real_s"]
        m["trace.accounted_share"] = spans / rec["real_s"]
        return m


def _keep_flags(docs, groups, labels, sem):
    """One row per document: its exact, near-duplicate and SemDeDup keep
    flags, and ``keep``, all three."""
    return (
        docs.select("doc_id")
        .join(labels, F.col("doc_id") == F.col("id"), "left")
        .join(groups.select(F.col("keeper_id").alias("doc_id"), F.lit(True).alias("exact_keep")), "doc_id", "left")
        .join(sem.select(F.col("vec_id").alias("doc_id"), F.col("keep").alias("sem_keep")), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_keep", F.lit(False)).alias("exact_keep"),
            F.coalesce(F.col("cluster") == F.col("doc_id"), F.lit(True)).alias("near_keep"),
            F.coalesce("sem_keep", F.lit(True)).alias("sem_keep"),
        )
        .withColumn("keep", F.col("exact_keep") & F.col("near_keep") & F.col("sem_keep"))
    )


def _write_parquet(path: str, **columns) -> None:
    os.makedirs(path)
    pq.write_table(pa.table(columns), os.path.join(path, "part-0.parquet"))


def _plain_step(layer, action, cumulative=True, prefix=True):
    """Untraced stage: run actions, leave prefixes lazy."""
    return action() if callable(action) else None


def _cc(pairs):
    labels = connected_components(pairs)
    labels.write.format("noop").mode("overwrite").save()
    return labels


class _CountCalls:
    """Counts ``DataFrame.count`` calls while active: connected_components
    runs one per propagation round."""

    def __enter__(self):
        from pyspark.sql.classic.dataframe import DataFrame

        self.cls, self.orig, self.calls = DataFrame, DataFrame.count, 0

        def count(df):
            self.calls += 1
            return self.orig(df)

        DataFrame.count = count
        return self

    def __exit__(self, *exc):
        self.cls.count = self.orig
        return False
