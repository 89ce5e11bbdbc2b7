"""Recall price of the scale valves: how many true pairs each cap drops.

A scale valve trades recall for bounded work. The robustness aim keeps
each valve's documented price measured, on the md5-deterministic
near-dup corpus of tools/synth.py (whose id % 17 == 1 mutants give
known true pairs):

- ``jaccard``: ``jaccard_pairs(max_doc_freq=cap)`` loss curve. Truth is
  the candidates path (exact Jaccard against the full shingle index, the
  cap does not apply there); per cap, loss = 1 - kept / |truth|. Then
  the POSITIVE CONTROL: the same measurement on synth_control_docs,
  where exactly the boilerplate-only half of the seeded pairs must be
  lost — an instrument that reads 0 % everywhere is otherwise
  indistinguishable from a broken one.
- ``levenshtein``: ``levenshtein_blocked_pairs(max_block_size=cap)``
  kept pairs per cap, loss relative to the largest cap.
- ``simhash``: pigeonhole bucket occupancy (max bucket, filled buckets,
  sum C(b, 2) candidate mass) of the 64- and 128-bit layouts, read from
  the library's own signatures and ``simhash64_blocks`` /
  ``simhash128_blocks``; then ``simhash128_pairs(max_bucket_size=cap)``
  pairs and seeded pairs per cap, loss relative to the uncapped run.

Every timed cell is bracketed by the drift probe (tools/drift.py):
compare ``sec_per_probe`` across cells, never raw ``sec``.

Usage: python tools/valve_probe.py [--docs N] [--out PATH] [jaccard] [levenshtein] [simhash]
(default: all three at 50k docs). Tiers past ~500k docs need
SPARK_GRAFT_DRIVER_MEM raised before the JVM starts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

JACCARD_CAPS = (10, 20, 40, 80, 160)
LEV_CAPS = (64, 256, 1024, 4096)
SIMHASH_CAPS = (64, 256, 1024, None)
MAX_HAMMING = 6
VALVES = ("jaccard", "levenshtein", "simhash")


def jaccard_curve(spark, docs, seeded, caps=JACCARD_CAPS) -> dict:
    """Truth via the candidates path, then kept/lost per cap."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import jaccard_pairs
    from tools.drift import bracket_fields, bracketed
    from tools.synth import SHINGLE_N, THRESHOLD

    truth = (
        jaccard_pairs(docs, n=SHINGLE_N, threshold=THRESHOLD, candidates=seeded)
        .select("id_a", "id_b")
        .cache()
    )
    n_truth = truth.count()
    out = {"threshold": THRESHOLD, "n_true_pairs": n_truth, "caps": {}}
    for cap in caps:
        spark.catalog.clearCache()
        truth.cache().count()  # keep truth resident across the clear

        def cell():
            capped = jaccard_pairs(docs, n=SHINGLE_N, threshold=THRESHOLD, max_doc_freq=cap)
            return capped.join(truth, ["id_a", "id_b"]).count()

        sec, bracket, kept = bracketed(spark, cell)
        out["caps"][str(cap)] = {
            "kept_true": kept,
            "loss": round(1 - kept / max(n_truth, 1), 4),
            **bracket_fields(sec, bracket),
        }
        print(json.dumps({"jaccard_cap": cap, **out["caps"][str(cap)]}), flush=True)
    truth.unpersist()
    return out


def jaccard(spark, docs, n_docs: int, tmp: str) -> dict:
    from tools.synth import seeded_pairs, synth_control_docs

    seeded = seeded_pairs(spark, n_docs)
    out = {"natural": jaccard_curve(spark, docs, seeded)}
    path = os.path.join(tmp, "control")
    synth_control_docs(spark, n_docs).repartition(max(8, n_docs // 25_000)).write.parquet(path)
    control = jaccard_curve(spark, spark.read.parquet(path), seeded)
    # exact prediction: type A (id % 34 == 1) lost, type B (== 18) kept,
    # at every cap in [2, n_docs)
    n_a = sum(1 for i in range(1, n_docs) if i % 34 == 1)
    n_b = sum(1 for i in range(1, n_docs) if i % 34 == 18)
    control["predicted_loss"] = round(n_a / max(n_a + n_b, 1), 4)
    control["control_ok"] = all(
        abs(c["loss"] - control["predicted_loss"]) < 0.01 for c in control["caps"].values()
    )
    out["control"] = control
    return out


def levenshtein(spark, docs, caps=LEV_CAPS) -> dict:
    """Kept pairs and time per block cap, loss vs the largest cap."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        levenshtein_blocked_pairs,
    )
    from tools.drift import bracket_fields, bracketed

    curve = {}
    for cap in caps:
        spark.catalog.clearCache()
        sec, bracket, kept = bracketed(
            spark, lambda: levenshtein_blocked_pairs(docs, max_block_size=cap).count()
        )
        curve[str(cap)] = {"pairs": kept, **bracket_fields(sec, bracket)}
        print(json.dumps({"lev_cap": cap, **curve[str(cap)]}), flush=True)
    ref = max(c["pairs"] for c in curve.values()) or 1
    for c in curve.values():
        c["loss_vs_max_cap"] = round(1 - c["pairs"] / ref, 4)
    return curve


def occupancy(sig, blocks) -> dict:
    """Bucket occupancy of a (slice_column, start_bit, width) layout —
    the cheap aggregation that predicts the pigeonhole pair join, over
    the same (blk, val) tags (``llm.dedup.pigeonhole_tags``)."""
    from pyspark.sql import functions as F

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        pigeonhole_tags,
    )

    tagged = pigeonhole_tags(sig, blocks, [])
    row = (
        tagged.groupBy("blk", "val")
        .agg(F.count(F.lit(1)).alias("bn"))
        .agg(
            F.max("bn").alias("max_bn"),
            F.count(F.lit(1)).alias("filled"),
            F.sum(F.col("bn") * (F.col("bn") - 1) / 2).alias("cand"),
        )
        .first()
    )
    return {
        "n_blocks": len(blocks),
        "block_widths": sorted({w for _, _, w in blocks}),
        "max_bucket": int(row["max_bn"]),
        "filled_buckets": int(row["filled"]),
        "cand_pairs": int(row["cand"]),
    }


def simhash(spark, docs, caps=SIMHASH_CAPS) -> dict:
    from pyspark.sql import functions as F

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        simhash64,
        simhash64_blocks,
        simhash128,
        simhash128_blocks,
        simhash128_pairs,
    )
    from tools.drift import bracket_fields, bracketed

    out = {}
    for bits, sig, blocks in (
        (64, simhash64(docs), simhash64_blocks(MAX_HAMMING)),
        (128, simhash128(docs), simhash128_blocks(MAX_HAMMING)),
    ):
        out[f"occ{bits}"] = occupancy(sig, blocks)
        print(json.dumps({f"occ{bits}": out[f"occ{bits}"]}), flush=True)

    curve = {}
    for cap in caps:
        spark.catalog.clearCache()

        def cell():
            pairs = simhash128_pairs(docs, max_hamming=MAX_HAMMING, max_bucket_size=cap)
            seeded = (F.col("id_b") - F.col("id_a") == 1) & (F.col("id_b") % 17 == 1)
            return pairs.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(seeded, 1).otherwise(0)).alias("seeded"),
            ).first()

        sec, bracket, agg = bracketed(spark, cell)
        curve[str(cap)] = {
            "pairs": int(agg["n"]),
            "seeded_pairs": int(agg["seeded"] or 0),
            **bracket_fields(sec, bracket),
        }
        print(json.dumps({"simhash128_cap": cap, **curve[str(cap)]}), flush=True)
    ref = curve["None"]
    for c in curve.values():
        c["loss_vs_exact"] = round(1 - c["pairs"] / max(ref["pairs"], 1), 4)
        c["seeded_loss_vs_exact"] = round(1 - c["seeded_pairs"] / max(ref["seeded_pairs"], 1), 4)
    out["loss_curve_128"] = curve
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="recall price of the scale valves")
    ap.add_argument("valves", nargs="*", help=f"any of {', '.join(VALVES)} (default: all)")
    ap.add_argument("--docs", type=int, default=50_000)
    ap.add_argument("--out", default="valve_probe.json")
    args = ap.parse_args()
    valves = args.valves or list(VALVES)
    if set(valves) - set(VALVES):
        ap.error(f"unknown valve(s): {sorted(set(valves) - set(VALVES))}")

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import get_spark
    from tools.synth import synth_docs

    n = args.docs
    spark = get_spark("caf-valve-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", str(max(32, n // 8000)))
    tmp = tempfile.mkdtemp(prefix="caf_valve_")
    try:
        path = os.path.join(tmp, "docs")
        synth_docs(spark, n).repartition(max(8, n // 25_000)).write.parquet(path)
        docs = spark.read.parquet(path)
        out: dict = {"n_docs": n}
        if "jaccard" in valves:
            out["jaccard"] = jaccard(spark, docs, n, tmp)
        if "levenshtein" in valves:
            out["levenshtein"] = levenshtein(spark, docs)
        if "simhash" in valves:
            out["simhash"] = simhash(spark, docs)
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    control = out.get("jaccard", {}).get("control")
    if control and not control["control_ok"]:
        print("CONTROL FAILED: measured jaccard loss != predicted", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
