"""Tier-probe `embed_neardup_pairs(score='arrow')` — VERDICT r13 #7:
the bucket-local BLAS path's max_bucket² memory bound was ARGUED from
occupancy auto-sizing (similarity.py `_bucket_pairs_arrow` docstring)
but measured only at 20k vectors. This probe:

1. TIERS: runs the arrow scorer at 20k / 80k / 320k vectors, dim 512
   (uniform random + 2% planted near-duplicates so the threshold
   filter has real work), recording drift-bracketed per-vector cost
   and the MEASURED max bucket occupancy at each tier — flat
   per-vector cost + occupancy near the 256 design point is the
   auto-sizing contract.

2. SKEW FIXTURE: at the middle tier, replaces 10% of the corpus with
   tiny perturbations of ONE vector — a boilerplate cluster that SRP
   (angle-based) CANNOT split: all ~8k land in the same bucket in
   every table, the worst case the docstring's "memory is max_bucket²"
   sentence owns. Records the max occupancy actually produced, the
   resulting m×m block bytes, wall time, and whether the job survives
   — the honest bound, not the design-point bound.

Every timed cell is bracketed by tools/drift.py (sec_per_probe is the
drift-cancelled number). Occupancy is measured from the same tagging
expressions the operator itself builds (srp_planes_for + the plan-side
size estimate), so the numbers describe the executed job.

Usage: PYTHONPATH=/root/repo python tools/arrow_tier_probe.py [out.json]
Env: TIERS="20000,80000,320000", DIM=512.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

import numpy as np
from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import get_spark
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
    embed_neardup_pairs,
    srp_planes_for,
)
from tools.drift import bracketed

DIM = int(os.environ.get("DIM", "512"))
TIERS = [int(x) for x in os.environ.get("TIERS", "20000,80000,320000").split(",")]


def synth(spark, n: int, skew_frac: float = 0.0):
    """n vectors, dim DIM: uniform random (seeded per id via md5-free
    xxhash-ish arithmetic — deterministic, engine-local is fine for a
    probe), 2% planted near-dups (id i copies id i-1 + epsilon), and
    optionally `skew_frac` of ids replaced by one boilerplate vector +
    epsilon (the SRP-unsplittable cluster)."""
    rng = np.random.default_rng(99)
    base = rng.standard_normal((n, DIM)).astype(np.float64)
    # planted near-dups: every 50th vector ~= its predecessor
    for i in range(1, n, 50):
        base[i] = base[i - 1] + rng.standard_normal(DIM) * 1e-3
    if skew_frac:
        boiler = rng.standard_normal(DIM)
        k = int(n * skew_frac)
        idx = rng.choice(n, size=k, replace=False)
        base[idx] = boiler + rng.standard_normal((k, DIM)) * 1e-4
    pdf = [(int(i), base[i].tolist()) for i in range(n)]
    return spark.createDataFrame(pdf, "vec_id long, embedding array<double>")


def max_occupancy(df, planes: int, tables: int = 8) -> int:
    """Max (table, bucket) group size under the SAME tagging the
    operator builds for this plane count."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        _as_double_sql,
        _srp_bucket_sql,
    )

    v = df.select(
        F.col("vec_id").alias("__id"),
        F.expr(_as_double_sql("embedding")).alias("__v"),
    )
    buckets = ", ".join(
        _srp_bucket_sql("__v", DIM, planes, offset=t * planes)
        for t in range(tables)
    )
    tagged = v.select(
        "__id", F.posexplode(F.expr(f"array({buckets})")).alias("__tbl", "__bkt")
    )
    row = (
        tagged.groupBy("__tbl", "__bkt")
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]
    )
    return int(row["m"])


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/arrow_tier_probe.json"
    spark = get_spark("caf-arrow-tier-probe")
    spark.sparkContext.setLogLevel("ERROR")
    record: dict = {"dim": DIM, "tiers": [], "skew": None}

    for n in TIERS:
        df = synth(spark, n)
        df = df.cache()
        df.count()
        planes = srp_planes_for(n)

        def run():
            embed_neardup_pairs(
                df,
                threshold=0.95,
                dim=DIM,
                score="arrow",
                approx_count=n,
            ).write.format("noop").mode("overwrite").save()

        sec, bracket, _ = bracketed(spark, run)
        occ = max_occupancy(df, planes)
        cell = {
            "n": n,
            "planes": planes,
            "max_bucket": occ,
            "block_mb": round(occ * occ * 8 / 2**20, 1),
            "sec": round(sec, 2),
            "probe_bracket": [round(b, 3) for b in bracket],
            "sec_per_probe": round(sec / (sum(bracket) / len(bracket)), 3),
            "usec_per_vector_per_probe": round(
                1e6 * sec / (sum(bracket) / len(bracket)) / n, 3
            ),
        }
        df.unpersist()
        record["tiers"].append(cell)
        print(json.dumps(cell), flush=True)

    # --- skew fixture at the middle tier ---
    n = TIERS[len(TIERS) // 2]
    df = synth(spark, n, skew_frac=0.10).cache()
    df.count()
    planes = srp_planes_for(n)
    occ = max_occupancy(df, planes)

    def run_skew():
        embed_neardup_pairs(
            df, threshold=0.95, dim=DIM, score="arrow", approx_count=n
        ).write.format("noop").mode("overwrite").save()

    sec, bracket, _ = bracketed(spark, run_skew)
    record["skew"] = {
        "n": n,
        "skew_frac": 0.10,
        "planes": planes,
        "max_bucket": occ,
        "block_mb": round(occ * occ * 8 / 2**20, 1),
        "sec": round(sec, 2),
        "probe_bracket": [round(b, 3) for b in bracket],
        "sec_per_probe": round(sec / (sum(bracket) / len(bracket)), 3),
        "survived": True,
    }
    df.unpersist()
    print(json.dumps(record["skew"]), flush=True)

    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"wrote {out_path}", flush=True)


if __name__ == "__main__":
    main()
