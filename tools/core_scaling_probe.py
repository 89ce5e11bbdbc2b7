"""Core-scaling probe at a 10x synthetic tier.

At sf0.1 the 8-vs-32-core column is launch-cost-bound: most queries are
0.3-1.8 s jobs whose wall clock is job launch, not per-partition work,
so a ratio near 1 there says nothing about whether the plans
parallelize. This re-runs them at ``REPLICAS``x the data, where there is
real work (tier layout: tools/synth.py ``write_replica_tier``; probe
data only, never the oracle or the bench).

Method: the tier is written once to ``TIER_DIR``; then tools/ab.py runs
two child legs of this checkout that differ only in SPARK_GRAFT_CPUS
(the bench contract knob, so the master is not hard-coded), interleaved,
every probe query ``N_RUNS`` times per visit, min basis.

Usage: python tools/core_scaling_probe.py [--out PATH]
Env: N_ROUNDS (default 2 per core count), N_RUNS (default 2),
     REPLICAS (default 10), TIER_DIR (default: a temp-dir path),
     SPARK_GRAFT_SF_DIR (source tier, default sf0.1).
Writes core_scaling_probe.json in the working directory unless --out.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    sys.path.insert(0, ROOT)

N_ROUNDS = int(os.environ.get("N_ROUNDS", "2"))
N_RUNS = int(os.environ.get("N_RUNS", "2"))
REPLICAS = int(os.environ.get("REPLICAS", "10"))
TIER_DIR = os.environ.get("TIER_DIR", os.path.join(tempfile.gettempdir(), "sf10x_synth"))
CPUS = ("32", "8")

QUERIES = [
    # floor-bound at sf0.1 (ratio ~1 in the driver's c8 column)
    "pricing_summary",
    "top_revenue",
    "sessionize",
    "flagship_partitioned",
    "flagship_tower_pipeline",
    "dedup_minhash_lsh",
    # real-parallelism contrast group (already >1.4 at sf0.1)
    "dedup_ngram_jaccard",
    "charlm_quality",
]


def build_tier(sf_dir: str) -> None:
    """Write the synthetic tier once (skipped if already present)."""
    if os.path.exists(os.path.join(TIER_DIR, "_DONE")):
        return
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import get_spark
    from tools.synth import write_replica_tier

    spark = get_spark("caf-scaling-tier-build")
    spark.sparkContext.setLogLevel("ERROR")
    write_replica_tier(spark, sf_dir, TIER_DIR, REPLICAS)
    with open(os.path.join(TIER_DIR, "_DONE"), "w") as f:
        f.write("ok")
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description="core-scaling probe at a synthetic tier")
    ap.add_argument("--out", default="core_scaling_probe.json")
    args = ap.parse_args()
    from tools.ab import Child, default_sf_dir, interleave

    build_tier(default_sf_dir())
    legs = [
        Child(f"c{c}", ROOT, QUERIES, TIER_DIR, env={"SPARK_GRAFT_CPUS": c, "SPARK_GRAFT_MASTER": None})
        for c in CPUS
    ]
    rec = interleave(legs, N_ROUNDS, N_RUNS)
    hi, lo = (rec["legs"][f"c{c}"]["cells"] for c in CPUS)
    out = {
        "tier": f"{REPLICAS}x key-offset/word-shuffled synth of sf0.1",
        "method": f"child legs local[{CPUS[0]}]/local[{CPUS[1]}] via SPARK_GRAFT_CPUS; {rec['method']}",
        "n_rounds": N_ROUNDS,
        "n_runs_each": N_RUNS,
        "queries": {
            q: {
                f"c{CPUS[0]}_min": hi[q]["min"],
                f"c{CPUS[1]}_min": lo[q]["min"],
                f"c{CPUS[1]}_over_c{CPUS[0]}": round(lo[q]["min"] / hi[q]["min"], 2),
            }
            for q in QUERIES
        },
        "raw": {c: {q: rec["legs"][f"c{c}"]["cells"][q]["samples"] for q in QUERIES} for c in CPUS},
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
