"""Ratio test for bench flags: is a query's slowdown real or host drift?

A bench flag is a query whose ``min(query) / probe`` ratio in a driver
bench record read past ``TOL`` times its frozen ratio in
BASELINE_RATIO.json. Run this on the code the flag was raised against
(the old-code control). Two controls, both against the same
``pricing_summary`` probe minimum, in one process at sf0.1:

1. interleave: ``N_ROUNDS`` rounds of [probe, q1..qn] through
   tools/ab.py. The first round compiles each leg's generated classes;
   later rounds run warm while the legs' classes fit the session's
   generated-class cache together (``compiled_per_round`` shows it per
   leg). With Spark's 100-entry default, 11 legs + the probe recompiled
   in every other round — the "wide interleaves run cold" of
   ADJUDICATE_r15_close.json; at the session default (1000) they
   compile only in round one (ADJUDICATE_codegen_cache.json);
2. warm block: per query, ``N_WARM`` back-to-back samples after the
   interleave, then the probe again so late drift shows.

Verdict per query: in-band if EITHER control's ratio is within ``TOL``
times the frozen one (the r15 precedent: dedup_ngram_jaccard and
sessionize read 1.8x interleaved but 1.09/1.06 warm). ``flagged_on``
quotes the newest BENCH_rNN.json's ratio for the query against frozen.

Usage: python tools/adjudicate.py <query> [<query> ...] [--out PATH]
Env: N_ROUNDS (default 6), N_WARM (default 4), SPARK_GRAFT_SF_DIR.
Writes adjudicate.json in the working directory unless --out is given.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    sys.path.insert(0, ROOT)

PROBE = "pricing_summary"
TOL = 1.35
N_ROUNDS = int(os.environ.get("N_ROUNDS", "6"))
N_WARM = int(os.environ.get("N_WARM", "4"))


def load_frozen(names: list[str]) -> dict[str, float]:
    """Frozen ratios, read at run time so a re-freeze can't go stale."""
    with open(os.path.join(ROOT, "BASELINE_RATIO.json")) as f:
        d = json.load(f)
    table = {**d["ratio_to_probe"], **d["extra_ratio_to_probe"]}
    missing = [n for n in names if n not in table]
    if missing:
        raise SystemExit(f"not in BASELINE_RATIO.json: {missing}")
    return {n: float(table[n]) for n in names}


def flagged_on(names: list[str], frozen: dict[str, float]) -> dict[str, str]:
    """Each query's ratio in the newest driver bench record vs frozen."""
    from tools.bench_diff import load_record

    paths = sorted(
        glob.glob(os.path.join(ROOT, "BENCH_r[0-9][0-9].json")),
        key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)),
    )
    if not paths:
        return {n: "no bench record" for n in names}
    tag = os.path.basename(paths[-1])[: -len(".json")]
    ratios = {**load_record(paths[-1], extra=True)[0], **load_record(paths[-1], extra=False)[0]}
    return {
        n: f"{tag} {ratios[n] / frozen[n]:.2f}x vs frozen" if n in ratios else f"not in {tag}"
        for n in names
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--out", default="adjudicate.json")
    args = ap.parse_args()
    names = args.queries

    import __spark_entry__ as entrymod
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import get_spark
    from tools.ab import InProcess, default_sf_dir, interleave, warm_up
    from tools.drift import py_probe

    frozen = load_frozen(names)
    flags = flagged_on(names, frozen)
    sf_dir = default_sf_dir()
    spark = get_spark("caf-adjudicate")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    warm_up(spark, qs, sf_dir)

    legs = {n: InProcess(n, spark, {n: lambda n=n: qs[n](spark, sf_dir)}) for n in [PROBE, *names]}
    rec = interleave(list(legs.values()), N_ROUNDS, each_round=py_probe)
    inter = {n: leg["cells"][n]["samples"] for n, leg in rec["legs"].items()}
    compiled = {n: leg["cells"][n]["compiled"] for n, leg in rec["legs"].items()}
    warm = {}
    for n in names:
        warm[n] = legs[n].run(N_WARM)[0][n]
        print(json.dumps({"warm": n, "sec": warm[n]}), flush=True)
    warm_probe = legs[PROBE].run(3)[0][PROBE]

    probe_min = min(min(inter[PROBE]), min(warm_probe))
    out: dict = {
        "_provenance": (
            f"Ratio test of {', '.join(names)} against frozen BASELINE_RATIO.json "
            f"ratios: {rec['method']} ({len(names)} query legs + the {PROBE} probe), "
            f"then {N_WARM} warm-consecutive samples per query, at "
            f"{os.path.basename(sf_dir.rstrip('/'))}, min basis."
        ),
        "probe_min": round(probe_min, 3),
        "probe_rounds": inter[PROBE],
        "probe_compiled_per_round": compiled[PROBE],
        "probe_after_warm": warm_probe,
        "py_probe_per_round": rec["each_round"],
        "queries": {},
    }
    n_elevated = 0
    for n in names:
        ratio_i = min(inter[n]) / probe_min
        ratio_w = min(warm[n]) / probe_min
        rel_i = ratio_i / frozen[n]
        rel_w = ratio_w / frozen[n]
        ok = rel_i <= TOL or rel_w <= TOL
        n_elevated += not ok
        out["queries"][n] = {
            "interleaved_sec": inter[n],
            "compiled_per_round": compiled[n],
            "warm_sec": warm[n],
            "ratio_interleaved": round(ratio_i, 3),
            "ratio_warm": round(ratio_w, 3),
            "frozen": frozen[n],
            "flagged_on": flags[n],
            "rel_interleaved": round(rel_i, 2),
            "rel_warm": round(rel_w, 2),
            "verdict": "in-band (flag = host variance)"
            if ok
            else "ELEVATED on both controls — fix or re-freeze",
        }
        print(json.dumps({n: out["queries"][n]}), flush=True)
    out["n_elevated"] = n_elevated

    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
