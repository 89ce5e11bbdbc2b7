"""Rotation-debt report: how stale is each registry entry's newest
driver-green row?

The driver's correctness gate checks only the first ~50 queries()
entries per round, so with a 100+ entry registry the rotation must be
re-planned every round (no entry may go >2 rounds without a driver
row — the policy set in round 7 after 4 entries spilled). This tool
replaces the by-hand bookkeeping: it walks every CORRECTNESS_r0*.json
(driver rounds) plus CORRECTNESS_LOCAL_r0*.json (committed local
supplements), and prints per-entry staleness plus a suggested
next-round top-50 (stalest first, current registry order as the
tiebreak so family grouping survives).

Usage: python tools/rotation_debt.py [--suggest N]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    sys.path.insert(0, REPO)


def load_rounds() -> tuple[dict[str, int], dict[str, int], int]:
    """Returns (last_driver_green, last_local_green, latest_round)."""
    driver: dict[str, int] = {}
    local: dict[str, int] = {}
    latest = 0
    # NOTE: the glob must admit two-digit rounds — "_r0*" silently
    # dropped CORRECTNESS_LOCAL_r10.json and the registry looked
    # never-checked (caught by test_rotation_debt_tool_reads_records
    # the day round 10 landed); the _r(\d+) regex below does the real
    # filtering.
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS*_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        is_local = "LOCAL" in os.path.basename(path)
        try:
            data = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in data.items():
            if isinstance(row, dict) and row.get("hash_match"):
                tgt = local if is_local else driver
                if rnd > tgt.get(name, -1):
                    tgt[name] = rnd
    return driver, local, latest


def main() -> int:
    import __spark_entry__ as entrymod

    suggest = 50
    if "--suggest" in sys.argv:
        suggest = int(sys.argv[sys.argv.index("--suggest") + 1])
    driver, local, latest = load_rounds()
    order = list(entrymod.queries())
    rows = []
    for pos, name in enumerate(order, 1):
        d = driver.get(name)
        l = local.get(name)
        stale = latest - d if d is not None else 10**6
        rows.append((stale, pos, name, d, l))
    print(f"latest recorded round: r{latest}; registry: {len(order)} entries\n")
    print(f"{'pos':>4} {'query':<34} {'driver':>7} {'local':>6} {'stale':>6}")
    for stale, pos, name, d, l in rows:
        ds = f"r{d}" if d is not None else "never"
        ls = f"r{l}" if l is not None else "-"
        ss = "NEW" if stale >= 10**6 else str(stale)
        flag = " <-- overdue" if (stale > 2 and stale < 10**6) or ss == "NEW" else ""
        print(f"{pos:>4} {name:<34} {ds:>7} {ls:>6} {ss:>6}{flag}")
    # suggested next-round ordering: stalest first, registry order tiebreak
    ranked = sorted(rows, key=lambda r: (-min(r[0], 10**6), r[1]))
    names = [r[2] for r in ranked]
    print(f"\nsuggested next-round top-{suggest} (stalest first):")
    for i in range(0, min(suggest, len(names)), 5):
        print("  " + ", ".join(names[i : i + 5]))
    overdue = [r for r in rows if r[0] > 2]
    print(f"\noverdue (> 2 rounds since driver green): {len(overdue)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
