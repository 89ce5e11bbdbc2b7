"""Cross-round bench triage as a diff (VERDICT r10 #4 follow-through):
compare per-query `ratio_to_probe` between two bench records and flag
anything past the adjudication tolerance.

The ratio (min(query) / probe-bracket-mean) is the drift-cancelled
number the adjudicator decides on — diffing it across rounds replaces
the manual ratio-test runs for first-pass triage. Queries flagged here
(rel > TOL, the same 1.35x sub-second-noise bound
tools/adjudicate.py uses) still get the interleaved ratio test
before being called regressions; everything under it is noise by the
measured band.

Fixed-cost absolute-band rule (VERDICT r15 #2, generalizing the
DECISIONS r15 wav finding): queries that synthesize their payloads
in-query have flat absolute cost while the probe denominator swings
with host load, so a probe-ratio flag on one of them is first checked
against its recorded same-code absolute band
(BASELINE_RATIO.json `_abs_bands`): new abs min <= band-hi * 1.10 ->
IN-BAND(abs), a mechanical false flag, excluded from the adjudication
queue; above it -> real signal. The check needs the new record's
absolute seconds — available in every bench.py/driver record shape;
when absent (e.g. diffing two frozen-ratio files) the ratio flag
stands and is marked "no abs in record".

Accepts either record shape:
- the driver's BENCH_r{N}.json ({"parsed": {...}}),
- bench.py's own stdout line / BENCH_LOCAL_r{N}.txt (last JSON line),
- BENCH_extra.json sidecars (pass --extra old new).

Older records without ratio_to_probe fields fall back to
queries[k] / drift_probe (same quantity, single-probe precision).

Usage:
  python tools/bench_diff.py BENCH_r10.json BENCH_r11.json
  python tools/bench_diff.py --extra old_extra.json BENCH_extra.json
"""

from __future__ import annotations

import json
import os
import sys

TOL = 1.35
ABS_BAND_MARGIN = 1.10

_BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BASELINE_RATIO.json",
)


def abs_bands() -> dict[str, tuple[float, float]]:
    """The frozen fixed-cost bands — always read from the canonical
    BASELINE_RATIO.json at runtime (ADVICE r15 #3: no hand-copied
    literals that silently go stale on a re-freeze)."""
    try:
        d = json.load(open(_BASELINE_PATH))
    except (OSError, json.JSONDecodeError):
        return {}
    return {
        k: (float(v[0]), float(v[1]))
        for k, v in d.get("_abs_bands", {}).items()
        if not k.startswith("_")
    }


def _parse(path: str) -> dict:
    text = open(path).read()
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        lines = [l for l in text.splitlines() if l.startswith("{")]
        d = json.loads(lines[-1])
    if "parsed" in d:
        d = d["parsed"]
    return d


def load_record(path: str, extra: bool) -> tuple[dict, dict]:
    """-> (ratio_to_probe, absolute_seconds); either may be empty for
    record shapes that don't carry it (the frozen-ratio file has no
    absolutes; pre-r11 records have no ratios)."""
    d = _parse(path)
    if extra:
        ratios = d.get("extra_ratio_to_probe", {})
        absolute = d.get("extra", {})
        if not ratios:
            probe = d.get("drift_probe_extra") or 1.0
            ratios = {k: v / probe for k, v in absolute.items()}
        return ratios, absolute
    ratios = d.get("ratio_to_probe", {})
    absolute = d.get("queries", {})
    if not ratios:
        probe = d.get("drift_probe") or 1.0
        ratios = {k: v / probe for k, v in absolute.items()}
    return ratios, absolute


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--extra"]
    extra = "--extra" in sys.argv
    if len(args) != 2:
        print(__doc__)
        return 2
    (old, _), (new, new_abs) = (load_record(p, extra) for p in args)
    bands = abs_bands()
    rows = []
    for k, v in new.items():
        if k in old and old[k] > 0:
            rows.append((v / old[k], k, old[k], v))
    rows.sort(reverse=True)
    adjudicate = []
    print(f"{'query':30s} {'old':>8s} {'new':>8s} {'rel':>6s}")
    for rel, k, o, v in rows:
        mark = ""
        if rel > TOL:
            band = bands.get(k)
            a = new_abs.get(k)
            if band is not None and a is not None:
                lo, hi = band
                if a <= hi * ABS_BAND_MARGIN:
                    mark = (
                        f"  [IN-BAND(abs): {a:.3f}s vs same-code band "
                        f"{lo:.3f}-{hi:.3f}s — fixed-cost false flag]"
                    )
                else:
                    adjudicate.append(k)
                    mark = (
                        f"  <-- ADJUDICATE [OUT-OF-BAND(abs): {a:.3f}s "
                        f"> {hi:.3f}s*{ABS_BAND_MARGIN}]"
                    )
            elif band is not None:
                adjudicate.append(k)
                mark = "  <-- ADJUDICATE [fixed-cost query, no abs in record]"
            else:
                adjudicate.append(k)
                mark = "  <-- ADJUDICATE"
        print(f"{k:30s} {o:8.3f} {v:8.3f} {rel:6.2f}{mark}")
    fresh = sorted(set(new) - set(old))
    if fresh:
        print(f"new queries (no prior ratio): {', '.join(fresh)}")
    n_flag = sum(1 for r in rows if r[0] > TOL)
    print(
        f"\n{n_flag} / {len(rows)} past TOL={TOL}; "
        f"{len(adjudicate)} to adjudicate after the abs-band rule"
        + (
            " — run the interleaved ratio test on: " + ", ".join(adjudicate)
            if adjudicate
            else ""
        )
    )
    return 0


if __name__ == "__main__":
    main()
