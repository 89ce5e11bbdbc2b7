"""Interleaved A/B runner: the one timing loop every comparison tool uses.

A *leg* is one side of a comparison that, asked for ``runs`` samples,
times each of its named cells that many times. Two kinds:

- :class:`InProcess` — cells are zero-argument callables returning a
  DataFrame, run in this process's Spark session (two implementations
  of one operator, or a set of registry queries);
- :class:`Child` — cells are registry query names run by a fresh Python
  process pinned to a source tree through ``PYTHONPATH`` (and cwd) plus
  an env overlay: two checkouts of the repo, or one checkout under two
  ``SPARK_GRAFT_CPUS`` values. A change to module-level code, or one
  that executors import from disk, can only be compared this way.

Every sample clears the cache, builds the frame and materializes it
through the ``noop`` sink. :func:`interleave` runs the legs round by
round, reversing the leg order every other round so neither side always
goes first; the record carries min, median and quartiles per leg and
cell, the generated classes each visit compiled (Spark's codegen cache
misses: a cell that keeps compiling runs cold, whatever its plan) and,
for child legs, which ``__spark_entry__`` the child actually
imported. A child is a fresh JVM, so it builds each query once untimed
before its samples.
With ``rows`` each leg also returns every cell's rows once, and cells
shared by several legs must agree as row sets under
``check_correctness.frame_to_rows``.

Usage (tree A/B of registry queries, ``ROUNDS`` rounds of ``RUNS``
samples, row sets always compared):

    python tools/ab.py [--out AB.json] old=<tree> new=<tree> <query> [<query> ...]

Each round gives one pair per query (the two legs' visit medians); the
record counts the pairs the later leg wins and calls the difference a
gain only when it wins nine in ten and the medians differ by more than
the first leg's interquartile range.

Env: SPARK_GRAFT_SF_DIR selects the data (default: the bench's sf0.1).
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import statistics
import subprocess
import sys
import tempfile
import time
from typing import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# loads this file by path inside the child, so the child's sys.path
# holds only the pinned tree (importing tools.ab would put whichever
# checkout comes first on the path in charge of the harness)
_CHILD = (
    "import importlib.util, sys\n"
    "spec = importlib.util.spec_from_file_location('_ab_child', sys.argv[1])\n"
    "mod = importlib.util.module_from_spec(spec)\n"
    "spec.loader.exec_module(mod)\n"
    "mod.child_main(sys.argv[2])\n"
)
_RESULT = "AB_RESULT "
_CHILD_TIMEOUT_S = 3600
# tree A/B from the command line: ten pairs per query, the fewest that
# can carry a nine-in-ten verdict
ROUNDS = 10
RUNS = 3


def default_sf_dir() -> str:
    """$SPARK_GRAFT_SF_DIR, else sf0.1 beside the entry module's sf0.001
    oracle tier (bench.py's default)."""
    if "SPARK_GRAFT_SF_DIR" in os.environ:
        return os.environ["SPARK_GRAFT_SF_DIR"]
    import __spark_entry__ as entrymod

    return os.path.join(os.path.dirname(entrymod.SF001), "sf0.1")


def warm_up(spark, qs, sf_dir: str) -> None:
    """JVM/codegen and the Python worker pool, off the timed path."""
    qs["wateryear_rollup"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def time_cell(spark, label: str, build: Callable) -> float:
    """One sample: clear caches, build, materialize through noop."""
    spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(f"ab: {label}")
    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    sec = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    return round(sec, 3)


def compiles(spark) -> int:
    """Generated classes this JVM has compiled so far: the misses of
    Spark's codegen cache (``CodegenMetrics``)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_cells(spark, builds: dict[str, Callable], runs: int, keep_rows: bool):
    """``(samples, compiled, rows)``: ``runs`` timings per cell, the
    classes compiled over each cell's timed samples, and (``keep_rows``)
    each cell's rows."""
    samples, compiled = {}, {}
    for label, b in builds.items():
        before = compiles(spark)
        samples[label] = [time_cell(spark, label, b) for _ in range(runs)]
        compiled[label] = compiles(spark) - before
    rows = {label: b().toPandas() for label, b in builds.items()} if keep_rows else None
    return samples, compiled, rows


class InProcess:
    """A leg whose cells run in this process's session."""

    def __init__(self, name: str, spark, builds: dict[str, Callable]):
        self.name, self.spark, self.builds = name, spark, builds

    def run(self, runs: int, keep_rows: bool = False):
        return _run_cells(self.spark, self.builds, runs, keep_rows)


class Child:
    """A leg whose cells are registry queries run by a child Python
    pinned to ``tree``; ``env`` overlays the inherited environment (a
    ``None`` value unsets the variable)."""

    def __init__(self, name: str, tree: str, queries: list[str], sf_dir: str,
                 env: dict[str, str | None] | None = None):
        self.name, self.tree, self.queries, self.sf_dir = name, os.path.abspath(tree), queries, sf_dir
        self.env = env or {}
        self.entry = None

    def run(self, runs: int, keep_rows: bool = False):
        env = {**os.environ, "PYTHONPATH": self.tree}
        for k, v in self.env.items():
            if v is None:
                env.pop(k, None)
            else:
                env[k] = v
        with tempfile.TemporaryDirectory(prefix="ab_rows_") as rows_dir:
            spec = {"queries": self.queries, "runs": runs, "sf_dir": self.sf_dir,
                    "rows_dir": rows_dir if keep_rows else None}
            p = subprocess.run(
                [sys.executable, "-c", _CHILD, os.path.abspath(__file__), json.dumps(spec)],
                cwd=self.tree, env=env, capture_output=True, text=True, timeout=_CHILD_TIMEOUT_S,
            )
            got = [ln for ln in p.stdout.splitlines() if ln.startswith(_RESULT)]
            if p.returncode != 0 or not got:
                raise RuntimeError(
                    f"leg {self.name} ({self.tree}) failed rc={p.returncode}:\n"
                    f"{p.stdout[-2000:]}\n{p.stderr[-4000:]}"
                )
            res = json.loads(got[-1][len(_RESULT):])
            self.entry = res["entry"]
            rows = None
            if keep_rows:
                rows = {}
                for q in self.queries:
                    # written by this harness's own child a moment ago
                    with open(os.path.join(rows_dir, f"{q}.pkl"), "rb") as f:
                        rows[q] = pickle.load(f)
        return res["samples"], res["compiled"], rows


def child_main(spec_json: str) -> None:
    """Body of a :class:`Child` process: time the pinned tree's queries."""
    spec = json.loads(spec_json)
    import __spark_entry__ as entrymod
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import get_spark

    spark = get_spark("caf-ab-leg")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    sf_dir = spec["sf_dir"]
    warm_up(spark, qs, sf_dir)
    builds = {q: (lambda q=q: qs[q](spark, sf_dir)) for q in spec["queries"]}
    # untimed: each query's first build in a fresh JVM is cold
    for q, build in builds.items():
        time_cell(spark, q, build)
    samples, compiled, rows = _run_cells(spark, builds, spec["runs"], spec["rows_dir"] is not None)
    for q, frame in (rows or {}).items():
        with open(os.path.join(spec["rows_dir"], f"{q}.pkl"), "wb") as f:
            pickle.dump(frame, f)
    print(_RESULT + json.dumps({"samples": samples, "compiled": compiled,
                                "entry": os.path.abspath(entrymod.__file__)}), flush=True)
    spark.stop()


def compare_rows(rows_by_leg: dict[str, dict]) -> dict[str, dict]:
    """Per cell shared by two or more legs: do all legs return the same
    row set (order-insensitive, check_correctness canonical form)?"""
    from tools.check_correctness import frame_to_rows

    out: dict[str, dict] = {}
    labels = {label for rows in rows_by_leg.values() for label in rows}
    for label in sorted(labels):
        have = {leg: rows[label] for leg, rows in rows_by_leg.items() if label in rows}
        if len(have) < 2:
            continue
        canon = {leg: frame_to_rows(frame) for leg, frame in have.items()}
        first = next(iter(canon.values()))
        out[label] = {
            "equal": all(c == first for c in canon.values()),
            "rows": {leg: len(c[1]) for leg, c in canon.items()},
        }
    return out


def interleave(legs: list, rounds: int, runs: int = 1, *, each_round: Callable | None = None,
               rows: bool = False) -> dict:
    """Run ``legs`` for ``rounds`` rounds, ``runs`` samples per cell per
    visit, reversing the leg order every other round. ``each_round`` (a
    drift probe, say) runs at the top of every round and its readings
    are returned under ``each_round``. With ``rows``, every leg returns
    its rows on the first visit and shared cells are compared."""
    samples: dict[str, dict[str, list[float]]] = {leg.name: {} for leg in legs}
    compiled: dict[str, dict[str, list[int]]] = {leg.name: {} for leg in legs}
    per_round = []
    rows_by_leg: dict[str, dict] = {}
    for r in range(rounds):
        if each_round is not None:
            per_round.append(each_round())
        for leg in legs if r % 2 == 0 else legs[::-1]:
            got, got_compiled, leg_rows = leg.run(runs, keep_rows=rows and leg.name not in rows_by_leg)
            if leg_rows is not None:
                rows_by_leg[leg.name] = leg_rows
            for label, s in got.items():
                samples[leg.name].setdefault(label, []).extend(s)
                compiled[leg.name].setdefault(label, []).append(got_compiled[label])
        print(json.dumps({"round": r, **{k: {q: v[-runs:] for q, v in d.items()} for k, d in samples.items()}}),
              flush=True)
    record = {
        "method": (
            f"{rounds} interleaved rounds (leg order reversed every other round), "
            f"{runs} sample(s) per cell per visit, noop sink, caches cleared; "
            "compiled = generated classes compiled over each visit's samples"
        ),
        "legs": {
            leg.name: {
                **(_entry_fields(leg) if isinstance(leg, Child) else {}),
                "cells": summarize(samples[leg.name], compiled[leg.name]),
            }
            for leg in legs
        },
    }
    if each_round is not None:
        record["each_round"] = per_round
    if rows:
        record["rows"] = compare_rows(rows_by_leg)
    return record


def _entry_fields(leg: Child) -> dict:
    """Which ``__spark_entry__`` the child imported: relative to the
    tree's parent when it came from the pinned tree, absolute if not."""
    tree = os.path.realpath(leg.tree)
    entry = os.path.realpath(leg.entry)
    in_tree = os.path.commonpath([entry, tree]) == tree
    return {
        "tree": os.path.basename(tree),
        "entry": os.path.relpath(entry, os.path.dirname(tree)) if in_tree else entry,
        "entry_in_tree": in_tree,
    }


def summarize(cells: dict[str, list[float]], compiled: dict[str, list[int]]) -> dict[str, dict]:
    out = {}
    for label, s in cells.items():
        q1, med, q3 = statistics.quantiles(s, n=4) if len(s) > 1 else (s[0],) * 3
        out[label] = {"min": min(s), "median": round(statistics.median(s), 3),
                      "q1": round(q1, 3), "q3": round(q3, 3), "samples": s,
                      "compiled": compiled[label]}
    return out


def pair_verdict(base: list[float], other: list[float], runs: int) -> dict:
    """Pairs = per-round visit medians of two legs (``runs`` samples per
    visit). ``gain`` when ``other`` is faster in at least nine tenths of
    the pairs (ties count for neither) and the medians differ by more
    than ``base``'s interquartile range; ``loss`` symmetrically; else
    ``unresolved``."""
    a = [statistics.median(base[i:i + runs]) for i in range(0, len(base), runs)]
    b = [statistics.median(other[i:i + runs]) for i in range(0, len(other), runs)]
    wins = sum(y < x for x, y in zip(a, b))
    losses = sum(y > x for x, y in zip(a, b))
    q1, _, q3 = statistics.quantiles(base, n=4) if len(base) > 1 else (base[0],) * 3
    gap = statistics.median(base) - statistics.median(other)
    verdict = "unresolved"
    if wins >= 0.9 * len(a) and gap > q3 - q1:
        verdict = "gain"
    elif losses >= 0.9 * len(a) and -gap > q3 - q1:
        verdict = "loss"
    return {"pairs": len(a), "wins": wins, "losses": losses,
            "median_gap_sec": round(gap, 3), "base_iqr_sec": round(q3 - q1, 3), "verdict": verdict}


def main() -> int:
    ap = argparse.ArgumentParser(description="Interleaved tree A/B of registry queries.")
    ap.add_argument("--out", help="write the JSON record here")
    ap.add_argument("items", nargs="+", help="label=tree legs, then query names")
    args = ap.parse_args()
    trees = [a.split("=", 1) for a in args.items if "=" in a]
    queries = [a for a in args.items if "=" not in a]
    if len(trees) < 2 or not queries:
        ap.error("need at least two label=tree legs and one query")
    sf_dir = default_sf_dir()
    legs = [Child(label, tree, queries, sf_dir) for label, tree in trees]
    record = {"queries": queries, "sf_dir": os.path.basename(sf_dir.rstrip("/")),
              **interleave(legs, ROUNDS, RUNS, rows=True)}
    # > 1: the other leg is faster than the first, on the min basis
    first, *rest = [leg.name for leg in legs]
    cells = {name: leg["cells"] for name, leg in record["legs"].items()}
    record["min_speedup_vs_first"] = {
        q: {other: round(cells[first][q]["min"] / cells[other][q]["min"], 3) for other in rest}
        for q in queries
    }
    record["pairs_vs_first"] = {
        q: {other: pair_verdict(cells[first][q]["samples"], cells[other][q]["samples"], RUNS)
            for other in rest}
        for q in queries
    }
    text = json.dumps(record, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    unequal = [q for q, r in record["rows"].items() if not r["equal"]]
    misplaced = [name for name, leg in record["legs"].items() if not leg["entry_in_tree"]]
    if misplaced:
        print(f"legs imported __spark_entry__ from outside their tree: {misplaced}", file=sys.stderr)
    if unequal:
        print(f"row sets differ across legs: {unequal}", file=sys.stderr)
    return 1 if unequal or misplaced else 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
