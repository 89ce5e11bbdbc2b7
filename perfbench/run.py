"""Benchmark of the tower ETL and the corpus dedup operators.

Run from the repository root:

    python3 perfbench/run.py --workload tower_backfill --seed 1 --seconds 10 --trace 0

``--trace 0`` times passes for ``--seconds`` seconds after an untimed warm-up,
checks every pass's output against the generator's truth, and prints every
end-to-end metric of BENCHMARK.json. ``--trace 1`` runs one traced pass and
prints every per-layer metric. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Workloads, sizes
and the metric definitions are in NOTES.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# the package and pyspark are imported before anything is written: in a
# directory without the package the run fails here, printing no result
import corpus  # noqa: E402
import harness  # noqa: E402
import tower  # noqa: E402

# the largest that fit the time budget; the scan behind them is in NOTES.md
SIZES = {
    "tower_backfill": {"sites": 1, "days": 30},
    "tower_append": {"sites": 1, "days": 30, "increments": 1},
    "corpus_dedup": {"docs": 3000, "words": 60, "dim": 16},
}
# the first timed pass still runs 5-20% slower than the next: the median
# of two passes halved the run-to-run spread of one
MIN_PASSES = 2


def _workload(name, spark, work, seed, size):
    if name == "corpus_dedup":
        return corpus.CorpusWorkload(spark, work, seed, **size)
    return tower.TowerWorkload(name, spark, work, seed, **size)


def _timed(wl, session, seconds) -> tuple[int, int, dict, list[str]]:
    """An untimed warm-up, then passes until ``seconds`` of pass time have
    passed and at least ``MIN_PASSES`` ran. Every timed pass is checked."""
    attempted = failed = 0
    notes: list[str] = []
    passes = []

    def one_pass():
        nonlocal attempted, failed
        pid = session.jvm_pid()
        harness.reset_peak_rss(pid)
        p = wl.run_pass()
        p["peak_rss_mb"] = harness.peak_rss_mb(pid)
        passes.append(p)
        n, fails, stats = wl.check()
        p.update(stats)
        attempted += len(p["job_s"]) + n
        failed += len(p["failed"]) + len(fails)
        notes.extend(p["failed"] + fails)

    t0 = time.perf_counter()
    wl.warm_up()
    notes.append(f"warm-up {time.perf_counter() - t0:.1f} s")
    clock = harness.Clock()
    while len(passes) < MIN_PASSES or sum(p["wall_s"] for p in passes) < seconds:
        one_pass()
    jobs = [t for p in passes for t in p["job_s"]]
    tail, pct = harness.tail(jobs)
    med = statistics.median
    last = passes[-1]
    metrics = {
        "setup_s": session.setup_s,
        "wall_s": med([p["wall_s"] for p in passes]),
        "rows_per_s": med([p["raw_rows"] / p["wall_s"] for p in passes]),
        "job_s_p50": med(jobs),
        "job_s_tail": tail,
        "peak_rss_mb": med([p["peak_rss_mb"] for p in passes]),
        "out_bytes_per_row": last["sink_bytes"] / last["sink_rows"],
        "write_amp": med([p["written_bytes"] / p["raw_bytes"] for p in passes]),
        "pair_recall": last["pair_recall"],
        "pair_precision": last["pair_precision"],
    }
    notes.append(
        f"cold set-up {session.setup_s:.3f} s, "
        f"passes {len(passes)} {[round(p['wall_s'], 3) for p in passes]}, jobs {len(jobs)}, job_s_tail is p{pct:g}, "
        f"host steal {clock.steal_share():.0%} of CPU time, "
        f"error_rate {failed / attempted:.6f} ({failed}/{attempted})"
    )
    return attempted, failed, metrics, notes


def _traced(wl, session) -> tuple[int, int, dict, list[str]]:
    """Warm-up, then one traced pass; per-layer metrics come from the
    spans and the event log, read after the session is closed."""
    wl.warm_up()
    tracer = harness.Tracer(session.spark)
    attempted, failed, notes = 1, 0, []
    try:
        rec = wl.trace_pass(tracer)
    except AssertionError as exc:
        return attempted, 1, {}, [str(exc)]
    session.close()
    log = harness.EventLog(session.log_dir)
    metrics = wl.trace_metrics(tracer, log, rec)
    metrics["session.get_spark_s"] = session.get_spark_s
    failed += metrics.get("plans.driver.jobs_failed", 0)
    notes.append(
        f"trace: accounted_share {metrics['trace.accounted_share']:.3f}, "
        f"overhead {metrics['trace.overhead_s']:.3f} s"
    )
    return attempted, failed, metrics, notes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", action="append", default=[], metavar="KEY=N",
                    help="override one size of the workload (the smoke test runs small)")
    args = ap.parse_args(argv)
    size = dict(SIZES[args.workload])
    for item in args.size:
        key, _, n = item.partition("=")
        if key not in size or not n.isdigit():
            ap.error(f"--size {item}: expected one of {sorted(size)} = a whole number")
        size[key] = int(n)
    t_run = time.perf_counter()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temporary file of Python, the JVM and its workers inside
    # the work directory; drop overrides of the package's session defaults
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    # the checks read timestamps back into Python as UTC wall-clock values
    os.environ["TZ"] = "UTC"
    time.tzset()
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    session = harness.Session(work, trace=bool(args.trace))
    notes: list[str] = []
    try:
        spark = session.start()
        t_inputs = time.perf_counter()
        wl = _workload(args.workload, spark, work, args.seed, size)
        notes.append(
            f"phases: session set-up {t_inputs - t_run:.1f} s, workload set-up "
            f"{time.perf_counter() - t_inputs:.1f} s, size {size}"
        )
        if args.trace:
            attempted, failed, values, run_notes = _traced(wl, session)
        else:
            attempted, failed, values, run_notes = _timed(wl, session, args.seconds)
        notes += run_notes
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there

    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted}
    notes.append(f"run took {time.perf_counter() - t_run:.1f} s")
    for note in notes:
        print(note)
    for name, m in metrics.items():
        print(f"{name:44s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
