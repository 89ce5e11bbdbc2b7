"""Session lifecycle, process memory, statistics, tracing spans and the
Spark event-log reader shared by the workloads."""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark import SparkContext

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import get_spark

#: Spark runs on this many local cores: 4, or fewer on a smaller machine
CORES = min(4, os.cpu_count() or 1)
# A fixed driver heap, touched when the JVM starts. Left to the package's
# default (8 GiB at most, grown by G1 as it sees fit), the resident set of
# the same pass read 3.1 to 4.6 GB from run to run, more than peak_rss_mb's
# bound; with the heap fixed, it moves with what the program adds beside
# the heap (metaspace, code cache, threads, off-heap buffers, Python
# workers). 2 GiB keeps every stage of both workloads from spilling.
_HEAP = "2g"


class Session:
    """The run's SparkSession, set up and torn down by the benchmark.

    ``start`` launches the JVM and measures the cold set-up: ``get_spark``
    alone, and ``get_spark`` up to the end of a first job. ``close`` stops
    the session, shuts the JVM down and waits for it to exit.
    """

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.log_dir = os.path.join(work, "eventlog") if trace else None
        self.spark = None
        self.get_spark_s = 0.0
        self.setup_s = 0.0

    def _conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": _HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{_HEAP} -XX:+AlwaysPreTouch"
            ),
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.log_dir:
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file://" + self.log_dir,
                }
            )
        return conf

    def start(self):
        clock = Clock()
        spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]", extra_conf=self._conf()
        )
        self.get_spark_s = clock.elapsed()
        spark.range(1000).selectExpr("sum(id)").collect()
        self.setup_s = clock.elapsed()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return spark

    def jvm_pid(self) -> int:
        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ------------------------------------------------------------------- clock


def _cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of this machine, summed over its CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


class Clock:
    """Wall time with the host's CPU steal taken out.

    On a virtual machine whose host is shared, the host can hold a runnable
    CPU back ("steal" in ``/proc/stat``); on a busy host this stretched the
    same pass from 7 s to 17 s. ``elapsed`` scales the wall time by the
    share of the CPU time the machine asked for that it got,
    ``busy / (busy + stolen)`` over the same interval. On an unshared host
    it is the wall time.
    """

    def __init__(self):
        self.t0 = time.perf_counter()
        self.busy0, self.steal0 = _cpu_ticks()

    def elapsed(self) -> float:
        wall = time.perf_counter() - self.t0
        busy, steal = _cpu_ticks()
        busy, steal = busy - self.busy0, steal - self.steal0
        return wall * busy / (busy + steal) if busy + steal else wall

    def steal_share(self) -> float:
        busy, steal = _cpu_ticks()
        busy, steal = busy - self.busy0, steal - self.steal0
        return steal / (busy + steal) if busy + steal else 0.0


# ------------------------------------------------------------------ memory


def _process_tree(root: int) -> list[int]:
    parent = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(stat.split("/")[2])] = int(fields[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree.extend(frontier)
    return tree


def reset_peak_rss(root: int) -> None:
    """Reset the kernel's peak-RSS mark (VmHWM) of ``root`` and its children."""
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(root: int) -> float:
    """Sum of VmHWM over ``root`` (the JVM) and its children (Python workers)."""
    total_kb = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


# -------------------------------------------------------------- statistics


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest of p99/p95/p90/p75 with at least ten samples above it,
    else the maximum. Returns ``(value, percentile)``."""
    s = sorted(xs)
    n = len(s)
    for pct in (99, 95, 90, 75):
        k = int(n * pct / 100)
        if n - k - 1 >= 10:
            return s[k], float(pct)
    return s[-1], 100.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring checksum and marker files."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return total, files


# ----------------------------------------------------------------- tracing


class Tracer:
    """Spans around calls into the package, each tagging its Spark jobs
    with a job group of its own so the event log attributes them.

    ``span`` times a layer's driver-side work. ``chain`` times cumulative
    prefixes of one composition: each step materializes the whole plan so
    far, and a step's self time is its time minus the previous step's.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0
        self.seconds: dict[str, float] = defaultdict(float)
        self.steps: list[tuple[str, str | None, str, float]] = []
        self.untimed()

    def untimed(self) -> None:
        self.sc.setJobGroup("untimed", "untimed")

    @contextmanager
    def span(self, layer: str):
        self.n += 1
        gid = f"{layer}#{self.n}"
        self.sc.setJobGroup(gid, layer)
        clock = Clock()
        try:
            yield gid
        finally:
            self.seconds[layer] += clock.elapsed()
            self.untimed()

    def chain(self) -> "Chain":
        return Chain(self)


class Chain:
    def __init__(self, tracer: Tracer):
        self.tr = tracer
        self.prev: tuple[str, float] | None = None

    def step(self, layer: str, action, cumulative: bool = True, prefix: bool = True):
        """Run ``action`` (a callable, or a DataFrame to materialize)
        under ``layer``'s job group; returns the action's result.
        ``cumulative``: the action's plan extends the last prefix, whose
        time is taken off. ``prefix``: the next step's plan extends this
        one; if not, it extends the last prefix before this step."""
        if not callable(action):
            df = action
            action = lambda: df.write.format("noop").mode("overwrite").save()
        clock = Clock()
        with self.tr.span(layer + ".prefix") as gid:
            out = action()
        took = clock.elapsed()
        prev = self.prev if cumulative else None
        self.tr.steps.append((layer, prev[0] if prev else None, gid, took - (prev[1] if prev else 0.0)))
        if prefix:
            self.prev = (gid, took)
        return out


class EventLog:
    """Per-job-group totals summed from Spark's uncompressed event log."""

    _FIELDS = ("jobs", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write",
               "spill", "input_bytes", "output_bytes")

    def __init__(self, log_dir: str):
        self.totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(self._FIELDS, 0))
        self.peak_mem: dict[str, int] = defaultdict(int)
        stage_group: dict[int, str] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "untimed")
                        self.totals[group]["jobs"] += 1
                        for sid in ev["Stage IDs"]:
                            stage_group.setdefault(sid, group)
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics")
                        group = stage_group.get(ev["Stage ID"], "untimed")
                        if not m:
                            continue
                        t = self.totals[group]
                        t["tasks"] += 1
                        t["run_ms"] += m["Executor Run Time"]
                        t["cpu_ns"] += m["Executor CPU Time"]
                        t["gc_ms"] += m["JVM GC Time"]
                        t["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                        t["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                        t["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                        t["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                        self.peak_mem[group] = max(self.peak_mem[group], m["Peak Execution Memory"])

    def get(self, group: str | None, field: str) -> float:
        if group is None:
            return 0
        return self.totals[group][field] if group in self.totals else 0

    def engine(self, groups: list[str], passes: int) -> dict[str, float]:
        """Per-pass engine totals over ``groups``."""
        def total(field):
            return sum(self.get(g, field) for g in groups) / passes

        return {
            "engine.jobs": total("jobs"),
            "engine.tasks": total("tasks"),
            "engine.executor_run_s": total("run_ms") / 1e3,
            "engine.executor_cpu_s": total("cpu_ns") / 1e9,
            "engine.gc_s": total("gc_ms") / 1e3,
            "engine.shuffle_write_bytes": total("shuffle_write"),
            "engine.spill_bytes": total("spill"),
            "engine.peak_exec_mem_bytes": max((self.peak_mem.get(g, 0) for g in groups), default=0),
        }


def layer_totals(tracer: Tracer, log: EventLog) -> dict[str, float]:
    """Self time and self shuffle bytes of every chained layer, summed over
    the trace: ``<layer>.self_s`` and ``<layer>.shuffle_bytes``. Each
    step's difference from the previous prefix counts at least 0: Catalyst
    can plan a longer prefix with fewer shuffles than a shorter one, and a
    layer that adds almost nothing can time below its prefix."""
    out: dict[str, float] = defaultdict(float)
    for layer, prev_gid, gid, self_s in tracer.steps:
        out[layer + ".self_s"] += max(0.0, self_s)
        for field, name in (("shuffle_write", "shuffle_bytes"), ("input_bytes", "input_bytes")):
            out[f"{layer}.{name}"] += max(0, log.get(gid, field) - log.get(prev_gid, field))
    return out


def digest(df) -> str:
    """Order-independent digest of a DataFrame's rows, by column name."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"
