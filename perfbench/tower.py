"""Tower workloads: ``tower_backfill`` (cold reprocess of a window into an
empty sink) and ``tower_append`` (daily increments on top of an aggregated
history). Both drive ``plans.driver.run_tower_job`` once per (site, table),
each table into its own sink root, with explicit start and end dates."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.config import SiteConfig
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.functions.time import (
    water_year,
    water_year_of,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.dedup import dedup_keep_richest
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.gapfill import gap_fill
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.incremental import (
    high_watermark_date,
    resolve_window,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.unions import union_by_name
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.plans.driver import run_tower_job
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.plans.pipeline import aggregate_pipeline
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.qc.grade import grade_cs
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.qc.metqc import (
    MET_FLUX_MAPPING,
    MET_MET_MAPPING,
    met_qaqc,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.schemas import (
    get_full_schema,
    to_canonical,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.sources.sinks import write_partitioned
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.sources.toa5 import read_toa5

import gen
from harness import CORES, Clock, EventLog, Tracer, dir_bytes, digest, layer_totals

TS = "TIMESTAMP"
VER = "V40826"
ONE_DAY = dt.timedelta(days=1)


class Job:
    """One (site, table) run_tower_job call of a pass."""

    def __init__(self, site, table, raw, start, end, raw_rows, raw_bytes, append):
        self.site, self.table, self.raw = site, table, raw
        self.start, self.end = start, end
        self.raw_rows, self.raw_bytes = raw_rows, raw_bytes
        self.append = append


class TowerWorkload:
    """Inputs, sinks and passes of one tower workload.

    ``tower_backfill``: one pass runs every (site, table) job cold over
    ``[first, last]`` into an empty sink. ``tower_append``: set-up
    aggregates ``[first, d0]`` into a snapshot and ``[first, last]`` into
    the reference the check compares against; one pass restores the sink to
    the snapshot and runs ``increments`` daily jobs per (site, table), each
    reading its previous aggregate back from the sink.
    """

    def __init__(self, name, spark, work, seed, sites, days, increments=0):
        self.name, self.spark, self.work = name, spark, work
        self.sites = [f"S{i}" for i in range(sites)]
        self.append = name == "tower_append"
        total_days = days + increments
        self.truth = gen.tower_inputs(os.path.join(work, "inputs"), seed, self.sites, total_days)
        self.first = gen.WATER_YEAR_START
        self.last = self.first + dt.timedelta(days=total_days - 1)
        self.d0 = self.first + dt.timedelta(days=days - 1)
        self.sinks = {t: os.path.join(work, "sink", t) for t in gen.TABLES}
        self.expected_digest: dict[str, str] = {}
        if self.append:
            # the history, and the backfill of the same days that every
            # pass's sink must equal, side by side
            self.snapshot = {t: os.path.join(work, "snapshot", t) for t in gen.TABLES}
            reference = {t: os.path.join(work, "reference", t) for t in gen.TABLES}
            self._side_by_side(
                [(job, self.snapshot) for job in self._backfill_jobs(self.d0)]
                + [(job, reference) for job in self._backfill_jobs(self.last)]
            )
            for t in gen.TABLES:
                self.expected_digest[t] = digest(self.spark.read.parquet(reference[t]))

    # ------------------------------------------------------------ job list

    def _backfill_jobs(self, last):
        jobs = []
        for table in gen.TABLES:
            for site in self.sites:
                info = self.truth["jobs"][f"{site}/{table}"]
                days = [d for day, d in info["days"].items() if day <= last.isoformat()]
                jobs.append(Job(
                    site, table, info["glob"], self.first, last,
                    sum(d["raw_rows"] for d in days),
                    sum(d["raw_bytes"] for d in days) + info["junk_bytes"],
                    append=False,
                ))
        return jobs

    def jobs(self):
        if not self.append:
            return self._backfill_jobs(self.last)
        jobs = []
        day = self.d0 + ONE_DAY
        while day <= self.last:
            for table in gen.TABLES:
                for site in self.sites:
                    info = self.truth["jobs"][f"{site}/{table}"]
                    d = info["days"][day.isoformat()]
                    # one day of new files; the month folder's junk file is
                    # picked up with them, as a folder glob would
                    jobs.append(Job(
                        site, table, d["files"] + [info["junk"]], day - ONE_DAY, day,
                        d["raw_rows"], d["raw_bytes"] + info["junk_bytes"], append=True,
                    ))
            day += ONE_DAY
        return jobs

    def warm_up(self) -> None:
        """Untimed: the jobs of a pass, the tables side by side."""
        warm = {t: os.path.join(self.work, "warm", t) for t in gen.TABLES}
        self.reset(warm)
        self._side_by_side([(job, warm) for job in self.jobs()])

    def _side_by_side(self, runs) -> None:
        """Untimed set-up: run ``(job, sinks)`` pairs, those writing one
        sink table in order, different ones in threads side by side."""
        lanes: dict[str, list[Job]] = {}
        for job, sinks in runs:
            lanes.setdefault(sinks[job.table], []).append(job)

        def run(sink, jobs):
            for job in jobs:
                self._run(job, {job.table: sink})

        with ThreadPoolExecutor(max_workers=CORES) as pool:
            for f in [pool.submit(run, sink, jobs) for sink, jobs in lanes.items()]:
                f.result()

    def reset(self, sinks) -> None:
        """Empty sinks (backfill) or the aggregated history (append); untimed."""
        for table, path in sinks.items():
            shutil.rmtree(path, ignore_errors=True)
            if self.append:
                shutil.copytree(self.snapshot[table], path)

    def _previous(self, sink, site, day):
        return self.spark.read.parquet(sink).filter(
            (F.col("site") == site) & (F.col("wateryear") == water_year_of(day))
        )

    def _run(self, job: Job, sinks) -> None:
        prev = self._previous(sinks[job.table], job.site, job.end) if job.append else None
        run_tower_job(
            self.spark, SiteConfig(site=job.site), job.table, job.raw, sinks[job.table],
            previous_aggregate=prev, start_date=job.start, end_date=job.end,
            full_layout=True,
        )

    def partition_bytes(self, sinks, job: Job) -> int:
        part = os.path.join(
            sinks[job.table], f"site={job.site}", f"wateryear={water_year_of(job.end)}"
        )
        return dir_bytes(part)[0]

    # ---------------------------------------------------------------- pass

    def run_pass(self) -> dict:
        """One timed pass. Returns wall time, per-job latencies, counts of
        raw input and sink output, and failed jobs."""
        sinks = self.sinks
        self.reset(sinks)
        jobs = self.jobs()
        times, written, failed = [], 0, []
        wall = 0.0
        for job in jobs:
            clock = Clock()
            try:
                self._run(job, sinks)
            except Exception as exc:  # noqa: BLE001 - a raised job is a counted failure
                failed.append(f"{job.site}/{job.table}: {type(exc).__name__}: {exc}")
            took = clock.elapsed()
            wall += took
            times.append(took)
            written += self.partition_bytes(sinks, job)
        return {
            "wall_s": wall,
            "job_s": times,
            "raw_rows": sum(j.raw_rows for j in jobs),
            "raw_bytes": sum(j.raw_bytes for j in jobs),
            "written_bytes": written,
            "jobs": len(jobs),
            "failed": failed,
        }

    # -------------------------------------------------------------- checks

    def check(self) -> tuple[int, list[str], dict]:
        """Check the last pass's sinks against the generator's truth, and
        after an append pass, against a backfill of the same days. Returns
        (checks attempted, failed checks' messages, stats of the sink and of
        the duplicate decisions)."""
        sinks = self.sinks
        attempted, failures = 0, []
        stats = {"sink_rows": 0, "sink_bytes": 0}
        tally = {"planted": 0, "resolved": 0, "wrong": 0}
        for table in gen.TABLES:
            out = self.spark.read.parquet(sinks[table])
            fails, t, got = check_sink(out, self.truth, table, self.sites, self.first, self.last)
            if self.append:
                want = self.expected_digest[table]
                fails["incremental"] = [] if got == want else [
                    f"{table}: sink after append {got} != backfill of the same days {want}"
                ]
            attempted += len(fails)
            failures += [msgs[0] for msgs in fails.values() if msgs]
            for k in tally:
                tally[k] += t[k]
            stats["sink_rows"] += int(got.split(":")[0])
            stats["sink_bytes"] += dir_bytes(sinks[table])[0]
        stats["pair_recall"] = tally["resolved"] / max(tally["planted"], 1)
        stats["pair_precision"] = tally["resolved"] / max(tally["resolved"] + tally["wrong"], 1)
        return attempted, failures, stats

    # --------------------------------------------------------------- trace

    def trace_pass(self, tracer: Tracer) -> dict:
        """Run every job twice, interleaved: once as ``run_tower_job`` into
        its own sinks, once rebuilt from the same public functions with
        cumulative prefixes materialized per layer into traced sinks.
        Returns the spans' raw inputs for :meth:`trace_metrics`."""
        real = {t: os.path.join(self.work, "real", t) for t in gen.TABLES}
        traced = {t: os.path.join(self.work, "traced", t) for t in gen.TABLES}
        self.reset(real)
        self.reset(traced)
        rec = {"real_s": [], "traced_s": 0.0, "real_groups": [], "failed": 0,
               "counts": {}, "written": [0, 0]}
        counts = rec["counts"]
        for job in self.jobs():
            clock = Clock()
            try:
                with tracer.span("plans.driver") as gid:
                    self._run(job, real)
            except Exception:  # noqa: BLE001 - counted, not fatal
                rec["failed"] += 1
            rec["real_s"].append(clock.elapsed())
            rec["real_groups"].append(gid)
            clock = Clock()
            self._traced_job(tracer, job, traced, counts)
            rec["traced_s"] += clock.elapsed()
        for table in gen.TABLES:
            a = digest(self.spark.read.parquet(real[table]))
            b = digest(self.spark.read.parquet(traced[table]))
            if a != b:
                raise AssertionError(f"traced {table} output {b} != run_tower_job output {a}")
            nbytes, nfiles = dir_bytes(traced[table])
            rec["written"][0] += nbytes
            rec["written"][1] += nfiles
        return rec

    def _traced_job(self, tr: Tracer, job: Job, sinks, counts) -> None:
        spark, table = self.spark, job.table
        cfg = SiteConfig(site=job.site)

        def add(key, value):
            counts[key] = counts.get(key, 0) + value

        with tr.span("schemas.construct"):
            schema = get_full_schema(table, "Raw", VER)
        with tr.span("sources.toa5.construct"):
            raw = read_toa5(spark, job.raw, schema, ts_col=TS)
        with tr.span("schemas.construct"):
            raw = to_canonical(raw, table, VER)
        # a backfill job has no previous aggregate: these spans then time
        # only the skipped branch, as run_tower_job takes it
        with tr.span("sources.sinks.read"):
            prev = self._previous(sinks[table], job.site, job.end) if job.append else None
        with tr.span("operators.incremental.watermark"):
            watermark = high_watermark_date(prev, TS) if prev is not None else None
        start, end = resolve_window(job.start, job.end, latest_aggregated=watermark)
        raw = raw.filter(F.to_date(F.col(TS)).between(F.lit(start), F.lit(end)))
        freq = gen.FREQ_MINUTES[table]
        flux_cfg = cfg.qc if table == "Flux" else None
        with tr.span("plans.pipeline.construct"):
            full = aggregate_pipeline(
                raw, previous_aggregate=prev, table=table, freq_minutes=freq,
                ts_col=TS, flux_cfg=flux_cfg,
            )
        add("plans.pipeline.catalyst_s", catalyst_seconds(full))

        chain = tr.chain()
        chain.step("sources.toa5", raw)
        add("sources.toa5.rows_in", job.raw_rows + self.truth["junk_rows"])
        add("sources.toa5.rows_kept", raw.count())
        df = union_by_name([prev, raw]) if prev is not None else raw
        df = df.filter(F.col("RECORD").isNotNull())
        add("operators.dedup.rows_in", df.count())
        deduped = dedup_keep_richest(df, keys=[TS], record_col="RECORD")
        chain.step("operators.dedup", deduped)
        n_dedup = deduped.count()
        add("operators.dedup.rows_out", n_dedup)
        filled = gap_fill(deduped, ts_col=TS, freq_minutes=freq)
        chain.step("operators.gapfill", filled)
        add("operators.gapfill.ticks_inserted", filled.count() - n_dedup)
        if table == "Flux":
            graded = met_qaqc(grade_cs(filled, flux_cfg), MET_FLUX_MAPPING, ts_col=TS)
        else:
            graded = met_qaqc(filled, MET_MET_MAPPING, ts_col=TS)
        chain.step("qc", graded)
        add("qc.flags_raised", flags_raised(graded))
        out = graded.withColumn("site", F.lit(job.site)).withColumn(
            "wateryear", water_year(F.col(TS))
        )
        if prev is not None:
            out = chain.step("sources.sinks.checkpoint", lambda: out.localCheckpoint(eager=True))
            chain.step("sources.sinks.write", lambda: write_partitioned(out, sinks[table]), cumulative=False)
        else:
            chain.step("sources.sinks.write", lambda: write_partitioned(out, sinks[table]))

    def trace_metrics(self, tracer: Tracer, log: EventLog, rec: dict) -> dict:
        m = dict(rec["counts"])
        m.update(layer_totals(tracer, log))
        for layer in ("schemas.construct", "sources.toa5.construct",
                      "operators.incremental.watermark", "plans.pipeline.construct"):
            m[layer + "_s"] = tracer.seconds.get(layer, 0.0)
        m["sources.toa5.bytes_read"] = m.pop("sources.toa5.input_bytes", 0)
        m["sources.sinks.write_s"] = m.pop("sources.sinks.write.self_s", 0.0)
        m["sources.sinks.checkpoint_s"] = m.pop("sources.sinks.checkpoint.self_s", 0.0)
        m["sources.sinks.read_s"] = tracer.seconds.get("sources.sinks.read", 0.0)
        m["sources.sinks.bytes_written"] = rec["written"][0]
        m["sources.sinks.files_written"] = rec["written"][1]
        m["plans.driver.job_s"] = statistics.median(rec["real_s"])
        m["plans.driver.spark_jobs"] = statistics.median([log.get(g, "jobs") for g in rec["real_groups"]])
        m["plans.driver.jobs_failed"] = rec["failed"]
        m.update(log.engine(rec["real_groups"], passes=1))
        spans = sum(tracer.seconds.get(k, 0.0) for k in (
            "schemas.construct", "sources.toa5.construct", "sources.sinks.read",
            "operators.incremental.watermark", "plans.pipeline.construct"))
        spans += sum(s for _, _, _, s in tracer.steps)
        m["trace.traced_wall_s"] = rec["traced_s"]
        m["trace.untraced_wall_s"] = sum(rec["real_s"])
        m["trace.overhead_s"] = rec["traced_s"] - sum(rec["real_s"])
        m["trace.accounted_share"] = spans / sum(rec["real_s"])
        return m


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning time of ``df``'s plan, from its
    QueryPlanningTracker (forces physical planning, runs no job)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1e3


def flags_raised(df) -> int:
    """QC failures in a graded frame: failed boolean tests plus '1' chars
    of the flux flag strings."""
    terms = []
    for name, typ in df.dtypes:
        if typ == "boolean" and name.endswith(("_Hard_Limit", "_Change")):
            terms.append(F.sum((~F.col(name)).cast("long")))
        elif name.endswith("_Flags"):
            terms.append(F.sum(F.length(F.col(name)) - F.length(F.regexp_replace(F.col(name), "1", ""))))
    total = F.lit(0)
    for t in terms:
        total = total + F.coalesce(t, F.lit(0))
    return int(df.agg(total.alias("n")).first()["n"] or 0)


def check_sink(out, truth: dict, table: str, sites, first, last) -> tuple[dict, dict, str]:
    """Correctness of one table's sink over ``[first, last]``, from one
    collect of the sink. Returns the failures of each check (an empty list
    when it passed) and the deduplication tally behind
    ``pair_recall``/``pair_precision``:

    - ``spine``: every (site, day) has exactly the spine tick count, no
      TIMESTAMP repeats, and exactly the generated ticks carry data;
    - ``junk``: the junk file adds no rows;
    - ``richest``: the planted richest row wins each duplicated tick;
    - ``nan``: planted NAN cells of winning rows are null.

    Also returns the sink's digest, the same value as ``harness.digest``.
    """
    fails: dict[str, list[str]] = {"spine": [], "junk": [], "richest": [], "nan": []}
    tally = {"planted": 0, "resolved": 0, "wrong": 0}
    marker = truth["tables"][table]["marker_col"]
    nan_cols = truth["tables"][table]["nan_cols"]
    rows = out.select(
        "site", TS, "RECORD", marker, *nan_cols, F.xxhash64(*sorted(out.columns)).alias("_h")
    ).collect()
    sink_digest = f"{len(rows)}:{sum(r['_h'] for r in rows)}"
    got: dict[tuple[str, str], dict] = {}
    by_tick = {}
    for r in rows:
        d = got.setdefault((r["site"], r[TS].date().isoformat()), {"n": 0, "ticks": set(), "data": 0})
        d["n"] += 1
        d["ticks"].add(r[TS])
        d["data"] += r["RECORD"] is not None
        by_tick[(r["site"], r[TS].strftime("%Y-%m-%d %H:%M:%S"))] = r
    spine = gen.spine_ticks(truth, table, first, last)
    lo, hi = first.isoformat(), (last + ONE_DAY).isoformat()
    for site in sites:
        info = truth["jobs"][f"{site}/{table}"]
        for day, n in spine.items():
            d = got.pop((site, day), {"n": 0, "ticks": (), "data": 0})
            present = info["days"][day]["ticks_present"] if day < hi and day in info["days"] else 0
            if d["n"] != n or len(d["ticks"]) != n:
                fails["spine"].append(
                    f"{site}/{table} {day}: {d['n']} rows, {len(d['ticks'])} distinct ticks, spine {n}"
                )
                tally["wrong"] += d["n"] - len(d["ticks"])
            elif d["data"] != present:
                fails["junk"].append(f"{site}/{table} {day}: {d['data']} data rows, generated {present}")
                tally["wrong"] += abs(d["data"] - present)
        planted: dict[str, tuple] = {}
        for ts, rec, mark in info["winners"]:
            if lo <= ts < hi:
                planted[ts] = (rec, mark, [])
        for ts, cols in info["nan_cells"]:
            if lo <= ts < hi:
                rec, mark, _ = planted.get(ts, (None, None, []))
                planted[ts] = (rec, mark, cols)
        for ts, (rec, mark, cols) in planted.items():
            r = by_tick.get((site, ts))
            if r is None:
                fails["richest"].append(f"{site}/{table} {ts}: planted tick missing from the sink")
                tally["planted"] += rec is not None
                continue
            if rec is not None:
                tally["planted"] += 1
                if r["RECORD"] == rec and r[marker] == mark:
                    tally["resolved"] += 1
                else:
                    tally["wrong"] += 1
                    fails["richest"].append(
                        f"{site}/{table} {ts}: kept RECORD {r['RECORD']} copy {r[marker]}, "
                        f"richest is RECORD {rec} copy {mark}"
                    )
            for c in cols:
                if r[c] is not None:
                    fails["nan"].append(f"{site}/{table} {ts}: planted NAN in {c} reads {r[c]}")
    for (site, day), d in got.items():
        fails["junk"].append(f"{site}/{table} {day}: rows outside the window")
        tally["wrong"] += d["data"]
    return fails, tally, sink_digest
