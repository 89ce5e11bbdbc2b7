"""Seeded input generators, each writing its ground truth beside the inputs.

Nothing here starts Spark. The same seed always yields byte-identical
inputs and truth.

``tower_inputs`` writes full-layout TOA5 daily logger files (the layouts
``schemas.get_full_schema`` binds positionally) for synthetic sites and both
tables, with the faults the pipeline must absorb:

- ``NAN`` sentinels, some of them in rows that win deduplication;
- missing ticks, which the gap fill re-inserts as null rows;
- re-downloads of a day's last ticks with a higher RECORD, which must lose;
- partial copies of some ticks with the same RECORD and fewer ``NAN`` cells
  than the original row, which must win (keep-richest: lowest RECORD, then
  fewest missing values);
- one junk file per (site, table), which must add no rows.

``corpus_inputs`` builds a Zipf-word corpus with planted exact copies and
mutants with a run of ~4% of their words substituted, plus one embedding
per document with planted near-duplicate vectors.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.schemas import (
    full_columns,
)

TABLES = ("Flux", "Met")
FREQ_MINUTES = {"Flux": 30, "Met": 15}
#: first day of water year 2023; every generated day stays inside it
WATER_YEAR_START = dt.date(2022, 10, 1)

# every day has a re-downloaded tail and a partial same-RECORD copy, so
# each day's input has the same shape whatever the seed
_REDOWNLOAD_TICKS = 8
_REDOWNLOAD_RECORD_SHIFT = 500_000
_COPY_TICKS = 6
_MISSING_P = 0.01
_NAN_ROW_P = 0.02

_JUNK = (
    '"TOA5","{site}","CR6","junk"\n'
    '"upload truncated"\n'
    '"2022-13-45 25:61:00",1,2,3\n'
    "garbage,,,\n"
    "#####\n"
)


def _live_values(table: str, rng: random.Random, k: int, per_day: int) -> dict[str, str]:
    """Physically plausible values for the columns QC reads. They vary from
    tick to tick so the stuck-sensor tests do not flag every row."""
    phase = math.sin(2 * math.pi * k / per_day)
    g = rng.gauss
    v = {
        "amb_tmpr_Avg": 10 + 8 * phase + g(0, 0.3),
        "RH_Avg": min(99.0, max(5.0, 60 - 20 * phase + g(0, 2))),
        "amb_press_Avg": 93 + g(0, 0.2),
        "rslt_wnd_spd": abs(3 + g(0, 1)),
        "wnd_dir_compass": rng.uniform(0, 359),
        "Precipitation_Tot": 0.2 if rng.random() < 0.02 else 0.0,
        "PAR_density_Avg": max(0.0, 1500 * phase) + abs(g(0, 5)),
        "Rn_meas_Avg": 400 * phase + g(0, 10),
        "VPD_air": abs(1 + g(0, 0.3)),
    }
    if table == "Flux":
        v.update(
            {
                "e_Avg": 1.2 + g(0, 0.05),
                "e_sat_Avg": 2 + g(0, 0.05),
                "H": 100 * phase + g(0, 20),
                "LE": 150 * phase + g(0, 20),
                "Fc_molar": -5 * phase + g(0, 2),
                "u_star": 0.3 + abs(g(0, 0.1)),
                "CO2_sig_strgth_Min": min(1.0, 0.9 + g(0, 0.05)),
                "H2O_sig_strgth_Min": min(1.0, 0.9 + g(0, 0.05)),
            }
        )
    else:
        v.update({"e": 1.2 + g(0, 0.05), "e_sat": 2 + g(0, 0.05)})
    out = {c: f"{x:.4f}" for c, x in v.items()}
    if table == "Flux":
        out["door_is_open_Hst"] = "1" if rng.random() < 0.01 else "0"
        for c in ("H_qc_grade", "LE_qc_grade", "Fc_qc_grade"):
            out[c] = str(rng.randint(1, 9))
        for c in ("sonic_samples_Tot", "Fc_samples_Tot"):
            out[c] = "12000" if rng.random() < 0.05 else "17000"
    return out


def _filler(typ: str, rng: random.Random) -> str:
    if typ == "f8":
        return f"{rng.uniform(-100, 100):.3f}"
    if typ == "i8":
        return str(rng.randint(0, 1000))
    if typ == "str":
        return f'"s{rng.randint(0, 99)}"'
    if typ == "bool":
        return "true"
    if typ == "ts":
        return '"2022-10-01 00:00:00"'
    return "0"


class _Layout:
    """Column positions of one table's full raw layout."""

    def __init__(self, table: str):
        self.cols = full_columns(f"{table}Raw_V40826")
        self.names = [n for n, _ in self.cols]
        self.index = {n: i for i, n in enumerate(self.names)}
        probe = _live_values(table, random.Random(0), 0, 1)
        self.live = [c for c in probe if c in self.index]
        spare = [
            n for n, t in self.cols
            if t == "f8" and n not in probe and n != "RECORD"
        ]
        #: identifies which copy of a tick survived; no operator reads it
        self.marker = spare[-1]
        nan_live = [c for c in ("amb_tmpr_Avg", "RH_Avg", "rslt_wnd_spd") if c in self.index]
        #: columns that may carry planted NAN sentinels
        self.nan_cols = nan_live + spare[:3]


def _day_ticks(day: dt.date, table: str) -> list[dt.datetime]:
    freq = FREQ_MINUTES[table]
    start = dt.datetime.combine(day, dt.time())
    return [start + dt.timedelta(minutes=freq * k) for k in range(1440 // freq)]


def _header(site: str, table: str, names: list[str]) -> list[str]:
    return [
        f'"TOA5","{site}","CR6","1","CR6.Std","CPU:{table}","1","{table}"',
        ",".join(f'"{c}"' for c in names),
        ",".join('"TS"' if c == "TIMESTAMP" else '""' for c in names),
        ",".join('""' if c == "TIMESTAMP" else '"Avg"' for c in names),
    ]


def _write(path: str, lines: list[str]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def tower_inputs(root: str, seed: int, sites: list[str], days: int) -> dict:
    """Write ``days`` days of Flux and Met files per site under
    ``root/raw/<site>/<table>/<yyyy>/<mm>/`` and return the truth, also
    written to ``root/truth.json``.

    Truth per (site, table): ``days`` maps each ISO day to its files, raw
    data rows, raw bytes and the number of distinct ticks present;
    ``winners`` lists ``[ts, RECORD, marker]`` for every tick that has more
    than one candidate row or whose winner is not the original download;
    ``nan_cells`` lists ``[ts, [columns]]`` for planted NAN cells of
    winning rows; ``junk`` is the junk file.
    """
    layouts = {t: _Layout(t) for t in TABLES}
    day_list = [WATER_YEAR_START + dt.timedelta(days=d) for d in range(days)]
    truth: dict = {
        "seed": seed,
        "sites": list(sites),
        "junk_rows": _JUNK.count("\n"),
        "tables": {},
        "jobs": {},
    }
    for table in TABLES:
        lay = layouts[table]
        truth["tables"][table] = {
            "marker_col": lay.marker,
            "nan_cols": lay.nan_cols,
            "ticks_per_day": 1440 // FREQ_MINUTES[table],
        }
    for site in sites:
        for table in TABLES:
            truth["jobs"][f"{site}/{table}"] = _tower_job(
                root, seed, site, table, layouts[table], day_list
            )
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def _tower_job(root, seed, site, table, lay: _Layout, day_list) -> dict:
    rng = random.Random(f"tower:{seed}:{site}:{table}")
    pool = [[_filler(t, rng) for _, t in lay.cols] for _ in range(32)]
    i_ts, i_rec, i_mark = lay.index["TIMESTAMP"], lay.index["RECORD"], lay.index[lay.marker]
    per_day = 1440 // FREQ_MINUTES[table]
    header = _header(site, table, lay.names)
    base = os.path.join(root, "raw", site, table)
    record = rng.randint(1000, 9000)
    days: dict = {}
    winners: list = []
    nan_cells: list = []

    def row(ts, rec, marker, nans, live):
        vals = list(rng.choice(pool))
        for c, x in live.items():
            if c in lay.index:
                vals[lay.index[c]] = x
        vals[i_ts] = f'"{ts:%Y-%m-%d %H:%M:%S}"'
        vals[i_rec] = str(rec)
        vals[i_mark] = str(marker)
        for c in nans:
            vals[lay.index[c]] = "NAN"
        return ",".join(vals)

    for day in day_list:
        folder = os.path.join(base, f"{day:%Y}", f"{day:%m}")
        stem = f"{site}_{table}_{day:%Y_%m_%d}_0000"
        # candidate rows per tick: ts -> [(record, nan_count, marker, nans)]
        cands: dict = {}
        originals: list[str] = []
        kept: dict = {}
        for k, ts in enumerate(_day_ticks(day, table)):
            record += 1
            live = _live_values(table, rng, k, per_day)
            if rng.random() < _MISSING_P:
                continue
            nans = []
            if rng.random() < _NAN_ROW_P:
                nans = rng.sample(lay.nan_cols, rng.randint(1, 3))
            kept[ts] = (record, live, nans)
        copies: list[str] = []
        for ts in rng.sample(sorted(kept), _COPY_TICKS):
            rec, live, nans = kept[ts]
            extra = rng.sample([c for c in lay.nan_cols if c not in nans], 2)
            kept[ts] = (rec, live, nans + extra)
            # same RECORD, fewer NAN cells: the copy must win
            copies.append(row(ts, rec, 2, nans, live))
            cands.setdefault(ts, []).append((rec, len(nans), 2, nans))
        for ts, (rec, live, nans) in sorted(kept.items()):
            originals.append(row(ts, rec, 0, nans, live))
            cands.setdefault(ts, []).append((rec, len(nans), 0, nans))
        redl: list[str] = []
        ticks = _day_ticks(day, table)[-_REDOWNLOAD_TICKS:]
        for k, ts in enumerate(ticks, start=per_day - _REDOWNLOAD_TICKS):
            rec = day_list.index(day) * per_day + k + _REDOWNLOAD_RECORD_SHIFT
            redl.append(row(ts, rec, 1, [], _live_values(table, rng, k, per_day)))
            cands.setdefault(ts, []).append((rec, 0, 1, []))
        files, nbytes, nrows = [], 0, 0
        for suffix, body in (("", originals), ("_r1", redl), ("_partial", copies)):
            if body:
                path = os.path.join(folder, stem + suffix + ".dat")
                nbytes += _write(path, header + body)
                nrows += len(body)
                files.append(path)
        for ts, cs in sorted(cands.items()):
            rec, _, marker, nans = min(cs, key=lambda c: (c[0], c[1]))
            iso = f"{ts:%Y-%m-%d %H:%M:%S}"
            if len(cs) > 1 or marker != 0:
                winners.append([iso, rec, marker])
            if nans:
                nan_cells.append([iso, sorted(nans)])
        days[day.isoformat()] = {
            "files": files,
            "raw_rows": nrows,
            "raw_bytes": nbytes,
            "ticks_present": len(cands),
        }
    junk = os.path.join(base, f"{day_list[0]:%Y}", f"{day_list[0]:%m}", f"{site}_{table}_junk.dat")
    _write(junk, _JUNK.format(site=site).rstrip("\n").split("\n"))
    return {
        "days": days,
        "winners": winners,
        "nan_cells": nan_cells,
        "junk": junk,
        "junk_bytes": os.path.getsize(junk),
        "glob": os.path.join(base, "*", "*", "*.dat"),
    }


def spine_ticks(truth: dict, table: str, first: dt.date, last: dt.date) -> dict[str, int]:
    """Expected rows per day of one (site, table) aggregate over
    ``[first, last]``: every tick of each day, plus the midnight tick that
    pads the series to the day after ``last``."""
    n = truth["tables"][table]["ticks_per_day"]
    out = {}
    day = first
    while day <= last:
        out[day.isoformat()] = n
        day += dt.timedelta(days=1)
    out[day.isoformat()] = 1
    return out


# ------------------------------------------------------------------ corpus

_VOCAB = 5000
_ZIPF_S = 1.1
_COPY_SHARE = 0.05  # originals that get 1-2 exact copies
_MUTANT_SHARE = 0.25  # originals that get one near-duplicate mutant
_SUBST_P = 0.04
_VEC_PAIR_SHARE = 0.05
_VEC_NOISE = 0.05


def corpus_inputs(seed: int, n_docs: int, words: int, dim: int) -> tuple[list, list, dict]:
    """Documents ``(doc_id, text)``, embeddings ``(vec_id, [float])`` with
    ``vec_id == doc_id``, and the truth: planted duplicate pairs
    ``(lower id, higher id)``. Text pairs join every family member to the
    family's lowest id (exact copies) or pair an original with its mutant;
    ``exact_families`` lists the ids of each family of exact copies. Vector
    pairs are disjoint."""
    rng = random.Random(f"corpus:{seed}")
    vocab = [f"w{k}" for k in range(_VOCAB)]
    cum, acc = [], 0.0
    for k in range(_VOCAB):
        acc += 1.0 / (k + 1) ** _ZIPF_S
        cum.append(acc)

    def fresh() -> list[str]:
        n = rng.randint(words // 2, words * 3 // 2)
        return rng.choices(vocab, cum_weights=cum, k=n)

    families: list[list[str]] = []
    exact: list[bool] = []
    while sum(len(f) for f in families) < n_docs:
        toks = fresh()
        fam = [" ".join(toks)]
        roll = rng.random()
        exact.append(roll < _COPY_SHARE)
        if roll < _COPY_SHARE:
            for _ in range(rng.randint(1, 2)):
                # differs only in case and spacing, which exact dedup normalizes
                fam.append("  ".join(toks).upper() if rng.random() < 0.5 else " ".join(toks) + " ")
        elif roll < _COPY_SHARE + _MUTANT_SHARE:
            # one run of substituted words: k scattered words would break
            # up to 3k word 3-gram shingles, a run breaks k + 2, so the
            # mutant's Jaccard stays near 0.85 whatever the document length
            # and MinHash-LSH misses few of them
            mut = list(toks)
            k = max(1, round(_SUBST_P * len(mut)))
            at = rng.randrange(len(mut) - k + 1)
            for j in range(at, at + k):
                mut[j] = mut[j] + "x"  # a word no original contains
            fam.append(" ".join(mut))
        families.append(fam)
    ids = list(range(sum(len(f) for f in families)))
    rng.shuffle(ids)
    docs, text_pairs, it = [], [], iter(ids)
    exact_families = []
    for fam, copies in zip(families, exact):
        fam_ids = [next(it) for _ in fam]
        docs.extend(zip(fam_ids, fam))
        lo = min(fam_ids)
        text_pairs.extend([lo, i] for i in fam_ids if i != lo)
        if copies:
            exact_families.append(sorted(fam_ids))
    docs.sort()
    n = len(docs)
    vecs = [[round(rng.gauss(0, 1), 6) for _ in range(dim)] for _ in range(n)]
    order = list(range(n))
    rng.shuffle(order)
    n_pairs = int(n * _VEC_PAIR_SHARE)
    vec_pairs = []
    for a, b in zip(order[: n_pairs], order[n_pairs : 2 * n_pairs]):
        scale = _VEC_NOISE / math.sqrt(dim)
        vecs[b] = [round(x + rng.gauss(0, scale), 6) for x in vecs[a]]
        vec_pairs.append(sorted((a, b)))
    truth = {
        "seed": seed,
        "n_docs": n,
        "text_pairs": sorted(text_pairs),
        "exact_families": sorted(exact_families),
        "vec_pairs": sorted(vec_pairs),
    }
    return docs, [(i, v) for i, v in enumerate(vecs)], truth
