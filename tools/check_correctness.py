"""Local stand-in for the driver's t2 correctness gate: run every
queries() entry and its oracle_sql() side-by-side, compare row count +
column names + order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [names...]

Env: CAF_CORRECTNESS_JSON=<path> additionally writes a machine-readable
record in the driver's CORRECTNESS_r0N.json shape (one object per query
with rows/schema/hash match booleans) — the committed
CORRECTNESS_LOCAL_r0N.json supplements the driver's ~50-entry window so
positions past the cap stay auditable per round (ADVICE r7).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

if __name__ == "__main__":  # run as a script: import this checkout
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return "T" if v else "F"
    return str(v)


def frame_to_rows(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(canon(r[c]) for c in cols) for _, r in df[cols].iterrows()]
    return cols, sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    record: dict[str, dict] = {}

    def rec(name, *, rows=None, schema=None, hashm=None, sr=None, orr=None, err=None):
        record[name] = {
            "rows_match": rows,
            "schema_match": schema,
            "hash_match": hashm,
            "spark_rows": sr,
            "oracle_rows": orr,
            "err": err,
        }

    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            msg = f"spark error: {type(e).__name__}: {str(e)[:200]}"
            print(f"FAIL  {name}: {msg}")
            rec(name, err=msg)
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle)")
            rec(name, sr=len(sdf), err="no oracle (rows-only check)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            msg = f"oracle error: {type(e).__name__}: {str(e)[:200]}"
            print(f"FAIL  {name}: {msg}")
            rec(name, sr=len(sdf), err=msg)
            failures += 1
            continue
        scols, srows = frame_to_rows(sdf)
        ocols, orows = frame_to_rows(odf)
        if scols != ocols:
            print(f"FAIL  {name}: columns spark={scols} oracle={ocols}")
            rec(name, rows=len(srows) == len(orows), schema=False,
                hashm=False, sr=len(srows), orr=len(orows))
            failures += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL  {name}: rows spark={len(srows)} oracle={len(orows)}")
            rec(name, rows=False, schema=True, hashm=False,
                sr=len(srows), orr=len(orows))
            failures += 1
            continue
        if srows != orows:
            bad = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            print(f"FAIL  {name}: value mismatch, first diffs: {bad}")
            rec(name, rows=True, schema=True, hashm=False,
                sr=len(srows), orr=len(orows))
            failures += 1
            continue
        print(f"OK    {name}: {len(srows)} rows")
        rec(name, rows=True, schema=True, hashm=True,
            sr=len(srows), orr=len(orows))
    out_json = os.environ.get("CAF_CORRECTNESS_JSON")
    if out_json:
        import json

        with open(out_json, "w") as f:
            json.dump(record, f, indent=1)
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
