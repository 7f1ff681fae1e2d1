#!/usr/bin/env python
"""sf0.1 correctness canary (round-3 verdict item 7).

The official driver gate compares the first-50 registry window against
DuckDB at sf0.01. Scale-dependent divergence — AQE plan changes, skew-path
activation, float accumulation over 10x the rows — would be invisible
there, so this one-off runs the SAME comparison at sf0.1 and writes
CORRECTNESS_sf01.json next to the driver artifacts.

Usage: python scripts/correctness_canary.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return str(v)


def _value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=str(Path(__file__).resolve().parents[1]
                                         / "CORRECTNESS_sf01.json"))
    ap.add_argument("--window", type=int, default=50)
    ap.add_argument("--only", default=None,
                    help="comma-separated query names: run ONLY these and "
                         "merge into an existing --out artifact (window "
                         "rotations re-run just the rotated-in rows)")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from perfbench.run import box_facts, driver_heap_gb

    # sized to the box like the benchmark of record: one task slot per
    # core, a fifth of RAM (1-4 GB) for the driver heap unless
    # $SPARK_GRAFT_MEM says otherwise
    box = box_facts()
    heap = f"{driver_heap_gb(box['mem_total_bytes'])}g"
    spark = (
        SparkSession.builder.master(f"local[{box['nproc']}]")
        .config("spark.sql.shuffle.partitions", str(box["nproc"]))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", heap))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = Path(args.sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    out: dict[str, dict] = {}
    names = list(queries)[: args.window]
    if args.only:
        wanted = [n.strip() for n in args.only.split(",") if n.strip()]
        missing = [n for n in wanted if n not in names]
        if missing:
            raise SystemExit(f"--only names not in window: {missing}")
        if Path(args.out).exists():
            out.update(json.loads(Path(args.out).read_text()))
        names = wanted
    for name in names:
        rec: dict = {"rows_match": False, "schema_match": False,
                     "hash_match": False, "spark_rows": None,
                     "oracle_rows": None, "err": None}
        try:
            sdf = queries[name](spark, args.sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(srows)
            if name not in oracles:
                rec["rows_match"] = rec["schema_match"] = rec["hash_match"] = None
            else:
                res = con.execute(oracles[name])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                rec["oracle_rows"] = len(drows)
                rec["rows_match"] = len(srows) == len(drows)
                rec["schema_match"] = sorted(scols) == sorted(dcols)
                rec["hash_match"] = (
                    rec["rows_match"] and rec["schema_match"]
                    and _value_hash(srows, scols) == _value_hash(drows, dcols)
                )
        except Exception as e:  # noqa: BLE001 — the artifact records the error
            rec["err"] = f"{type(e).__name__}: {e}"[:500]
        out[name] = rec
        status = "OK" if rec["hash_match"] else ("rows-only" if rec["hash_match"] is None else "FAIL")
        print(f"{name}: {status} ({rec['spark_rows']} rows)", flush=True)

    Path(args.out).write_text(json.dumps(out, indent=2) + "\n")
    greens = sum(1 for r in out.values() if r["hash_match"])
    print(f"wrote {args.out}: {greens}/{len(out)} hash-green")
    spark.stop()


if __name__ == "__main__":
    main()
