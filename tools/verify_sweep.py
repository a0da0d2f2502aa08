"""Strict driver-style verification sweep (.claude/skills/verify recipe).

Drives the real driver surface: imports ``__spark_entry__`` with a VANILLA
SparkSession (no engine configs), runs ``entry()`` as a smoke check, then
compares EVERY oracle-backed catalog query against DuckDB with the strict
canonicalizer (``{v:.12g}`` floats, columns sorted by name, stringified
rows sorted) — stricter than the driver's t2 hash.

Usage:
    python tools/verify_sweep.py [--sf /root/testdata/sf0.01 ...] \
        [--only name1,name2] [--skip-entry]

Exit 0 = all green; exit 1 = any mismatch/error (details on stdout).
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.12g}"
    return str(v)


def spark_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(canon(r[c]) for c in cols) for r in df.collect())


def duck_rows(con, sql):
    cur = con.execute(sql)
    desc = [d[0] for d in cur.description]
    order = sorted(range(len(desc)), key=lambda i: desc[i])
    return sorted(tuple(canon(row[i]) for i in order) for row in cur.fetchall())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", action="append", default=None,
                    help="sf dir(s); default sf0.01")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument("--skip-entry", action="store_true")
    ap.add_argument("--engine-session", action="store_true",
                    help="use the engine's get_spark() session instead of a "
                         "vanilla one. The vanilla session mirrors the "
                         "driver's t2 gate (which runs at sf0.01); at sf0.1+ "
                         "its 1 GB default heap makes big window partitions "
                         "spill and the frame processor's spilled-row "
                         "re-iteration goes quadratic (join_asof_next_price "
                         "measured 30+ min) — results are identical, only "
                         "the memory sizing differs, so larger-SF sweeps "
                         "should pass this flag")
    args = ap.parse_args()
    sf_dirs = args.sf or ["/root/testdata/sf0.01"]
    only = set(args.only.split(",")) if args.only else None

    import duckdb
    from pyspark.sql import SparkSession

    if args.engine_session:
        from utn_dataengineering_stockmarketpipeline_spark.session import get_spark

        spark = get_spark("verify-sweep")
    else:
        spark = (SparkSession.builder.master("local[8]")
                 .appName("verify-sweep").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from utn_dataengineering_stockmarketpipeline_spark.plans.reference_tables import (
        evict_materialized,
    )

    failures: list[str] = []

    if not args.skip_entry:
        n = len(e.entry(spark).collect())
        print(f"entry() smoke: {n} rows", flush=True)
        if n < 1:
            failures.append("entry() returned 0 rows")

    qs, osql = e.queries(), e.oracle_sql()
    names = [n for n in qs if n in osql and (only is None or n in only)]

    for sf in sf_dirs:
        con = duckdb.connect()
        for t in TABLES:
            p = f"{sf}/{t}.parquet"
            if Path(p).exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        print(f"== {sf}: {len(names)} oracle queries ==", flush=True)
        for name in names:
            t0 = time.time()
            try:
                s = spark_rows(qs[name](spark, sf))
                d = duck_rows(con, osql[name])
            except Exception as ex:  # noqa: BLE001
                failures.append(f"{sf} {name}: ERROR {type(ex).__name__}: {ex}")
                print(f"  {name}: ERROR {ex}", flush=True)
                continue
            dt = time.time() - t0
            if s != d:
                diff_s = [r for r in s if r not in set(d)][:3]
                diff_d = [r for r in d if r not in set(s)][:3]
                failures.append(f"{sf} {name}: MISMATCH "
                                f"spark={len(s)} duck={len(d)} "
                                f"spark_only={diff_s} duck_only={diff_d}")
                print(f"  {name}: MISMATCH ({len(s)} vs {len(d)} rows)", flush=True)
            else:
                print(f"  {name}: ok ({len(s)} rows, {dt:.1f}s)", flush=True)
        con.close()
        # the next SF builds its own reference tables; free this SF's
        evict_materialized(spark, sf)

    print()
    if failures:
        print(f"FAILED ({len(failures)}):")
        for f in failures:
            print(" ", f)
        return 1
    print("ALL GREEN")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
