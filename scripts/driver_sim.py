"""Simulate the external driver's correctness gate end-to-end.

Builds a VANILLA SparkSession (not the repo's tuned ``session.get_spark`` --
the real driver constructs its own), smoke-checks ``entry()``, then runs every
``queries()`` entry at sf0.01 against its ``oracle_sql()`` DuckDB twin using
the same compare the driver applies: sorted column names, row count, and an
order-insensitive value compare with floats repr()'d.  A query whose declared
input files are absent (``Query.missing_inputs()``) is reported as skipped,
not failed.

Usage: python scripts/driver_sim.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def _norm(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from json_format_in_parquet_benchmark_spark.plans import REGISTRY
    from json_format_in_parquet_benchmark_spark.tables import TABLES, table_path

    n = entrymod.entry(spark).count()
    print(f"entry() rows: {n}")
    assert n >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(SF_DIR, t)}')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, skipped = [], []
    selected = [name for name in queries if not ONLY or name in ONLY]
    t_all = time.time()
    for name in selected:
        missing = REGISTRY[name].missing_inputs()
        if missing:
            skipped.append(name)
            print(f"SKIP {name}: missing {', '.join(missing)}")
            continue
        t0 = time.time()
        try:
            sdf = queries[name](spark, SF_DIR)
            s_cols = list(sdf.columns)
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"spark error: {exc}"))
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ok   {name} (rows-only: {len(s_rows)}) "
                  f"[{time.time() - t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = list(rel.columns)
            d_rows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"oracle error: {exc}"))
            print(f"FAIL {name}: oracle error: {exc}")
            continue
        if sorted(s_cols) != sorted(d_cols):
            failures.append(
                (name, f"columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
            )
            print(f"FAIL {name}: column mismatch")
            continue
        if len(s_rows) != len(d_rows):
            failures.append(
                (name, f"rows spark={len(s_rows)} duck={len(d_rows)}")
            )
            print(f"FAIL {name}: row count spark={len(s_rows)} "
                  f"duck={len(d_rows)}")
            continue
        _, sn = _normalize(s_cols, s_rows)
        _, dn = _normalize(d_cols, d_rows)
        bad = [(a, b) for a, b in zip(sn, dn) if a != b]
        if bad:
            failures.append((name, f"{len(bad)} value mismatches: {bad[:2]}"))
            print(f"FAIL {name}: {len(bad)} value mismatches; first: {bad[0]}")
        else:
            print(f"ok   {name} ({len(s_rows)} rows) [{time.time() - t0:.1f}s]")

    print(f"\ntotal wall: {time.time() - t_all:.1f}s, "
          f"{len(selected) - len(skipped)} run, {len(skipped)} skipped, "
          f"{len(failures)} failures")
    for name, why in failures:
        print(f"  FAIL {name}: {why}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
