"""Simulate the external driver's correctness gate end-to-end.

Builds a VANILLA SparkSession (not the repo's tuned ``session.get_spark`` --
the real driver constructs its own), smoke-checks ``entry()``, then runs every
``queries()`` entry at sf0.01 against its ``oracle_sql()`` DuckDB twin using
the gate of ``tests/conftest.py::assert_oracle_match`` (loaded, not copied):
both sides fetched through pandas, sorted column names, row count, dtype
families, and an order-insensitive value compare.  A query whose declared
input files are absent (``Query.missing_inputs()``) is reported as skipped,
not failed.

Usage: python scripts/driver_sim.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time
from types import SimpleNamespace

import duckdb

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def _gate():
    path = os.path.join(REPO_ROOT, "tests", "conftest.py")
    spec = importlib.util.spec_from_file_location("oracle_gate", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.assert_oracle_match


def main() -> int:
    from pyspark.sql import SparkSession

    from json_format_in_parquet_benchmark_spark.session import default_cpus

    spark = (
        SparkSession.builder.master(f"local[{default_cpus()}]")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from json_format_in_parquet_benchmark_spark.plans import REGISTRY
    from json_format_in_parquet_benchmark_spark.tables import TABLES, table_path

    gate = _gate()

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
            s_pdf = queries[name](spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: spark error: {exc}")
            print(f"FAIL {failures[-1]}")
            continue
        if name not in oracles:
            print(f"ok   {name} (rows-only: {len(s_pdf)}) "
                  f"[{time.time() - t0:.1f}s]")
            continue
        try:
            d_pdf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: oracle error: {exc}")
            print(f"FAIL {failures[-1]}")
            continue
        try:
            gate(SimpleNamespace(toPandas=lambda: s_pdf),
                 SimpleNamespace(df=lambda: d_pdf), name)
        except AssertionError as exc:
            failures.append(str(exc))
            print(f"FAIL {failures[-1]}")
            continue
        print(f"ok   {name} ({len(s_pdf)} rows) [{time.time() - t0:.1f}s]")

    print(f"\ntotal wall: {time.time() - t_all:.1f}s, "
          f"{len(selected) - len(skipped)} run, {len(skipped)} skipped, "
          f"{len(failures)} failures")
    for why in failures:
        print(f"  FAIL {why}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
