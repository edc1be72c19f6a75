"""Capture the WRITE-side physical plans of queries whose optimization this
round lives on the write path (REBALANCE before a dynamic partitionBy) --
the returned DataFrame of those queries is the read-back/verification side,
so its explain never shows the write's pre-shuffle.

Intercepts DataFrameWriter.parquet, dumps the writer's source-frame plan to
<out_dir>/<query>_write<N>_<suffix>.txt, then performs the real write.

Usage: python scripts/dump_r11_write_plans.py <out_dir> <suffix> <sf_dir> name [name ...]

Exits 1 if any query raised or had no write plan captured.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.readwriter as rw

from json_format_in_parquet_benchmark_spark.operators.dedup import release_caches
from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.session import get_spark

_STATE = {"query": "", "n": 0, "out_dir": "", "suffix": ""}
_REAL_PARQUET = rw.DataFrameWriter.parquet


def _capturing_parquet(self, path, *args, **kwargs):
    df = self._df
    try:
        plan = df.sparkSession._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception as exc:  # diagnostic tool -- never break the write
        plan = f"ERROR capturing plan: {exc}"
    _STATE["n"] += 1
    fname = f"{_STATE['query']}_write{_STATE['n']}_{_STATE['suffix']}.txt"
    with open(os.path.join(_STATE["out_dir"], fname), "w") as f:
        f.write(
            f"# {_STATE['query']} -- write #{_STATE['n']} (pre-write plan of "
            f"the frame passed to DataFrameWriter.parquet), {_STATE['suffix']}\n"
            f"# target: {path}\n"
        )
        f.write(plan + "\n")
    print(f"wrote {fname}", file=sys.stderr)
    return _REAL_PARQUET(self, path, *args, **kwargs)


def main() -> None:
    out_dir, suffix, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]
    os.makedirs(out_dir, exist_ok=True)
    _STATE["out_dir"], _STATE["suffix"] = out_dir, suffix
    rw.DataFrameWriter.parquet = _capturing_parquet
    spark = get_spark(app_name="jfipb-r11-write-plans")
    failed = False
    for name in names:
        q = REGISTRY.get(name)
        if q is None:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        _STATE["query"], _STATE["n"] = name, 0
        try:
            q.fn(spark, sf_dir).collect()
        except Exception as exc:
            failed = True
            print(f"ERROR {name}: {exc}", file=sys.stderr)
        # Evidence-completeness guard (ADVICE r11): only
        # DataFrameWriter.parquet is intercepted, so a query writing via
        # .save()/.saveAsTable()/another format would be silently
        # uncaptured -- fail loudly instead of emitting a hole in the
        # evidence set.
        if _STATE["n"] == 0:
            failed = True
            print(
                f"ERROR {name}: zero write plans captured -- the query "
                "either does not write or writes through a sink this "
                "script does not intercept (only DataFrameWriter.parquet "
                "is wrapped); extend the intercept before trusting this "
                "evidence run",
                file=sys.stderr,
            )
        release_caches()
    spark.stop()
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
