"""Dump formatted physical plans for a named set of registry queries to
individual files -- the round-11 optimization evidence
(plans/r11/<query>_{before,after}.txt).

Run from a checkout of the code state you want to capture:

    python scripts/dump_r11_plans.py <out_dir> <suffix> <sf_dir> name [name ...]

Each query is executed twice and the WARM post-collect plan is written
(same discipline as scripts/dump_plans.py: AQE's final plan, the query's
own caches materialized), to <out_dir>/<name>_<suffix>.txt.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.runtime import release_caches
from json_format_in_parquet_benchmark_spark.session import get_spark


def main() -> None:
    out_dir, suffix, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="jfipb-r11-plans")
    for name in names:
        q = REGISTRY.get(name)
        if q is None:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        try:
            q.fn(spark, sf_dir).collect()
            df = q.fn(spark, sf_dir)
            df.collect()
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:
            plan = f"ERROR: {exc}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(f"# {name}  ({suffix}, sf_dir={sf_dir})\n")
            f.write(plan + "\n")
        release_caches()
        print(f"wrote {name}_{suffix}.txt", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
