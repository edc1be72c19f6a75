"""Print each registry query's plan text and fingerprint, plus the plan of
every frame the query writes in batch.

Both come from ``runtime.plan_text`` / ``runtime.plan_fingerprint``, the
same rendering bench.py records as ``plan_hash``, so a timing drift can be
attributed to either a plan change (fingerprint differs) or machine noise
(fingerprint equal).  The text masks every run-varying token, so two dumps
of the same code are byte-identical and ``diff`` of a dump before and after
a refactor is its plan-identity check.

Each query is built and collected twice and the second build is dumped: a
query whose own caches are materialized plans the same way bench.py's
repeated trials do.  The write plans are those of every frame either build
wrote through ``DataFrame.write``, in first-write order; the returned frame
of a sink query is its read-back side and never shows them.

Usage:  python scripts/dump_plans.py [sf_dir] [name ...]

Names select registered queries; with none it dumps every headline
(bench=True) query, so ``python scripts/dump_plans.py > results/plans.txt``
regenerates the tracked file.  Exits 1, naming them, if any query raised.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.classic.dataframe import DataFrame

from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.runtime import (
    plan_fingerprint,
    plan_text,
    release_caches,
)
from json_format_in_parquet_benchmark_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    names = sys.argv[2:] or sorted(n for n, q in REGISTRY.items() if q.bench)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"not registered: {' '.join(unknown)}", file=sys.stderr)
        return 1
    # plan_text of each frame written since the current query started
    written: list[str] = []
    real_write = DataFrame.write

    def recording_write(df: DataFrame):
        written.append(plan_text(df))
        return real_write.fget(df)

    DataFrame.write = property(recording_write)
    spark = get_spark(app_name="jfipb-plans")
    failed: list[str] = []
    for name in names:
        q = REGISTRY[name]
        written.clear()
        try:
            q.fn(spark, sf_dir).collect()
            df = q.fn(spark, sf_dir)
            df.collect()
            section = [
                "=" * 72, f"{name}  plan_hash={plan_fingerprint(df)}", "=" * 72,
                plan_text(df),
            ]
        except Exception as exc:
            print(f"{name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            failed.append(name)
        else:
            writes = list(dict.fromkeys(written))
            for i, text in enumerate(writes, 1):
                section += [f"{'-' * 8} write plan {i} of {len(writes)}", text]
            print("\n".join(section), flush=True)
        release_caches()
    spark.stop()
    if failed:
        print(f"failed: {' '.join(failed)}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
