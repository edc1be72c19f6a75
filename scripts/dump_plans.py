"""Print the formatted physical plan of registry queries, with a stable
fingerprint per plan.

Purpose: make the plan SHAPE reviewable and diffable round-over-round --
pushed filters, join strategies, codegen spans.  Each query is EXECUTED
(collected) before hashing so the fingerprint covers AQE's final
re-optimized plan -- the same plan state bench.py hashes post-collect --
making `plan_hash` here directly comparable to the bench JSON: a timing
drift can be mechanically attributed to either a plan change (fingerprint
differs) or machine noise (fingerprint equal).

Usage:  python scripts/dump_plans.py [sf_dir] [name ...]

Names select registered queries; with none it dumps every headline
(bench=True) query, so ``python scripts/dump_plans.py > results/plans.txt``
regenerates the tracked file.  Exits 1, naming them, if any query raised.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.runtime import release_caches
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
    from bench import _plan_fingerprint  # single source of truth for hashing

    spark = get_spark(app_name="jfipb-plans")
    failed: list[str] = []
    for name in names:
        q = REGISTRY[name]
        try:
            # Run TWICE and fingerprint the second (warm) run: bench.py
            # hashes after min-of-3 iterations, whose plan sees the
            # query's own caches already MATERIALIZED -- a cold first
            # run plans TableCacheQueryStage/BroadcastQueryStage wrappers
            # differently and would spuriously disagree.  Hashing the
            # post-collect state also captures AQE's final plan.
            q.fn(spark, sf_dir).collect()
            df = q.fn(spark, sf_dir)
            df.collect()
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            fp = _plan_fingerprint(df)
        except Exception as exc:
            print(f"{name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            failed.append(name)
        else:
            print(f"{'=' * 72}\n{name}  plan_hash={fp}\n{'=' * 72}\n{plan}", flush=True)
        release_caches()
    spark.stop()
    if failed:
        print(f"failed: {' '.join(failed)}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
