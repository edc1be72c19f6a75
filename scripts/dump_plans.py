"""Dump the formatted physical plan of every headline (bench=True) query
to results/plans.txt, with a stable fingerprint per plan.

Purpose: make the plan SHAPE reviewable and diffable round-over-round --
pushed filters, join strategies, codegen spans.  Each query is EXECUTED
(collected) before hashing so the fingerprint covers AQE's final
re-optimized plan -- the same plan state bench.py hashes post-collect --
making `plan_hash` here directly comparable to the bench JSON: a timing
drift can be mechanically attributed to either a plan change (fingerprint
differs) or machine noise (fingerprint equal).

Usage:  python scripts/dump_plans.py  [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.runtime import release_caches
from json_format_in_parquet_benchmark_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    from bench import _plan_fingerprint  # single source of truth for hashing

    spark = get_spark(app_name="jfipb-plans")
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "results",
        "plans.txt",
    )
    with open(out_path, "w") as out:
        for name, q in sorted(REGISTRY.items()):
            if not q.bench:
                continue
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
            except Exception as exc:  # pragma: no cover - diagnostic tool
                plan, fp = f"ERROR: {exc}", "err"
            out.write(f"{'=' * 72}\n{name}  plan_hash={fp}\n{'=' * 72}\n")
            out.write(plan + "\n")
            release_caches()
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
