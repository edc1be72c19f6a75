"""Print each registry query's plan text and fingerprint, plus the plan of
every frame the query writes in batch.

Both come from ``runtime.plan_text`` / ``runtime.plan_fingerprint``, so a
timing drift can be attributed to either a plan change (fingerprint
differs) or machine noise (fingerprint equal).  The text masks every
run-varying token, so two dumps of the same code are byte-identical and
``diff`` of a dump before and after a refactor is its plan-identity check.

Each query is built and collected twice and the second build is dumped: a
query whose own caches are materialized plans the same way bench.py's
repeated trials do.  The write plans are those of every frame either build
wrote through ``DataFrame.write``, in first-write order, each followed by
the layout calls made on its writer (format, mode, options, partitionBy,
bucketBy, sortBy, clusterBy); the returned frame of a sink query is its
read-back side and never shows them.

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
from pyspark.sql.readwriter import DataFrameWriter

from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.runtime import (
    plan_fingerprint,
    plan_text,
    release_caches,
    scratch_root,
)
from json_format_in_parquet_benchmark_spark.session import get_spark

# DataFrameWriter calls that set a write's layout.  The save methods
# (parquet, saveAsTable, ...) route their keyword arguments through them.
LAYOUT_CALLS = ("format", "mode", "option", "options", "partitionBy",
                "bucketBy", "sortBy", "clusterBy")


def record_layout(writer: DataFrameWriter, calls: list[str]) -> None:
    """Append each layout call made on ``writer`` to ``calls`` as source
    text, skipping calls that set nothing (``mode(None)``, ``options()``)."""
    for name in LAYOUT_CALLS:
        def call(*args, _name=name, _real=getattr(writer, name), **kw):
            if any(a is not None for a in args) or kw:
                shown = [repr(a) for a in args] + [f"{k}={v!r}" for k, v in sorted(kw.items())]
                calls.append(f"{_name}({', '.join(shown)})")
            return _real(*args, **kw)
        setattr(writer, name, call)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    names = sys.argv[2:] or sorted(n for n, q in REGISTRY.items() if q.bench)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"not registered: {' '.join(unknown)}", file=sys.stderr)
        return 1
    # (plan_text, layout calls) of each frame written in the current query
    written: list[tuple[str, list[str]]] = []
    real_write = DataFrame.write

    def recording_write(df: DataFrame):
        writer, calls = real_write.fget(df), []
        record_layout(writer, calls)
        written.append((plan_text(df), calls))
        return writer

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
            root = scratch_root()
            writes = list(dict.fromkeys(
                f"{text}writer: {' '.join(calls)}\n".replace(root, "<scratch>")
                for text, calls in written
            ))
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
