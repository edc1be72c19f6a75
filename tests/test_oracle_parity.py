"""Replicates the driver's correctness gate locally: every registered query
with an oracle must match the DuckDB result exactly (columns, row count,
order-insensitive values) at the test scale factor.

A query that declares an external input (``register(inputs=...)``) is
skipped, or left out of the row-count sweeps with a warning, where that
file is absent: the golden probes' expected values are pinned to the
reference's own documents."""

from __future__ import annotations

import warnings

import pytest

from json_format_in_parquet_benchmark_spark.plans import REGISTRY

from conftest import assert_oracle_match

ORACLED = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)


def _runnable(names):
    """``names`` without the queries whose declared inputs are absent,
    which are named in a warning."""
    missing = {n: REGISTRY[n].missing_inputs() for n in names}
    missing = {n: m for n, m in missing.items() if m}
    if missing:
        warnings.warn(f"left out, inputs missing: {missing}")
    return [n for n in names if n not in missing]


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    q = REGISTRY[name]
    missing = q.missing_inputs()
    if missing:
        pytest.skip(f"input missing: {missing}")
    sdf = q.fn(spark, sf_dir)
    rel = duck.sql(q.oracle)
    assert_oracle_match(sdf, rel, name=name)


def test_every_query_returns_rows(spark, sf_dir):
    empties = []
    for name in _runnable(list(REGISTRY)):
        n = REGISTRY[name].fn(spark, sf_dir).count()
        if n == 0:
            empties.append(name)
    # Empty results still hash-match the oracle, but a query that returns
    # nothing proves little -- keep the registry honest.
    assert not empties, f"queries with 0 rows at {sf_dir}: {empties}"


def test_bench_queries_return_rows_at_bench_sf(spark):
    """Non-degeneracy at the BENCH scale factor, not just the gate SF.

    Round-6 lesson (text_tf_cosine_pairs): an absolute parameter can
    keep a query green at sf0.01 while silently emptying it at sf0.1 --
    the exact opposite of a scale claim.  Every bench-tagged headliner
    must return rows at the SF the driver benches at."""
    import os

    bench_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(bench_sf):
        pytest.skip(f"bench SF dir missing: {bench_sf}")
    empties = []
    for name in _runnable([n for n, q in REGISTRY.items() if q.bench]):
        if REGISTRY[name].fn(spark, bench_sf).count() == 0:
            empties.append(name)
    assert not empties, f"bench queries with 0 rows at {bench_sf}: {empties}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
