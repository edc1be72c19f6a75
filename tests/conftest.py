"""Shared fixtures: one tuned SparkSession per test run, plus the DuckDB
oracle harness that replicates the driver's correctness gate locally."""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from json_format_in_parquet_benchmark_spark.session import get_spark  # noqa: E402
from json_format_in_parquet_benchmark_spark.tables import TABLES, table_path  # noqa: E402

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="jfipb-tests")
    yield s
    from json_format_in_parquet_benchmark_spark.runtime import release_caches

    release_caches()
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(TEST_SF_DIR, t)}')"
        )
    yield con
    con.close()


def _norm_value(v):
    """Normalize a cell so Spark and DuckDB results compare exactly.

    Crucially this is TYPE-SENSITIVE on numerics: a Python/numpy float
    renders with a decimal point (repr) while an int renders bare, so an
    int64 Spark column vs a float64 oracle column (the DuckDB HUGEINT
    materialization of a bare SUM(BIGINT)) mismatches -- exactly as the
    driver's hash comparison does.
    """
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, np.bool_):
        v = bool(v)
    if isinstance(v, np.integer):
        v = int(v)
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (pd.Timestamp, datetime)):
        # DuckDB's .df() widens DATE to a midnight timestamp while Spark
        # keeps datetime.date -- canonicalize midnight to the date form.
        iso = v.isoformat()
        return iso[:10] if iso.endswith("T00:00:00") else iso
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, np.ndarray):
        v = list(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((str(k), _norm_value(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    return str(v)


def _dtype_family(dtype) -> str:
    """Collapse a pandas dtype into the family the driver's comparison
    distinguishes.  int-vs-float is the class that shipped the r2
    failures (DuckDB HUGEINT -> float64 vs Spark int64)."""
    import pandas.api.types as pt

    if pt.is_bool_dtype(dtype):
        return "bool"
    if pt.is_integer_dtype(dtype):
        return "int"
    if pt.is_float_dtype(dtype):
        return "float"
    if pt.is_datetime64_any_dtype(dtype):
        return "datetime"
    return "object"


def normalize_rows(columns, rows):
    """Sort columns by name (like the driver) and rows by total order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort()
    return [columns[i] for i in order], out


def assert_oracle_match(spark_df, duck_rel, name=""):
    """Driver-faithful comparison: both sides fetched through pandas (the
    driver's path), dtype families asserted per column, then values
    normalized type-sensitively and compared order-insensitively."""
    s_pdf = spark_df.toPandas()
    d_pdf = duck_rel.df()
    s_cols = list(s_pdf.columns)
    d_cols = list(d_pdf.columns)
    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert len(s_pdf) == len(d_pdf), (
        f"{name}: row count spark={len(s_pdf)} duck={len(d_pdf)}"
    )
    # Typed gate: a numeric column must be in the same dtype family on both
    # sides.  Nullable ints degrade to float64 identically on both paths, so
    # a family mismatch means the oracle (or the query) has the wrong type.
    fam_mismatch = []
    for c in s_cols:
        sf, df_ = _dtype_family(s_pdf[c].dtype), _dtype_family(d_pdf[c].dtype)
        if sf != df_ and ("int" in (sf, df_) or "float" in (sf, df_)):
            fam_mismatch.append((c, sf, df_))
    assert not fam_mismatch, (
        f"{name}: dtype-family mismatch (col, spark, duck): {fam_mismatch}"
    )
    s_rows = list(s_pdf.itertuples(index=False, name=None))
    d_rows = list(d_pdf.itertuples(index=False, name=None))
    _, sn = normalize_rows(s_cols, s_rows)
    _, dn = normalize_rows(d_cols, d_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(sn, dn)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"
    )
