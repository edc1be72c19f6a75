"""Headliner correctness check: the repository's own oracle gate.

Both results are fetched through pandas (Spark ``toPandas``, DuckDB
``df``) and compared by ``assert_oracle_match`` from ``tests/conftest.py``:
same columns, same row count, the same dtype family per numeric column,
then type-sensitive normalized rows compared order-insensitively.  The gate
is loaded from that file rather than copied, so the benchmark and the test
suite judge a result the same way.
"""

from __future__ import annotations

import functools
import importlib.util
import os
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _gate():
    path = os.path.join(ROOT, "tests", "conftest.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_gate", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.assert_oracle_match


def oracle_mismatch(name: str, spark_pdf, duck_pdf) -> str | None:
    """None if the two pandas frames match under the oracle gate, else the
    gate's message."""
    try:
        _gate()(SimpleNamespace(toPandas=lambda: spark_pdf),
                SimpleNamespace(df=lambda: duck_pdf), name)
    except AssertionError as e:
        return str(e)
    return None
