"""Registry of named queries with optional DuckDB oracles.

Contract (driver, __spark_entry__.py): every query is a callable
``(spark, sf_dir) -> DataFrame``; the oracle is an ANSI-SQL string DuckDB runs
against views named after the testdata tables.  The driver compares row count,
schema and an order-insensitive value hash, sorting columns by NAME -- so both
sides must alias every computed column identically.

Cross-engine exactness rules used throughout the query modules:

- Sums of doubles are NEVER emitted raw: Spark sums partition-parallel (order
  varies run to run) while DuckDB sums sequentially, so raw double sums differ
  in the last bits.  Instead every money/quantity sum goes through an exact
  DECIMAL cast and is cast back to DOUBLE at the end -- bit-identical in both
  engines.
- Averages are exact-decimal sums divided by counts (IEEE division of
  identical operands is deterministic).
- Timestamps/dates are emitted as formatted strings (testdata timestamps are
  nanosecond-precision; Spark truncates to micros while DuckDB keeps what
  parquet gives it, so raw temporal values are not comparable).
- Randomized-looking operators (MinHash, LSH) use the portable md5-based
  hashes from functions.hashing, identical across engines.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..runtime import query_scope

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in bench.py headline timings
    inputs: tuple[str, ...] = ()  # external files the query reads

    def missing_inputs(self) -> list[str]:
        return [p for p in self.inputs if not os.path.exists(p)]


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
    inputs: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            with query_scope(spark, name):
                return fn(spark, sf_dir)

        REGISTRY[name] = Query(
            name=name,
            fn=wrapped,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            tags=tags,
            bench=bench,
            inputs=inputs,
        )
        return fn

    return deco
