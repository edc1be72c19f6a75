"""Portable deterministic hashing, identical in Spark SQL and DuckDB.

Spark's ``hash()``/``xxhash64()`` and DuckDB's ``hash()`` are different
algorithms, so they cannot anchor a cross-checked MinHash/SimHash/LSH.  Both
engines, however, produce byte-identical ``md5`` hex digests, and both can
turn the first 15 hex chars (60 bits, always non-negative in an int64) into a
BIGINT:

  Spark : cast(conv(substr(md5(x), 1, 15), 16, 10) as bigint)
  DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT

These are the ONLY hash primitives used by the dedup/similarity operators, so
every signature, band bucket and hyperplane below is reproducible on a
1000-executor cluster, in local mode, and in the oracle.

At scale this costs one md5 per (row x hash-function); md5 runs JVM-side
inside whole-stage codegen, no Python boundary crossing.
"""

from __future__ import annotations

HASH_BITS = 60  # 15 hex chars; keeps the value positive in a signed int64


def _check_salt(salt: str) -> None:
    # Salts are interpolated into SQL string literals; a quote/backslash
    # would break or inject the statement in either engine.
    if "'" in salt or "\\" in salt:
        raise ValueError(f"salt must not contain quotes or backslashes: {salt!r}")


def hash64_sql_spark(expr: str, salt: str = "") -> str:
    """Spark SQL fragment: 60-bit deterministic hash of a string expression."""
    _check_salt(salt)
    salted = f"concat('{salt}', {expr})" if salt else expr
    return f"cast(conv(substr(md5({salted}), 1, 15), 16, 10) as bigint)"


def hash64_sql_duckdb(expr: str, salt: str = "") -> str:
    """DuckDB SQL fragment computing the identical 60-bit hash."""
    _check_salt(salt)
    salted = f"'{salt}' || {expr}" if salt else expr
    return f"('0x' || substr(md5({salted}), 1, 15))::BIGINT"


# Universal-hash MinHash permutations: ONE md5 per shingle produces a 60-bit
# base hash h; component j is (A_j * (h mod P) + B_j) mod P with P = 2^31-1.
# Products stay < 2^62, so the arithmetic is exact int64 in both engines --
# 16x cheaper than one salted md5 per component.
P31 = 2147483647


def perm_consts(k: int) -> list[tuple[int, int]]:
    """Deterministic (A_j, B_j) multiplier/offset pairs, A_j != 0."""
    out = []
    for j in range(k):
        a = (j * 2654435761 + 40503) % P31 or 1
        b = (j * 97 + 17) % P31
        out.append((a, b))
    return out


