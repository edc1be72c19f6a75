"""Synthetic events generator (O25, /root/reference/scripts/json-generator.py).

The reference generates NDJSON events with a controlled NDV fraction: a pool
of ceil(ndv * count) distinct values per field, every pool value used at
least once (json-generator.py:26-39), and timestamps unique on every row
(:58-63).  This is the knob its storage results are parameterized by.

Spark-first rewrite: ``spark.range(n)`` plus deterministic md5-derived
expressions -- no Python UDF, no RNG state, perfectly parallel at any scale,
and reproducible cross-engine (the DuckDB oracle generates the identical
corpus from the same seed).

Pool-coverage invariant: row i uses pool index i for i < P (guaranteeing
every value appears) and hash(seed, i) % P afterwards (NDV-respecting
pseudo-random reuse) -- same guarantee the reference enforces by
construction + its ValueError check.

The seeded stand-ins for the reference's other NDJSON corpora (FIXTURES.md
sections 1-4) are written by :data:`STAND_INS`, one writer per shape, into
the repository's ``corpora/`` directory, where ``runtime.corpus_path``
finds them when the reference files are absent.  The logs, tags and trace
writers are plain Python over md5-derived draws (no RNG state, so the
bytes are identical on every platform); the events stand-in is this
module's own corpus at 1024 rows and ndv 0.1, in ``id`` order.
"""

from __future__ import annotations

import hashlib
import json
import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.hashing import _check_salt, hash64_sql_duckdb, hash64_sql_spark

# epoch micros of 2024-07-25T00:00:00Z (arbitrary base near the reference's
# sample timestamps, README.md:44-50)
TS_BASE_MICROS = 1_721_865_600_000_000


def _pool_idx_spark(seed: str, pool: int) -> str:
    return (
        f"case when id < {pool} then id"
        f" else {hash64_sql_spark('cast(id as string)', seed + ':idx:')} % {pool} end"
    )


def generate_events(
    spark: SparkSession, n: int, ndv: float, seed: str = "g1"
) -> DataFrame:
    """Events DataFrame (name string, timestamp string, attributes
    struct<event_attributes double>) with the reference's shape and
    NDV/pool/timestamp invariants."""
    _check_salt(seed)  # seed is interpolated into SQL literals below
    pool = max(1, math.ceil(ndv * n))
    idx = _pool_idx_spark(seed, pool)
    name = f"concat('ev_', substr(md5(concat('{seed}:name:', cast(({idx}) as string))), 1, 16))"
    attr = (
        f"cast({hash64_sql_spark(f'cast(({idx}) as string)', seed + ':attr:')} % 1000000"
        f" as double) / 1000.0"
    )
    ts = (
        f"date_format(timestamp_micros({TS_BASE_MICROS} + id),"
        f" \"yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'\")"
    )
    return spark.range(n).select(
        F.expr(name).alias("name"),
        F.expr(ts).alias("timestamp"),
        F.struct(F.expr(attr).alias("event_attributes")).alias("attributes"),
    )


def generate_events_ndjson(spark: SparkSession, n: int, ndv: float, seed: str = "g1") -> DataFrame:
    """The corpus as NDJSON text lines (column ``doc``), feeding the format
    codecs exactly like the reference's generated files feed its benches."""
    df = generate_events(spark, n, ndv, seed)
    return df.select(F.to_json(F.struct("name", "timestamp", "attributes")).alias("doc"))


def generator_oracle_sql(n: int, ndv: float, seed: str = "g1") -> str:
    """DuckDB SQL generating the byte-identical corpus."""
    _check_salt(seed)
    pool = max(1, math.ceil(ndv * n))
    h_idx = hash64_sql_duckdb("CAST(id AS VARCHAR)", f"{seed}:idx:")
    idx = f"CASE WHEN id < {pool} THEN id ELSE {h_idx} % {pool} END"
    h_attr = hash64_sql_duckdb(f"CAST(({idx}) AS VARCHAR)", f"{seed}:attr:")
    return f"""
SELECT 'ev_' || substr(md5('{seed}:name:' || CAST(({idx}) AS VARCHAR)), 1, 16) AS name,
       strftime(make_timestamp({TS_BASE_MICROS} + id), '%Y-%m-%dT%H:%M:%S.%fZ') AS "timestamp",
       CAST({h_attr} % 1000000 AS DOUBLE) / 1000.0 AS event_attributes
FROM range({n}) t(id)
"""


# --- seeded stand-ins for the reference's NDJSON corpora (FIXTURES.md 1-4) ---

LOG_SYSTEMS = ("AD", "AUDIT", "BADGE")
LOG_ACTIONS = ("COPY", "ENTER", "EXIT", "LOGIN", "LOGOUT", "OPEN", "PRINT")
TAG_TYPES = ("int64", "string")
# epoch millis of 2024-07-25T00:00:00Z, as TS_BASE_MICROS
_TS_BASE_MS = TS_BASE_MICROS // 1000

# Some text is multi-byte UTF-8, so a byte count and a character count of
# the same line differ.
_LOG_ACTORS = (
    "alice", "bob", "chloé", "dmitri", "éva", "françois", "jürgen", "mei.lin", "søren", "zoë"
)
_LOG_OBJECTS = (
    "door-1", "door-7", "printer-3", "report.pdf", "résumé.docx", "vault", "badge-42",
    "wiki/Überblick",
)
_LOG_LOCATIONS = ("HQ-1", "HQ-2", "Lab-3", "Zürich", "São Paulo")
_TAG_KEYS = (
    ("http.status_code", "int64"),
    ("peer.port", "int64"),
    ("thread.id", "int64"),
    ("request.bytes", "int64"),
    ("http.method", "string"),
    ("component", "string"),
    ("span.kind", "string"),
    ("db.statement", "string"),
)
_TAG_STRINGS = (
    "GET", "POST", "grpc", "client", "server", "SELECT * FROM café", "net/http", "naïve-proxy"
)


def _draw(*parts: object) -> int:
    """Deterministic 64-bit draw keyed on ``parts``."""
    return int.from_bytes(hashlib.md5(":".join(map(str, parts)).encode()).digest()[:8], "big")


def _write_ndjson(path: str, docs) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        for doc in docs:
            fh.write(json.dumps(doc, ensure_ascii=False, separators=(",", ":")) + "\n")


def write_logs_ndjson(path: str) -> None:
    """1024 access-log events (FIXTURES.md section 2): a JSON ``null``
    location on about one row in six, 0-3 objects per row."""

    def doc(i: int) -> dict:
        actor = _LOG_ACTORS[_draw("logs", i, "actor") % len(_LOG_ACTORS)]
        action = LOG_ACTIONS[_draw("logs", i, "action") % len(LOG_ACTIONS)]
        objects = [
            _LOG_OBJECTS[_draw("logs", i, "obj", k) % len(_LOG_OBJECTS)]
            for k in range(_draw("logs", i, "n_obj") % 4)
        ]
        loc = _draw("logs", i, "loc") % (len(_LOG_LOCATIONS) + 1)
        return {
            "timestamp": _TS_BASE_MS + 1000 * i + _draw("logs", i, "ms") % 1000,
            "system": LOG_SYSTEMS[_draw("logs", i, "system") % len(LOG_SYSTEMS)],
            "actor": actor,
            "action": action,
            "objects": objects,
            "location": _LOG_LOCATIONS[loc] if loc < len(_LOG_LOCATIONS) else None,
            "message": f"{actor} {action.lower()} {' → '.join(objects) or '∅'}",
        }

    _write_ndjson(path, (doc(i) for i in range(1024)))


def write_tags_ndjson(path: str, with_time: bool) -> None:
    """1024 span tags (FIXTURES.md section 3): ``value`` is a JSON int when
    ``type`` is ``int64`` and a string otherwise; ``with_time`` adds an
    epoch-seconds ``timestamp`` with a microsecond fraction."""

    def doc(i: int) -> dict:
        key, typ = _TAG_KEYS[_draw("tags", i, "key") % len(_TAG_KEYS)]
        if typ == "int64":
            # up to 18 digits: some values exceed 2^53
            value = _draw("tags", i, "int") % 10 ** (1 + _draw("tags", i, "digits") % 18)
        else:
            value = _TAG_STRINGS[_draw("tags", i, "str") % len(_TAG_STRINGS)]
        out = {"key": key, "type": typ, "value": value}
        if with_time:
            us = (_TS_BASE_MS + 1000 * i) * 1000 + _draw("tags", i, "us") % 10**6
            out["timestamp"] = us / 1e6
        return out

    _write_ndjson(path, (doc(i) for i in range(1024)))


def write_trace_ndjson(path: str) -> None:
    """512 span ids (FIXTURES.md section 4): 32-hex ``traceID`` shared by
    eight spans, 16-hex ``spanID``."""

    def doc(i: int) -> dict:
        trace = hashlib.md5(f"trace:trace:{i // 8}".encode()).hexdigest()
        span = hashlib.md5(f"trace:span:{i}".encode()).hexdigest()[:16]
        return {"traceID": trace, "spanID": span}

    _write_ndjson(path, (doc(i) for i in range(512)))


def write_events_ndjson(spark: SparkSession, path: str) -> None:
    """:func:`generate_events_ndjson` at 1024 rows and ndv 0.1, in ``id``
    order (FIXTURES.md section 1)."""
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        for row in generate_events_ndjson(spark, 1024, 0.1).collect():
            fh.write(row.doc + "\n")


# file name -> writer (spark, path).  Regenerate ``corpora/`` with
# ``for name, write in STAND_INS.items(): write(spark, f"corpora/{name}")``.
STAND_INS: dict[str, Callable[[SparkSession, str], None]] = {
    "logs.json": lambda spark, path: write_logs_ndjson(path),
    "tags.json": lambda spark, path: write_tags_ndjson(path, with_time=False),
    "tags_with_time.json": lambda spark, path: write_tags_ndjson(path, with_time=True),
    "trace.json": lambda spark, path: write_trace_ndjson(path),
    "events_ndv_0.1_1024.json": write_events_ndjson,
}
