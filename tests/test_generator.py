"""Corpus-property tests for the generator, mirroring the reference's
invariants (scripts/json-generator.py:26-39,58-63 + the empirical check in
SURVEY.md section 5): exact pool-size NDV, full pool coverage, distinct
timestamps, determinism.  Plus the provenance of the committed stand-in
corpora under ``corpora/``: each is its seeded writer's output and has the
FIXTURES.md shape."""

from __future__ import annotations

import json
import math
import os
import re

import pytest
from pyspark.sql import functions as F

from json_format_in_parquet_benchmark_spark import runtime
from json_format_in_parquet_benchmark_spark.generator import (
    LOG_ACTIONS,
    LOG_SYSTEMS,
    STAND_INS,
    TAG_TYPES,
    generate_events,
    generate_events_ndjson,
)

N, NDV = 1024, 0.1


def test_ndv_exact(spark):
    df = generate_events(spark, N, NDV, "t1").persist()
    pool = math.ceil(NDV * N)  # 103, matching the reference's observed count
    row = df.agg(
        F.countDistinct("name").alias("names"),
        F.countDistinct("timestamp").alias("ts"),
        F.countDistinct("attributes.event_attributes").alias("attrs"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert row.n == N
    assert row.names == pool  # every pool value used >= once AND no extras
    assert row.attrs == pool
    assert row.ts == N  # timestamps unique per row
    df.unpersist()


def test_deterministic(spark):
    a = sorted(r.name for r in generate_events(spark, 256, 0.3, "s").collect())
    b = sorted(r.name for r in generate_events(spark, 256, 0.3, "s").collect())
    assert a == b
    c = sorted(r.name for r in generate_events(spark, 256, 0.3, "other").collect())
    assert a != c


def test_ndjson_shape(spark):
    doc = json.loads(generate_events_ndjson(spark, 8, 1.0).first().doc)
    # the reference payload shape (examples/events.json, README.md:44-50)
    assert set(doc) == {"name", "timestamp", "attributes"}
    assert set(doc["attributes"]) == {"event_attributes"}
    assert doc["timestamp"].endswith("Z")


def _stand_in(name):
    with open(os.path.join(runtime.CORPORA_DIR, name), encoding="utf-8") as fh:
        return [json.loads(ln) for ln in fh.read().split("\n") if ln]


@pytest.mark.parametrize("name", sorted(STAND_INS))
def test_stand_in_is_its_writers_output(spark, tmp_path, name):
    out = str(tmp_path / name)
    STAND_INS[name](spark, out)
    with open(out, "rb") as a, open(os.path.join(runtime.CORPORA_DIR, name), "rb") as b:
        assert a.read() == b.read(), f"corpora/{name} differs from its writer's output"


def test_logs_stand_in_shape():
    """FIXTURES.md section 2."""
    rows = _stand_in("logs.json")
    assert len(rows) == 1024
    assert all(
        list(r) == ["timestamp", "system", "actor", "action", "objects", "location", "message"]
        for r in rows
    )
    assert all(type(r["timestamp"]) is int for r in rows)
    assert {r["system"] for r in rows} == set(LOG_SYSTEMS)
    assert {r["action"] for r in rows} == set(LOG_ACTIONS)
    assert all(isinstance(o, str) for r in rows for o in r["objects"])
    assert any(r["objects"] for r in rows)
    assert any(r["location"] is None for r in rows)
    assert all(isinstance(r["location"], str) for r in rows if r["location"] is not None)
    # multi-byte text: a byte count and a character count disagree
    assert any(len(r["message"].encode()) > len(r["message"]) for r in rows)


@pytest.mark.parametrize("name", ["tags.json", "tags_with_time.json"])
def test_tags_stand_in_shape(name):
    """FIXTURES.md section 3: ``value`` is a JSON int or string as ``type``
    declares."""
    rows = _stand_in(name)
    assert len(rows) == 1024
    cols = ["key", "type", "value"] + (["timestamp"] if "time" in name else [])
    assert all(list(r) == cols for r in rows)
    assert {r["type"] for r in rows} == set(TAG_TYPES)
    for r in rows:
        want = int if r["type"] == "int64" else str
        assert type(r["value"]) is want, r
    if "time" in name:
        assert all(type(r["timestamp"]) is float for r in rows)
        assert any(r["timestamp"] != int(r["timestamp"]) for r in rows)


def test_trace_stand_in_shape():
    """FIXTURES.md section 4."""
    rows = _stand_in("trace.json")
    assert len(rows) == 512
    assert all(list(r) == ["traceID", "spanID"] for r in rows)
    assert all(re.fullmatch("[0-9a-f]{32}", r["traceID"]) for r in rows)
    assert all(re.fullmatch("[0-9a-f]{16}", r["spanID"]) for r in rows)


def test_events_stand_in_shape():
    """FIXTURES.md section 1: ndv 0.1 at 1024 rows gives 103 distinct names
    and attributes, and every timestamp is distinct."""
    rows = _stand_in("events_ndv_0.1_1024.json")
    assert len(rows) == 1024
    assert all(list(r) == ["name", "timestamp", "attributes"] for r in rows)
    assert len({r["name"] for r in rows}) == 103
    assert len({r["attributes"]["event_attributes"] for r in rows}) == 103
    assert len({r["timestamp"] for r in rows}) == 1024


def test_corpus_path_prefers_the_reference(tmp_path, monkeypatch):
    ref = tmp_path / "reference"
    ref.mkdir()
    monkeypatch.setattr(runtime, "REFERENCE_JSON_DIR", str(ref))
    stand_in = os.path.join(runtime.CORPORA_DIR, "logs.json")
    assert runtime.corpus_path("logs.json") == stand_in
    (ref / "logs.json").write_text('{"a":1}\n')
    assert runtime.corpus_path("logs.json") == str(ref / "logs.json")
    # neither exists: the reference path, so a reader fails loudly
    assert runtime.corpus_path("canada.json") == str(ref / "canada.json")
