"""bench.py's section loop and stdout line, checked without Spark: a
section with a missing input is listed as unavailable, one that raises as
a failure, and neither leaves an empty result behind; the one stdout line
fits its budget with every headliner timed."""

from __future__ import annotations

import json

import pytest

import bench
from json_format_in_parquet_benchmark_spark.formats import FORMATS
from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.runtime import REFERENCE_JSON_DIR


def test_section_loop_records_missing_inputs_and_failures(tmp_path):
    present = tmp_path / "present.json"
    present.write_text("{}\n")
    absent = str(tmp_path / "absent.json")

    def raises(spark):
        raise ValueError("boom")

    def must_not_run(spark):
        raise AssertionError("a section with a missing input ran")

    out = bench.run_sections(None, (
        bench.Section("ok", (str(present),), lambda spark: {"x": 1}),
        bench.Section("missing", (str(present), absent), must_not_run),
        bench.Section("raises", (str(present),), raises),
    ))
    assert out["ok"] == {"x": 1}
    assert out["unavailable"] == {"missing": [absent]}
    assert out["section_failures"] == {"raises": repr(ValueError("boom"))}
    assert out["missing"] is None and out["raises"] is None


def test_storage_sections_read_only_reference_files():
    """The storage numbers are compared with BASELINE.md, so no storage
    section may declare (and so read) a committed stand-in corpus."""
    storage = [s for s in bench.SECTIONS if s.key.startswith("storage")]
    assert [s.key for s in storage] == [
        "storage", "storage_zstd9", "storage_default_pages", "storage_by_corpus",
    ]
    for s in storage:
        assert s.inputs and all(p.startswith(REFERENCE_JSON_DIR) for p in s.inputs), s


@pytest.mark.parametrize("available", [True, False])
def test_compact_line_fits_with_every_headliner_timed(available):
    names = sorted(n for n, q in REGISTRY.items() if q.bench)
    timings = {n: round(100 + i + 0.1234, 4) for i, n in enumerate(names)}
    path_query = {
        "reparse_get_json_object": 12.3456,
        "variant_get_preparsed": 12.3456,
        "shredded_column_access": 12.3456,
    }
    keys = [s.key for s in bench.SECTIONS]
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "calibration": {"seconds": 0.1234},
        "sf": 0.1,
        "storage": {f: {"compressed_rate": 0.1234} for f in FORMATS}
        if available else None,
        "path_query": path_query if available else None,
        "unavailable": {} if available else {k: ["/x"] for k in keys},
        "section_failures": {},
    }
    line = bench.compact_line(full)
    assert len(line) <= bench.COMPACT_MAX_CHARS
    compact = json.loads(line)
    assert compact["path_query"] == full["path_query"]
    assert compact["unavailable"] == sorted(full["unavailable"])
    kept = compact["queries"]
    assert len(kept) + compact.get("queries_omitted", 0) == len(names)
    shed = set(names) - set(kept)
    # the fastest go first; the full file keeps every timing
    assert not shed or max(timings[n] for n in shed) < min(kept.values())
    assert full["queries"] == timings
