"""Round-trip tests per representation, mirroring the reference's inline
codec tests (src/format/*.rs #[cfg(test)]): encode -> decode recovers the
document (semantically -- canonicalization may reorder nothing here but
float formatting differs), and flush -> load recovers the representation.
Corpora: the reference's tiny inline fixtures + the reference NDJSON
corpora or their in-repo stand-ins (``runtime.corpus_path``).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from json_format_in_parquet_benchmark_spark.formats import FORMATS, get_format
from json_format_in_parquet_benchmark_spark.formats.jsonc_tape import (
    decode_tape,
    encode_tape,
)
from json_format_in_parquet_benchmark_spark.formats.variant_shred import (
    VariantShredFormat,
)
from json_format_in_parquet_benchmark_spark.runtime import corpus_path, scoped_conf
from json_format_in_parquet_benchmark_spark.sources.ndjson import read_ndjson_raw

# The reference's inline unit-test docs (plain_json.rs:74-78, jsonc.rs:168-172)
FLAT_DOCS = ['{"a":1,"b":"foo"}', '{"a":2,"b":"bar"}', '{"a":3,"b":"baz"}']
NESTED_DOCS = [
    '{"a":1.0,"b":[2.0,3.0],"c":{"d":4.0}}',
    '{"e":null,"f":[true,false],"g":{"h":"x"}}',
    '{"i":[{"j":1},{"k":[1,2,{"l":"deep"}]}]}',
]


def _docs_df(spark, docs):
    return spark.createDataFrame([(d,) for d in docs], "doc string")


def _num_norm(v):
    """Normalize numbers (1.0 == 1) so representations that canonicalize
    integral floats -- as the variant binary form does -- compare equal."""
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        if isinstance(v, list):
            return [_num_norm(x) for x in v]
        if isinstance(v, dict):
            return {k: _num_norm(x) for k, x in v.items()}
        return v
    return float(v)


def _reparse(rows_or_docs):
    docs = [r.doc if hasattr(r, "doc") else r for r in rows_or_docs]
    return sorted(json.dumps(_num_norm(json.loads(d)), sort_keys=True) for d in docs)


@pytest.mark.parametrize("fmt_name", sorted(FORMATS))
def test_encode_decode_roundtrip(spark, fmt_name):
    fmt = (
        VariantShredFormat("a bigint, b string")
        if fmt_name == "variant"
        else get_format(fmt_name)
    )
    df = _docs_df(spark, FLAT_DOCS)
    out = fmt.decode(fmt.encode(df)).collect()
    assert _reparse(out) == _reparse(FLAT_DOCS)


@pytest.mark.parametrize("fmt_name", ["plain_json", "jsonb", "jsonc"])
def test_nested_roundtrip(spark, fmt_name):
    fmt = get_format(fmt_name)
    df = _docs_df(spark, NESTED_DOCS)
    out = fmt.decode(fmt.encode(df)).collect()
    assert _reparse(out) == _reparse(NESTED_DOCS)


def _shape(schema):
    """Field names and types of a schema, nullability ignored."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _spark_jobs_started(spark, fn):
    """Call ``fn()`` under a fresh job group; return the ids of the Spark
    jobs it started."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = f"jobs-started-{id(fn)}"
    bus.waitUntilEmpty()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    bus.waitUntilEmpty()  # the status store learns of jobs through the bus
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("fmt_name", sorted(FORMATS))
def test_flush_load_roundtrip(spark, tmp_path, fmt_name):
    fmt = (
        VariantShredFormat("a bigint, b string")
        if fmt_name == "variant"
        else get_format(fmt_name)
    )
    df = _docs_df(spark, FLAT_DOCS)
    encoded = fmt.encode(df)
    path = str(tmp_path / fmt_name)
    fmt.flush(encoded, path)
    loaded = fmt.load(spark, path)
    # load's declared schema is the one encode produces
    assert _shape(loaded.schema) == _shape(encoded.schema)
    assert _reparse(fmt.decode(loaded).collect()) == _reparse(
        fmt.decode(encoded).collect()
    )


@pytest.mark.parametrize("fmt_name", sorted(FORMATS))
def test_load_starts_no_spark_job(spark, tmp_path, fmt_name):
    """load reads with the format's declared schema, so Spark runs no
    schema-inference job (one footer-reading task) before the first
    action; the footer check behind it runs on the driver."""
    fmt = get_format(fmt_name)
    path = str(tmp_path / fmt_name)
    fmt.flush(fmt.encode(_docs_df(spark, FLAT_DOCS)), path)
    assert _spark_jobs_started(spark, lambda: fmt.load(spark, path)) == []


def test_load_rejects_directory_without_declared_columns(spark, tmp_path):
    """Spark reads a declared column the files lack as all-null; load's
    footer check turns that into a ValueError naming the column, and a
    directory with no Parquet files raises too."""
    df = _docs_df(spark, FLAT_DOCS)
    for written, read_as, missing in (
        ("plain_json", "jsonb", "v"),
        ("jsonc", "plain_json", "doc"),
    ):
        path = str(tmp_path / written)
        fmt = get_format(written)
        fmt.flush(fmt.encode(df), path)
        want = rf"lacks declared column\(s\) \['{missing}'\]"
        with pytest.raises(ValueError, match=want):
            get_format(read_as).load(spark, path)
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no Parquet files"):
        get_format("jsonb").load(spark, str(empty))


def test_tape_encoder_pure():
    for doc in FLAT_DOCS + NESTED_DOCS:
        v = json.loads(doc)
        assert decode_tape(*encode_tape(v)) == v


def test_tape_varint_counts_int8_safe():
    """Container entry counts live in the opcode stream as int8-safe
    varints (continuation digits negative, terminal 0..127): every emitted
    node must fit a signed tinyint, counts across the 1- and 2-byte varint
    boundary must round-trip, and the number pool must hold ONLY values."""
    from json_format_in_parquet_benchmark_spark.formats.jsonc_tape import (
        get_path_tape,
    )

    for count in (0, 1, 127, 128, 255, 300, 16384):
        arr = list(range(count))
        obj = {f"k{i}": i for i in range(count)}
        for v in (arr, obj, {"wrap": [arr, obj]}):
            nodes, strings, numbers = encode_tape(v)
            assert all(-128 <= b <= 127 for b in nodes), count
            assert decode_tape(nodes, strings, numbers) == v
    doc = {"a": {"b": "hit"}, "big": list(range(200)), "n": 2.5}
    nodes, strings, numbers = encode_tape(doc)
    assert numbers == [float(x) for x in range(200)] + [2.5]  # values only
    assert get_path_tape(nodes, strings, numbers, ("a", "b")) == "hit"
    assert get_path_tape(nodes, strings, numbers, ("missing",)) is None


def _tape_text(v):
    """The tape kernels' string rendering of a decoded or path value."""
    if v is None or isinstance(v, str):
        return v
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def test_tape_kernels_match_pure_functions_across_arrow_batches(spark):
    """Spark encode -> decode and get_path_udf over Arrow batches of 3 rows
    (several batches per task; every row after a batch's first starts at
    non-zero offsets into its pools) agree row by row with the pure
    encode_tape / decode_tape / get_path_tape, including a container with a
    2-byte varint count and a null row (null tape, null results)."""
    from json_format_in_parquet_benchmark_spark.formats.jsonc_tape import (
        JsoncTapeFormat,
        get_path_tape,
        get_path_udf,
    )

    wide = json.dumps({"w": {f"k{i}": i for i in range(200)}, "a": "last"})
    docs = FLAT_DOCS + NESTED_DOCS + [wide, None]
    paths = [("a",), ("b",), ("c", "d"), ("g", "h"), ("w", "k199"), ("a", "x"), ("zz",)]
    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"}):
        # one partition and narrow projections only, so rows keep input order
        raw = spark.createDataFrame([(d,) for d in docs], "doc string").coalesce(1)
        fmt = JsoncTapeFormat()
        tape = fmt.encode(raw)
        cols = ("nodes", "strings", "numbers")
        tapes = [(r.nodes, r.strings, r.numbers) for r in tape.collect()]
        decoded = [r.doc for r in fmt.decode(tape).collect()]
        got_paths = tape.select(
            *(get_path_udf(p)(*cols).alias(f"p{i}") for i, p in enumerate(paths))
        ).collect()

    assert len(tapes) == len(decoded) == len(got_paths) == len(docs)
    for doc, t, dec, row in zip(docs, tapes, decoded, got_paths):
        if doc is None:
            assert t == (None, None, None) and dec is None
            assert all(v is None for v in row)
            continue
        pure = encode_tape(json.loads(doc))
        assert t == tuple(pure)
        assert dec == _tape_text(decode_tape(*pure))
        assert list(row) == [_tape_text(get_path_tape(*pure, p)) for p in paths]


def test_tape_row_cursors_on_sliced_list_arrays():
    """The batch walker reads offsets into the UNSLICED child pools, so a
    sliced ListArray (non-zero array offset) decodes its own rows."""
    from json_format_in_parquet_benchmark_spark.formats.jsonc_tape import (
        _row_cursors,
    )

    values = [json.loads(d) for d in FLAT_DOCS + NESTED_DOCS] + [None]
    tapes = [encode_tape(v) for v in values[:-1]] + [(None, None, None)]
    cols = [
        pa.array([t[j] for t in tapes], pa.list_(typ))
        for j, typ in enumerate((pa.int8(), pa.string(), pa.float64()))
    ]
    sliced = [c.slice(2) for c in cols]
    got = [None if cur is None else cur.read() for cur in _row_cursors(*sliced)]
    assert got == values[2:]


def test_arrow_udf_after_tape_decode_runs_under_zipimport_gate(spark):
    """A plain arrow_udf chained on the tape decode runs in the worker that
    unpickled the engine's decode kernel (a chained UDF runs in one Python
    worker), so the package is imported there.  It returns correct values
    and reports that the worker's ``zipimporter.invalidate_caches`` is the
    engine's gated one: the gate reaches executors."""
    import sys

    from pyspark.sql.functions import arrow_udf

    from json_format_in_parquet_benchmark_spark.formats.jsonc_tape import (
        JsoncTapeFormat,
    )

    # pa is a module global: this module's annotations are strings that
    # arrow_udf resolves against the function's globals
    @arrow_udf("struct<n:int,gate:string>")
    def probe(docs: pa.Array) -> pa.Array:
        import zipimport

        method = zipimport.zipimporter.invalidate_caches
        n = [None if d is None else len(json.loads(d)) for d in docs.to_pylist()]
        return pa.StructArray.from_arrays(
            [
                pa.array(n, pa.int32()),
                pa.array([f"{method.__module__}.{method.__name__}"] * len(docs)),
            ],
            names=["n", "gate"],
        )

    docs = FLAT_DOCS + NESTED_DOCS + [None]
    fmt = JsoncTapeFormat()
    tape = fmt.encode(_docs_df(spark, docs))
    decoded = fmt.decode(tape)
    rows = [r for r in decoded.collect() if r.doc is not None]
    assert _reparse(rows) == _reparse(docs[:-1])
    got = decoded.select(probe("doc").alias("p")).collect()

    expected_gate = (
        "json_format_in_parquet_benchmark_spark._zipimport_gate.invalidate_caches"
        if sys.version_info < (3, 13)
        else "zipimport.invalidate_caches"
    )
    assert sorted((r.p.n for r in got), key=lambda n: (n is None, n)) == [
        1, 2, 2, 2, 3, 3, None
    ]
    assert {r.p.gate for r in got} == {expected_gate}


def test_reference_corpus_roundtrip(spark):
    """The reference corpus or its in-repo stand-in (logs.json: arrays,
    nulls, nested) through the variant binary representation."""
    raw = read_ndjson_raw(spark, corpus_path("logs.json"))
    fmt = get_format("jsonb")
    decoded = fmt.decode(fmt.encode(raw)).collect()
    assert len(decoded) == 1024
    one = json.loads(decoded[0].doc)
    assert {"timestamp", "system", "actor", "action", "objects"} <= set(one)


# twitter.json has no stand-in (FIXTURES.md section 5): only the reference's.
_TWITTER = corpus_path("twitter.json")


@pytest.mark.parametrize(
    "corpus",
    [
        "logs",
        "tags",
        "tags_with_time",
        "trace",
        pytest.param(
            "twitter",
            marks=pytest.mark.skipif(
                not os.path.exists(_TWITTER), reason=f"corpus missing: {_TWITTER}"
            ),
        ),
    ],
)
@pytest.mark.parametrize("fmt_name", ["plain_json", "jsonb", "jsonc"])
def test_all_reference_corpora_roundtrip_semantically(spark, corpus, fmt_name):
    """Every multi-shape reference corpus round-trips through every
    schema-less representation; equality is semantic (re-parse) because
    serializers differ in key order / float formatting (SURVEY.md section 7
    hard part c).  variant is excluded: its declared schema is
    events-specific by design (variant.rs:22-48)."""
    raw = read_ndjson_raw(spark, corpus_path(f"{corpus}.json"))
    fmt = get_format(fmt_name)
    originals = [r.doc for r in raw.collect()]
    decoded = [r.doc for r in fmt.decode(fmt.encode(raw)).collect()]
    assert len(decoded) == len(originals)

    def norm(v):
        # the tape's number pool is float64 (reference jsonc.rs:36 uses the
        # same Float64 pool), so >=2^53 integers round-trip lossily there;
        # compare numbers in the float64 domain for that representation.
        if fmt_name == "jsonc" and isinstance(v, (int, float)) and not isinstance(v, bool):
            return float(v)
        if isinstance(v, dict):
            return {k: norm(x) for k, x in v.items()}
        if isinstance(v, list):
            return [norm(x) for x in v]
        return v

    # both sides scan the same file with no shuffle, so collect order aligns
    for o, d in zip(originals, decoded):
        assert norm(json.loads(o)) == norm(json.loads(d))


def test_events_shred_reference_schema(spark):
    """The reference's hard-coded events shred schema (variant.rs:22-48)
    against a generated events line (the reference corpus or its in-repo
    stand-in)."""
    raw = read_ndjson_raw(spark, corpus_path("events_ndv_0.1_1024.json"))
    fmt = VariantShredFormat()  # default: reference events schema
    encoded = fmt.encode(raw)
    assert encoded.columns == ["name", "timestamp", "attributes"]
    row = encoded.where(encoded.name.isNotNull()).first()
    assert row.attributes.event_attributes is not None


def test_format_dispatch():
    assert sorted(FORMATS) == [
        "jsonb",
        "jsonb_shredded",
        "jsonc",
        "plain_json",
        "variant",
    ]
    with pytest.raises(KeyError):
        get_format("nope")


def test_storage_sweep_emits_reference_csv_layout(spark, tmp_path):
    """sweep_corpora reproduces the reference CSV column layout
    (scripts/benchmark_results.csv header) so its plot script can render
    our results unmodified."""
    import csv

    from json_format_in_parquet_benchmark_spark.metrics import (
        CSV_COLUMNS,
        parse_events_corpus_name,
        sweep_corpora,
    )

    corpus = corpus_path("events_ndv_0.1_1024.json")
    assert parse_events_corpus_name(corpus) == 0.1
    assert parse_events_corpus_name("/x/events_ndv_1_8192.json") == 1.0
    assert parse_events_corpus_name("/x/twitter.json") is None

    csv_path = str(tmp_path / "results.csv")
    rows = sweep_corpora(spark, [corpus], str(tmp_path / "out"), csv_path)
    assert {r["format"] for r in rows} == {
        "json",
        "jsonb",
        "jsonb_shredded",
        "jsonc",
        "variant",
    }
    assert all(r["num_of_lines"] == 1024 and r["ndv"] == 0.1 for r in rows)
    assert all(0 < r["compressed_rate"] < 1 for r in rows)
    with open(csv_path) as f:
        header = next(csv.reader(f))
    assert tuple(header) == CSV_COLUMNS


def test_schema_inference_on_reference_corpus(spark):
    """spark.read.json infers the events corpus shape (the capability the
    reference lacks -- its variant schema is hard-coded, variant.rs:1-2)."""
    df = spark.read.json(corpus_path("events_ndv_0.1_1024.json"))
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert set(fields) == {"name", "timestamp", "attributes"}
    assert fields["attributes"].startswith("struct<event_attributes:")


def test_malformed_json_degrades_to_null_not_failure(spark):
    """from_json/parse_json must degrade malformed rows to null (PERMISSIVE),
    never fail the job -- at 100 TB some rows WILL be garbage."""
    from pyspark.sql import functions as F

    rows = [
        ('{"k": 1}',),
        ("not json at all",),
        ('{"k": }',),
        (None,),
        ('{"k": 4}',),
    ]
    df = spark.createDataFrame(rows, "doc string")
    parsed = df.select(
        F.from_json("doc", "k BIGINT").getField("k").alias("k"),
        F.try_parse_json("doc").alias("v"),
    )
    got = parsed.collect()
    assert [r.k for r in got] == [1, None, None, None, 4]
    assert sum(r.v is not None for r in got) == 2  # only the two valid docs


def test_jsonb_vs_jsonb_shredded_physical_layout(spark, tmp_path):
    """Spark 4.1 shreds variant writes BY DEFAULT, which would make the
    jsonb and jsonb_shredded grid rows the same file; pin that jsonb
    forces the UNSHREDDED pure-binary layout (the reference's jsonb,
    src/format/jsonb.rs) and jsonb_shredded carries typed_value groups
    in the Parquet footer, whatever the session default is."""
    import glob

    df = _docs_df(spark, FLAT_DOCS)
    layouts = {}
    for name in ("jsonb", "jsonb_shredded"):
        fmt = get_format(name)
        path = str(tmp_path / name)
        # one partition: an EMPTY part file has no rows for
        # inferShreddingSchema and would legitimately lack typed_value
        fmt.flush(fmt.encode(df).coalesce(1), path)
        part = glob.glob(path + "/part-*.parquet")[0]
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(part)
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            hpath, spark._jsc.hadoopConfiguration()
        )
        rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        schema = rdr.getFooter().getFileMetaData().getSchema().toString()
        rdr.close()
        layouts[name] = "typed_value" in schema
    assert layouts == {"jsonb": False, "jsonb_shredded": True}


def test_shredded_variant_scan_prunes_to_path(spark, tmp_path):
    """pushVariantIntoScan rewrite: a variant_get over a natively-shredded
    file must scan ONLY the requested path's typed_value subcolumn (the
    ReadSchema shows a one-field struct), not the whole binary document.
    This is the 100 TB argument for jsonb_shredded: measured on a 2M-row
    generator corpus, a one-path query reads 13.1 MB of column chunks vs
    61.6 MB unshredded (results/bench_notes.md, round 5)."""
    from pyspark.sql import functions as F

    df = _docs_df(spark, FLAT_DOCS)
    fmt = get_format("jsonb_shredded")
    path = str(tmp_path / "shred_prune")
    fmt.flush(fmt.encode(df).coalesce(1), path)
    with scoped_conf(spark, {"spark.sql.variant.pushVariantIntoScan": "true"}):
        plan = (
            fmt.load(spark, path)
            .select(F.variant_get("v", "$.a", "string").alias("a"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "struct<0:string>" in read_schema, read_schema


def test_bench_exec_metrics_report_python_boundary(spark):
    """bench._exec_metrics sums the Python nodes' boot/init/total ms: a tape
    decode (two Arrow UDF nodes) reports a Python run time, a JVM-only plan
    reports zeros."""
    import bench

    fmt = get_format("jsonc")
    tape = fmt.decode(fmt.encode(_docs_df(spark, FLAT_DOCS)))
    tape.collect()
    jvm = _docs_df(spark, FLAT_DOCS).groupBy("doc").count()
    jvm.collect()
    keys = ("python_boot_ms", "python_init_ms", "python_total_ms")
    py, plain = bench._exec_metrics(tape), bench._exec_metrics(jvm)
    assert py["python_total_ms"] > 0
    assert all(py[k] >= 0 for k in keys)
    assert [plain[k] for k in keys] == [0, 0, 0]


def test_bench_headliner_failure_is_recorded_and_loop_continues(spark):
    """A headliner that raises lands in query_failures with its repr and
    the loop moves on: the next query is still timed, counted and
    measured, and no failure map carries a placeholder."""
    from types import SimpleNamespace

    import bench

    def missing_input(spark, sf_dir):
        raise FileNotFoundError(f"{sf_dir}/logs.json")

    queries = {
        "a_missing_input": SimpleNamespace(fn=missing_input),
        "b_ok": SimpleNamespace(fn=lambda spark, sf_dir: spark.range(3)),
    }
    out = bench._run_headliners(spark, queries, "/nonexistent/sf")
    assert out["query_failures"] == {
        "a_missing_input": repr(FileNotFoundError("/nonexistent/sf/logs.json"))
    }
    assert list(out["queries"]) == ["b_ok"]
    assert len(out["queries_trials"]["b_ok"]) == 3
    assert out["rows"] == {"b_ok": 3}
    assert list(out["exec_metrics"]) == ["b_ok"]
    assert out["exec_metric_failures"] == {}
