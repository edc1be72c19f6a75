"""Round-trip tests per representation, mirroring the reference's inline
codec tests (src/format/*.rs #[cfg(test)]): encode -> decode recovers the
document (semantically -- canonicalization may reorder nothing here but
float formatting differs), and flush -> load recovers the representation.
Corpora: the reference's tiny inline fixtures + real reference NDJSON files.
"""

from __future__ import annotations

import json

import pytest

from json_format_in_parquet_benchmark_spark.formats import FORMATS, get_format
from json_format_in_parquet_benchmark_spark.formats.jsonc_tape import (
    decode_tape,
    encode_tape,
)
from json_format_in_parquet_benchmark_spark.formats.variant_shred import (
    VariantShredFormat,
)
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
    assert sorted(loaded.columns) == sorted(encoded.columns)
    assert _reparse(fmt.decode(loaded).collect()) == _reparse(
        fmt.decode(encoded).collect()
    )


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
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
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
    finally:
        spark.conf.set(key, old)

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
    import pyarrow as pa

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


def test_reference_corpus_roundtrip(spark):
    """Real reference corpus (logs.json: arrays, nulls, nested) through the
    variant binary representation."""
    raw = read_ndjson_raw(spark, "/root/reference/json/logs.json")
    fmt = get_format("jsonb")
    decoded = fmt.decode(fmt.encode(raw)).collect()
    assert len(decoded) == 1024
    one = json.loads(decoded[0].doc)
    assert {"timestamp", "system", "actor", "action", "objects"} <= set(one)


@pytest.mark.parametrize(
    "corpus", ["logs", "tags", "tags_with_time", "trace", "twitter"]
)
@pytest.mark.parametrize("fmt_name", ["plain_json", "jsonb", "jsonc"])
def test_all_reference_corpora_roundtrip_semantically(spark, corpus, fmt_name):
    """Every multi-shape reference corpus round-trips through every
    schema-less representation; equality is semantic (re-parse) because
    serializers differ in key order / float formatting (SURVEY.md section 7
    hard part c).  variant is excluded: its declared schema is
    events-specific by design (variant.rs:22-48)."""
    raw = read_ndjson_raw(spark, f"/root/reference/json/{corpus}.json")
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
    against a real generated events line."""
    raw = read_ndjson_raw(spark, "/root/reference/json/events_ndv_0.1_1024.json")
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

    corpus = "/root/reference/json/events_ndv_0.1_1024.json"
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
    df = spark.read.json("/root/reference/json/events_ndv_0.1_1024.json")
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
    old = spark.conf.get("spark.sql.variant.pushVariantIntoScan")
    try:
        spark.conf.set("spark.sql.variant.pushVariantIntoScan", "true")
        plan = (
            spark.read.parquet(path)
            .select(F.variant_get("v", "$.a", "string").alias("a"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.variant.pushVariantIntoScan", old)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "struct<0:string>" in read_schema, read_schema
