"""jsonc: the document as a columnar "tape" -- structure/value separation.

Reference: /root/reference/src/format/jsonc.rs stores each document as three
parallel pools (node opcodes UInt8, string pool Utf8, number pool Float64;
Parquet schema at jsonc.rs:21-44).  The tape's point is that parsing happens
ONCE at encode time; queries walk pre-parsed structure.

We keep the same physical shape (struct of three lists) but define our own
documented opcode stream (the reference's comes from an external crate whose
internals are out of scope):

  preorder walk; each node appends one opcode to `nodes`:
    0 null | 1 false | 2 true
    3 number  -> value appended to `numbers`
    4 string  -> value appended to `strings`
    5 object  -> entry count appended to `nodes` as a varint; then per entry
                 the key is appended to `strings` followed by the value's
                 encoding
    6 array   -> item count appended to `nodes` as a varint; then item
                 encodings

Entry counts ride the OPCODE stream, not the number pool: a count is pure
structure, and mixing one low-entropy count per container into the f64 value
pool breaks its dictionary/RLE runs (measured 26.1 KB -> 14-17 KB on the
reference's events_ndv_0.1_8192 grid corpus just by moving them out, since
the pool's dictionary indices shrink from 3 to 1 entry per document while
the near-constant counts cost ~nothing among the u8 opcodes).  The varint
is int8-safe because the Spark column is a SIGNED tinyint: little-endian
base-128 digits, continuation bytes stored NEGATIVE (digit - 128), the
terminal digit stored as-is (0..127) -- so counts < 128 (virtually all
real documents) cost one byte.

Limitations (shared with the reference): all numbers live in a Float64 pool,
so integers above 2^53 lose precision (the reference's number_opt_list is
f64, jsonc.rs:36).

Spark-first note: tape construction is genuinely structural recursion Spark
expressions can't state, so the three kernels (encode, decode, path access)
are Arrow UDFs.  Each receives a batch's tape columns as ``pa.ListArray``s
and converts each column's offsets and flat value pool to Python lists ONCE
per batch; every row is then walked in place by one cursor started at that
row's offsets into the shared pools (no per-row array or scalar
conversion).  Encode appends the whole batch into three shared pools and
hands them back as list arrays the same way.  A null document or tape row
yields a null result.  Dynamic path ACCESS at scale should use the variant
format instead; the tape exists for storage-layout parity and benchmarking.
"""

from __future__ import annotations

import functools
import json

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from .base import DOC_COL, JsonFormatBase

TAPE_SCHEMA = "nodes array<tinyint>, strings array<string>, numbers array<double>"
# Arrow types of the three pools, in TAPE_SCHEMA order.
_POOL_FIELDS = ("nodes", "strings", "numbers")
_POOL_TYPES = (pa.int8(), pa.string(), pa.float64())

OP_NULL, OP_FALSE, OP_TRUE, OP_NUMBER, OP_STRING, OP_OBJECT, OP_ARRAY = range(7)

# json.dumps with non-default options builds a new encoder per call.
_dumps = json.JSONEncoder(separators=(",", ":"), ensure_ascii=False).encode


def _append_varint(nodes: list[int], n: int) -> None:
    """Append a container entry count to the opcode stream as an int8-safe
    varint (see module docstring): continuation digits negative, terminal
    digit 0..127."""
    while n >= 128:
        nodes.append((n & 0x7F) - 128)
        n >>= 7
    nodes.append(n)


def _tape_writer(nodes: list[int], strings: list[str], numbers: list[float]):
    """Return ``walk(value)``, which appends the preorder encoding of one
    JSON value to the three pools (so several documents can share them)."""

    def walk(v) -> None:
        if v is None:
            nodes.append(OP_NULL)
        elif v is True:
            nodes.append(OP_TRUE)
        elif v is False:
            nodes.append(OP_FALSE)
        elif isinstance(v, (int, float)):
            nodes.append(OP_NUMBER)
            numbers.append(float(v))
        elif isinstance(v, str):
            nodes.append(OP_STRING)
            strings.append(v)
        elif isinstance(v, list):
            nodes.append(OP_ARRAY)
            _append_varint(nodes, len(v))
            for item in v:
                walk(item)
        elif isinstance(v, dict):
            nodes.append(OP_OBJECT)
            _append_varint(nodes, len(v))
            for k, item in v.items():
                strings.append(k)
                walk(item)
        else:  # pragma: no cover
            raise TypeError(f"unsupported JSON value {type(v)}")

    return walk


def encode_tape(value) -> tuple[list[int], list[str], list[float]]:
    """Python-side preorder tape encoder (the Arrow UDF runs the same
    writer over a whole batch; directly unit-testable)."""
    nodes: list[int] = []
    strings: list[str] = []
    numbers: list[float] = []
    _tape_writer(nodes, strings, numbers)(value)
    return nodes, strings, numbers


class _Cursor:
    """Position in the three pools; methods advance it past one value.
    The start indices let one cursor walk a single row of pools shared by a
    whole batch."""

    __slots__ = ("nodes", "strings", "numbers", "ni", "si", "xi")

    def __init__(self, nodes, strings, numbers, ni=0, si=0, xi=0):
        self.nodes, self.strings, self.numbers = nodes, strings, numbers
        self.ni, self.si, self.xi = ni, si, xi

    def read_count(self) -> int:
        """Read a container entry count (int8-safe varint) from the opcode
        stream at the cursor."""
        n = 0
        shift = 0
        while True:
            b = self.nodes[self.ni]
            self.ni += 1
            if b < 0:  # continuation digit, payload = b + 128
                n |= (b + 128) << shift
                shift += 7
            else:  # terminal digit
                return n | (b << shift)

    def read(self):
        """Materialize the value at the cursor (advances past it)."""
        op = self.nodes[self.ni]
        self.ni += 1
        if op == OP_NULL:
            return None
        if op == OP_FALSE:
            return False
        if op == OP_TRUE:
            return True
        if op == OP_NUMBER:
            x = self.numbers[self.xi]
            self.xi += 1
            return int(x) if float(x).is_integer() and abs(x) < 2**53 else x
        if op == OP_STRING:
            s = self.strings[self.si]
            self.si += 1
            return s
        if op == OP_ARRAY:
            n = self.read_count()
            return [self.read() for _ in range(n)]
        if op == OP_OBJECT:
            n = self.read_count()
            out = {}
            for _ in range(n):
                key = self.strings[self.si]
                self.si += 1
                out[key] = self.read()
            return out
        raise ValueError(f"bad opcode {op}")

    def skip(self):
        """Advance past the value at the cursor WITHOUT materializing it --
        the operation that makes tape path-access cheaper than full decode
        (structure is in the opcode stream, so skipping costs O(subtree
        nodes) index bumps and zero allocation)."""
        op = self.nodes[self.ni]
        self.ni += 1
        if op in (OP_NULL, OP_FALSE, OP_TRUE):
            return
        if op == OP_NUMBER:
            self.xi += 1
            return
        if op == OP_STRING:
            self.si += 1
            return
        n = self.read_count()  # OP_ARRAY / OP_OBJECT
        for _ in range(n):
            if op == OP_OBJECT:
                self.si += 1  # entry key
            self.skip()

    def get(self, path):
        """Path access from the cursor: descend into matching object
        entries, SKIPPING non-matching subtrees, and materialize the value
        at ``path`` (None if a step is missing or hits a non-object)."""
        for key in path:
            if self.nodes[self.ni] != OP_OBJECT:
                return None
            self.ni += 1
            for _ in range(self.read_count()):
                k = self.strings[self.si]
                self.si += 1
                if k == key:
                    break
                self.skip()
            else:
                return None
        return self.read()


def decode_tape(nodes, strings, numbers):
    """Inverse of :func:`encode_tape` -> Python JSON value."""
    return _Cursor(nodes, strings, numbers).read()


def get_path_tape(nodes, strings, numbers, path):
    """Path access ON the tape representation (reference ``Jsonc::get``,
    /root/reference/src/format/jsonc.rs via benches/query.rs:23-28): walk the
    pre-parsed opcode stream, descending into matching object entries and
    SKIPPING non-matching subtrees -- the document is never re-parsed and
    non-matching values are never materialized.

    ``path`` is a sequence of object keys (the reference's probes are all
    dot-paths of object fields).  Returns the Python value at the path, or
    None if any step is missing or hits a non-object.
    """
    return _Cursor(nodes, strings, numbers).get(path)


def _pylist(arr: pa.Array) -> list:
    """``arr.to_pylist()``, through numpy when ``arr`` has no nulls: the
    same Python ints, floats and strs, without building a pyarrow scalar
    per element (about 30x faster on a batch's pools)."""
    if arr.null_count:
        return arr.to_pylist()
    return arr.to_numpy(zero_copy_only=False).tolist()


def _row_cursors(nodes: pa.ListArray, strings: pa.ListArray, numbers: pa.ListArray):
    """One cursor per row of a batch of tape columns, or None for a null
    row.  Each column's offsets and flat value pool become Python lists
    once per batch; the offsets index the unsliced child array, so a
    sliced batch is walked correctly."""
    cols = (nodes, strings, numbers)
    (n_off, n_val), (s_off, s_val), (x_off, x_val) = (
        (_pylist(c.offsets), _pylist(c.values)) for c in cols
    )
    nulls = [False] * len(nodes)
    if any(c.null_count for c in cols):
        nulls = functools.reduce(pc.or_, (c.is_null() for c in cols))
        nulls = nulls.to_pylist()
    for i, null in enumerate(nulls):
        yield None if null else _Cursor(
            n_val, s_val, x_val, n_off[i], s_off[i], x_off[i]
        )


@functools.lru_cache(maxsize=1)
def _encode_udf():
    # built lazily: arrow_udf registration needs an active SparkSession
    @arrow_udf(TAPE_SCHEMA)
    def encode_udf(docs: pa.Array) -> pa.Array:
        pools = ([], [], [])
        offsets = ([0], [0], [0])
        walk = _tape_writer(*pools)
        for doc in _pylist(docs):
            if doc is not None:
                walk(json.loads(doc))
            for off, pool in zip(offsets, pools):
                off.append(len(pool))
        mask = docs.is_null() if docs.null_count else None
        lists = [
            pa.ListArray.from_arrays(
                pa.array(off, pa.int32()), pa.array(pool, typ), mask=mask
            )
            for off, pool, typ in zip(offsets, pools, _POOL_TYPES)
        ]
        return pa.StructArray.from_arrays(lists, names=_POOL_FIELDS, mask=mask)

    return encode_udf


@functools.lru_cache(maxsize=32)
def get_path_udf(path: tuple[str, ...]):
    """Arrow UDF extracting ``path`` from tape columns as a string (strings
    come back raw, other values as compact JSON; a null tape row or a
    missing path gives null).

    Parity caveat: string results match ``get_json_object`` exactly, but
    numbers are re-serialized from the Float64 pool (integral floats emit as
    ints), NOT from the source literal -- the tape stores every number as
    f64 (same as the reference's number pool, jsonc.rs:36), so "1.0" in the
    source would come back "1" here while the re-parse arm preserves the
    source text.  The golden probes are all strings, where the three arms
    are exactly comparable."""

    @arrow_udf("string")
    def _udf(nodes: pa.Array, strings: pa.Array, numbers: pa.Array) -> pa.Array:
        out = []
        for cur in _row_cursors(nodes, strings, numbers):
            v = None if cur is None else cur.get(path)
            out.append(v if v is None or isinstance(v, str) else _dumps(v))
        return pa.array(out, pa.string())

    return _udf


@functools.lru_cache(maxsize=1)
def _decode_udf():
    @arrow_udf("string")
    def decode_udf(nodes: pa.Array, strings: pa.Array, numbers: pa.Array) -> pa.Array:
        return pa.array(
            [
                None if cur is None else _dumps(cur.read())
                for cur in _row_cursors(nodes, strings, numbers)
            ],
            pa.string(),
        )

    return decode_udf


class JsoncTapeFormat(JsonFormatBase):
    name = "jsonc"
    schema = TAPE_SCHEMA

    def encode(self, raw: DataFrame) -> DataFrame:
        return raw.select(_encode_udf()(F.col(DOC_COL)).alias("tape")).select(
            F.col("tape.nodes").alias("nodes"),
            F.col("tape.strings").alias("strings"),
            F.col("tape.numbers").alias("numbers"),
        )

    def decode(self, encoded: DataFrame) -> DataFrame:
        return encoded.select(
            _decode_udf()(F.col("nodes"), F.col("strings"), F.col("numbers")).alias(
                DOC_COL
            )
        )
