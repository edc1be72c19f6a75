"""Custom PYTHON DATA SOURCE (Spark 4 DataSource API): byte-range-split
NDJSON.

The built-in text/json sources already read NDJSON; this connector exists to
exercise the NEW pure-Python connector surface (pyspark.sql.datasource,
added in Spark 4.0) end-to-end with REAL partition planning: the file is
split into N byte ranges at plan time (``partitions()``), and each task
applies the classic Hadoop LineRecordReader boundary rule so every line is
read exactly once no matter where the split boundaries fall:

- a task's range is [start, end); it owns every line that STARTS in it;
- a task with start > 0 seeks to start-1 and discards one readline(): if
  byte[start-1] is a newline that consumes just the separator (leaving the
  line that starts exactly at `start` intact); otherwise it consumes the
  partial line owned by the previous range;
- a task keeps reading while the next line STARTS before `end`, finishing a
  line that crosses `end` (the next task discards its partial prefix).

Split-count invariance (1, 3, 7 splits produce the identical multiset) is
pinned by tests/test_plans.py; the registered query cross-checks content
against the DuckDB oracle.  At 100 TB the same plan shape holds: one
InputPartition per range, no driver-side reading -- partitions() touches
only os.path.getsize.

Reference parity: the reference reads its corpora as whole files
(/root/reference/src/codec.rs:8-19); this source is the scale-path version
of that reader.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)


class _ByteRange(InputPartition):
    def __init__(self, path: str, start: int, end: int) -> None:
        self.path = path
        self.start = start
        self.end = end


class _NdjsonRangeReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options["path"]
        self.n_splits = int(options.get("n_splits", "4"))

    def partitions(self) -> list[InputPartition]:
        size = os.path.getsize(self.path)
        n = max(1, self.n_splits)
        step = max(1, (size + n - 1) // n)
        return [
            _ByteRange(self.path, lo, min(lo + step, size))
            for lo in range(0, size, step)
        ]

    def read(self, partition: _ByteRange) -> Iterator[tuple]:
        with open(partition.path, "rb") as fh:
            if partition.start > 0:
                fh.seek(partition.start - 1)
                fh.readline()  # boundary rule (module docstring)
            else:
                fh.seek(0)
            while fh.tell() < partition.end:
                line = fh.readline()
                if not line:
                    break
                doc = line.rstrip(b"\n").decode("utf-8")
                if doc:
                    yield (doc,)


class NdjsonRangesDataSource(DataSource):
    """spark.read.format("jfipb_ndjson_ranges").option("path", p)
    .option("n_splits", k).load()"""

    @classmethod
    def name(cls) -> str:
        return "jfipb_ndjson_ranges"

    def schema(self) -> str:
        return "doc string"

    def reader(self, schema) -> DataSourceReader:
        return _NdjsonRangeReader(self.options)


def read_ndjson_ranges(spark, path: str, n_splits: int = 4):
    """Register the source (idempotent -- a session-id cache would break
    when id() is reused after GC) and read ``path`` through it."""
    spark.dataSource.register(NdjsonRangesDataSource)
    return (
        spark.read.format("jfipb_ndjson_ranges")
        .option("path", path)
        .option("n_splits", str(n_splits))
        .load()
    )


# --- Streaming side: deterministic replay source ------------------------------


class _ReplayStreamReader:
    """SimpleDataSourceStreamReader serving a fixed NDJSON file in
    fixed-size line chunks -- a deterministic replay stream.  Offsets are
    line indices, so restarts resume exactly (the checkpoint stores the
    line offset) and readBetweenOffsets replays any batch byte-identically.

    Empirical API notes (Spark 4.1.2): trigger(availableNow) commits ONE
    read() call per run for simple stream readers -- it does not drain to
    EOF -- so a finite replay is driven with a processingTime trigger and
    stopped once the offset reaches the line count (the consumer polls the
    sink; see plans/queries_streaming.py:stream_pyds_replay).
    """

    def __init__(self, options: dict) -> None:
        self.path = options["path"]
        self.chunk = int(options.get("chunk", "256"))
        self._lines_cache: list[bytes] | None = None

    def _lines(self) -> list[bytes]:
        # Cached per reader instance: read() / readBetweenOffsets() are
        # called once per micro-batch, and re-splitting the whole corpus
        # each time makes the driver O(L^2/chunk) over a replay.
        if self._lines_cache is None:
            with open(self.path, "rb") as fh:
                self._lines_cache = [
                    ln for ln in fh.read().split(b"\n") if ln
                ]
        return self._lines_cache

    def initialOffset(self) -> dict:
        return {"line": 0}

    def read(self, start: dict):
        # Return a LIST ITERATOR: the runner's prefetch cache both
        # next()s it and copy.copy()s it -- a generator fails the copy
        # (no __reduce__), a bare list fails the next().
        lines = self._lines()
        lo = start["line"]
        hi = min(lo + self.chunk, len(lines))
        rows = [(lines[i].decode("utf-8"),) for i in range(lo, hi)]
        return iter(rows), {"line": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        lines = self._lines()
        return iter([
            (lines[i].decode("utf-8"),)
            for i in range(start["line"], end["line"])
        ])


class NdjsonReplayStreamSource(DataSource):
    """spark.readStream.format("jfipb_ndjson_replay").option("path", p)
    .option("chunk", k).load() -- each micro-batch serves the next k
    lines."""

    @classmethod
    def name(cls) -> str:
        return "jfipb_ndjson_replay"

    def schema(self) -> str:
        return "doc string"

    def simpleStreamReader(self, schema):
        from pyspark.sql.datasource import SimpleDataSourceStreamReader

        # _ReplayStreamReader FIRST: the MRO must find the real
        # implementations before the base class's raising stubs.
        class _R(_ReplayStreamReader, SimpleDataSourceStreamReader):
            pass

        return _R(self.options)


def read_ndjson_replay_stream(spark, path: str, chunk: int = 256):
    # Spark plans a Python stream source in a driver-side runner started
    # from the stream thread, whose SparkFiles directory is a job-artifact
    # subdirectory the addPyFile'd package zip is never copied to; the
    # runner then imports this module only if the caller's cwd holds the
    # package.  The runner's PYTHONPATH merges the registered function's
    # environment, captured at register(), so the zip goes there.
    from ..session import ship_package

    env = spark.sparkContext.environment
    prev = env.get("PYTHONPATH")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, (ship_package(spark), prev)))
    try:
        spark.dataSource.register(NdjsonReplayStreamSource)
    finally:
        if prev is None:
            del env["PYTHONPATH"]
        else:
            env["PYTHONPATH"] = prev
    return (
        spark.readStream.format("jfipb_ndjson_replay")
        .option("path", path)
        .option("chunk", str(chunk))
        .load()
    )


# --- Streaming write side: NDJSON sink with manifest commit --------------------


class _NdjsonSinkMessage(WriterCommitMessage):
    def __init__(self, path: str, n_rows: int) -> None:
        self.path = path
        self.n_rows = n_rows


class _NdjsonStreamWriter(DataSourceStreamWriter):
    """DataSourceStreamWriter writing one NDJSON file per task, committed
    EXACTLY-ONCE via a manifest: tasks write data files freely (a retried
    task leaves an orphan), and the driver-side commit() publishes the
    batch's file list LAST -- readers trust only manifest-listed files, so
    orphans and aborted batches are invisible.  The same manifest-last
    ordering as sink_snapshot_time_travel, here at micro-batch granularity.

    Idempotence: the manifest is one file PER batchId
    (_manifest/batch-<id>.json), published by write-to-temp + atomic
    os.replace.  A micro-batch replayed after a restart (commit ran but the
    engine's own commit log had not yet recorded the batch) re-runs commit()
    for the same batchId and simply overwrites the batch's manifest file with
    the fresh task outputs -- the stale file paths from the first attempt drop
    out of committed_files(), so readers never see a batch twice.  The atomic
    rename also means a crash mid-publish leaves either the old complete file
    or none at all, never a torn JSON tail."""

    def __init__(self, options: dict) -> None:
        self.path = options["path"]

    def write(self, iterator):
        import uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = ctx.partitionId() if ctx is not None else 0
        os.makedirs(os.path.join(self.path, "data"), exist_ok=True)
        fname = os.path.join(
            self.path, "data", f"part-{part}-{uuid.uuid4().hex}.ndjson"
        )
        n = 0
        with open(fname, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(row[0])
                fh.write("\n")
                n += 1
        return _NdjsonSinkMessage(fname, n)

    def commit(self, messages, batchId) -> None:
        import json

        entry = {
            "batch": batchId,
            "files": [
                {"path": m.path, "n_rows": m.n_rows}
                for m in messages
                if m is not None and m.n_rows > 0
            ],
        }
        mdir = os.path.join(self.path, "_manifest")
        os.makedirs(mdir, exist_ok=True)
        final = os.path.join(mdir, f"batch-{int(batchId)}.json")
        tmp = final + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(json.dumps(entry))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, final)  # atomic publish; replayed batchId overwrites

    def abort(self, messages, batchId) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class NdjsonManifestSink(DataSource):
    """df.writeStream.format("jfipb_ndjson_sink").option("path", dir)"""

    @classmethod
    def name(cls) -> str:
        return "jfipb_ndjson_sink"

    def schema(self) -> str:
        return "doc string"

    def streamWriter(self, schema, overwrite):
        return _NdjsonStreamWriter(self.options)


def committed_files(path: str) -> list[str]:
    """Files listed by the sink's manifest -- the only files a reader may
    trust.  One manifest file per batch; batches are returned in batchId
    order.  An unparseable manifest file is by definition an uncommitted
    batch (the atomic-rename publish makes this near-impossible, but a
    defensive reader never fails on someone else's torn write) and is
    skipped rather than raised."""
    import glob as _glob
    import json

    mdir = os.path.join(path, "_manifest")
    out: list[str] = []
    if not os.path.isdir(mdir):
        return out
    batches: list[tuple[int, list[str]]] = []
    for mf in _glob.glob(os.path.join(mdir, "batch-*.json")):
        try:
            entry = json.loads(open(mf).read())
            batches.append((int(entry["batch"]), [f["path"] for f in entry["files"]]))
        except (ValueError, KeyError, OSError, TypeError):
            # torn/partial manifest == uncommitted batch; TypeError covers
            # valid-JSON-but-wrong-shape entries (batch: null, non-dict
            # file rows) -- skip-not-raise is the documented contract.
            continue
    for _, files in sorted(batches):
        out.extend(files)
    return out


def register_ndjson_sink(spark) -> None:
    spark.dataSource.register(NdjsonManifestSink)
