"""The benchmark's workloads: inputs made from a seed, the operations of one
round, and the check applied to every operation's output.

Both workloads mix four kinds of operation, each driven only through the
engine's public functions:

- ingest:    NDJSON file -> ``read_ndjson_raw`` -> ``encode`` -> ``flush``
- decode:    ``load`` -> ``decode`` -> length aggregate, over the copy the
             round's ingest wrote
- path:      one path query on that copy (point sum, filter-count,
             group-by) through the format's own path accessor
- headliner: one registered headliner query, timed one-shot (after
             ``release_caches`` and after dropping the tables queries
             memoize in the catalog)

plus, in traced rounds only, a scan-only operation that times the NDJSON
source layer on its own.

Every input is generated from the seed.  Excluded until their inputs are in
the repository: the headliner ``stream_pyds_replay`` and the reference's
real-world corpora (canada, citm, twitter, logs), which all read the
reference project's JSON files.
"""

from __future__ import annotations

import contextlib
import os
import signal
import time
from dataclasses import dataclass, field
from typing import Callable

import duckdb

import checks
import datagen
import spans

NDVS = (0.1, 1.0)  # the reference corpora's two dictionary extremes
ATTR_PATH = "$.attributes.event_attributes"
ATTR_KEYS = ("attributes", "event_attributes")
FILTER_ABOVE = 500.0
TABLES_SF = 0.001

# The 60 eligible headliners take about 140 s in one one-shot pass over
# these tables on a warm JVM with 4 cores (170 s on the first pass), more
# than one run can spend, so each of the 15 plans modules that
# hold one is represented by one headliner.  Rule: the 5 modules with a
# headliner that runs a Python worker (pandas UDF / Arrow map) are
# represented by their cheapest such headliner and ride with the tape
# format; the other 10 by their cheapest headliner, with the JVM formats.
# So the Python/Arrow boundary is exercised by one workload and bypassed by
# the other, and every module is on the timed path at the least cost.
# "Cheapest" is the mean of two one-shot times on a warm JVM over seed 7's
# tables.  Each list starts with a cheap one: the warm-up runs it.
HEADLINERS_JVM = (
    "window_topn_orders_per_customer",  # relational (18 headliners)
    "q9_product_profit",  # tpch (2)
    "stream_session_window_batch",  # streaming (3 eligible)
    "events_gapfill_locf",  # timeseries (4)
    "dedup_exact",  # dedup (10)
    "flagship_events_enriched",  # json (1)
    "graph_communities_trading",  # graph (2)
    "text_bm25_topk",  # search (1)
    "events_rolling_hll_wau",  # sketches (2)
    "sink_merge_upsert",  # sinks (2)
)
HEADLINERS_PYTHON = (
    "multimodal_decode_features",  # multimodal (3 of 3 run a Python worker)
    "text_char_bigram_lm",  # text (1 of 3)
    "embedding_gram_matrix",  # embedding_stats (1 of 1)
    "similarity_knn_graph",  # similarity (3 of 6)
    "pipeline_pretrain_corpus",  # pipeline (1 of 2)
)


@dataclass(frozen=True)
class Spec:
    formats: tuple[str, ...]
    docs_per_corpus: int
    headliners: tuple[str, ...]
    cycles: int  # whole cycles a run measures, at the least


SPECS = {
    "events_jvm": Spec(
        formats=("plain_json", "jsonb", "variant", "jsonb_shredded"),
        docs_per_corpus=40_000,  # 4.6 MB of NDJSON
        headliners=HEADLINERS_JVM,
        cycles=1,
    ),
    "events_tape": Spec(
        formats=("jsonc",),
        docs_per_corpus=20_000,  # smaller: the tape kernels are slower
        headliners=HEADLINERS_PYTHON,
        # One cycle holds only 2 ingest, 2 decode and 3 path samples; the
        # second repeats them (headliners run in the first cycle only).
        cycles=2,
    ),
}
# Round r runs every format on corpus NDVS[r % 2] and every other headliner,
# so each operation runs exactly once per cycle of two rounds.  Each format
# runs every path query once per cycle: the point sum and group-by on one
# corpus, the filter-count on the other, alternating by format.
CYCLE = 2
PATH_QUERIES = (("sum", "group_by"), ("filter_count",))


@dataclass
class Op:
    kind: str  # ingest | decode | path | headliner | scan
    key: str
    fmt: str = ""
    module: str = ""
    nbytes: int = 0  # NDJSON bytes the op processes (ingest, decode)
    prepare: Callable[[], None] = lambda: None  # untimed
    run: Callable[[], tuple] = lambda: (None, None)  # timed; (frame, rows)
    check: Callable[[object, list], None] = lambda df, rows: None  # raises
    last: dict = field(default_factory=dict)  # check outputs (stored bytes)


class CheckFailed(Exception):
    pass


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


def _dir_files(path: str, suffix: str) -> list[str]:
    return [
        os.path.join(path, f) for f in sorted(os.listdir(path))
        if f.endswith(suffix) and not f.startswith((".", "_"))
    ]


class Bench:
    """Inputs, engine session and operations of one workload run."""

    def __init__(self, name: str, seed: int, work: str, tracer):
        self.spec = SPECS[name]
        self.seed = seed
        self.work = work
        self.span = tracer.span
        self.spark = None
        self.truth: dict[float, dict] = {}
        self._oracle_rows: dict[str, object] = {}  # name -> pandas frame
        self._rounds: dict[int, tuple] = {}

    # -- set-up ---------------------------------------------------------

    def setup(self) -> dict[str, float]:
        """The set-up a one-shot caller pays: start the session (and its
        JVM), generate the corpora and tables, and warm up.  Returns the
        seconds of each phase.  No pre-ingest is needed: each round's read
        operations read the copy its ingest operation just wrote."""
        from json_format_in_parquet_benchmark_spark.generator import (
            generate_events_ndjson,
        )
        from json_format_in_parquet_benchmark_spark.session import get_spark

        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                    # A fixed heap size keeps peak memory from depending on
                    # when the JVM decided to grow its heap.
                    "spark.driver.extraJavaOptions":
                        f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
                },
            )
        t1 = time.perf_counter()
        self.corpora = {}
        for ndv in NDVS:
            path = os.path.join(self.work, "data", f"ndjson_ndv{ndv}")
            with self.span("generator.generate_events_ndjson"):
                generate_events_ndjson(
                    self.spark, self.spec.docs_per_corpus, ndv, seed=f"s{self.seed}"
                ).write.text(path)
            self.corpora[ndv] = (
                path, sum(os.path.getsize(f) for f in _dir_files(path, ""))
            )
        self.sf_dir = os.path.join(self.work, "data", "tables")
        with self.span("perfbench.datagen.write_tables"):
            datagen.write_tables(self.sf_dir, self.seed, TABLES_SF)
        t2 = time.perf_counter()
        # Warm-up: one operation of each kind, the ingest first so that the
        # reads find its copy.
        ops = self.round_ops(0, traced=False)
        for kind in ("ingest", "decode", "path", "headliner"):
            op = next(op for op in ops if op.kind == kind)
            op.prepare()
            op.run()
        return {"session.start_s": t1 - t0, "generator.corpus_s": t2 - t1,
                "warmup_s": time.perf_counter() - t2}

    def teardown(self) -> None:
        """Stop the session, then the JVM (it exits when its stdin closes,
        taking the Python workers with it), and wait until every process
        this run started has ended."""
        from pyspark import SparkContext

        from json_format_in_parquet_benchmark_spark.operators.dedup import (
            release_caches,
        )

        gateway = SparkContext._gateway
        if gateway is None:
            return
        started = [p for p in spans.process_tree(os.getpid()) if p != os.getpid()]
        try:
            if self.spark is not None:
                release_caches()
                self.spark.stop()
            gateway.shutdown()
        finally:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            deadline = time.monotonic() + 30
            while any(map(spans.alive, started)) and time.monotonic() < deadline:
                time.sleep(0.1)
            for p in filter(spans.alive, started):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)

    def compute_truth(self) -> None:
        """Ground truth from the generator's typed frame (not from JSON)."""
        from pyspark.sql import functions as F

        from json_format_in_parquet_benchmark_spark.generator import generate_events

        for ndv in NDVS:
            ev = generate_events(
                self.spark, self.spec.docs_per_corpus, ndv, seed=f"s{self.seed}"
            )
            v = F.col("attributes.event_attributes")
            total, above = ev.agg(
                F.sum(v.cast("decimal(20,3)")), F.count(F.when(v > FILTER_ABOVE, 1))
            ).first()
            groups = tuple(_group_summary(ev.select("name", v.alias("v"))).first())
            self.truth[ndv] = {"sum": total, "above": above, "groups": groups}

    # -- operations -----------------------------------------------------

    def _stored(self, fmt: str, ndv: float) -> str:
        return os.path.join(self.work, "data", f"{fmt}_ndv{ndv}")

    def round_ops(self, r: int, traced: bool) -> list[Op]:
        """The operations of round ``r``: every format on one corpus (its
        ingest first, then the reads of the copy it wrote), half the
        headliners (first cycle only), and in traced rounds the
        source-layer scan."""
        first_cycle = r < CYCLE
        r %= CYCLE
        if r not in self._rounds:
            ndv = NDVS[r]
            path, nbytes = self.corpora[ndv]
            ops: list[Op] = []
            for i, fmt in enumerate(self.spec.formats):
                tag = f"{fmt}/ndv{ndv}"
                ops.append(self._ingest_op(fmt, ndv, path, nbytes, tag))
                ops.append(self._decode_op(fmt, ndv, nbytes, tag))
                for q in PATH_QUERIES[(i + r) % CYCLE]:
                    ops.append(self._path_op(fmt, ndv, q, tag))
            heads = [self._headliner_op(n) for n in self.spec.headliners[r::CYCLE]]
            self._rounds[r] = (ops, heads, self._scan_op(ndv, path))
        ops, heads, scan = self._rounds[r]
        return ops + (heads if first_cycle else []) + ([scan] if traced else [])

    def _scan_op(self, ndv, path) -> Op:
        """Source-layer probe: the NDJSON scan alone (traced rounds only)."""
        from pyspark.sql import functions as F

        from json_format_in_parquet_benchmark_spark.sources.ndjson import (
            read_ndjson_raw,
        )

        def run():
            with self.span("sources.ndjson.read_ndjson_raw"):
                raw = read_ndjson_raw(self.spark, path)
            return _collect(raw.agg(F.count(F.lit(1))))

        return Op("scan", f"ndjson/ndv{ndv}", run=run,
                  check=lambda df, rows: _expect("scan rows", rows[0][0], self.spec.docs_per_corpus))

    def _ingest_op(self, fmt_name, ndv, path, nbytes, tag) -> Op:
        from json_format_in_parquet_benchmark_spark.formats import get_format
        from json_format_in_parquet_benchmark_spark.sources.ndjson import (
            read_ndjson_raw,
        )

        fmt = get_format(fmt_name)
        out = self._stored(fmt_name, ndv)
        op = Op("ingest", tag, fmt=fmt_name, nbytes=nbytes)

        def run():
            with self.span("sources.ndjson.read_ndjson_raw"):
                raw = read_ndjson_raw(self.spark, path)
            with self.span(f"formats.{fmt_name}.encode"):
                enc = fmt.encode(raw)
            with self.span(f"formats.{fmt_name}.flush"):
                fmt.flush(enc, out)
            return None, None

        def check(df, rows):
            files = _dir_files(out, ".parquet")
            rows = sum(_footer_rows(self.spark, f) for f in files)
            _expect(f"{tag} ingested rows", rows, self.spec.docs_per_corpus)
            op.last = {"stored_bytes": sum(os.path.getsize(f) for f in files),
                       "files": len(files)}

        op.run, op.check = run, check
        return op

    def _decode_op(self, fmt_name, ndv, nbytes, tag) -> Op:
        from pyspark.sql import functions as F

        from json_format_in_parquet_benchmark_spark.formats import get_format

        fmt = get_format(fmt_name)
        stored = self._stored(fmt_name, ndv)

        def run():
            with self.span(f"formats.{fmt_name}.load"):
                enc = fmt.load(self.spark, stored)
            with self.span(f"formats.{fmt_name}.decode"):
                doc = fmt.decode(enc)
            return _collect(doc.agg(F.count(F.lit(1)), F.sum(F.length("doc"))))

        def check(df, rows):
            row = rows[0]
            _expect(f"{tag} decoded rows", row[0], self.spec.docs_per_corpus)
            if not row[1]:
                raise CheckFailed(f"{tag}: decoded documents are empty")

        return Op("decode", tag, fmt=fmt_name, nbytes=nbytes, run=run, check=check)

    def _path_op(self, fmt_name, ndv, query, tag) -> Op:
        from pyspark.sql import functions as F

        from json_format_in_parquet_benchmark_spark.formats import get_format

        fmt = get_format(fmt_name)
        stored = self._stored(fmt_name, ndv)

        def run():
            with self.span(f"formats.{fmt_name}.load"):
                enc = fmt.load(self.spark, stored)
            with self.span(f"formats.{fmt_name}.get_path"):
                df = _path_frame(fmt_name, enc, with_name=(query == "group_by"))
            v = F.col("v")
            if query == "sum":
                return _collect(df.agg(F.sum(v.cast("decimal(20,3)"))))
            if query == "filter_count":
                return _collect(df.agg(F.count(F.when(v > FILTER_ABOVE, 1))))
            return _collect(_group_summary(df))

        want = {"sum": "sum", "filter_count": "above", "group_by": "groups"}[query]

        def check(df, rows):
            got = tuple(rows[0]) if query == "group_by" else rows[0][0]
            _expect(f"{tag} {query}", got, self.truth[ndv][want])

        return Op("path", f"{tag}/{query}", fmt=fmt_name, run=run, check=check)

    def _headliner_op(self, name: str) -> Op:
        from json_format_in_parquet_benchmark_spark.operators.dedup import (
            release_caches,
        )
        from json_format_in_parquet_benchmark_spark.plans import REGISTRY

        q = REGISTRY[name]
        module = q.fn.__module__.rsplit(".", 1)[-1].removeprefix("queries_")
        op = Op("headliner", name, module=module)

        def prepare():
            with self.span("operators.dedup.release_caches"):
                release_caches()
            for t in self.spark.catalog.listTables():
                self.spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")

        def run():
            with self.span(f"plans.{module}.{name}"):
                df = q.fn(self.spark, self.sf_dir)
            return df, df.toPandas()  # the result as a caller fetches it

        def check(df, pdf):
            bad = checks.oracle_mismatch(name, pdf, self._oracle(name, q.oracle))
            if bad:
                raise CheckFailed(bad)

        op.prepare, op.run, op.check = prepare, run, check
        return op

    def _oracle(self, name: str, sql: str):
        """The registry's DuckDB oracle over the same generated tables,
        evaluated once per run, outside any timed region."""
        if name not in self._oracle_rows:
            from json_format_in_parquet_benchmark_spark.tables import TABLES, table_path

            con = duckdb.connect()
            try:
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{table_path(self.sf_dir, t)}')")
                self._oracle_rows[name] = con.sql(sql).df()
            finally:
                con.close()
        return self._oracle_rows[name]


def _footer_rows(spark, path: str) -> int:
    """Row count from a Parquet footer, read by the JVM's Parquet reader
    (pyarrow cannot open footers that carry the Variant logical type)."""
    jvm = spark._jvm
    hadoop_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(path), spark._jsc.hadoopConfiguration()
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(hadoop_file)
    try:
        return reader.getRecordCount()
    finally:
        reader.close()


def _path_frame(fmt_name: str, enc, with_name: bool):
    """Columns ``v`` (the attribute as double) and, if asked, ``name``,
    through each format's own path accessor."""
    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.formats.jsonb_variant import (
        VARIANT_COL,
        JsonbVariantFormat,
    )
    from json_format_in_parquet_benchmark_spark.formats.jsonc_tape import get_path_udf

    if fmt_name == "plain_json":
        v = F.get_json_object("doc", ATTR_PATH).cast("double")
        name = F.get_json_object("doc", "$.name")
    elif fmt_name in ("jsonb", "jsonb_shredded"):
        if not with_name:
            return JsonbVariantFormat.get_path(enc, ATTR_PATH, "double").select(
                F.col("value").alias("v")
            )
        v = F.variant_get(VARIANT_COL, ATTR_PATH, "double")
        name = F.variant_get(VARIANT_COL, "$.name", "string")
    elif fmt_name == "variant":
        v, name = F.col("attributes.event_attributes"), F.col("name")
    elif fmt_name == "jsonc":
        tape = ("nodes", "strings", "numbers")
        v = get_path_udf(ATTR_KEYS)(*tape).cast("double")
        name = get_path_udf(("name",))(*tape)
    else:
        raise KeyError(fmt_name)
    cols = [v.alias("v")] + ([name.alias("name")] if with_name else [])
    return enc.select(*cols)


def _group_summary(df) -> tuple:
    """Group by name; summarize the groups as one row (groups, largest
    group, exact decimal total) so the answer is small and exact."""
    from pyspark.sql import functions as F

    per = df.groupBy("name").agg(
        F.count(F.lit(1)).alias("c"), F.sum(F.col("v").cast("decimal(20,3)")).alias("s")
    )
    return per.agg(F.count(F.lit(1)), F.max("c"), F.sum("s"))


def _collect(df):
    """Run the action; return the frame (its plan carries the planning
    phase timings) with the rows."""
    return df, df.collect()
