"""The query scope (``runtime``): cache ownership across registered query
builds, package shipping keyed per application, session SQL confs (scoped
and pinned), scratch storage keyed per input root and removed at exit, plan
fingerprints that survive session counter drift, and Python kernels that
import in a fresh vanilla session whatever the run order, cwd and core
count."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import uuid

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from conftest import assert_oracle_match
from json_format_in_parquet_benchmark_spark import runtime, session
from json_format_in_parquet_benchmark_spark.operators.dedup import SPREAD_PARTITIONS, _spread
from json_format_in_parquet_benchmark_spark.operators.graph import CHECKPOINT_EVERY, pagerank
from json_format_in_parquet_benchmark_spark.plans.queries_streaming import _run_to_memory
from json_format_in_parquet_benchmark_spark.plans.registry import REGISTRY, register
from json_format_in_parquet_benchmark_spark.runtime import (
    query_scope,
    release_caches,
    scoped_conf,
    scratch_dir,
    sf_tag,
    track_persist,
    write_once,
)
from json_format_in_parquet_benchmark_spark.tables import TABLES, table_path

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _FakeContext:
    def __init__(self, app_id: str) -> None:
        self.applicationId = app_id
        self.shipped: list[str] = []

    def addPyFile(self, path: str) -> None:
        self.shipped.append(path)


class _FakeSession:
    def __init__(self, app_id: str) -> None:
        self.sparkContext = _FakeContext(app_id)


def test_ship_package_ships_once_per_application():
    app_a, app_b = f"fake-{uuid.uuid4()}", f"fake-{uuid.uuid4()}"
    first = _FakeSession(app_a)
    session.ship_package(first)
    assert len(first.sparkContext.shipped) == 1
    # The first context is freed just before the second is built, so
    # CPython hands the second the same id(); its application id differs.
    del first
    second = _FakeSession(app_b)
    session.ship_package(second)
    session.ship_package(second)
    assert len(second.sparkContext.shipped) == 1
    assert second.sparkContext.shipped[0].endswith(
        "json_format_in_parquet_benchmark_spark.zip"
    )


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


@pytest.fixture
def scoped_queries(spark):
    """Registers throwaway queries through ``register`` (the real wrapper)
    and removes them afterwards, so the registry keeps its real queries."""
    names: list[str] = []

    def add(fn):
        name = f"_scope_test_{fn.__name__}_{uuid.uuid4().hex[:8]}"
        register(name)(fn)
        names.append(name)
        return REGISTRY[name].fn

    release_caches()
    yield add
    release_caches()
    for name in names:
        REGISTRY.pop(name, None)


def _session_pins(spark) -> tuple[set[int], set[str]]:
    """(ids of the RDDs holding cached partitions, temp view names)."""
    rdds = {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    return rdds, views


def _pin_checkpoint_and_sink(spark, work_dir: str) -> None:
    """Collect a pagerank long enough to cut its lineage once (a local
    checkpoint) and a stream run into a memory sink (a view)."""
    ring = spark.range(8, numPartitions=1).selectExpr("id as src", "(id + 1) % 8 as dst")
    ranks = pagerank(
        ring.unionByName(ring.selectExpr("dst as src", "src as dst")),
        n_iters=CHECKPOINT_EVERY + 1,
    )
    rows = os.path.join(work_dir, "rows")
    if not os.path.isdir(rows):
        spark.range(4, numPartitions=1).write.parquet(rows)
    stream = spark.readStream.schema("id long").parquet(rows)
    sink = _run_to_memory(stream, work_dir, "pin_probe", "append")
    for df in (ranks, sink):
        df.collect()


def test_building_another_query_frees_previous_querys_caches(spark, scoped_queries, tmp_path):
    frames = {}

    def build_a(spark, sf_dir):
        frames["a"] = track_persist(spark.range(10).selectExpr("id * 2 as x"))
        _pin_checkpoint_and_sink(spark, str(tmp_path))
        return frames["a"]

    def build_b(spark, sf_dir):
        frames["b"] = track_persist(spark.range(10).selectExpr("id * 3 as y"))
        return frames["b"]

    query_a, query_b = scoped_queries(build_a), scoped_queries(build_b)
    rdds, views = _session_pins(spark)
    query_a(spark, "")
    assert _cached(frames["a"])
    now_rdds, now_views = _session_pins(spark)
    held_rdds, held_views = now_rdds - rdds, now_views - views
    # pagerank's persisted edges and its checkpoint; the sink's view
    assert len(held_rdds) >= 2 and len(held_views) == 1
    query_b(spark, "")
    assert not _cached(frames["a"])
    assert _cached(frames["b"])
    now_rdds, now_views = _session_pins(spark)
    assert not held_rdds & now_rdds
    assert not held_views & now_views


def test_rebuilding_a_query_keeps_its_own_caches(spark, scoped_queries, tmp_path):
    frames = []

    def build_a(spark, sf_dir):
        frames.append(track_persist(spark.range(10).selectExpr("id * 5 as x")))
        _pin_checkpoint_and_sink(spark, str(tmp_path))
        return frames[-1]

    query_a = scoped_queries(build_a)
    rdds, views = _session_pins(spark)
    query_a(spark, "")
    first_rdds, first_views = _session_pins(spark)
    query_a(spark, "")
    assert all(_cached(df) for df in frames)
    now_rdds, now_views = _session_pins(spark)
    assert first_rdds <= now_rdds and first_views <= now_views
    assert len(now_views - views) == 2  # one sink per build
    release_caches()
    assert not any(_cached(df) for df in frames)
    now_rdds, now_views = _session_pins(spark)
    assert not now_rdds - rdds
    assert not now_views - views


def test_nested_registered_query_keeps_callers_caches(spark, scoped_queries):
    frames = {}

    def build_inner(spark, sf_dir):
        frames["inner"] = track_persist(spark.range(10).selectExpr("id * 7 as x"))
        return frames["inner"]

    inner = scoped_queries(build_inner)

    def build_outer(spark, sf_dir):
        frames["outer"] = track_persist(spark.range(10).selectExpr("id * 11 as y"))
        inner(spark, sf_dir)
        return frames["outer"]

    outer = scoped_queries(build_outer)
    outer(spark, "")
    assert _cached(frames["outer"]) and _cached(frames["inner"])
    assert runtime._owner == ""


def test_scope_restores_owner_when_the_build_raises(spark):
    with pytest.raises(RuntimeError):
        with query_scope(spark, "outer"):
            with query_scope(spark, "inner"):
                raise RuntimeError("build failed")
    assert runtime._owner == ""


def test_scoped_conf_restores_set_unset_and_on_raise(spark):
    prior, unset = "spark.sql.shuffle.partitions", f"spark.jfipb.test.{uuid.uuid4().hex}"
    before = spark.conf.get(prior)
    with scoped_conf(spark, {prior: "3", unset: "on"}):
        assert spark.conf.get(prior) == "3"
        assert spark.conf.get(unset) == "on"
    assert spark.conf.get(prior) == before
    assert spark.conf.get(unset, None) is None
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {prior: "5"}):
            raise RuntimeError("body failed")
    assert spark.conf.get(prior) == before


_CACHED_AQE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def test_query_scope_pins_session_confs_on_hostile_session(spark, sf_dir):
    """The driver builds its own session with any timezone, and nothing but
    the scope pins UTC, nanosAsLong and AQE sizing of cached plans before a
    query reads ``events``."""
    from json_format_in_parquet_benchmark_spark.tables import load_table

    tz, nanos = "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong"
    with scoped_conf(spark, {tz: "America/New_York", nanos: "false", _CACHED_AQE: "false"}):
        spark.conf.unset(nanos)
        with query_scope(spark, "_pin_probe"):
            assert spark.conf.get(tz) == "UTC"
            assert spark.conf.get(nanos) == "true"
            assert spark.conf.get(_CACHED_AQE) == "true"
            assert dict(load_table(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"


def _tasks_run(spark, action) -> int:
    """Tasks of every stage the jobs of ``action()`` ran (skipped ones too)."""
    sc, group = spark.sparkContext, f"tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "task count probe")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    return sum(
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
        if tracker.getStageInfo(stage) is not None
    )


def test_cached_aggregate_scan_is_sized_by_aqe(spark):
    """A persisted aggregate built in a query scope of a session that held
    the cached-plan pin false is AQE-coalesced: scanning it runs fewer
    tasks than ``spark.sql.shuffle.partitions``, not one per partition."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with scoped_conf(spark, {_CACHED_AQE: "false"}):
        with query_scope(spark, "_cached_width_probe"):
            agg = track_persist(
                spark.range(64, numPartitions=2)
                .groupBy((F.col("id") % 5).alias("k"))
                .count()
            )
        try:
            agg.count()
            assert _tasks_run(spark, agg.collect) < width
        finally:
            release_caches()


def test_spread_raises_a_narrow_input_to_the_constant_width(spark):
    narrow = spark.range(16, numPartitions=1)
    assert _spread(narrow).rdd.getNumPartitions() == SPREAD_PARTITIONS


def test_spread_leaves_a_wide_enough_input_unchanged(spark):
    wide = spark.range(16, numPartitions=SPREAD_PARTITIONS)
    assert _spread(wide) is wide
    assert "Repartition" not in runtime.plan_text(_spread(wide))


def test_scratch_dir_keys_on_resolved_root_and_write_once_writes_once(tmp_path):
    a, b = tmp_path / "a" / "sf0.01", tmp_path / "b" / "sf0.01"
    assert sf_tag(str(a)) != sf_tag(str(b))
    assert sf_tag(str(a)) == sf_tag(f"{a}/")
    assert sf_tag(str(a)).isidentifier()
    assert scratch_dir(str(a), "x").startswith(runtime.scratch_root() + os.sep)
    calls: list[str] = []
    name = f"probe_{uuid.uuid4().hex}"
    first = write_once(str(a), name, calls.append)
    assert write_once(str(a), name, calls.append) == first
    assert calls == [first]


def test_same_basename_roots_do_not_alias_memoized_sinks(spark, sf_dir, tmp_path):
    """Two input roots that share a basename get their own bucketed tables:
    each run of the memoized sink must match its OWN root's oracle."""
    import duckdb

    testdata = os.path.dirname(os.path.realpath(sf_dir))
    big, small = os.path.join(testdata, "sf0.01"), os.path.join(testdata, "sf0.001")
    if not (os.path.isdir(big) and os.path.isdir(small)):
        pytest.skip("needs the sf0.01 and sf0.001 testdata roots side by side")
    alias = tmp_path / "x" / "sf0.01"
    shutil.copytree(small, alias)
    query = REGISTRY["sink_bucketed_join"]
    for root in (big, str(alias)):
        con = duckdb.connect()
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(root, t)}')"
            )
        assert_oracle_match(query.fn(spark, root), con.sql(query.oracle), root)
        con.close()


def test_plan_fingerprint_is_stable_across_session_counter_drift(spark, sf_dir):
    """A query rebuilt after an unrelated one, which advances the session's
    lambda-variable, common-expression and query-stage counters, keeps its
    fingerprint, and its plan text carries no run-varying token."""
    names = ("dedup_repeated_segments", "pipeline_multimodal_curation")

    def build(name):
        df = REGISTRY[name].fn(spark, sf_dir)
        df.collect()
        return df

    before = {name: runtime.plan_fingerprint(build(name)) for name in names}
    build("events_ab_cuped")
    for name in names:
        df = build(name)
        assert runtime.plan_fingerprint(df) == before[name], name
        text = runtime.plan_text(df)
        assert runtime.scratch_root() not in text, name
        assert not re.search(r"#\d|plan_id=\d|_common_expr_\d", text), name


def test_plan_text_drops_each_aqe_final_block_up_to_its_own_initial_header():
    """AQE's plan headers do not nest by indent: a cached relation inside a
    final plan may print its headers at the outer headers' indent."""
    plan = (
        "InMemoryRelation [a#1]\n"
        "   +- AdaptiveSparkPlan isFinalPlan=true\n"
        "      +- == Final Plan ==\n"
        "         BroadcastHashJoin BuildLeft\n"
        "         +- InMemoryTableScan\n"
        "               +- AdaptiveSparkPlan isFinalPlan=true\n"
        "      +- == Final Plan ==\n"
        "         ShuffleQueryStage 3\n"
        "      +- == Initial Plan ==\n"
        "         Exchange\n"
        "      +- == Initial Plan ==\n"
        "         SortMergeJoin\n"
    )
    assert runtime._without_aqe_reoptimized(plan) == (
        "InMemoryRelation [a#1]\n"
        "   +- AdaptiveSparkPlan isFinalPlan=true\n"
        "         SortMergeJoin\n"
    )


_RUN_ORDER_SCRIPT = r"""
import json, sys
repo, sf_dir = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[2]").appName("run-order").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
from json_format_in_parquet_benchmark_spark.plans import REGISTRY


steps = [
    ("pipeline_multimodal_curation", REGISTRY["pipeline_multimodal_curation"].fn),
    ("multimodal_decode_features", REGISTRY["multimodal_decode_features"].fn),
    ("similarity_pq_topk", REGISTRY["similarity_pq_topk"].fn),
    ("scan_ndjson_gzip", REGISTRY["scan_ndjson_gzip"].fn),
    ("stream_pyds_replay", REGISTRY["stream_pyds_replay"].fn),
]
out = {}
for name, fn in steps:
    try:
        out[name] = len(fn(spark, sf_dir).collect())
    except Exception as exc:
        out[name] = f"{type(exc).__name__}: {str(exc)[:400]}"
spark.stop()
print(json.dumps(out))
"""


def test_python_kernels_run_in_fresh_vanilla_session_outside_repo(tmp_path, sf_dir):
    """A fresh vanilla ``local[2]`` session (the external driver's) whose
    cwd is not the repo: executors can import the package only if it was
    shipped, ``pipeline_multimodal_curation`` runs first, before any query
    that used to ship it, and ``scan_ndjson_gzip``'s no-split check holds
    when Spark packs several files into one partition, and
    ``stream_pyds_replay``'s Python stream source imports in the runner
    Spark plans it in from the stream thread.  The scratch root (shipped
    zip included) is gone once the process exits."""
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmpdir)
    proc = subprocess.run(
        [sys.executable, "-c", _RUN_ORDER_SCRIPT, REPO_ROOT, sf_dir],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    results = json.loads(proc.stdout.strip().splitlines()[-1])
    failed = {k: v for k, v in results.items() if not isinstance(v, int)}
    assert not failed, failed
    assert all(n > 0 for n in results.values()), results
    left = sorted(p.name for p in tmpdir.iterdir() if p.name.startswith("jfipb"))
    assert not left, f"scratch left behind after exit: {left}"


_CORE_COUNT_QUERIES = ("dedup_minhash_lsh", "graph_communities_trading", "events_rollup_hll")

_FINGERPRINT_SCRIPT = r"""
import json, sys
repo, sf_dir, cpus = sys.argv[1], sys.argv[2], int(sys.argv[3])
sys.path.insert(0, repo)
from json_format_in_parquet_benchmark_spark.session import get_spark
from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.runtime import plan_fingerprint, release_caches

spark = get_spark(app_name="core-count", cpus=cpus)
out = {}
for name in sys.argv[4:]:
    REGISTRY[name].fn(spark, sf_dir).collect()
    df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()
    out[name] = plan_fingerprint(df)
    release_caches()
spark.stop()
print(json.dumps(out))
"""


def test_plans_do_not_depend_on_the_core_count(spark, sf_dir, tmp_path):
    """Headliners that persist, spread a narrow input or call
    ``spark.range`` fingerprint the same in a session with one more core
    (built, collected and rebuilt as ``scripts/dump_plans.py`` does)."""
    cpus = spark.sparkContext.defaultParallelism + 1
    proc = subprocess.run(
        [sys.executable, "-c", _FINGERPRINT_SCRIPT, REPO_ROOT, sf_dir, str(cpus),
         *_CORE_COUNT_QUERIES],
        cwd=tmp_path, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    other = json.loads(proc.stdout.strip().splitlines()[-1])
    here = {}
    for name in _CORE_COUNT_QUERIES:
        REGISTRY[name].fn(spark, sf_dir).collect()
        df = REGISTRY[name].fn(spark, sf_dir)
        df.collect()
        here[name] = runtime.plan_fingerprint(df)
        release_caches()
    assert here == other
