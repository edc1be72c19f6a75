"""Physical-plan assertions: the scale properties (broadcast choices, true
SMJ, predicate pushdown, column pruning, no Python in hot paths) are part of
the engine's contract, so they are pinned by tests, not just eyeballed with
.explain()."""

from __future__ import annotations

import os
import re

import pytest

from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.runtime import scoped_conf

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return REGISTRY[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_all_dimensions(spark):
    plan = plan_of(spark, "join_broadcast_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_fact_fact_join_is_sort_merge(spark):
    plan = plan_of(spark, "join_sortmerge_order_fulfilment")
    assert "SortMergeJoin" in plan


def test_filter_pushdown_reaches_parquet(spark):
    plan = plan_of(spark, "filter_pushdown_scan")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(p.strip() for p in pushed), plan


def test_q1_prunes_unused_columns(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    assert schemas
    assert all("l_comment" not in s and "l_shipmode" not in s for s in schemas)


def test_topk_uses_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "sort_topk_lineitems")
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    [
        "flagship_events_enriched",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "dedup_minhash_lsh",
        "similarity_topk_bruteforce",
        "text_stats",
    ],
)
def test_hot_queries_have_no_python_stages(spark, name):
    """Scalar work in headline queries must stay JVM-side (mapInPandas is
    reserved for the multimodal/stateful operators that genuinely need it)."""
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "similarity_topk_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_embedding_cosine",
    ],
)
def test_blocked_candidates_are_equi_joins(spark, name):
    """Candidate generation in the blocked dedup/ANN paths must be a HASH
    equi-join on the blocking key (bucket / signature band / shingle), never
    a nested-loop or cartesian scan -- the plan property that separates
    O(bucket occupancy) from O(N^2) at scale."""
    plan = plan_of(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_lsh_topk_probes_by_hash_join(spark):
    """topk_lsh's multi-probe rewrite: query rows explode into Hamming<=1
    probe buckets and equi-join the corpus on bucket (a BroadcastHashJoin),
    instead of filtering bit_count over a cross product."""
    plan = plan_of(spark, "similarity_topk_lsh")
    assert "BroadcastHashJoin" in plan, plan


def test_partitioned_read_prunes_partitions(spark):
    """Reading the partitioned sink with a partition predicate must turn it
    into PartitionFilters (directory pruning), not a data filter."""
    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.plans.queries_sinks import (
        write_partitioned_events,
    )

    out = write_partitioned_events(spark, SF)
    back = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan


def test_ivf_partitioned_layout_prunes_cells(spark):
    """The cell-partitioned ANN index: a reader probing specific cells must
    hit PartitionFilters (directory pruning), so a query touches
    n_probe/n_cells of the corpus on disk -- the IVF at-scale contract."""
    import re as _re

    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.plans.queries_similarity import (
        ivf_partitioned_path,
    )

    out = ivf_partitioned_path(spark, SF)
    back = spark.read.parquet(out).where(F.col("cell").isin(0, 3, 7))
    plan = back._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan


def test_bucketed_join_needs_no_shuffle(spark, tmp_path):
    """Both fact tables bucketed on the join key -> the join runs with zero
    Exchange operators (the 100 TB zero-shuffle co-located join)."""
    from json_format_in_parquet_benchmark_spark.tables import load_table

    try:
        with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            orders = load_table(spark, SF, "orders")
            li = load_table(spark, SF, "lineitem")
            for df, name, key in ((orders, "orders_b", "o_orderkey"), (li, "lineitem_b", "l_orderkey")):
                df.write.mode("overwrite").bucketBy(8, key).sortBy(key).saveAsTable(name)
            j = spark.table("orders_b").join(
                spark.table("lineitem_b"),
                spark.table("orders_b").o_orderkey == spark.table("lineitem_b").l_orderkey,
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_sink_join_plans_zero_join_shuffle(spark):
    """sink_bucketed_join (the registered query): the SortMergeJoin consumes
    the bucketed scans directly -- no Exchange anywhere on the join keys.
    The only shuffle in the whole plan is the final per-priority aggregate
    (the preceding distinct-aggregate reuses the bucket distribution)."""
    plan = plan_of(spark, "sink_bucketed_join")
    assert "SortMergeJoin" in plan, plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "orderkey" not in m.group(1), plan


def test_kmv_uses_take_ordered_not_global_sort(spark):
    """The KMV bottom-k must be the bounded per-partition pre-reduction
    (MapInPandas) feeding a TakeOrderedAndProject merge (per-partition
    top-k + k-row merge), never a full Sort and never an NDV-sized
    distinct shuffle straight off the scan."""
    plan = plan_of(spark, "sketch_kmv_ndv")
    assert "TakeOrderedAndProject(limit=256" in plan, plan
    assert "MapInPandas" in plan, plan


def test_cms_probes_are_broadcast(spark):
    """Count-Min point lookups join the tiny probe set into the sketch via
    broadcast; the sketch itself is a bounded d*w aggregate."""
    plan = plan_of(spark, "sketch_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_shard_packing_no_per_lang_sort_wall(spark):
    """pack_token_shards runs the TWO-PHASE prefix sum: no window stage may
    hash-partition on lang ALONE (that is the one-reducer-per-language sort
    wall the two-phase form exists to shed -- with 5 languages it caps the
    sort at parallelism 5).  Every corpus-scale exchange must carry the
    bucket key alongside lang; only the BOUNDED bucket-offset stage (one
    row per (lang, bucket)) and the final (lang, shard) aggregate remain,
    and the big side must reuse phase 1's (lang, bucket) partitioning for
    the offsets join rather than re-exchanging."""
    import re as _re

    plan = plan_of(spark, "pack_token_shards")
    # Window sort stages over the corpus must be keyed (lang, bucket) --
    # a Sort whose matching exchange partitions on lang alone is the wall.
    # (the packer's bucket keys are the folded prefix-sum helper's
    # _pfx_bn/_pfx_b pair since r11)
    corpus_single_lang = [
        m for m in _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "lang" in m and "_pfx_b" not in m and "shard" not in m
        and "_rk_b" not in m
    ]
    # The only lang-without-bucket exchange allowed is the bucket-OFFSET
    # window, whose input is one row per (lang, bucket) -- bounded by
    # construction, not corpus-scale.  It sits directly above the
    # (lang, _pack_b) partial aggregate in the plan.
    assert len(corpus_single_lang) <= 1, plan
    # Phase-1 windows partition by (lang, bucket).
    assert any(
        "lang" in m and "_pfx_b" in m
        for m in _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    ), plan


def test_pipeline_staples_stay_jvm_side(spark):
    """Redaction / split / shard-packing are single-pass built-in plans --
    no Python evaluation stages anywhere."""
    for name in ("text_pii_redact", "split_train_valid_test", "pack_token_shards"):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name


def test_bm25_topk_plan_shape(spark):
    """text_bm25_topk: the (N, avgdl, df) stats row joins back by BROADCAST
    (a 1-row dimension), the final top-k is TakeOrderedAndProject (never a
    global sort), and all scoring stays JVM-side."""
    plan = plan_of(spark, "text_bm25_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_funnel_stages_have_no_cartesian(spark):
    """events_funnel_conversion: every stage join is an equi-join on
    user_id; no nested-loop/cartesian anywhere."""
    plan = plan_of(spark, "events_funnel_conversion")
    assert "CartesianProduct" not in plan, plan


def test_mixture_epochs_is_single_pass(spark):
    """sample_mixture_epochs: pure map-side explode -- zero Exchange (no
    shuffle, no join) in the whole plan."""
    plan = plan_of(spark, "sample_mixture_epochs")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_theta_sketch_bottom_k_is_take_ordered(spark):
    """Both bottom-k sides of the theta intersection must run the bounded
    per-partition pre-reduction (MapInPandas) into a
    TakeOrderedAndProject merge, never a global sort of the distinct
    hashes."""
    plan = plan_of(spark, "sketch_theta_intersection")
    assert plan.count("TakeOrderedAndProject(limit=256") >= 2, plan
    assert plan.count("MapInPandas") >= 2, plan
    assert "Sort " not in plan.replace("SortMergeJoin", ""), plan


def test_rollup_hll_reuses_day_registers(spark):
    """events_rollup_hll: the per-type estimates must merge the CACHED day
    register table (InMemoryTableScan), not rescan raw events -- the
    incremental-rollup contract."""
    plan = plan_of(spark, "events_rollup_hll")
    assert "InMemoryTableScan" in plan, plan


def test_cohort_retention_broadcasts_dimension(spark):
    """events_retention_cohorts: the cohort-size dimension (weeks, not
    users) joins by broadcast; no cartesian anywhere."""
    plan = plan_of(spark, "events_retention_cohorts")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_compaction_sink_writes_expected_file_count(spark):
    """The compaction rewrite must produce exactly ceil(input_bytes/target)
    parquet part files, each carrying a ~1/n share of the rows."""
    import glob
    import os as _os

    from json_format_in_parquet_benchmark_spark.plans.queries_sinks import (
        write_compacted_events,
    )

    out, n_files = write_compacted_events(spark, SF)
    parts = glob.glob(_os.path.join(out, "part-*.parquet"))
    assert len(parts) == n_files, (n_files, parts)


def test_q10_broadcasts_dims_and_take_ordered(spark):
    plan = plan_of(spark, "q10_returned_items")
    assert plan.count("BroadcastExchange") >= 2  # customer + nation at least
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q6_filters_push_to_parquet(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    # toString may truncate the filter list mid-entry, so match the prefix
    # rather than requiring a closing bracket.
    m = re.search(r"PushedFilters: \[([^\n]*)", plan)
    assert m and ("l_shipda" in m.group(1) or "l_discount" in m.group(1)), plan
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    # Only the four referenced columns reach the reader.
    assert all("l_orderkey" not in s and "l_returnflag" not in s for s in schemas)


def test_pagerank_has_no_cartesian_and_caches_edges(spark):
    from json_format_in_parquet_benchmark_spark.runtime import release_caches

    plan = plan_of(spark, "graph_pagerank_trading")
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # supersteps iterate the cached edges
    release_caches()


def test_pq_scoring_is_single_python_stage(spark):
    # One ArrowEvalPython/MapInPandas stage (the code assignment); the ADC
    # scoring itself is JVM-side expression lookups over int literals.
    plan = plan_of(spark, "similarity_pq_topk")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_gapfill_single_join_no_python(spark):
    plan = plan_of(spark, "events_gapfill_locf")
    assert "Python" not in plan and "MapInPandas" not in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("user_id" in p for p in pushed), plan  # user slice pushes down


def test_bigram_lm_scoring_stage_is_arrow_batched(spark):
    from json_format_in_parquet_benchmark_spark.runtime import release_caches

    plan = plan_of(spark, "text_char_bigram_lm")
    assert "MapInPandas" in plan  # hash-map scoring kernel
    # Scoring side reads only (doc_id, text): no exploded training columns.
    assert "BatchEvalPython" not in plan
    release_caches()


def test_dq_suite_one_scan_per_table(spark):
    plan = plan_of(spark, "dq_validate_suite")
    # lineitem appears in exactly two scans: the stats aggregate and the FK
    # anti-join probe side (NOT once per check).
    assert plan.count("file:/root/testdata/sf0.001/lineitem.parquet") == 2, plan


def test_anomaly_stats_join_is_broadcast(spark):
    plan = plan_of(spark, "events_anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_survey_lists_every_registry_query():
    """README claims SURVEY.md section 2.3 lists every registry name; pin it
    so the inventory can't silently drift as queries are added."""
    import os

    from json_format_in_parquet_benchmark_spark.plans import REGISTRY

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "SURVEY.md")) as fh:
        survey = fh.read()
    missing = [n for n in REGISTRY if f"`{n}`" not in survey]
    assert not missing, f"registry names absent from SURVEY.md: {missing}"


def test_pyds_ndjson_split_invariance(spark):
    """The custom Python data source must yield the identical line multiset
    for any split count -- the boundary rule owns each line exactly once."""
    from json_format_in_parquet_benchmark_spark.plans.queries_formats import (
        REFERENCE_LOGS,
    )
    from json_format_in_parquet_benchmark_spark.sources.py_datasource import (
        read_ndjson_ranges,
    )

    base = None
    for k in (1, 3, 7):
        df = read_ndjson_ranges(spark, REFERENCE_LOGS, n_splits=k)
        assert df.rdd.getNumPartitions() == k
        rows = sorted(r[0] for r in df.collect())
        if base is None:
            base = rows
        else:
            assert rows == base, f"split count {k} changed the content"
    assert base, "source returned no rows for any split count"


def test_pyds_sink_orphans_invisible(spark, sf_dir):
    """Exactly-once contract of the Python streaming sink: a data file NOT
    listed in the manifest (a retried task's orphan) must be invisible to
    readers that follow the committed_files() protocol."""
    import os

    from json_format_in_parquet_benchmark_spark.plans import REGISTRY
    from json_format_in_parquet_benchmark_spark.runtime import scratch_dir
    from json_format_in_parquet_benchmark_spark.sources.py_datasource import (
        committed_files,
    )

    REGISTRY["stream_pyds_ndjson_sink"].fn(spark, sf_dir).collect()
    out = scratch_dir(sf_dir, "pyds_sink")
    before = committed_files(out)
    assert before
    orphan = os.path.join(out, "data", "part-9-deadbeef.ndjson")
    with open(orphan, "w") as fh:
        fh.write('{"orphan": true}\n')
    after = committed_files(out)
    assert after == before and orphan not in after
    n = spark.read.text(after).count()
    n_all = spark.read.text(os.path.join(out, "data")).count()
    assert n_all == n + 1, "orphan write did not land where expected"


def test_skew_profile_recommends_measured_arm(spark, sf_dir):
    """The zipf study's decision rule (broadcast -> AQE skew-join -> salt
    only at tens-of-percent hot keys) must be emitted per key as the
    recommended_arm column: near-uniform testdata keys recommend 'plain',
    and the rule's boundary arms fire on crafted skew."""
    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.plans import REGISTRY
    from json_format_in_parquet_benchmark_spark.plans.queries_relational import (
        _SKEW_ARM_SQL,
    )

    rows = REGISTRY["dq_skew_profile"].fn(spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["recommended_arm"] in ("plain", "aqe_skew_join", "salt")
    # testdata keys are near-uniform: none should demand manual salting
    assert all(r["recommended_arm"] != "salt" for r in rows)

    # crafted profiles pin the rule's arms and boundaries
    crafted = spark.createDataFrame(
        [
            # (top1_freq, n_rows, skew_ratio): hot key 61% -> salt
            (61, 100, 30.0, "salt"),
            # exactly at the 25% boundary -> salt (rule is >=)
            (25, 100, 10.0, "salt"),
            # moderate skew: ratio above 4 but hot key < 25% -> AQE
            (10, 100, 8.0, "aqe_skew_join"),
            # near-uniform -> plain
            (2, 100, 1.3, "plain"),
        ],
        "top1_freq long, n_rows long, skew_ratio double, want string",
    ).withColumn("got", F.expr(_SKEW_ARM_SQL))
    bad = crafted.where("got != want").collect()
    assert not bad, f"decision rule mismatches: {bad}"


def test_pyds_sink_commit_replay_idempotent(tmp_path):
    """Restart-replay contract: if a micro-batch is replayed after a restart
    (commit() ran but the engine's offset log had not recorded the batch),
    the second commit() for the same batchId must REPLACE the first attempt's
    manifest entry, not append a duplicate -- committed_files() sees each
    batch exactly once, with the replay's fresh file list."""
    from json_format_in_parquet_benchmark_spark.sources.py_datasource import (
        _NdjsonSinkMessage,
        _NdjsonStreamWriter,
        committed_files,
    )

    out = str(tmp_path / "sink")
    w = _NdjsonStreamWriter({"path": out})
    w.commit([_NdjsonSinkMessage(f"{out}/data/a0.ndjson", 3)], batchId=0)
    w.commit([_NdjsonSinkMessage(f"{out}/data/b0.ndjson", 5)], batchId=1)
    # replay of batch 1 after a simulated restart: fresh task output files
    w.commit([_NdjsonSinkMessage(f"{out}/data/b1-replay.ndjson", 5)], batchId=1)
    files = committed_files(out)
    assert files == [f"{out}/data/a0.ndjson", f"{out}/data/b1-replay.ndjson"]

    # torn/garbage manifest file == uncommitted batch: skipped, not raised
    torn = tmp_path / "sink" / "_manifest" / "batch-2.json"
    torn.write_text('{"batch": 2, "files": [{"pa')
    assert committed_files(out) == files


def test_concurrency_sweep_is_two_phase(spark):
    """events_concurrency_peak: the distributed sweep line must never
    globally sort the boundary stream -- the only single-partition
    exchange is the |days|-row carry window, the carry joins back by
    broadcast, and the boundary stream itself moves on at most two keys
    (user_id for sessionize, day for the local prefix; the plan shows
    each at most twice pre-AQE because two consumers share the subtree,
    deduped by ReusedExchange at runtime)."""
    plan = plan_of(spark, "events_concurrency_peak")
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_pattern_funnel_two_shuffles_no_python(spark):
    """events_pattern_funnel: sessionize shuffles on user_id; the
    per-session collapse groups by (user_id, session_seq), a SUPERSET of
    the window's partitioning, so it must reuse that distribution with
    no new exchange -- two hash exchanges total (user_id + the day
    rollup), the regex runs JVM-side (no Python eval)."""
    plan = plan_of(spark, "events_pattern_funnel")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_global_rownum_has_no_global_sort(spark):
    """events_global_rownum: the whole point is replacing the
    single-partition ROW_NUMBER sort -- the boundary stream must never
    range-partition or single-partition; the only SinglePartition
    exchange is the |days|-row carry window and the offsets come back
    by broadcast."""
    plan = plan_of(spark, "events_global_rownum")
    assert plan.count("Exchange rangepartitioning") == 0, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_partition_evolution_prunes_both_generations(spark):
    """scan_partition_evolution: the union's two FileScans must BOTH
    carry PartitionFilters (week blocks on the old layout, exact days
    on the new) -- the claim is that neither generation is read in
    full."""
    plan = plan_of(spark, "scan_partition_evolution")
    assert plan.count("FileScan parquet") == 2, plan
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    non_empty = [p for p in pf if p.strip()]
    assert len(non_empty) == 2, plan
    assert any("pblock" in p for p in non_empty), plan
    assert any("pday" in p for p in non_empty), plan


def test_point_in_polygon_is_pure_map(spark):
    """join_point_in_polygon: membership is evaluated inline per point
    (unrolled codegen-able CASE terms, no higher-order lambdas) -- the
    plan must contain NO join and exactly one exchange (the single-row
    conditional rollup); the scan reads only (event_id, value)."""
    plan = plan_of(spark, "join_point_in_polygon")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan, plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "event_id" in m.group(1) and "value" in m.group(1), plan
    assert "lambdafunction" not in plan, plan


def test_every_partitioned_write_is_preshuffled():
    """Sweep (r11, generalizing the r10 small-files lesson): every dynamic
    ``partitionBy`` WRITE in package source emits one file per
    (write task x partition) unless the rows are first clustered on the
    partition key -- measured 11.7x (15.6k files) on the event sink.
    Each write site must carry ``hint("rebalance", ...)`` or a
    ``repartition(key)`` within its preceding chain; new unshuffled
    sites fail here rather than in the next scale probe."""
    import glob as _glob

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "json_format_in_parquet_benchmark_spark",
    )
    offenders = []
    for path in sorted(
        _glob.glob(os.path.join(root, "**", "*.py"), recursive=True)
    ):
        with open(path, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        for i, ln in enumerate(lines):
            if ".partitionBy(" not in ln or "Window" in ln:
                continue
            ctx = "\n".join(lines[max(0, i - 12) : i + 1])
            # Only write chains (Window.partitionBy filtered above; a
            # write chain has .write within the preceding lines).
            if ".write" not in ctx:
                continue
            if 'hint("rebalance"' not in ctx and ".repartition(" not in ctx:
                offenders.append(f"{os.path.relpath(path, root)}:{i + 1}")
    assert not offenders, (
        "dynamic partitionBy writes without a pre-shuffle on the partition "
        "key (add hint('rebalance', keys) or repartition(keys) before "
        ".write): " + ", ".join(offenders)
    )


def test_no_undocumented_global_windows():
    """Sweep (verdict r9 item 6): every GLOBAL window in package source --
    ``Window.orderBy(...)`` with no partitioning, or an empty
    ``Window.partitionBy()`` -- is a single-reducer operation at scale, so
    each surviving site must either be converted to a two-phase form or
    carry a ``# global-window:`` annotation within the six preceding
    lines stating why its input is aggregate/range-bounded.  New
    unannotated sites fail here."""
    import glob as _glob

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "json_format_in_parquet_benchmark_spark",
    )
    pat = re.compile(r"Window\.orderBy\(|Window\.partitionBy\(\)")
    offenders = []
    for path in sorted(
        _glob.glob(os.path.join(root, "**", "*.py"), recursive=True)
    ):
        with open(path, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        for i, ln in enumerate(lines):
            if pat.search(ln) and not any(
                "global-window:" in c for c in lines[max(0, i - 6) : i + 1]
            ):
                offenders.append(f"{os.path.relpath(path, root)}:{i + 1}")
    assert not offenders, (
        "global windows without a bound annotation (add `# global-window:"
        " <why the input is bounded>` or convert to the two-phase form): "
        + ", ".join(offenders)
    )


@pytest.mark.parametrize(
    "name,bounded_keys",
    [
        ("customers_rfm_segments", ()),
        ("events_interarrival_stats", ()),
        ("parts_abc_pareto", ()),
        # uplift keeps ONE bounded single-partition window: the 10-row
        # decile rollup (annotated in-plan) -- its input is the grouped
        # aggregate keyed by decile, never data-sized.
        ("events_uplift_deciles", ("decile",)),
        ("customers_gini_spend", ()),
    ],
)
def test_two_phase_conversions_have_no_single_partition_sort(
    spark, name, bounded_keys
):
    """The round-10/11 two-phase conversions: no window/sort stage may
    pull data-sized input onto one partition.  Any surviving `Exchange
    SinglePartition` must be a scalar-aggregate final reduce (child = a
    partial aggregate, so its input is one pre-combined row per
    partition), or -- only where the query declares a bounded rollup key
    -- a Sort over that constant-cardinality key."""
    plan = plan_of(spark, name)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            child = lines[i + 1] if i + 1 < len(lines) else ""
            if "partial_" in child:
                continue
            # The only other acceptable shape: the single-partition input
            # is a GROUPED aggregate keyed by the declared bounded rollup
            # key (constant cardinality), feeding the annotated rollup
            # window -- never a data-sized frame.
            assert bounded_keys and "Aggregate" in child and any(
                f"output=[{k}" in child for k in bounded_keys
            ), (name, ln, child)
    assert "Window" in plan, plan  # the bucketed phase-1 windows exist
