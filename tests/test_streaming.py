"""Streaming tests: true streaming runtime vs batch twins vs DuckDB oracle,
plus watermark late-data semantics (the one behavior only observable across
multiple micro-batches)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.plans.queries_streaming import (
    GAP_MINUTES,
)
from json_format_in_parquet_benchmark_spark.runtime import scoped_conf
from json_format_in_parquet_benchmark_spark.streaming.events_stream import (
    EVENTS_SCHEMA,
    sessionize_batch,
    window_event_counts,
)
from json_format_in_parquet_benchmark_spark.tables import load_table

from conftest import assert_oracle_match


def _oracle(duck, name):
    return duck.sql(REGISTRY[name].oracle)


@pytest.mark.parametrize(
    "name",
    [
        "stream_tumbling_window_batch",
        "stream_tumbling_window",
        "stream_sliding_window_batch",
        "stream_sliding_window",
        "stream_sessionize_batch",
        "stream_sessionize_stateful",
    ],
)
def test_streaming_queries_match_oracle(spark, duck, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    assert_oracle_match(df, _oracle(duck, name), name)


def test_stream_frame_collects_after_another_build_drops_its_view(spark, duck, sf_dir):
    """A stream query returns its memory sink's view as a frame, and the
    next outermost query build drops that view; the frame holds its
    analyzed plan, so collecting it afterwards still gives the oracle's
    rows."""

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    sink = REGISTRY["stream_tumbling_window"].fn(spark, sf_dir)
    held = views() - before
    assert len(held) == 1
    REGISTRY["stream_tumbling_window_batch"].fn(spark, sf_dir)
    assert not held & views()
    assert_oracle_match(sink, _oracle(duck, "stream_tumbling_window"), "stream_tumbling_window")


def test_stream_sessionize_matches_batch_minus_open(spark, sf_dir):
    """The streaming stateful operator must emit exactly the batch sessions
    minus each user's still-open trailing session."""
    stream_out = REGISTRY["stream_sessionize_stateful"].fn(spark, sf_dir)
    batch = sessionize_batch(
        load_table(spark, sf_dir, "events"), gap_minutes=GAP_MINUTES
    )
    last = batch.groupBy("user_id").agg(F.max("session_seq").alias("last_seq"))
    expected = (
        batch.join(last, "user_id")
        .where(F.col("session_seq") < F.col("last_seq"))
        .drop("last_seq")
    )
    got = {tuple(r) for r in stream_out.collect()}
    want = {
        (r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
        for r in expected.collect()
    }
    assert got == want
    assert len(want) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Two micro-batches: batch 2 advances the watermark past batch 1's
    windows AND carries one event older than the new watermark; append-mode
    output must contain the finalized batch-1 windows but never count the
    late event."""
    import glob
    import shutil

    root = str(tmp_path)
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)

    def write_file(dest_name, rows):
        """Write rows as a single parquet FILE directly under in_dir (the
        file source lists plain files; mtime order = arrival order)."""
        tmp = os.path.join(root, "tmp_" + dest_name)
        df = spark.createDataFrame(
            [(i, ts, 1, et, 1.0, None) for i, (ts, et) in enumerate(rows)],
            schema="event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.to_timestamp("ts").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(in_dir, dest_name))

    # Spark's streaming agg filters late INPUT rows with the previous
    # batch's watermark but evicts state with the current one (verified on
    # recentProgress.stateOperators), so the late row must arrive two
    # batches after the watermark-advancing event:
    # batch 1: two events in the 10:00 window
    write_file("b1.parquet", [("2024-01-01 10:05:00", "a"), ("2024-01-01 10:20:00", "a")])
    time.sleep(1.1)  # distinct mtime => deterministic file order
    # batch 2: 14:00 event -> watermark 13:00; the 10:00 window is
    # finalized (emitted) during this batch with its 2 on-time events.
    write_file("b2.parquet", [("2024-01-01 14:00:00", "b")])
    time.sleep(1.1)
    # batch 3: benign on-time event (late-filter watermark still 09:20)
    write_file("b3.parquet", [("2024-01-01 14:30:00", "b")])
    time.sleep(1.1)
    # batch 4: LATE event for the finalized 10:00 window; the late filter
    # now carries watermark 13:00 -> dropped on input.
    write_file("b4.parquet", [("2024-01-01 10:30:00", "a")])

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(in_dir)
    )
    agg = window_event_counts(stream, "1 hour", watermark="1 hour")
    name = f"late_{int(time.time() * 1000) % 10**9}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = {
        (str(r.win_start), r.event_type): r.n_events
        for r in spark.table(name).collect()
    }
    # The 10:00 window was finalized when the watermark passed 11:00 —
    # with exactly the 2 on-time events; the late 10:30 event was dropped.
    key_10 = [k for k in rows if k[0].startswith("2024-01-01 10:00")]
    assert key_10, f"10:00 window never finalized: {rows}"
    assert rows[key_10[0]] == 2, f"late event leaked into window: {rows}"


def test_sessionize_stream_state_is_per_user(spark, sf_dir):
    """Session numbering restarts at 1 for every user (state keyed by
    user_id, not global)."""
    out = REGISTRY["stream_sessionize_stateful"].fn(spark, sf_dir)
    firsts = out.groupBy("user_id").agg(F.min("session_seq").alias("m")).collect()
    assert firsts and all(r.m == 1 for r in firsts)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """Stream-stream join (clicks x purchases of the same user within 1h,
    both sides watermarked) must produce exactly the batch join's pairs.
    This is the stateful two-sided join Structured Streaming buffers with
    watermark-bounded state -- the operator a real attribution pipeline
    runs forever."""
    from json_format_in_parquet_benchmark_spark.plans.queries_streaming import (
        _run_to_memory,
        _staged_events,
    )
    from json_format_in_parquet_benchmark_spark.streaming.events_stream import (
        EVENTS_SCHEMA,
    )

    events_dir = _staged_events(spark, sf_dir)

    def pair(clicks, purchases):
        c = clicks.select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        p = purchases.select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        return c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        ).select("c_user", "click_id", "purchase_id")

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
    s_out = _run_to_memory(
        pair(
            stream.where(F.col("event_type") == "click").withWatermark("ts", "2 hours"),
            stream.where(F.col("event_type") == "purchase").withWatermark("ts", "2 hours"),
        ),
        sf_dir,
        "ssjoin",
        "append",
    )
    from json_format_in_parquet_benchmark_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    b_out = pair(
        events.where(F.col("event_type") == "click"),
        events.where(F.col("event_type") == "purchase"),
    )
    got = {tuple(r) for r in s_out.collect()}
    want = {tuple(r) for r in b_out.collect()}
    assert got == want
    assert want, "no click->purchase pairs in testdata; join untested"


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Streaming exact dedup: duplicated input rows collapse to one within
    the watermark horizon (dropDuplicatesWithinWatermark keeps state only
    until the watermark passes -- the streaming arm of dedup_exact)."""
    from json_format_in_parquet_benchmark_spark.plans.queries_streaming import (
        _run_to_memory,
    )
    from json_format_in_parquet_benchmark_spark.streaming.events_stream import (
        EVENTS_SCHEMA,
    )
    from json_format_in_parquet_benchmark_spark.tables import load_table

    # stage the events table DUPLICATED (union with itself) as one file
    out_dir = str(tmp_path / "in")
    events = load_table(spark, sf_dir, "events")
    events.unionByName(events).coalesce(1).write.mode("overwrite").parquet(out_dir)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(out_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    sink = _run_to_memory(
        stream.select("event_id"), sf_dir, "stream_dedup", "append"
    )
    n_unique = events.count()
    got = sink.count()
    assert got == n_unique, f"expected {n_unique} deduped rows, got {got}"
    assert sink.distinct().count() == n_unique


def test_stream_sliding_matches_batch_minus_open(spark, sf_dir):
    """The watermarked sliding-window stream must emit exactly the batch
    sliding windows whose END is at or below the final watermark
    (max event time - 1h, at ms precision)."""
    stream_out = REGISTRY["stream_sliding_window"].fn(spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    wm_ms = (
        events.agg(
            (F.expr("unix_micros(max(ts)) div 1000") - 3_600_000).alias("wm")
        ).first()[0]
    )
    batch = window_event_counts(events, "2 hours", "30 minutes")
    expected = batch.where(
        F.expr("unix_micros(win_start + interval 2 hours) div 1000")
        <= F.lit(wm_ms)
    ).select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n_events",
        "total_value",
    )
    got = {tuple(r) for r in stream_out.collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want


def test_late_data_actually_dropped_by_watermark(spark, sf_dir, tmp_path):
    """stream_late_data_dropped's whole point is that the final batch's
    rows are dropped by the watermark filter -- pin the drop METRIC, not
    just the sink values (a staging regression that merged batches would
    keep the oracle green only by accident)."""
    from json_format_in_parquet_benchmark_spark.plans.queries_streaming import (
        _staged_events_late_first,
    )

    d = _staged_events_late_first(spark, sf_dir)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = window_event_counts(stream, "1 hour", watermark="1 hour")
    ckpt = str(tmp_path / "ckpt")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_pin")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    assert len(progress) >= 3, f"expected 3 micro-batches, got {len(progress)}"
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p["stateOperators"]
    )
    # The final (oldest) slice must be overwhelmingly dropped by the
    # filter watermark (the drop METRIC undercounts rows pre-combined by
    # the partial aggregate before the state operator, so assert the bulk,
    # not equality), and -- the real guarantee -- state must NOT grow when
    # the late batch lands.
    last = progress[-1]
    last_input = last["numInputRows"]
    assert last_input > 0
    assert dropped > last_input // 2, (dropped, last_input)
    state_after_late = sum(
        op.get("numRowsTotal", 0) for op in last["stateOperators"]
    )
    prev_state = sum(
        op.get("numRowsTotal", 0) for op in progress[-2]["stateOperators"]
    )
    assert state_after_late <= prev_state, (state_after_late, prev_state)


def test_upsert_foreachbatch_restart_exactly_once(spark, tmp_path):
    """Kill-restart exactly-once for the foreachBatch upsert sink -- the
    third stateful-commit surface, matching the custom source/sink twins'
    restart tests.  Attempt 1 crashes inside the exact window foreachBatch's
    at-least-once contract exposes: batch 0's merge has swapped state+marker
    in, but the engine checkpoint commit was never written.  The restart
    REDELIVERS batch 0 under the same batch_id; the marker guard must skip
    it (re-merging would double n_events/total_vq), then batch 1 applies,
    and the final state table must equal the one-shot batch aggregate over
    ALL events."""
    from json_format_in_parquet_benchmark_spark.plans.queries_streaming import (
        _staged_events_two_files,
        run_upsert_stream,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    events_dir = _staged_events_two_files(spark, sf_dir)
    state_dir = str(tmp_path / "state")  # the first merge must create it
    ckpt = str(tmp_path / "ckpt")
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        with pytest.raises(Exception, match="injected crash"):
            run_upsert_stream(
                spark, events_dir, state_dir, ckpt, fail_after_batch=0
            )
        marker = os.path.join(state_dir, "_applied_batch")
        assert os.path.isfile(marker), "crash window never materialized"
        with open(marker, encoding="utf-8") as fh:
            assert fh.read().strip() == "0"
        partial = {
            r["user_id"]: r["n_events"]
            for r in spark.read.parquet(state_dir).collect()
        }
        assert partial, "crashed run applied nothing"

        run_upsert_stream(spark, events_dir, state_dir, ckpt)

        got = sorted(
            (r["user_id"], r["n_events"], r["total_vq"], r["last_us"])
            for r in spark.read.parquet(state_dir).collect()
        )
        want = sorted(
            (r["user_id"], r["n_events"], r["total_vq"], r["last_us"])
            for r in spark.read.parquet(events_dir)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum("vq").cast("bigint").alias("total_vq"),
                F.max("us").cast("bigint").alias("last_us"),
            )
            .collect()
        )
        assert got == want, "restart double-counted or lost a batch"
        # The restart must have made progress past the crashed batch --
        # some user's count strictly grew (batch 1 is non-empty by the
        # chronological split construction).
        grew = [
            uid for uid, n, _vq, _us in got
            if uid in partial and n > partial[uid]
        ] + [uid for uid, *_ in got if uid not in partial]
        assert grew, "batch 1 never applied after restart"


def test_upsert_foreachbatch_swap_window_recovery(spark, monkeypatch, tmp_path):
    """Kill-restart in the SECOND crash window of the upsert sink's commit:
    after rmtree(state_dir) but before rename(tmp -> state_dir).  At that
    instant neither directory is the state table -- the fully-written tmp
    (parquet + marker) is the only copy.  Without the recovery path the
    restart would merge batch 0's redelivery against NOTHING and silently
    lose every prior batch; with it, entry finishes the interrupted rename,
    the marker guard then skips the redelivery, and the final table equals
    the one-shot aggregate over all events."""
    from json_format_in_parquet_benchmark_spark.plans import queries_streaming
    from json_format_in_parquet_benchmark_spark.plans.queries_streaming import (
        _staged_events_two_files,
        run_upsert_stream,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    events_dir = _staged_events_two_files(spark, sf_dir)
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def torn_swap():
        raise RuntimeError("injected crash in swap window")

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        monkeypatch.setattr(queries_streaming, "_SWAP_WINDOW_HOOK", torn_swap)
        with pytest.raises(Exception, match="injected crash in swap window"):
            run_upsert_stream(spark, events_dir, state_dir, ckpt)
        # The torn state the docstring describes must actually exist:
        # no state_dir, complete tmp with the batch-0 marker.
        assert not os.path.isdir(state_dir), "swap window never materialized"
        tmp_marker = os.path.join(state_dir + ".tmp", "_applied_batch")
        assert os.path.isfile(tmp_marker)
        with open(tmp_marker, encoding="utf-8") as fh:
            assert fh.read().strip() == "0"

        monkeypatch.setattr(
            queries_streaming, "_SWAP_WINDOW_HOOK", lambda: None
        )
        run_upsert_stream(spark, events_dir, state_dir, ckpt)

        assert not os.path.exists(state_dir + ".tmp") or os.path.isdir(
            state_dir
        )
        got = sorted(
            (r["user_id"], r["n_events"], r["total_vq"], r["last_us"])
            for r in spark.read.parquet(state_dir).collect()
        )
        want = sorted(
            (r["user_id"], r["n_events"], r["total_vq"], r["last_us"])
            for r in spark.read.parquet(events_dir)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum("vq").cast("bigint").alias("total_vq"),
                F.max("us").cast("bigint").alias("last_us"),
            )
            .collect()
        )
        assert got == want, "torn swap lost or double-counted a batch"


@pytest.mark.parametrize("state_marker_survives", [False, True])
def test_upsert_foreachbatch_mid_rmtree_recovery(
    spark, monkeypatch, state_marker_survives, tmp_path
):
    """Crash DURING shutil.rmtree(state_dir) (ADVICE r9): the state_dir
    still EXISTS but is torn -- parquet parts and/or the marker already
    deleted -- while the complete marker-bearing tmp sits next to it.  The
    old state_dir-missing guard skipped this case and merged the
    redelivered batch against the torn directory.  Recovery must prefer
    the tmp whenever its marker is >= the state's (or the state marker is
    gone), discard the torn state, and end bit-equal to the one-shot
    aggregate.  Drives upsert_merge_batch directly: batch 0 commits
    cleanly, batch 1 crashes in the swap window, then a torn state_dir is
    reconstructed around the surviving tmp before the redelivery."""
    from json_format_in_parquet_benchmark_spark.plans import queries_streaming
    from json_format_in_parquet_benchmark_spark.plans.queries_streaming import (
        upsert_merge_batch,
    )

    state_dir = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 50), (2, 12, 7)], "user_id long, us long, vq long"
    )
    b1 = spark.createDataFrame(
        [(1, 20, 1000), (3, 21, 3)], "user_id long, us long, vq long"
    )
    upsert_merge_batch(state_dir, b0, 0)

    def torn_swap():
        raise RuntimeError("injected crash in swap window")

    monkeypatch.setattr(queries_streaming, "_SWAP_WINDOW_HOOK", torn_swap)
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert_merge_batch(state_dir, b1, 1)
    monkeypatch.setattr(
        queries_streaming, "_SWAP_WINDOW_HOOK", lambda: None
    )
    # Reconstruct the mid-rmtree wreckage: state_dir EXISTS again but
    # is torn -- a stale parquet part survives; the marker either died
    # first (False arm) or survives carrying batch 0 (True arm, <= the
    # tmp's batch 1 either way).
    assert not os.path.isdir(state_dir)
    os.makedirs(state_dir)
    with open(
        os.path.join(state_dir, "part-00000-stale.snappy.parquet"), "wb"
    ) as fh:
        fh.write(b"PAR1 torn leftover")
    if state_marker_survives:
        with open(
            os.path.join(state_dir, "_applied_batch"), "w", encoding="utf-8"
        ) as fh:
            fh.write("0")
    tmp_marker = os.path.join(state_dir + ".tmp", "_applied_batch")
    assert os.path.isfile(tmp_marker), "swap-window tmp must be complete"

    # Redelivery of batch 1 (at-least-once) against the torn state.
    upsert_merge_batch(state_dir, b1, 1)

    assert not os.path.exists(state_dir + ".tmp")
    assert not os.path.exists(
        os.path.join(state_dir, "part-00000-stale.snappy.parquet")
    ), "torn leftover must not survive recovery"
    with open(
        os.path.join(state_dir, "_applied_batch"), encoding="utf-8"
    ) as fh:
        assert fh.read().strip() == "1"
    got = sorted(
        (r["user_id"], r["n_events"], r["total_vq"], r["last_us"])
        for r in spark.read.parquet(state_dir).collect()
    )
    assert got == [(1, 3, 1150, 20), (2, 1, 7, 12), (3, 1, 3, 21)], got


def test_upsert_torn_tmp_marker_reads_as_absent(spark, tmp_path):
    """Crash INSIDE the marker write (review r10): tmp holds complete
    parquet but a 0-byte `_applied_batch`.  A torn marker must read as
    ABSENT -- the merge proceeds against the intact state and the
    overwrite rebuilds the tmp -- never as an int('') crash loop."""
    from json_format_in_parquet_benchmark_spark.plans.queries_streaming import (
        upsert_merge_batch,
    )

    state_dir = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, 10, 100), (2, 12, 7)], "user_id long, us long, vq long"
    )
    b1 = spark.createDataFrame([(1, 20, 1000)], "user_id long, us long, vq long")
    upsert_merge_batch(state_dir, b0, 0)
    # Reconstruct the torn-marker wreckage for batch 1's tmp.
    tmp = state_dir + ".tmp"
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-00000-stale.parquet"), "wb") as fh:
        fh.write(b"PAR1 leftover")
    open(os.path.join(tmp, "_applied_batch"), "w").close()  # 0 bytes

    upsert_merge_batch(state_dir, b1, 1)  # redelivery must succeed

    got = sorted(
        (r["user_id"], r["n_events"], r["total_vq"])
        for r in spark.read.parquet(state_dir).collect()
    )
    assert got == [(1, 2, 1100), (2, 1, 7)], got
    with open(
        os.path.join(state_dir, "_applied_batch"), encoding="utf-8"
    ) as fh:
        assert fh.read().strip() == "1"


def test_upsert_fresh_run_ignores_previous_runs_tmp(spark, monkeypatch):
    """Stale tmp across RUNS (review r10): a previous run killed in the
    swap window leaves a complete tmp with marker 1.  A fresh run of the
    REGISTERED query (new checkpoint, batch ids restart at 0) must not
    adopt it -- the query clears both state and tmp at start, so the
    final table equals the one-shot aggregate, not the old run's state."""
    import shutil

    from json_format_in_parquet_benchmark_spark.plans import REGISTRY
    from json_format_in_parquet_benchmark_spark.runtime import scratch_dir

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    state_dir = scratch_dir(sf_dir, "upsert_state")
    tmp = state_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # A plausible-but-WRONG stale state: one bogus user row + marker "1".
    spark.createDataFrame(
        [(999999, 1, 1, 1)],
        "user_id long, n_events long, total_vq long, last_us long",
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_applied_batch"), "w", encoding="utf-8") as fh:
        fh.write("1")

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = REGISTRY["stream_upsert_foreachbatch"].fn(spark, sf_dir)
        rows = {r["user_id"] for r in out.collect()}
        assert 999999 not in rows, "fresh run adopted a previous run's tmp"
        assert rows, "no state written"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(tmp, ignore_errors=True)


def test_pyds_sink_restart_exactly_once(spark, tmp_path):
    """Sink-side exactly-once under a REAL restart, not just a re-invoked
    commit(): run the replay stream into the NDJSON manifest sink, stop it
    mid-corpus, then simulate the crash window the sink docstring claims to
    survive -- sink commit() ran but the ENGINE's commit log had not yet
    recorded the batch -- by deleting the newest checkpoint commits/<id>
    entry.  The restart must REPLAY that batch (same offsets), overwrite
    its manifest file, and drain; committed_files() must then read back the
    corpus exactly once (the single-run manifest content), with first-
    attempt orphan data files invisible."""
    import os as _os
    import time

    from json_format_in_parquet_benchmark_spark.plans.queries_streaming import (
        _REPLAY_LOGS,
    )
    from json_format_in_parquet_benchmark_spark.sources.py_datasource import (
        committed_files,
        read_ndjson_replay_stream,
        register_ndjson_sink,
    )

    with open(_REPLAY_LOGS, "rb") as fh:
        corpus = [ln.decode() for ln in fh.read().split(b"\n") if ln]
    n_total = len(corpus)

    register_ndjson_sink(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = read_ndjson_replay_stream(spark, _REPLAY_LOGS, chunk=128)
        return (
            stream.writeStream.format("jfipb_ndjson_sink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    def committed_lines() -> list[str]:
        rows: list[str] = []
        for f in committed_files(out):
            with open(f, encoding="utf-8") as fh:
                rows.extend(ln for ln in fh.read().split("\n") if ln)
        return rows

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q1 = start()
        deadline = time.time() + 120
        cdir_poll = _os.path.join(ckpt, "commits")
        while time.time() < deadline:
            # Wait for BOTH a sink-committed batch and an engine commit
            # entry: the sink's commit() runs before the engine records
            # the batch, so polling the manifest alone can stop q1 inside
            # the crash window itself (leaving nothing to delete below).
            engine_commits = (
                _os.path.isdir(cdir_poll)
                and any(f.isdigit() for f in _os.listdir(cdir_poll))
            )
            if len(committed_lines()) >= 128 and engine_commits:
                break
            time.sleep(0.2)
        q1.stop()
        q1.awaitTermination(60)
        seen = len(committed_lines())
        assert seen > 0, "first run committed nothing"
        if seen >= n_total:
            import pytest

            pytest.skip("stream drained before stop; restart path untestable")

        # Crash-window simulation: the engine records a batch as done in
        # checkpoint commits/<id> AFTER the sink's commit() has published
        # the manifest.  Deleting the newest commits entry reproduces a
        # crash between the two -- on restart the engine MUST replay that
        # batch, and the sink's per-batchId manifest overwrite keeps the
        # read side exactly-once.  Only delete when the commit log is
        # LEVEL with the offset log: if the stop itself landed between
        # offset-write and commit-write the crash window already exists,
        # and deleting another entry would leave a 2-batch gap the engine
        # rejects (it re-runs batch N, then offsetLog.add(N+1) hits the
        # existing file -> SparkConcurrentModificationException).
        cdir = _os.path.join(ckpt, "commits")
        odir = _os.path.join(ckpt, "offsets")
        commit_ids = sorted(
            int(f) for f in _os.listdir(cdir) if f.isdigit()
        )
        offset_ids = sorted(
            int(f) for f in _os.listdir(odir) if f.isdigit()
        )
        assert offset_ids, "no engine offsets recorded before stop"
        # Empty commit log == the stop landed before the FIRST engine
        # commit: the crash window already exists for batch 0.
        deleted_commit = bool(commit_ids) and commit_ids[-1] == offset_ids[-1]
        if deleted_commit:
            _os.remove(_os.path.join(cdir, str(commit_ids[-1])))
            # Hadoop's local ChecksumFileSystem keeps a .<name>.crc sidecar;
            # a stale one makes the replayed batch's atomic commit-log
            # create fail as FileAlreadyExists (surfacing as the
            # "multiple streaming queries" error) -- a crashed process
            # would have written neither file, so remove both.
            crc = _os.path.join(cdir, f".{commit_ids[-1]}.crc")
            if _os.path.exists(crc):
                _os.remove(crc)
        files_before = set(committed_files(out))

        q2 = start()
        deadline = time.time() + 180
        while time.time() < deadline:
            if len(committed_lines()) == n_total:
                break
            time.sleep(0.3)
        q2.stop()
        q2.awaitTermination(60)

        got = committed_lines()
        assert len(got) == n_total, (
            f"restart lost or duplicated rows: {len(got)} != {n_total}"
        )
        assert sorted(got) == sorted(corpus), "content diverged from corpus"
        # When we deleted a sink-committed batch's engine commit entry, the
        # replayed batch's manifest now points at the SECOND attempt's data
        # files: at least one first-attempt file must have dropped out of
        # the committed set (the orphan the manifest makes invisible).  In
        # the natural-lag case (stop landed inside the crash window itself)
        # the first attempt never reached the manifest, so there is nothing
        # to overwrite -- the exactly-once content assertions above are the
        # proof there.
        if deleted_commit:
            files_after = set(committed_files(out))
            assert files_before - files_after, (
                "replayed batch did not overwrite its manifest entry"
            )


def test_pyds_replay_checkpoint_recovery(spark, tmp_path):
    """Exactly-once across restart: stop the replay stream mid-corpus, then
    restart from the SAME checkpoint -- the line-index offset resumes and
    the final aggregate equals one full pass (no re-read, no gap)."""
    import time

    from pyspark.sql import functions as F

    from json_format_in_parquet_benchmark_spark.plans.queries_streaming import (
        _REPLAY_LOGS,
    )
    from json_format_in_parquet_benchmark_spark.sources.py_datasource import (
        read_ndjson_replay_stream,
    )

    with open(_REPLAY_LOGS, "rb") as fh:
        lines = [ln for ln in fh.read().split(b"\n") if ln]
    n_total = len(lines)

    ckpt = str(tmp_path / "ckpt")

    def start(name):
        # 128-line chunks under a 1s trigger: 8 micro-batches spaced a
        # second apart, so the mid-corpus stop below cannot race the
        # whole drain (the 0s-trigger variant could finish all batches
        # between two polls on a fast box).
        stream = read_ndjson_replay_stream(spark, _REPLAY_LOGS, chunk=128)
        agg = stream.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("doc")).cast("bigint").alias("chars"),
        )
        return (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(processingTime="1 second")
            .option("checkpointLocation", ckpt)
            .start()
        )

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q1 = start("replay_rec_a")
        deadline = time.time() + 120
        while time.time() < deadline:
            rows = spark.table("replay_rec_a").collect()
            if rows and rows[0]["n"] >= 128:
                break
            time.sleep(0.2)
        q1.stop()
        q1.awaitTermination(60)
        seen = spark.table("replay_rec_a").collect()[0]["n"]
        assert seen > 0, "first run made no progress"
        if seen >= n_total:
            import pytest

            pytest.skip("stream drained before stop; resume path untestable")

        q2 = start("replay_rec_b")
        deadline = time.time() + 180
        final = None
        while time.time() < deadline:
            rows = spark.table("replay_rec_b").collect()
            if rows and rows[0]["n"] == n_total:
                final = rows[0]
                break
            time.sleep(0.3)
        q2.stop()
        q2.awaitTermination(60)
        assert final is not None, "restarted stream never drained"
        # Spark length() counts characters, not UTF-8 bytes
        want_chars = sum(len(ln.decode()) for ln in lines)
        assert final["chars"] == want_chars, "restart duplicated or lost rows"


def test_stream_louter_eviction_boundary(spark, tmp_path):
    """Pins the LEFT OUTER null-emission rule the oracle of
    stream_stream_left_outer encodes: a never-matched left row emits
    with nulls iff its join-window end is STRICTLY below the global
    watermark (min of both sides' ms-floored max event time, minus the
    2h delay).  Two crafted corpora sit exactly on the boundary: at
    equality (late rows at click+3h) nothing emits; one millisecond
    later the null row appears."""
    from json_format_in_parquet_benchmark_spark.plans.queries_streaming import (
        _run_to_memory,
    )
    from json_format_in_parquet_benchmark_spark.streaming.events_stream import (
        read_events_stream,
    )

    def run(late_ts: str, tag: str) -> list:
        rows = [
            (1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}"),
            (3, late_ts, 98, "click", 1.0, "{}"),
            (2, late_ts, 99, "purchase", 1.0, "{}"),
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.to_timestamp("ts"))
        d = str(tmp_path / f"louter_bnd_{tag}")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = read_events_stream(spark, d)
        clicks = (
            stream.where("event_type = 'click'")
            .withWatermark("ts", "2 hours")
            .selectExpr("user_id c_user", "event_id click_id", "ts c_ts")
        )
        purchases = (
            stream.where("event_type = 'purchase'")
            .withWatermark("ts", "2 hours")
            .selectExpr("user_id p_user", "event_id purchase_id", "ts p_ts")
        )
        joined = clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
            "leftOuter",
        ).select("c_user", "click_id", "purchase_id")
        out = _run_to_memory(joined, d, f"louter_bnd_{tag}", "append")
        return sorted(
            r.click_id for r in out.collect() if r.purchase_id is None
        )

    # wm = 03:00 - 2h = 01:00 == click window end exactly -> retained
    assert run("2024-01-01 03:00:00", "eq") == []
    # wm = 01:00 + 1ms > window end -> null-emitted
    assert run("2024-01-01 03:00:00.001", "gt") == [1]
