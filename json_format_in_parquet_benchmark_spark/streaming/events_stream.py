"""Streaming pipelines over the events stream.

Three capabilities, each with a batch twin sharing the same transform:

- file-source ingestion: ``readStream.schema(...).parquet(dir)`` -- on a real
  cluster this is the drop-in for a Kafka source; the transform code is
  identical either way.
- watermarked tumbling-window aggregation (late data handling): windows are
  finalized once the event-time watermark passes their end; later rows are
  dropped, bounding state size -- the property that makes the aggregation
  runnable forever on an unbounded stream.
- custom stateful operator: gap-based sessionization via
  ``applyInPandasWithState`` (Spark has no built-in session operator with
  arbitrary per-group state transitions).  State is one open session per
  user; closed sessions are emitted as soon as the gap rule closes them, so
  per-key state is O(1) regardless of stream length.

Scale notes: the stateful operator shuffles once on ``user_id`` (the natural
session key); window aggregation is partial-aggregated map-side by Spark's
streaming agg. Both state stores are incremental (RocksDB-backed on a real
cluster via ``spark.sql.streaming.stateStore.providerClass``).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

SESSION_GAP_MINUTES = 30

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
    ]
)

# one open session per user: (session_seq, start_us, end_us, n_events)
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_seq", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def read_events_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(events_dir)


def window_event_counts(
    events: DataFrame,
    window_dur: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Epoch-aligned window counts per event_type, plus the exact-decimal
    ``value`` sum when the input has a ``value`` column (a stream staged
    with a pruned schema has none).

    Windows tumble unless ``slide`` is given; then they hop, and every
    event lands in duration/slide overlapping windows.  State is dur/slide
    concurrent windows per (window, event_type) group -- a constant factor
    over tumbling, still O(open windows), not O(stream).

    Works identically on a batch or streaming DataFrame; pass ``watermark``
    on the streaming side to bound state ("append" output becomes legal).
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if "value" in events.columns:
        aggs.append(
            F.expr("cast(sum(cast(value as decimal(18,2))) as double)").alias(
                "total_value"
            )
        )
    counts = events.groupBy(
        F.window("ts", window_dur, slide).alias("win"), "event_type"
    ).agg(*aggs)
    return counts.select(F.col("win.start").alias("win_start"), *counts.columns[1:])


def sessionize_batch(
    events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES
) -> DataFrame:
    """Batch gap-sessionization: lag + running-sum of session starts.

    Single shuffle on user_id; both window functions reuse the same
    (user_id, ts, event_id) sort. This is the correctness spec for
    :func:`sessionize_stream`.
    """
    from pyspark.sql.window import Window

    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = events.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    ).withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > gap_us),
            1,
        ).otherwise(0),
    )
    return (
        flagged.withColumn("session_seq", F.sum("is_new").over(wrun))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
    )


def _make_session_func(gap_us: int):
    def session_func(
        key: tuple[Any, ...],
        pdf_iter: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        parts = [p for p in pdf_iter if len(p)]
        cols = ["user_id", "session_seq", "n_events", "start_us", "end_us"]
        if not parts:
            yield pd.DataFrame(columns=cols)
            return
        rows = pd.concat(parts).sort_values(["ts_us", "event_id"])
        if state.exists:
            seq, start_us, end_us, n = state.get
        else:
            seq, start_us, end_us, n = 0, None, None, 0
        user_id = key[0]
        closed: list[tuple[int, int, int, int, int]] = []
        for ts_us in rows["ts_us"]:
            ts_us = int(ts_us)
            if start_us is None:
                seq, start_us, end_us, n = seq + 1, ts_us, ts_us, 1
            elif ts_us - end_us > gap_us:
                closed.append((user_id, seq, n, start_us, end_us))
                seq, start_us, end_us, n = seq + 1, ts_us, ts_us, 1
            else:
                end_us, n = ts_us, n + 1
        state.update((seq, start_us, end_us, n))
        yield pd.DataFrame(closed, columns=cols)

    return session_func


def sessionize_stream(
    stream: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES
) -> DataFrame:
    """Streaming gap-sessionization via ``applyInPandasWithState``.

    Emits a session the moment a same-user event arrives more than
    ``gap_minutes`` after the previous one; the still-open trailing session
    stays in state (an unbounded stream would close it on a later batch --
    a finite test run therefore sees every session except each user's last,
    exactly what tests/test_streaming.py asserts against the batch twin).
    """
    gap_us = gap_minutes * 60 * 1_000_000
    prepared = stream.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _make_session_func(gap_us),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_window_counts(
    events: DataFrame, gap: str = "8 hours", watermark: str | None = None
) -> DataFrame:
    """Native ``F.session_window`` sessionization: Spark merges events per
    user into sessions whose window is [first_ts, last_ts + gap) -- the
    built-in operator twin of :func:`sessionize_batch`'s manual islands
    computation (and of the ``applyInPandasWithState`` stateful path).

    Works identically on a batch or streaming DataFrame; pass ``watermark``
    on the streaming side so append mode finalizes sessions once the
    watermark passes their end.  Bounds are emitted as epoch integers
    (micros here; stream twins downscale to ms, the watermark's precision).
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(
            F.col("user_id"), F.session_window("ts", gap).alias("win")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("win.start").alias("start_us"),
            F.unix_micros("win.end").alias("end_us"),
            "n_events",
        )
    )
