"""Structured Streaming window operators over the events table.

The reference is batch-only (SURVEY.md §1.1: "No streams"); this module
is the engine's streaming extension surface. Each aggregation helper is
written against the *unbound* DataFrame API, so the same function works
on a batch DataFrame (the driver's oracle checks use batch semantics)
and on a streaming DataFrame from ``read_events_stream`` (the tests
exercise that path with an availableNow trigger).

Scale notes: windowed aggregations shuffle on (key, window); the
watermark bounds state size — without it a 100 TB/day stream grows state
forever. Session windows additionally merge adjacent state entries; the
gap duration is the state-retention knob.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a directory of parquet event files
    (micro-batch per file group). Explicit schema — streaming sources
    require one; inference would also cost a listing pass per batch."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def _agg_exprs() -> list[Column]:
    return [
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ]


def tumbling_window_agg(
    events: DataFrame,
    duration: str = "10 minutes",
    keys: list[str] = ("event_type",),
    watermark: str | None = None,
) -> DataFrame:
    """Non-overlapping fixed windows. With ``watermark`` set (streaming),
    state for windows older than max(ts) - watermark is emitted+dropped."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", duration).alias("w"), *keys)
        .agg(*_agg_exprs())
        .select(F.col("w.start").alias("bucket_start"), *keys, "n_events", "sum_value")
    )


def sliding_window_agg(
    events: DataFrame,
    duration: str = "10 minutes",
    slide: str = "5 minutes",
    keys: list[str] = ("event_type",),
    watermark: str | None = None,
) -> DataFrame:
    """Overlapping windows: each event lands in duration/slide windows."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", duration, slide).alias("w"), *keys)
        .agg(*_agg_exprs())
        .select(F.col("w.start").alias("window_start"), *keys, "n_events", "sum_value")
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    keys: list[str] = ("user_id",),
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessions per key: a session extends while consecutive
    events arrive within ``gap``; window end = last event + gap."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), *keys)
        .agg(*_agg_exprs())
        .select(
            F.col("w.start").alias("session_start"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str] = ("event_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on key columns with bounded state:
    duplicates arriving within the watermark horizon are dropped, state
    older than the horizon is evicted. Batch DataFrames just
    dropDuplicates. At 100 TB/day the watermark IS the design — unbounded
    dedup state is a slow OOM."""
    if not events.isStreaming:
        return events.dropDuplicates(list(keys))
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def running_user_totals(
    events: DataFrame, watermark: str | None = "1 hour"
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event count + value sum maintained as explicit
    GroupState across micro-batches (the escape hatch for semantics the
    built-in windows can't express). Emits one row per user per
    micro-batch in which that user appeared.

    Pass ``watermark=None`` when an upstream stateful operator (e.g.
    stream_dedup) already defined the stream's watermark — Spark allows
    chained stateful operators but exactly one watermark definition."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    duration: str = "10 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Stream-static join + windowed aggregation: the streaming analog
    of the reference's enrich pipeline (fact stream × dimension table,
    enrich.py:57-60). The static side joins per micro-batch with normal
    batch semantics — Catalyst broadcasts it when small, and no state
    is kept for it; only the windowed aggregation is stateful (bounded
    by the watermark). Works identically on a batch DataFrame."""
    src = events.withWatermark("ts", watermark) if watermark else events
    joined = src.join(dim, src["user_id"] == dim["c_custkey"], "inner")
    return joined.groupBy(
        F.window("ts", duration).alias("win"), "c_mktsegment"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        "c_mktsegment",
        "n_events",
        "total_value",
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    watermark: str = "1 hour",
    within: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: pair each right event with the left events
    of the same key that happened in the preceding ``within`` interval
    (e.g. purchase ← clicks that led to it). ``how='left_outer'``
    additionally emits unmatched left events; ``how='full_outer'``
    (Spark 3.1+) emits unmatched events from BOTH sides — in streaming
    these only surface once the watermark passes their join horizon
    (Spark must prove no future match can arrive), so an availableNow
    run emits the matched rows plus only those unmatched rows already
    past the final watermark; the batch path emits all of them
    immediately.

    Works on batch DataFrames (same API, Catalyst turns the time bound
    into a range predicate) and on two streaming sources. For streams,
    BOTH sides carry a watermark and the join condition carries the
    time bound — that pair is what lets Spark evict buffered state:
    a left row older than (right watermark − within) can never match
    again and is dropped. Without the bound, stream-stream join state
    grows forever at 100 TB/day; with it, state is O(key-rate ×
    (watermark + within)).
    """
    l = left.select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("value").alias("r_value"),
    )
    if left.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if right.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how)


from contextlib import contextmanager


@contextmanager
def stream_run_conf(spark, state_width: int | None = None):
    """Scoped session conf for an availableNow verification run
    (set before start(), restored after termination — the values are
    read at first-batch planning, not at start()):

    - ``state_width`` → spark.sql.shuffle.partitions: state-store
      width is frozen into the checkpoint at first start, so it is a
      per-stream sizing decision — size it to state volume, not core
      count; every stateful operator otherwise schedules session-width
      state tasks (each with its own store snapshot/commit I/O) per
      micro-batch (r15 optimization round).
    - noDataMicroBatches OFF: availableNow appends one EMPTY
      finalization batch after the last data batch so a newly-advanced
      watermark can evict state without new input. Every availableNow
      harness in this repo already marches the watermark past every
      real row's horizon with sentinel batches (or has no
      timeout-driven emission at all), so the empty batch produces
      nothing these queries return — it only pays one more
      plan+state-commit round per stateful operator. Interleaved A/B
      at sf0.1 (r16 optimization round): expiry joins −17/−19%,
      chained_windows −12%, dedup_within_watermark −13%, rows
      identical across the whole streaming family. A live deployment
      KEEPS the default (true): a real stream has no sentinel
      protocol, and the no-data batch is what lets its watermark
      close windows during input lulls.
    """
    keys = {
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    if state_width is not None:
        keys["spark.sql.shuffle.partitions"] = str(state_width)
    prev = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def run_stream_to_memory(
    df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_width: int | None = None,
) -> None:
    """Execute a streaming aggregation to an in-memory sink with the
    availableNow trigger (process everything currently available, then
    stop) — the test/verification harness for streaming ops.

    Runs under ``stream_run_conf`` (state-store width sized to state
    volume; no-data finalization batch disabled — see its docstring)."""
    spark = df.sparkSession
    with stream_run_conf(spark, state_width):
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def foreach_batch_upsert(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
    snapshot_table: bool = True,
) -> None:
    """Streaming upsert sink: every micro-batch is MERGEd into a keyed
    sources/snapshots.py table via foreachBatch + snapshot_merge — the
    standard 'stream into a serving table' pattern when the sink has no
    native streaming support.

    Exactly-once notes: foreachBatch gives at-least-once delivery with
    a (batch_id, checkpoint) pair identifying replays; because the
    merge is idempotent on the keys (replaying a batch rewrites the
    same rows to the same values; keys match null-safely, so a NULL
    key part does not duplicate its row), the target converges to
    exactly-once contents.

    Each micro-batch lands as ONE atomic snapshot commit, so a
    concurrent reader sees whole-batch boundaries only — never a
    half-applied batch — and each batch's pre-state stays
    time-travelable until expire+vacuum. This is the streaming MERGE
    INTO shape of a real lakehouse sink. Partition scoping is a
    property of the table's spec: when every source column of the spec
    is one of ``keys``, a batch reads and rewrites only the partitions
    its rows land in and carries every other partition's files
    untouched, so the sink's cost tracks batch size plus touched
    partition size, not table size. Create such a table before
    streaming, e.g. ``snapshot_write(seed, target_path,
    partition_by=["seg"])`` with ``"seg"`` among ``keys``. Under any
    other spec every batch rewrites the whole table, so a key that
    moves partitions keeps one row.

    ``snapshot_table=False`` raises ValueError: the sink writes
    snapshot tables only.
    """
    if not snapshot_table:
        raise ValueError(
            "foreach_batch_upsert writes snapshot tables only; the "
            "plain-parquet sink (snapshot_table=False) was removed"
        )
    # Looked up at call time, not import time, so a wrapper installed on
    # snapshots.snapshot_merge (tracing) sees every batch.
    from yelp_etl_spark.sources.snapshots import snapshot_merge

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        snapshot_merge(batch_df.sparkSession, batch_df, target_path, keys)

    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
