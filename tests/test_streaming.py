"""Structured Streaming tests: the windowed aggregations must produce
the same results through readStream (availableNow trigger, memory sink)
as through the batch DataFrame path."""

from __future__ import annotations

import tempfile

import pytest

from yelp_etl_spark.sources.readers import load_table
from yelp_etl_spark.streaming.windows import (
    read_events_stream,
    run_stream_to_memory,
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """Events fixture re-materialized as a micro-timestamp parquet dir
    (streaming file source needs a directory it can list)."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def _rows(spark, name):
    return {tuple(r) for r in spark.table(name).collect()}


def test_tumbling_stream_matches_batch(spark, events_dir):
    batch = tumbling_window_agg(spark.read.parquet(events_dir), "10 minutes")
    stream = tumbling_window_agg(
        read_events_stream(spark, events_dir), "10 minutes", watermark="1 hour"
    )
    run_stream_to_memory(stream, "t_tumbling")
    assert _rows(spark, "t_tumbling") == {tuple(r) for r in batch.collect()}


def test_sliding_stream_matches_batch(spark, events_dir):
    batch = sliding_window_agg(spark.read.parquet(events_dir), "10 minutes", "5 minutes")
    stream = sliding_window_agg(
        read_events_stream(spark, events_dir), "10 minutes", "5 minutes", watermark="1 hour"
    )
    run_stream_to_memory(stream, "t_sliding")
    assert _rows(spark, "t_sliding") == {tuple(r) for r in batch.collect()}


def test_session_stream_matches_batch(spark, events_dir):
    batch = session_window_agg(spark.read.parquet(events_dir), "30 minutes")
    stream = session_window_agg(
        read_events_stream(spark, events_dir), "30 minutes", watermark="1 hour"
    )
    run_stream_to_memory(stream, "t_session")
    assert _rows(spark, "t_session") == {tuple(r) for r in batch.collect()}


def test_stream_dedup_drops_duplicates(spark, events_dir, tmp_path):
    from yelp_etl_spark.streaming.windows import read_events_stream, stream_dedup

    # duplicate every event into a second file set → stream must dedup
    dup_dir = str(tmp_path / "dup_events")
    base = spark.read.parquet(events_dir)
    base.write.mode("overwrite").parquet(dup_dir)
    base.write.mode("append").parquet(dup_dir)
    assert spark.read.parquet(dup_dir).count() == 2 * base.count()

    deduped = stream_dedup(read_events_stream(spark, dup_dir), ["event_id"], "10 days")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("t_dedup").count() == base.count()
    # batch path: plain dropDuplicates
    assert stream_dedup(spark.read.parquet(dup_dir), ["event_id"]).count() == base.count()


def test_running_user_totals_stateful(spark, events_dir):
    from pyspark.sql import functions as F

    from yelp_etl_spark.streaming.windows import (
        read_events_stream,
        running_user_totals,
    )

    stream = running_user_totals(
        read_events_stream(spark, events_dir, max_files_per_trigger=2)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last emitted row per user = final running total = batch aggregate
    batch = {
        r.user_id: (r.n, round(r.total, 6))
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    emitted = spark.table("t_state").collect()
    final = {}
    for r in emitted:  # update mode emits per micro-batch; keep max count
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, round(r.total_value, 6))
    assert final == batch
    assert len(emitted) >= len(batch)  # multiple micro-batches → re-emits


def test_incremental_micro_batches(spark, events_dir):
    """maxFilesPerTrigger forces multiple micro-batches; the final state
    must still equal the batch answer (update across triggers)."""
    stream = tumbling_window_agg(
        read_events_stream(spark, events_dir, max_files_per_trigger=1),
        "10 minutes",
        watermark="1 hour",
    )
    run_stream_to_memory(stream, "t_incremental")
    batch = tumbling_window_agg(spark.read.parquet(events_dir), "10 minutes")
    assert _rows(spark, "t_incremental") == {tuple(r) for r in batch.collect()}


def test_stream_static_enrich_matches_batch(spark, sf_dir, events_dir):
    from yelp_etl_spark.streaming.windows import stream_static_enrich

    dim = load_table(spark, sf_dir, "customer")
    batch = stream_static_enrich(spark.read.parquet(events_dir), dim, "10 minutes")
    stream = stream_static_enrich(
        read_events_stream(spark, events_dir), dim, "10 minutes", watermark="1 hour"
    )
    run_stream_to_memory(stream, "t_enrich")
    assert _rows(spark, "t_enrich") == {tuple(r) for r in batch.collect()}


_SEG_SCHEMA = "user_id long, seg string, total double"


def _stream_into_snapshot_table(spark, tmp_path, seed, batch, keys):
    """Seed a snapshot table partitioned by ``seg``, stream ``batch``
    into it as one micro-batch and return the manifests before and
    after, and the table's rows."""
    from yelp_etl_spark.sources.snapshots import (
        _current_manifest,
        snapshot_read,
        snapshot_write,
    )
    from yelp_etl_spark.streaming.windows import foreach_batch_upsert

    target = str(tmp_path / "serving")
    snapshot_write(
        spark.createDataFrame(seed, _SEG_SCHEMA).repartition(2), target,
        partition_by=["seg"],
    )
    before = _current_manifest(target)[1]
    src = str(tmp_path / "src")
    spark.createDataFrame(batch, _SEG_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(_SEG_SCHEMA).parquet(src)
    foreach_batch_upsert(
        stream, target, keys, str(tmp_path / "ckpt"), snapshot_table=True
    )
    rows = {
        (r.user_id, r.seg, r.total)
        for r in snapshot_read(spark, target).collect()
    }
    return before, _current_manifest(target)[1], rows


def _assert_only_partition_rewritten(before, after, seg):
    """Every file outside partition ``seg`` is carried (same path and
    seq) and every file the merge wrote lies in it."""

    def entries(m, keep):
        return [
            (e["path"], e["seq"]) for e in m["files"]
            if keep(e["partition"]["seg"])
        ]

    assert after["operation"] == "overwrite"
    others = entries(before, lambda v: v != seg)
    assert others and entries(after, lambda v: v != seg) == others
    written = [e for e in after["files"] if e["seq"] == after["snapshot_id"]]
    assert written and all(e["partition"]["seg"] == seg for e in written)


def test_foreach_batch_upsert_partition_scoped(spark, tmp_path):
    """On a snapshot table partitioned by a merge key, a micro-batch
    touching one partition carries every other partition's files
    untouched (no new file for them) while merging correctly into the
    touched one."""
    before, after, rows = _stream_into_snapshot_table(
        spark, tmp_path,
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        [(1, "a", 11.0), (5, "a", 50.0)],
        ["user_id", "seg"],
    )
    _assert_only_partition_rewritten(before, after, "a")
    assert rows == {
        (1, "a", 11.0),  # updated
        (2, "a", 20.0),  # untouched row in touched partition survives
        (3, "b", 30.0),
        (4, "c", 40.0),
        (5, "a", 50.0),  # inserted
    }


def test_stream_stream_join_matches_batch(spark, events_dir):
    from pyspark.sql import functions as SF

    from yelp_etl_spark.streaming.windows import stream_stream_join

    batch_events = spark.read.parquet(events_dir)
    batch = stream_stream_join(
        batch_events.filter(SF.col("event_type") == "click"),
        batch_events.filter(SF.col("event_type") == "purchase"),
        within="30 minutes",
    )
    stream_events = read_events_stream(spark, events_dir)
    stream = stream_stream_join(
        stream_events.filter(SF.col("event_type") == "click"),
        read_events_stream(spark, events_dir).filter(
            SF.col("event_type") == "purchase"
        ),
        within="30 minutes",
    )
    # joins require append mode (no aggregation state to re-emit)
    q = (
        stream.writeStream.format("memory")
        .queryName("t_ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = _rows(spark, "t_ss_join")
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    assert len(want) > 0


def test_stream_stream_join_left_outer_batch(spark, events_dir):
    from pyspark.sql import functions as SF

    from yelp_etl_spark.streaming.windows import stream_stream_join

    batch_events = spark.read.parquet(events_dir)
    clicks = batch_events.filter(SF.col("event_type") == "click")
    purchases = batch_events.filter(SF.col("event_type") == "purchase")
    inner = stream_stream_join(clicks, purchases, within="30 minutes")
    outer = stream_stream_join(
        clicks, purchases, within="30 minutes", how="left_outer"
    )
    n_clicks = clicks.count()
    matched_left = inner.select("l_event_id").distinct().count()
    rows = outer.collect()
    # every click appears; unmatched ones carry null right columns
    unmatched = [r for r in rows if r["r_event_id"] is None]
    assert len(unmatched) == n_clicks - matched_left
    assert len(rows) == inner.count() + len(unmatched)
    assert n_clicks > matched_left > 0


def test_checkpoint_restart_processes_new_files_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once across restarts — the core Structured Streaming
    guarantee a daily-ingest deployment leans on: run to completion,
    stop, land MORE files in the source dir, restart with the SAME
    checkpoint. The second run must process only the new files (no
    reprocessing: totals equal each file counted exactly once), because
    the checkpoint's file-source log records what was committed."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema(first.schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == first.count()

    second.coalesce(1).write.mode("append").parquet(src)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == events.count()  # nothing dropped, nothing doubled
    assert got.select(F.sum("value")).collect()[0][0] == pytest.approx(
        events.select(F.sum("value")).collect()[0][0], rel=1e-9
    )


def test_partition_scoped_upsert_moved_key_keeps_one_row(spark, tmp_path):
    """A spec whose source is not a merge key does not scope the merge:
    a key that moves between partitions replaces its old row instead
    of being duplicated beside it."""
    _before, after, rows = _stream_into_snapshot_table(
        spark, tmp_path,
        [(1, "a", 1.0), (2, "b", 2.0)],
        [(1, "b", 5.0)],
        ["user_id"],
    )
    assert after["operation"] == "replace"
    assert rows == {(1, "b", 5.0), (2, "b", 2.0)}


def test_partition_scoped_upsert_null_partition(spark, tmp_path):
    """Rows in the NULL partition merge null-safely: the batch's NULL
    tuple chooses the null partition's files, and its replacement row
    replaces the old one instead of landing beside it."""
    before, after, rows = _stream_into_snapshot_table(
        spark, tmp_path,
        [(1, None, 10.0), (2, None, 20.0), (3, "b", 30.0)],
        [(1, None, 11.0)],
        ["user_id", "seg"],
    )
    _assert_only_partition_rewritten(before, after, None)
    assert rows == {(1, None, 11.0), (2, None, 20.0), (3, "b", 30.0)}


def test_foreach_batch_upsert_rejects_plain_parquet_target(spark, tmp_path):
    """The sink writes snapshot tables only: asking for the removed
    plain-parquet target fails before a stream starts or a file is
    written."""
    from yelp_etl_spark.streaming.windows import foreach_batch_upsert

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a", 1.0)], _SEG_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(_SEG_SCHEMA).parquet(src)
    target = tmp_path / "serving"
    with pytest.raises(ValueError, match="snapshot_table=False"):
        foreach_batch_upsert(
            stream, str(target), ["user_id"], str(tmp_path / "ckpt"),
            snapshot_table=False,
        )
    assert not target.exists()
