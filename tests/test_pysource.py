"""Custom Python Data Source (sources/pysource.py): determinism,
partitioning, and streaming replay semantics."""

from __future__ import annotations

import pytest

from yelp_etl_spark.sources.pysource import SynthDocsSource, _doc, register


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    register(spark)


def test_batch_read_partitioned_and_deterministic(spark):
    df = (
        spark.read.format("synthdocs")
        .option("n", "500")
        .option("partitions", "8")
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    rows = {r.doc_id: (r.text, r.lang, r.source, r.n_chars) for r in df.collect()}
    assert len(rows) == 500
    # partitioning must not change content
    again = (
        spark.read.format("synthdocs")
        .option("n", "500")
        .option("partitions", "3")
        .load()
    )
    assert {
        r.doc_id: (r.text, r.lang, r.source, r.n_chars) for r in again.collect()
    } == rows
    # rows are the pure function of (id, seed)
    sample = rows[123]
    assert _doc(123, 42)[1:] == sample
    # a different seed is a different corpus
    other = (
        spark.read.format("synthdocs")
        .option("n", "500")
        .option("seed", "7")
        .load()
    )
    assert {r.doc_id: r.text for r in other.collect()} != {
        k: v[0] for k, v in rows.items()
    }


def test_batch_read_composes_with_engine_operators(spark):
    from pyspark.sql import functions as F

    from yelp_etl_spark.functions.curation import repetition_metrics

    df = spark.read.format("synthdocs").option("n", "200").load()
    m = repetition_metrics(df)
    assert m.count() == 200
    assert m.filter(F.col("n_tokens") <= 0).count() == 0


def test_stream_read_replays_deterministically(spark, tmp_path):
    """Each availableNow run consumes one micro-batch from the simple
    stream reader; restarting against the same checkpoint resumes from
    the committed offset — the offset bookkeeping that makes the
    source exactly-once replayable."""

    out = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.format("synthdocs")
            .option("n", "250")
            .option("rows_per_batch", "100")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.doc_id: r.text for r in spark.read.parquet(out).collect()}

    assert len(run_once()) == 100  # batch 1: ids 0..99
    assert len(run_once()) >= 200  # resumed from committed offset
    got = run_once()
    while len(got) < 250:  # drain the bounded range (memory sink
        got = run_once()  # accumulates across restarts)
    assert len(got) == 250
    batch = {
        r.doc_id: r.text
        for r in spark.read.format("synthdocs").option("n", "250").load().collect()
    }
    assert got == batch  # stream ≡ batch for the same (n, seed)
