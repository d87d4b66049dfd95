"""Training-corpus curation operators (functions/curation.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from yelp_etl_spark.functions.curation import (
    decontaminate,
    mixture_sample,
    repetition_metrics,
    shard_assignment,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_metrics_flags_looped_text(spark):
    df = _docs(
        spark,
        [
            (1, "spam spam spam spam spam spam"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "ab"),  # single short token: no 3-grams
            (4, ""),  # empty: zero tokens, no division blow-ups
        ],
    )
    m = {r.doc_id: r for r in repetition_metrics(df, ngram=3).collect()}
    assert m[1].top_word_frac == 1.0
    assert m[1].dup_ngram_frac > 0.7  # 4 identical 3-grams minus 1 distinct
    assert m[2].dup_ngram_frac == 0.0
    assert abs(m[2].top_word_frac - 0.1) < 1e-9
    assert m[3].n_tokens == 1 and m[3].dup_ngram_frac == 0.0
    assert m[4].n_tokens == 0
    assert m[4].top_word_frac == 0.0 and m[4].dup_ngram_frac == 0.0


def test_decontaminate_drops_only_overlapping_docs(spark):
    train = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words appear here today"),
            # shares the 3-gram "quick brown fox" with the benchmark
            (3, "a very quick brown fox indeed"),
        ],
    )
    bench = _docs(spark, [(100, "quick brown fox escapes again")])
    clean = sorted(
        r.doc_id for r in decontaminate(train, bench, ngram=3).collect()
    )
    assert clean == [2]  # doc 1 and 3 both contain "quick brown fox"
    dirty = sorted(
        r.doc_id
        for r in decontaminate(train, bench, ngram=3, keep_clean=False).collect()
    )
    assert dirty == [1, 3]


def test_mixture_sample_rates_and_determinism(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = mixture_sample(df, "lang", {"en": 0.1, "de": 1.0}, key_col="doc_id")
    counts = {r.lang: r.c for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert counts["de"] == 1000  # rate 1.0 keeps everything
    assert 60 <= counts["en"] <= 140  # ~10% of 1000
    # deterministic: same call, same kept set
    ids1 = {r.doc_id for r in out.collect()}
    ids2 = {
        r.doc_id
        for r in mixture_sample(
            df, "lang", {"en": 0.1, "de": 1.0}, key_col="doc_id"
        ).collect()
    }
    assert ids1 == ids2
    # unlisted group uses default_rate
    out2 = mixture_sample(
        df.withColumn("lang", F.lit("fr")), "lang", {"en": 0.5},
        key_col="doc_id", default_rate=0.0,
    )
    assert out2.count() == 0


def test_shard_assignment_stable_and_dense(spark):
    df = spark.range(500).withColumnRenamed("id", "doc_id")
    out = shard_assignment(df, key_col="doc_id", n_shards=8)
    rows = out.collect()
    assert len(rows) == 500
    assert {r.shard for r in rows} == set(range(8))
    # positions are dense 1..n within each shard
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # repartitioning does not change the layout
    again = {
        (r.doc_id, r.shard, r.pos)
        for r in shard_assignment(
            df.repartition(13), key_col="doc_id", n_shards=8
        ).collect()
    }
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}
