"""Bloom-filter join pruning + Merkle-style table checksums
(functions/integrity.py)."""
import pytest
from pyspark.sql import functions as F

from yelp_etl_spark.functions.integrity import (
    CHECKSUM_MOD,
    bloom_build,
    bloom_prune,
    table_checksum,
)


def test_bloom_no_false_negatives(spark):
    """Every build-side key passes its own filter — the Bloom
    guarantee the prune's correctness rests on."""
    build = spark.range(0, 500).select(F.col("id").alias("k"))
    bloom = bloom_build(build, "k", n_bits=4096, n_hashes=3)
    kept = bloom_prune(build, bloom, "k", n_bits=4096, n_hashes=3)
    assert kept.count() == 500


def test_bloom_prune_equals_semi_join_plus_bounded_fps(spark):
    """Pruned set ⊇ true semi-join; false-positive rate stays within
    ~3× the theoretical (1 − e^{−kn/m})^k for the configuration."""
    build = spark.range(0, 300).select(F.col("id").alias("k"))
    probe = spark.range(0, 6000).select((F.col("id") * 7 % 9000).alias("k"))
    bloom = bloom_build(build, "k", n_bits=8192, n_hashes=3)
    kept = bloom_prune(probe, bloom, "k", n_bits=8192, n_hashes=3)
    true = probe.join(build.distinct(), "k", "semi")
    n_true, n_kept, n_probe = true.count(), kept.count(), probe.count()
    assert n_kept >= n_true
    # the pruned set contains every true match (no false negatives)
    assert kept.join(build.distinct(), "k", "semi").count() == n_true
    import math

    p_fp = (1 - math.exp(-3 * 300 / 8192)) ** 3
    assert (n_kept - n_true) <= max(20, 3 * p_fp * n_probe)


def test_bloom_word_table_is_bounded(spark):
    """The filter aggregate never exceeds n_bits/32 rows no matter the
    build-side cardinality — the property that makes it broadcastable."""
    build = spark.range(0, 20_000).select(F.col("id").alias("k"))
    bloom = bloom_build(build, "k", n_bits=1024, n_hashes=5)
    assert bloom.count() <= 1024 // 32


def test_bloom_prune_runs_build_side_at_call(spark, spark_jobs):
    """The lineage cut in bloom_prune is lazy (eager=False), yet under
    AQE taking it executes the build side: calling bloom_prune submits
    one Spark job before any action on the pruned frame. A cut that
    truly defers the build side would change this count to 0."""
    build = spark.range(0, 100).select(F.col("id").alias("k"))
    probe = spark.range(0, 1000).select(F.col("id").alias("k"))
    bloom = bloom_build(build, "k", n_bits=1024, n_hashes=3)
    kept, n_jobs = spark_jobs(
        lambda: bloom_prune(probe, bloom, "k", n_bits=1024, n_hashes=3)
    )
    assert n_jobs == 1
    assert kept.filter(F.col("k") < 100).count() == 100


def test_checksum_order_and_partitioning_invariant(spark):
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    a = table_checksum(df, ["k", "v"], "k", n_buckets=8)
    b = table_checksum(
        df.orderBy(F.col("id").desc()).repartition(17), ["k", "v"], "k", n_buckets=8
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_checksum_localizes_a_single_row_change(spark):
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    tampered = df.withColumn(
        "v", F.when(F.col("k") == 1234, F.lit(99)).otherwise(F.col("v"))
    )
    a = {r.bucket: r.checksum for r in table_checksum(df, ["k", "v"], "k").collect()}
    b = {
        r.bucket: r.checksum
        for r in table_checksum(tampered, ["k", "v"], "k").collect()
    }
    diff = [bkt for bkt in a if a[bkt] != b[bkt]]
    assert len(diff) == 1  # exactly the tampered key's bucket diverges
    assert all(0 <= c < CHECKSUM_MOD for c in a.values())


def test_checksum_null_vs_empty_string_distinct(spark):
    """The NULL sentinel + unit-separator rendering keeps (NULL) and
    ('') rows with different fingerprints."""
    a = spark.createDataFrame([(1, None)], "k long, v string")
    b = spark.createDataFrame([(1, "")], "k long, v string")
    ca = table_checksum(a, ["k", "v"], "k").collect()[0].checksum
    cb = table_checksum(b, ["k", "v"], "k").collect()[0].checksum
    assert ca != cb


def test_incremental_checksum_equals_full_recompute(spark):
    """C₂ maintained from a CDC delta (changed + added + removed rows)
    is cell-for-cell equal to a full recompute of the new version —
    including untouched buckets and row counts."""
    from yelp_etl_spark.functions.integrity import table_checksum_incremental

    v1 = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    )
    # delta: k%10==3 changed, k%10==7 removed, negatives added
    v2 = (
        v1.filter(F.col("k") % 10 != 7)
        .withColumn(
            "v", F.when(F.col("k") % 10 == 3, F.lit(99)).otherwise(F.col("v"))
        )
        .unionByName(
            v1.filter(F.col("k") % 10 == 1).select(
                (-F.col("k")).alias("k"), F.lit(7).alias("v")
            )
        )
    )
    base = table_checksum(v1, ["k", "v"], "k", n_buckets=8)
    old_rows = v1.filter((F.col("k") % 10).isin(3, 7))
    new_rows = v2.filter((F.col("k") % 10 == 3) | (F.col("k") < 0))
    incr = table_checksum_incremental(
        base, old_rows, new_rows, ["k", "v"], "k", n_buckets=8
    )
    full = table_checksum(v2, ["k", "v"], "k", n_buckets=8)
    assert sorted(map(tuple, incr.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_incremental_checksum_empty_delta_is_identity(spark):
    from yelp_etl_spark.functions.integrity import table_checksum_incremental

    df = spark.range(0, 500).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    base = table_checksum(df, ["k", "v"], "k", n_buckets=4)
    empty = df.filter(F.lit(False))
    incr = table_checksum_incremental(base, empty, empty, ["k", "v"], "k", 4)
    assert sorted(map(tuple, incr.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_incremental_checksum_new_and_emptied_buckets(spark):
    """A delta may populate a bucket the base never had, and may empty
    one it did have: the maintained state must match a full recompute
    in BOTH directions (the left-join regression: inserted rows
    vanished from the state; emptied buckets left phantom rows)."""
    from yelp_etl_spark.functions.integrity import table_checksum_incremental

    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    adds = spark.createDataFrame(
        [(i, "n") for i in range(100, 140)], "k long, v string"
    )
    v2 = v1.filter(F.col("k") != 1).unionByName(adds)
    base = table_checksum(v1, ["k", "v"], "k", n_buckets=16)
    incr = table_checksum_incremental(
        base,
        v1.filter(F.col("k") == 1),
        adds,
        ["k", "v"],
        "k",
        n_buckets=16,
    )
    full = table_checksum(v2, ["k", "v"], "k", n_buckets=16)
    assert sorted(map(tuple, incr.collect())) == sorted(
        map(tuple, full.collect())
    )
