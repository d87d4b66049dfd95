"""Format-dispatch roundtrips: write_table/read_files across
parquet/orc/csv/json, with identity partitions surviving the trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_etl_spark.sources.readers import load_table, read_files
from yelp_etl_spark.sources.writers import WriteSpec, write_table


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_roundtrip_formats(spark, sf_dir, tmp_path, fmt):
    src = load_table(spark, sf_dir, "nation")
    target = str(tmp_path / f"nation_{fmt}")
    write_table(src, target, WriteSpec(format=fmt))
    back = read_files(spark, target, format=fmt, schema=src.schema)
    assert back.count() == src.count()
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_partitioned_write_survives_roundtrip(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    target = str(tmp_path / "orders_by_year")
    write_table(src, target, WriteSpec(format="orc", partition_columns=["order_year"]))
    back = read_files(spark, target, format="orc")
    assert back.count() == src.count()
    # partition pruning works on the directory layout
    one_year = back.filter(F.col("order_year") == 1996)
    assert one_year.count() == src.filter(F.col("order_year") == 1996).count()


def test_path_bucket_keeps_null_key_in_null_partition(spark, tmp_path):
    """A path write's bucket column uses the snapshot layer's bucket
    transform: a NULL key lands in the null partition, not in the
    bucket of xxhash64's seed, and non-NULL keys keep pmod(xxhash64)."""
    target = str(tmp_path / "bucketed")
    df = spark.createDataFrame([(None, "a"), (7, "b")], "k long, v string")
    write_table(df, target, WriteSpec(bucket_column="k", buckets=4))
    back = {r.v: r.k_bucket for r in read_files(spark, target).collect()}
    want = df.filter("k = 7").select(F.pmod(F.xxhash64("k"), F.lit(4))).first()[0]
    assert back == {"a": None, "b": want}


def test_events_ntz_cast_requires_utc_session(spark, sf_dir):
    """The timestamp_ntz->timestamp normalization in load_table is only
    value-preserving under a UTC session zone; a non-UTC session must
    fail loudly instead of silently epoch-shifting every downstream
    time function (ADVICE round 1)."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert dict(load_table(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"
    try:
        # every fixed-UTC alias is fine — the driver's vanilla session
        # reports the JVM default, e.g. 'Etc/UTC'
        for alias in ("Etc/UTC", "GMT", "Z"):
            spark.conf.set("spark.sql.session.timeZone", alias)
            load_table(spark, sf_dir, "events")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(ValueError, match="UTC-equivalent"):
            load_table(spark, sf_dir, "events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_fan_out_widens_narrow_scans_only(spark, sf_dir, spark_jobs):
    """fan_out repartitions a narrow plan up to defaultParallelism and
    is a NO-OP (same DataFrame object, no added Exchange) when the
    plan already has at least that many partitions — the guarantee
    that makes it safe to leave in operators at 100 TB, where scans
    always carry more splits than cores. It decides from the plan:
    on a shuffled input it submits no Spark job (asking an adaptive
    plan for its partition count runs its shuffle stages), and neither
    does building the curation operators that call it."""
    from yelp_etl_spark.functions import curation as C
    from yelp_etl_spark.sources.readers import fan_out, load_table

    target = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < target  # single-file fixture
    widened = fan_out(docs, "doc_id")
    assert widened.rdd.getNumPartitions() == target
    # values unchanged, only layout
    assert widened.count() == docs.count()
    already_wide = docs.repartition(target * 2)
    assert fan_out(already_wide, "doc_id") is already_wide

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        customer.hint("shuffle_hash"), orders.o_custkey == customer.c_custkey
    )
    grouped = orders.groupBy("o_custkey").agg(F.count("*").alias("n"))
    for shuffled, key in ((joined, "o_orderkey"), (grouped, "o_custkey")):
        out, jobs = spark_jobs(lambda: fan_out(shuffled, key))
        assert jobs == 0
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, shuffled.collect())
        )

    gated = docs.join(
        docs.groupBy("doc_id").count().select("doc_id"), "doc_id", "left_semi"
    )
    _, jobs = spark_jobs(lambda: C.cross_doc_boilerplate(gated))
    assert jobs == 0
    _, jobs = spark_jobs(lambda: C.decontaminate(gated, docs.limit(5)))
    assert jobs == 0


def test_load_table_schema_memo_follows_file_version(spark, tmp_path):
    """load_table resolves a file's schema once per file version: a file
    rewritten with another schema is read with the new one, and
    concurrent first loads of one file agree."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path)
    pq.write_table(pa.table({"k": [1, 2]}), tmp_path / "t.parquet")
    assert load_table(spark, root, "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), tmp_path / "t.parquet")
    back = load_table(spark, root, "t")
    assert back.columns == ["k", "v"]
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b")]

    pq.write_table(pa.table({"k": [1], "w": [1.5]}), tmp_path / "u.parquet")
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            schemas = list(
                pool.map(
                    lambda _: load_table(spark, root, "u").schema,
                    range(16),
                    timeout=300,
                )
            )
    finally:
        sys.setswitchinterval(switch)
    assert schemas[0].names == ["k", "w"]
    assert all(s == schemas[0] for s in schemas)


def test_read_json_permissive_corrupt_record_capture(spark, tmp_path):
    """S1 robustness: malformed JSON lines must not kill a 100 TB scan.
    PERMISSIVE mode with an explicit schema + _corrupt_record column
    captures bad lines for quarantine while good rows flow through."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from yelp_etl_spark.sources.readers import read_json

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "{this is not json}\n"
        '{"id": 3, "name": "fine"}\n'
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = read_json(spark, str(p), schema=schema).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert {r.id for r in good.collect()} == {1, 3}
    assert bad.count() == 1
    assert "not json" in bad.collect()[0]._corrupt_record
    df.unpersist()


def test_read_csv_permissive_quarantine_boundary(spark, tmp_path):
    """S1b: CSV's PERMISSIVE quarantine boundary, pinned empirically.
    Cast failures are ALWAYS flagged in _corrupt_record. Schema-shape
    mismatches (short rows, surplus tokens) are flagged ONLY when the
    plan reads every schema column — under CSV column pruning
    (spark.sql.csv.parser.columnPruning.enabled, default true) a
    projection that drops any data column also silently un-flags
    shape-corrupt rows, and their best-effort values (nulls for
    missing fields, surplus dropped) flow through as good. A 100 TB
    quarantine pipeline must therefore either read full-width or add
    downstream NULL checks — this is exactly why csv_scan_roundtrip's
    injected lines are both cast failures."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from yelp_etl_spark.sources.readers import read_files

    p = tmp_path / "mixed.csv"
    p.write_text(
        "id,name,n\n"
        "1,ok,10\n"
        "notalong,bad,notanint\n"  # cast failure -> always flagged
        "3,short\n"  # short row -> flagged only full-width
        "4,long,40,surplus\n"  # extra token -> flagged only full-width
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("n", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = read_files(
        spark,
        str(p),
        format="csv",
        schema=schema,
        header="true",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    # Full-width scan: every malformed row flagged, values best-effort.
    full = {r.id: r for r in df.collect()}
    assert full[None]._corrupt_record is not None  # cast failure
    assert full[3]._corrupt_record is not None and full[3].n is None
    assert full[4]._corrupt_record is not None and full[4].n == 40
    assert full[1]._corrupt_record is None
    # Pruned scan (name column dropped): ONLY the cast failure stays
    # flagged; shape mismatches silently pass as good. (No cache above:
    # a cached full-width parse would serve this select and hide the
    # pruned-parse behavior.)
    pruned = {r.id: r for r in df.select("id", "_corrupt_record").collect()}
    assert pruned[None]._corrupt_record is not None
    assert pruned[3]._corrupt_record is None
    assert pruned[4]._corrupt_record is None


def test_snapshot_expire_vacuum_lifecycle_query(spark, sf_dir):
    """snapshot_expire catalog query end-to-end at sf0.001: pins the
    full retention contract in one row (2 expired, 1 snapshot left,
    orphans reclaimed, expired time travel fails)."""
    from yelp_etl_spark.plans.catalog import QUERIES

    row = QUERIES["snapshot_expire"].fn(spark, sf_dir).collect()[0]
    assert row.n_expired == 2
    assert row.n_snapshots_left == 1
    assert row.vacuumed_any == 1
    assert row.tt_gone == 1
    assert row.n > 0


def test_distributed_write_bounds_file_count(spark, sf_dir, tmp_path):
    """WriteSpec(distribute=True) hash-distributes rows to the layout
    keys before the path write (Iceberg write.distribution-mode=hash):
    file count is bounded by #(partition, bucket) combos, not by
    write-tasks × directories. Without it a 32-task write scatters
    files into every directory it touches."""
    import os

    from yelp_etl_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders").repartition(16)
    spec = dict(
        partition_columns=["o_orderstatus"],
        bucket_column="o_custkey",
        buckets=4,
    )

    def n_files(path):
        return sum(
            1
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    scattered = str(tmp_path / "scattered")
    write_table(orders, scattered, WriteSpec(**spec))
    distributed = str(tmp_path / "distributed")
    write_table(orders, distributed, WriteSpec(**spec, distribute=True))

    combos = 3 * 4  # statuses x buckets
    assert n_files(distributed) <= combos
    assert n_files(scattered) > n_files(distributed)
    # identical content either way
    a = spark.read.parquet(scattered).count()
    b = spark.read.parquet(distributed).count()
    assert a == b == orders.count()


def test_zstd_write_smaller_than_snappy(spark, sf_dir, tmp_path):
    """Codec choice is a WriteSpec option pass-through: zstd trades a
    little CPU for materially smaller files than the snappy default —
    at 100 TB that ratio is the storage bill and the scan bytes. Both
    roundtrip losslessly."""
    import os

    from yelp_etl_spark.sources.readers import load_table

    lineitem = load_table(spark, sf_dir, "lineitem").limit(20000)
    n = lineitem.count()

    def size(path):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )

    snappy = str(tmp_path / "snappy")
    zstd = str(tmp_path / "zstd")
    write_table(lineitem, snappy, WriteSpec(options={"compression": "snappy"}))
    write_table(lineitem, zstd, WriteSpec(options={"compression": "zstd"}))
    assert size(zstd) < size(snappy)
    assert spark.read.parquet(zstd).count() == spark.read.parquet(snappy).count() == n
