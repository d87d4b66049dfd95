"""Source readers: parquet fixture tables, JSON-lines with optional schema.

Parity targets (reference file:line):
- S1 JSON-lines scan w/ schema inference: extract.py:30 — here
  ``read_json`` adds an optional explicit StructType (the reference
  always infers, which costs an extra full pass over the data; at 100 TB
  an explicit schema skips that pass entirely).
- S2 catalog/table scan: clean.py:52, enrich.py:44 — here ``load_table``
  reads the driver's parquet fixtures; a real deployment would use
  ``spark.table(name)`` against an Iceberg catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _is_utc_zone(tz: str) -> bool:
    """True if ``tz`` names a fixed UTC+0 zone (UTC, Etc/UTC, GMT, Z,
    +00:00 …). Checked structurally — offset 0 at a winter and a summer
    instant — so every UTC alias passes without an allowlist."""
    from datetime import datetime, timedelta, timezone

    if tz in ("UTC", "Z", "Etc/UTC", "GMT", "+00:00"):
        return True
    try:
        from zoneinfo import ZoneInfo

        zone = ZoneInfo(tz)
    except Exception:
        return False
    zero = timedelta(0)
    return all(
        datetime(y, m, 1, tzinfo=timezone.utc).astimezone(zone).utcoffset() == zero
        for y, m in ((2024, 1), (2024, 7))
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Columnar parquet scan → Catalyst gets
    column pruning + predicate pushdown for free.

    The events fixture's ``ts`` column has varied across driver data
    generations: TIMESTAMP(NANOS) (rejected by Spark's reader unless
    read as long) or timestamp[us] without a zone (read as
    TIMESTAMP_NTZ). Normalize both to a session-zone TIMESTAMP so every
    downstream time function (unix_micros, window, watermark) sees one
    type; the session zone is pinned to UTC so the NTZ→LTZ cast is
    value-preserving.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        # nanosAsLong is an ordinary session SQL conf; get_spark sets it
        # at build time, but the driver hands load_table vanilla
        # sessions it did not build, and a TIMESTAMP(NANOS) fixture
        # fails at scan without it. Set it best-effort here too —
        # idempotent on get_spark sessions, harmless for µs files.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # conf locked down (e.g. Connect) — µs files still read
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # The NTZ→LTZ cast reinterprets the wall-clock in the
            # session zone; epoch-based functions downstream
            # (unix_micros, watermarks) are only value-preserving under
            # UTC. get_spark pins UTC, but load_table accepts any
            # session (the driver hands us a vanilla one whose zone is
            # the JVM default, e.g. 'Etc/UTC') — enforce the invariant
            # at the cast site rather than silently epoch-shifting.
            tz = spark.conf.get("spark.sql.session.timeZone")
            if not _is_utc_zone(tz):
                raise ValueError(
                    "load_table('events') requires a UTC-equivalent "
                    f"spark.sql.session.timeZone (got {tz!r}): the "
                    "timestamp_ntz->timestamp cast reinterprets "
                    "wall-clock values in the session zone. Build the "
                    "session via yelp_etl_spark.session.get_spark or "
                    "set the conf before reading."
                )
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def fan_out(df: DataFrame, *cols: str, multiplier: int = 1) -> DataFrame:
    """Widen a narrow scan before CPU-amplifying map work (gram
    explodes, shingle generation, per-row feature extraction).

    A parquet file smaller than ``spark.sql.files.maxPartitionBytes``
    with a single row group yields ONE input split, so everything
    before the first exchange — including a ×100-1000 row-amplifying
    explode — runs on one core while the rest of the cluster idles.
    This helper repartitions up to ``defaultParallelism × multiplier``
    ONLY when the plan currently has fewer partitions; at 100 TB a
    scan always has orders of magnitude more splits than cores, so
    this is a no-op there and never adds a shuffle of big data (the
    shuffle it does add moves exactly the small input, once, before
    amplification — measured 2.8 s → 0.4 s on the sf0.1 single-file
    gram scan at local[32]).

    Pass key columns to hash-partition (cheaper: no round-robin local
    sort, and co-locates downstream per-key work); with no columns,
    round-robin gives perfect balance even for skewed keys.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * multiplier
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def read_files(
    spark: SparkSession,
    path: str,
    format: str = "parquet",
    schema: StructType | None = None,
    **options: str,
) -> DataFrame:
    """Generic file-source scan for any Spark-supported format
    (parquet/orc/csv/json/text). Columnar formats get pruning and
    pushdown; for csv, ``header`` defaults on and an explicit schema
    avoids the inference pass (a full extra scan at 100 TB)."""
    reader = spark.read.format(format)
    if format == "csv" and "header" not in options:
        reader = reader.option("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        if format == "csv":
            reader = reader.option("inferSchema", "true")
    return reader.load(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines scan (reference extract.py:30). With ``schema=None``
    Spark runs an inference pass first — fine for small data, a full
    extra scan at 100 TB, so callers should pass explicit schemas in
    production."""
    reader = spark.read.option("multiLine", multiline)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
