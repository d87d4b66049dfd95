"""Source readers: parquet fixture tables, JSON-lines with optional schema.

Parity targets (reference file:line):
- S1 JSON-lines scan w/ schema inference: extract.py:30 — here
  ``read_json`` adds an optional explicit StructType (the reference
  always infers, which costs an extra full pass over the data; at 100 TB
  an explicit schema skips that pass entirely).
- S2 catalog/table scan: clean.py:52, enrich.py:44 — here ``load_table``
  reads the driver's parquet fixtures; a real deployment would use
  ``spark.table(name)`` against an Iceberg catalog. The scan is lazy as
  in the reference: a file's schema is resolved once per file version
  per session (one inference job), and every later load of that
  version passes it to the reader and runs no job.
"""

from __future__ import annotations

import os
import threading
import weakref

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


# session -> {(path, st_mtime_ns, st_size): inferred StructType}. Weak
# keys: a collected session drops its entries, so a later session that
# reuses its id() never sees them.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the
    first read of this file version in this session. A rewritten file
    has a new mtime or size, so it is inferred afresh. Concurrent first
    reads may each infer; they find the same schema, and the first one
    stored wins."""
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(spark, {}).get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS.setdefault(spark, {}).setdefault(key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Columnar parquet scan → Catalyst gets
    column pruning + predicate pushdown for free. Only the first load of
    a file version in a session runs a job (schema inference); see
    ``_read_parquet``.

    The events fixture's ``ts`` column has varied across driver data
    generations: TIMESTAMP(NANOS) (rejected by Spark's reader unless
    read as long) or timestamp[us] without a zone (read as
    TIMESTAMP_NTZ). Normalize both to a session-zone TIMESTAMP so every
    downstream time function (unix_micros, window, watermark) sees one
    type; the session zone is pinned to UTC so the NTZ→LTZ cast is
    value-preserving. This normalization and its UTC check run on every
    load, memoized schema or not.
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
        df = _read_parquet(spark, path)
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
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def fan_out(df: DataFrame, *cols: str) -> DataFrame:
    """Widen a narrow scan before CPU-amplifying map work (gram
    explodes, shingle generation, per-row feature extraction).

    A parquet file smaller than ``spark.sql.files.maxPartitionBytes``
    with a single row group yields ONE input split, so everything
    before the first exchange — including a ×100-1000 row-amplifying
    explode — runs on one core while the rest of the cluster idles.
    This helper repartitions up to ``defaultParallelism`` ONLY when the
    plan is narrower than that; at 100 TB a scan always has orders of
    magnitude more splits than cores, so this is a no-op there and
    never adds a shuffle of big data (the shuffle it does add moves
    exactly the small input, once, before amplification — measured
    2.8 s → 0.4 s on the sf0.1 single-file gram scan at local[32]).

    Under AQE (on in every ``get_spark`` session, and by default) the
    width comes from the plan and deciding never runs a Spark job:

    - a plan with no exchange is as wide as its input splits
      (``rdd.getNumPartitions()`` only plans the file splits there);
    - an adaptive plan (one with an exchange) reports no width until it
      runs. It counts as the partition count its physical plan gives
      its output: n after ``repartition(n)``, else
      ``spark.sql.shuffle.partitions`` (a keyed shuffle's count, and
      the assumption where the plan gives none, as for output streamed
      through a broadcast join).

    At run time AQE may coalesce small shuffle output below the target;
    widen before the exchange where the work after it must stay spread.
    With AQE off every plan takes the first rule, which runs no job
    either, except for a broadcast join: its build side is collected.

    Pass key columns to hash-partition (cheaper: no round-robin local
    sort, and co-locates downstream per-key work); with no columns,
    round-robin gives perfect balance even for skewed keys.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() != "AdaptiveSparkPlanExec":
        width = df.rdd.getNumPartitions()
    else:
        # The adaptive wrapper's plan before it runs: exchanges planned,
        # no query stage materialized.
        width = plan.executedPlan().outputPartitioning().numPartitions() or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
    if width >= target:
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
