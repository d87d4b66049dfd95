"""Sinks with explicit physical-layout specs.

Parity targets (reference file:line):
- S4 Iceberg DataFrameWriterV2 create-or-replace: write.py:24-29
- S5 identity partition column: write.py:31-32,49
- S6 hidden bucket transform bucket(N, col): write.py:50

The reference hardcodes Iceberg; the driver fixtures are plain parquet,
so the sink is format-dispatched behind one WriteSpec (SURVEY.md §7
watch-list item 4). The layout spec is the part that matters at 100 TB:
identity-partition on a low-cardinality time column gives partition
pruning; bucketing the join key gives shuffle-free (storage-partitioned)
joins downstream.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class WriteSpec:
    """Physical layout for a table write.

    partition_columns: identity partitions (e.g. date_year) → pruning.
    bucket_column/buckets: hash-bucket the join key → downstream joins
    over the same key can skip the shuffle (Iceberg SPJ / Spark bucketed
    join).
    """

    format: str = "parquet"  # "parquet" | "iceberg" | "orc" | "csv" | "json"
    mode: str = "overwrite"
    partition_columns: list[str] = field(default_factory=list)
    bucket_column: str | None = None
    buckets: int = 8
    options: dict[str, str] = field(default_factory=dict)
    # Hash-distribute rows to the layout keys before the path write
    # (Iceberg's write.distribution-mode=hash): without it every write
    # task emits a file into every partition directory it sees — at
    # 1000 tasks × 365 date partitions that is 365k files per day and
    # a compaction job forever chasing the sink. With it, one shuffle
    # buys ≤1 file per (partition, bucket) per write. Off by default:
    # small writes and single-partition appends don't need the shuffle.
    distribute: bool = False


def _partition_transforms(spec: WriteSpec) -> list:
    cols = [F.col(c) for c in spec.partition_columns]
    if spec.bucket_column:
        cols.append(F.bucket(spec.buckets, spec.bucket_column))
    return cols


def write_table(df: DataFrame, target: str, spec: WriteSpec | None = None) -> None:
    """Write ``df`` to ``target`` (path for parquet, table name for
    iceberg) under the given layout spec."""
    spec = spec or WriteSpec()
    if spec.format == "snapshot":
        # Native manifest-snapshot table (sources/snapshots.py): atomic
        # replace/append with time travel — the in-sandbox stand-in for
        # the Iceberg branch below, same createOrReplace guarantee.
        # The snapshot layer has its own identity and bucket(N, col)
        # specs (snapshot_write(partition_by=...)), but WriteSpec's
        # layout fields are not translated into them here: fail loudly
        # rather than silently writing a different layout than asked.
        from yelp_etl_spark.sources.snapshots import snapshot_write

        unsupported = {
            "partition_columns": spec.partition_columns,
            "bucket_column": spec.bucket_column,
            "distribute": spec.distribute,
            "options": spec.options,
        }
        bad = {k: v for k, v in unsupported.items() if v}
        if bad:
            raise ValueError(
                f"WriteSpec fields not supported by format='snapshot': {bad}"
            )
        if spec.mode not in ("overwrite", "append"):
            raise ValueError(
                f"format='snapshot' supports mode overwrite|append, got "
                f"{spec.mode!r}"
            )
        snapshot_write(
            df, target, mode="replace" if spec.mode == "overwrite" else "append"
        )
        return
    if spec.format == "iceberg":
        writer = df.writeTo(target).using("iceberg")
        for k, v in spec.options.items():
            writer = writer.option(k, v)
        transforms = _partition_transforms(spec)
        if transforms:
            writer = writer.partitionedBy(*transforms)
        writer.createOrReplace()
        return
    # Path sinks (parquet/orc/csv/json): identity partitions supported
    # natively; a bucket column materializes as an explicit pmod(hash)
    # directory column so the layout survives without a catalog.
    # Row formats (csv/json) are for interchange only — no column
    # pruning or predicate pushdown, so keep analytics tables columnar.
    out = df
    partition_cols = list(spec.partition_columns)
    if spec.bucket_column:
        bucket_col = f"{spec.bucket_column}_bucket"
        out = out.withColumn(
            bucket_col, F.pmod(F.xxhash64(spec.bucket_column), F.lit(spec.buckets))
        )
        partition_cols.append(bucket_col)
    if spec.distribute and partition_cols:
        out = out.repartition(*[F.col(c) for c in partition_cols])
    writer = out.write.mode(spec.mode)
    if spec.format == "csv" and "header" not in spec.options:
        writer = writer.option("header", "true")
    for k, v in spec.options.items():
        writer = writer.option(k, v)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.format(spec.format).save(target)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_column: str,
    buckets: int = 8,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Managed bucketed table (Spark catalog): the parquet-native
    equivalent of the reference's Iceberg bucket(N, col) hidden
    partitioning (write.py:50). Two tables bucketed identically on the
    join key sort-merge-join WITHOUT any exchange — the 100 TB join
    strategy for repeated fact-to-fact joins (see
    tests/test_plans.py::test_cobucketed_join_has_no_shuffle)."""
    writer = df.write.mode(mode).bucketBy(buckets, bucket_column)
    if sort:
        writer = writer.sortBy(bucket_column)
    writer.saveAsTable(name)


def compact_parquet_dir(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files and atomically swap it in.
    Returns the new file count.

    Streaming sinks and per-batch writes accumulate small files; at
    scale every downstream scan then pays per-file open/footer cost and
    the driver pays listing cost. Compaction trades one rewrite for
    every future scan. 128 MiB targets match the usual HDFS/object-
    store block sweet spot (and Iceberg's write.target-file-size
    default). On Iceberg this is `rewrite_data_files`; plain parquet
    here keeps the test env dependency-free with the same dataflow:
    read → repartition(n) → write to a sibling temp dir → rename swap.
    """
    import math

    with _swapped_dir(spark, path, "__compacting") as tmp:
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if not f.startswith(("_", "."))
        )
        n_files = max(1, math.ceil(total / target_file_bytes))
        spark.read.parquet(path).repartition(n_files).write.parquet(tmp)
    return n_files


@contextmanager
def _swapped_dir(spark, path: str, tmp_suffix: str):
    """Rewrite directory ``path`` out of place: yield a fresh sibling
    temp dir for the new contents, then swap it in with two renames
    (``path`` → ``path__old``, temp → ``path``). A crash mid-write
    leaves ``path`` untouched; if the body raises, nothing is swapped.

    Entry first repairs what a crashed earlier swap left behind, so the
    body always reads the last complete table:

    - a crash between the two renames leaves no ``path``, only the
      complete ``__old`` copy — restore it (treating the table as
      missing and then deleting ``__old`` would lose it for good);
    - a crash after the second rename leaves a stale ``__old``, which
      would make every later ``rename(path, old)`` fail with ENOTEMPTY.
    """
    path = path.rstrip("/")
    old, tmp = path + "__old", path + tmp_suffix
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    yield tmp
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    # The swap happened outside Spark's write path, so the session's
    # FileStatusCache may still hold the pre-swap listing; without this
    # a read-back can serve the OLD files (stale-listing hash mismatch).
    spark.catalog.refreshByPath(path)


def overwrite_partitions_dynamic(
    df: DataFrame,
    target: str,
    partition_columns: list[str],
    format: str = "parquet",
) -> None:
    """Incremental re-publish: overwrite ONLY the partitions present in
    ``df``, leaving every other partition untouched (Spark's dynamic
    partitionOverwriteMode, scoped to this write instead of mutating
    session conf). The Iceberg analog is ``overwritePartitions()``
    (reference write.py's create-or-replace is the full-table form).

    This is the daily-batch idiom at 100 TB: recompute yesterday's
    date partition and swap it in atomically per partition, without
    rewriting (or even listing) the other ~36,500 of them. STATIC mode
    (the default) would drop every existing partition first — a silent
    full-table truncate; scoping the conf to the writer makes the safe
    behavior local, not a session-wide footgun."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_columns)
        .format(format)
        .save(target)
    )
