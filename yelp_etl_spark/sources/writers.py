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

The path sinks (parquet/orc/csv/json) are plain one-shot writes. Table
semantics — atomic commit, compaction, dynamic partition overwrite,
MERGE — live in one place, the snapshot layer (sources/snapshots.py:
snapshot_write, snapshot_compact, snapshot_overwrite_partitions,
snapshot_merge), which ``format="snapshot"`` writes through.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yelp_etl_spark.sources.snapshots import _bucket_expr


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
    # natively; a bucket column materializes as an explicit directory
    # column through the snapshot layer's bucket transform (NULL keys
    # stay in the null partition) so the layout survives without a
    # catalog.
    # Row formats (csv/json) are for interchange only — no column
    # pruning or predicate pushdown, so keep analytics tables columnar.
    out = df
    partition_cols = list(spec.partition_columns)
    if spec.bucket_column:
        bucket_col = f"{spec.bucket_column}_bucket"
        out = out.withColumn(bucket_col, _bucket_expr(spec.bucket_column, spec.buckets))
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
