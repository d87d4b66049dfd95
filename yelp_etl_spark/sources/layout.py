"""Data-layout operators: z-order clustering.

The reference's layout surface is identity partitions + hash buckets
(write.py:45-53 — SURVEY.md §2.1 S5/S6). Hash buckets co-locate joins
but deliberately *scatter* value ranges, so range predicates still read
every file. Z-order clustering is the complementary layout: interleave
the bits of several normalized key columns and range-partition + sort
by that key, so each output file covers a small hyper-rectangle of the
key space and a predicate on ANY of the clustered columns prunes most
files via parquet min/max (zone-map) statistics. This is what
Delta/Iceberg `OPTIMIZE ZORDER BY` does; here it is plain DataFrame
code: normalize → interleave (bitwise expressions, whole-stage codegen)
→ repartitionByRange → sortWithinPartitions → write.

At 100 TB the win is at the scan: a 1%-selective range predicate on a
z-ordered table reads ~1% of files instead of 100%. A snapshot table
records each data file's min/max in its manifest (sources/snapshots.py
``_file_stats``), and ``snapshot_read(prune=...)`` skips on them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _scale_to_bits(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Min/max-normalize a numeric column to a [0, 2^bits) integer."""
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1))
    frac = (col.cast("double") - lo) / span
    max_code = (1 << bits) - 1
    code = F.floor(frac * max_code)
    return F.greatest(F.lit(0), F.least(F.lit(max_code), code)).cast("long")


def _interleave(codes: list[Column], bits: int) -> Column:
    """Bit-interleave N equal-width codes into one z-value (Morton
    order). Pure bitwise shifts/ors — stays in codegen."""
    n = len(codes)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, code in enumerate(codes):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(code, b).bitwiseAND(F.lit(1)),
                    b * n + (n - 1 - i),
                )
            )
    return z


def zorder_key(
    df: DataFrame, columns: list[str], bits: int = 16
) -> DataFrame:
    """Append a ``__z`` Morton key over ``columns``. Column bounds come
    from one aggregate broadcast back onto the rows (no collect): the
    normalization stays fully distributed and the key is deterministic
    for a given dataset."""
    bounds = df.agg(
        *[
            f
            for c in columns
            for f in (
                F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"__hi_{c}"),
            )
        ]
    )
    with_bounds = df.crossJoin(F.broadcast(bounds))
    codes = [
        _scale_to_bits(
            F.col(c), F.col(f"__lo_{c}"), F.col(f"__hi_{c}"), bits
        )
        for c in columns
    ]
    return with_bounds.withColumn("__z", _interleave(codes, bits)).drop(
        *[f"__lo_{c}" for c in columns], *[f"__hi_{c}" for c in columns]
    )
