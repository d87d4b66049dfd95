"""Enrichment: fact × dimensions star join → "One Big Table".

Parity target (reference file:line): enrich.py:19-73 — left-deep inner
equi-join of a fact table onto N dimension tables, dimension columns
prefixed ``{entity}_{col}`` (enrich.py:50-52), duplicate join key dropped
after each join (enrich.py:61).

Generalizations over the reference:
- configurable join type per dimension (the reference hardcodes inner)
- optional broadcast hint per dimension — at 100 TB the fact side is
  huge while true dimensions (region/nation/...) are small; broadcasting
  them removes the shuffle entirely. Big dimensions co-located with the
  fact via bucketing join without a shuffle instead
  (sources/writers.py write_bucketed_table).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yelp_etl_spark.operators.projection import prefix_columns


@dataclass
class Dimension:
    name: str  # prefix for this dimension's columns
    df: DataFrame
    join_key: str  # column name present in both fact and dim
    how: str = "inner"
    broadcast: bool = False


def enrich(fact: DataFrame, dimensions: list[Dimension]) -> DataFrame:
    """Left-deep join of ``fact`` onto each dimension in order."""
    out = fact
    for dim in dimensions:
        prefixed = prefix_columns(dim.df, dim.name)
        dim_key = f"{dim.name}_{dim.join_key}"
        right = F.broadcast(prefixed) if dim.broadcast else prefixed
        out = out.join(right, out[dim.join_key] == right[dim_key], dim.how).drop(
            dim_key
        )
    return out
