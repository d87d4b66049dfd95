"""Shared helpers + the collected extension-query registry.

Every ext_<theme> module registers into EXTRA_QUERIES here; the
plans/catalog_ext shim re-exports it."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yelp_etl_spark.sources.readers import load_table

EXTRA_QUERIES: dict = {}



def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Posting-list keyword search (inverted-index AND query)
# --------------------------------------------------------------------------

SEARCH_TERMS = ("vector", "merge")


from yelp_etl_spark.functions.dedup import ngram_jaccard_sql_ctes as _pos_ctes


# --------------------------------------------------------------------------
# Spatial: grid-cell bucketed radius join (operators/spatial.py)
# --------------------------------------------------------------------------

_GEO_SIDE = 1_000_000  # planar world: coords in [0, 1e6)
