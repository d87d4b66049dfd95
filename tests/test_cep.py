"""Event-path pattern semantics: each purchase closes the NEAREST open
view (lazy quantifier), so back-to-back conversions count separately
and an error between view and purchase voids the match."""

from __future__ import annotations

from pyspark.sql import functions as F


def _n_matches(spark, path: str) -> int:
    df = spark.createDataFrame([(path,)], "path string")
    return df.select(
        F.size(F.expr("regexp_extract_all(path, 'v[^e]*?p', 0)")).alias("n")
    ).first()["n"]


def test_pattern_counts_conversions_separately(spark):
    assert _n_matches(spark, "vpvp") == 2      # greedy 'v[^e]*p' would say 1
    assert _n_matches(spark, "vcvp") == 1      # one purchase, nearest view wins
    assert _n_matches(spark, "vep") == 0       # error voids the conversion
    assert _n_matches(spark, "vcccpvp") == 2
    assert _n_matches(spark, "pv") == 0


def test_duckdb_twin_agrees(spark):
    import duckdb

    con = duckdb.connect()
    for path in ["vpvp", "vcvp", "vep", "vcccpvp", "pv", "vvpp"]:
        oracle = con.execute(
            "SELECT len(regexp_extract_all(?, 'v[^e]*?p'))", [path]
        ).fetchone()[0]
        assert _n_matches(spark, path) == oracle, path
