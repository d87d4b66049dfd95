"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import importlib.util
import os
import sys

ENTRY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "__spark_entry__.py",
)


def _load_entry_module():
    spec = importlib.util.spec_from_file_location("spark_entry", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["spark_entry"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows(spark):
    mod = _load_entry_module()
    df = mod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_consistent(spark):
    mod = _load_entry_module()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert len(qs) >= 20
    assert set(oracles) <= set(qs)
    # every SQL-expressible query has an oracle; rows-only ops documented
    rows_only = set(qs) - set(oracles)
    assert rows_only <= {
        "minhash_neardup",
        "simhash_sketch",
        "approx_distinct",
        "lsh_topk",
        "ivf_topk",
        "pq_topk",
        "hll_mergeable",
        # iterative Boruvka contraction isn't SQL-expressible; the
        # query raises unless the forest matches an in-driver Kruskal
        "boruvka_mst",
    }


def test_each_query_runs_at_smoke_sf(spark, sf_dir):
    """Every query builds at the driver's smoke scale, and no result
    schema contains an Array/Map column: the driver's canonicalizer
    pandas-lexsorts the result frame, which throws ``unhashable type:
    'list'`` on list cells (the r5 red class — map_funcs / map_hof /
    quantize_embeddings). Arrays must be stringified at the catalog
    layer (``array_join``), per the q_array_funcs convention."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.types import ArrayType, MapType

    mod = _load_entry_module()
    offenders = {}

    # building a query is py4j/JVM-bound (the materializing ones run
    # real jobs), so a _POOL_WIDTH-wide thread pool cuts this test's
    # wall ~4x (104 s → ~26 s measured at width 8; 12 shaved a bit
    # more); Spark job submission is thread-safe and every builder
    # uses private scratch dirs
    _POOL_WIDTH = 20

    def build(item):
        name, fn = item
        df = fn(spark, sf_dir)
        assert df.columns, name
        return name, [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType))
        ]

    with ThreadPoolExecutor(_POOL_WIDTH) as ex:
        for name, bad in ex.map(build, mod.queries().items()):
            if bad:
                offenders[name] = bad
    assert not offenders, (
        f"queries return driver-unsortable Array/Map columns: {offenders}"
        " — stringify with F.array_join(col.cast('array<string>'), ',')"
    )
