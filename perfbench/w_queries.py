"""Query part of ``analytics_curation``: a fixed, named, read-only mix of
eight oracle-backed catalog queries over generated TPC-H tables at scale 0.01,
each executed to a noop sink, in a seed-shuffled order per pass. One
operation is one query: building its DataFrame (``QuerySpec.fn``,
including any eager actions it runs) plus executing it. Nothing is
written, and repeats are identical."""

from __future__ import annotations

import math
import os
import random
from concurrent.futures import ThreadPoolExecutor

import duckdb

import gen
from harness import CPUS, Pass, describe, timed_op

# Scale 0.1 does not fit the run budget: on a 4-core machine one
# untraced run there took 97 s (a 36 s pass, a 24 s oracle check),
# against 73 s here, both with sixteen queries and a larger corpus.
SF = 0.01
# query -> the tables it scans (for rows_per_s). Eight of the catalog's
# oracle-backed queries, one per shape (aggregate, multi-way and deep
# joins, window top-k, sessionisation, as-of join): sixteen, each with
# its oracle check, did not fit the run budget.
MIX = {
    "flagship_revenue": ("lineitem", "orders", "customer"),
    "pricing_summary": ("lineitem",),
    "tpch_q3_shipping": ("lineitem", "orders", "customer"),
    "tpch_q5_region_revenue": ("lineitem", "orders", "customer", "supplier", "nation", "region"),
    "tpch_q18_large_orders": ("lineitem", "orders", "customer"),
    "window_topk": ("orders", "customer"),
    "sessionize_gaps": ("events",),
    "asof_join": ("events", "orders"),
}
WARMUP = ("pricing_summary",)


def _same_cell(a: str, b: str) -> bool:
    """Equal, or numbers within a relative 1e-8: the two engines sum
    doubles in different orders, so a ``ROUND(SUM(..), 2)`` of a large
    sum can land one cent apart."""
    if a == b:
        return True
    try:
        return math.isclose(float(a), float(b), rel_tol=1e-8)
    except ValueError:
        return False


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        _same_cell(a, b) for g, w in zip(got, want) for a, b in zip(g, w))


class Queries:
    # The oracle check runs before the timed passes, on no clock: it
    # executes every query once, which also finishes the JIT warm-up the
    # set-up's query starts.
    check_first = True

    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.data = os.path.join(work, "tpch")
        self.failures: list[str] = []

    def generate(self) -> None:
        self.counts = gen.tpch_tables(self.seed, self.data, SF)

    def _run(self, spark, name: str, data: str, p: Pass | None) -> None:
        from yelp_etl_spark.plans.catalog import QUERIES

        with timed_op(p, name, self.failures), self.tracer.span("plans.query"):
            with self.tracer.span("plans.build"):
                df = QUERIES[name].fn(spark, data)
            with self.tracer.span("plans.exec"):
                df.write.format("noop").mode("overwrite").save()

    def warmup(self, spark) -> None:
        for name in WARMUP:
            self._run(spark, name, self.data, None)

    def run_pass(self, spark, p: Pass, i: int) -> None:
        order = sorted(MIX)
        random.Random(f"{self.seed}:{i}").shuffle(order)
        for name in order:
            self._run(spark, name, self.data, p)

    def rows_per_pass(self) -> int:
        return sum(self.counts[t] for tables in MIX.values() for t in tables)

    def check(self, spark) -> tuple[int, list[str]]:
        """Each distinct query once against its DuckDB oracle; a query
        that raises on either side is a failed check. The Spark side is
        collected from one thread per core: the check is on no clock,
        and each query is mostly fixed per-query latency."""
        from scripts.check_parity import canonical
        from yelp_etl_spark.plans.catalog import QUERIES

        def spark_side(name: str):
            sdf = QUERIES[name].fn(spark, self.data)
            return canonical([tuple(r) for r in sdf.collect()], sdf.columns), sdf.columns

        con = duckdb.connect()
        failures = []
        try:
            for t in self.counts:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            with ThreadPoolExecutor(CPUS) as pool:
                results = {name: pool.submit(spark_side, name) for name in MIX}
                for name, fut in results.items():
                    try:
                        got, got_cols = fut.result()
                        res = con.execute(QUERIES[name].oracle)
                        cols = [d[0] for d in res.description]
                        want = canonical(res.fetchall(), cols)
                    except Exception as e:
                        failures.append(f"{name}: {describe(e)}")
                        continue
                    if sorted(got_cols) != sorted(cols):
                        failures.append(f"{name}: columns {sorted(got_cols)} != oracle {sorted(cols)}")
                    elif not same_rows(got, want):
                        failures.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
        finally:
            con.close()
        return len(MIX), failures
