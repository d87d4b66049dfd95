"""Medallion part of ``yelp_lakehouse``, the reference's own workload.
Generated dirty Yelp JSON runs as the 13 jobs of run-all-pipelines.sh
plus gold, each through ``yelp_etl_spark.cli.run``: extract x5 (schema
inference), clean x5 (facts partitioned by ``date_year`` and bucketed by
``business_id``), enrich x3, gold. One operation is one job."""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow.dataset as pads

import gen
from harness import Pass, dir_bytes, timed_op

SIZES = dict(n_business=1000, n_user=1500, n_review=8000, n_tip=2000, n_checkin=1000)
WARM_SIZES = dict(n_business=60, n_user=80, n_review=400, n_tip=100, n_checkin=60)
BUCKETS = 2
FACT_DIMS = {
    "review": ("business", "user"),
    "checkin": ("business",),
    "tip": ("business", "user"),
}


def _enriched_name(fact: str) -> str:
    dims = FACT_DIMS[fact]
    return "_".join([*dims[::-1], fact]) if len(dims) > 1 else f"{dims[0]}_{fact}"


def jobs(src: str, root: str) -> list[tuple[str, list[str]]]:
    """``(kind, argv)`` for the 14 jobs, in dependency order."""
    out = []
    for e in gen.ENTITIES:
        out.append(("extract", ["--pipeline", "extract", "--entity_type", e,
                                "--input", f"{src}/{e}.json", "--output", f"{root}/bronze/{e}"]))
    for e in gen.ENTITIES:
        argv = ["--pipeline", "clean", "--entity_type", e,
                "--input", f"{root}/bronze/{e}", "--output", f"{root}/silver/{e}"]
        if e in FACT_DIMS:
            argv += ["--partition_column", "date_year", "--bucket_column", "business_id",
                     "--buckets", str(BUCKETS)]
        out.append(("clean", argv))
    for fact, dims in FACT_DIMS.items():
        out.append(("enrich", ["--pipeline", "enrich", "--entity_type", fact,
                               "--input", f"{root}/silver/{fact}",
                               "--output", f"{root}/enriched/{_enriched_name(fact)}",
                               "--dimension_inputs", *[f"{root}/silver/{d}" for d in dims],
                               "--dimension_entity_types", *dims]))
    out.append(("gold", ["--pipeline", "gold", "--entity_type", "review",
                         "--input", f"{root}/enriched/user_business_review",
                         "--output", f"{root}/gold/weekly_business_stats"]))
    return out


class Medallion:
    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.src = os.path.join(work, "yelp")
        self.warm_src = os.path.join(work, "yelp_warm")
        self.last_root = None
        self.kind = None  # the kind of the job running now
        self.failures: list[str] = []
        self.bytes_written: list[int] = []

    def generate(self) -> None:
        self.truth = gen.yelp_json(self.seed, self.src, **SIZES)
        gen.yelp_json(self.seed + 1, self.warm_src, **WARM_SIZES)

    def _run_jobs(self, spark, src: str, root: str, p: Pass | None) -> None:
        from yelp_etl_spark import cli

        parser = cli.build_parser()
        for kind, argv in jobs(src, root):
            self.kind = kind
            with timed_op(p, kind, self.failures), self.tracer.span(f"cli.{kind}"):
                cli.run(parser.parse_args(argv), spark)

    def warmup(self, spark) -> None:
        """Extract and clean one entity on a small input."""
        from yelp_etl_spark import cli

        parser = cli.build_parser()
        root = os.path.join(self.work, "warm", str(time.time_ns()))
        for kind, argv in jobs(self.warm_src, root):
            if kind in ("extract", "clean") and argv[3] == "business":
                cli.run(parser.parse_args(argv), spark)

    def run_pass(self, spark, p: Pass, i: int) -> None:
        root = os.path.join(self.work, "medallion", f"pass{i}")
        self._run_jobs(spark, self.src, root, p)
        self.last_root = root
        self.bytes_written.append(dir_bytes(root)[1])

    def rows_per_pass(self) -> int:
        return self.truth["input_rows"]

    def write_base(self) -> int:
        return self.truth["input_bytes"]

    # ------------------------------------------------------------ checks

    def check(self, spark) -> tuple[int, list[str]]:
        root, t = self.last_root, self.truth
        failures, attempted = [], 0
        for layer in ("bronze", "silver", "enriched"):
            for table, want in t[layer].items():
                attempted += 1
                got = pads.dataset(f"{root}/{layer}/{table}", format="parquet",
                                   partitioning="hive").count_rows()
                if got != want:
                    failures.append(f"{layer}.{table}: {got} rows, expected {want}")
        attempted += 1
        gold = pads.dataset(f"{root}/gold/weekly_business_stats", format="parquet").to_table()
        got = {(r["business_id"], str(r["date_week_start_date"])): (
            r["n_reviews"], r["avg_stars"], r["n_reactions"], r["n_reviewers"])
            for r in gold.to_pylist()}
        want = {(b, str(w)): (n, a, x, u) for b, w, n, a, x, u in self._gold_oracle()}
        if got.keys() != want.keys():
            failures.append(f"gold: {len(got)} groups, oracle {len(want)}")
        else:
            bad = [k for k in want if got[k][0] != want[k][0] or got[k][2:] != want[k][2:]
                   or abs(got[k][1] - want[k][1]) > 1e-4]
            if bad:
                failures.append(f"gold: {len(bad)} groups differ from the oracle, e.g. {bad[0]}")
        return attempted, failures

    def _gold_oracle(self) -> list[tuple]:
        con = duckdb.connect()
        try:
            def src(entity: str, cols: str) -> str:
                return (f"read_json('{self.src}/{entity}.json', format='newline_delimited', "
                        f"columns={{{cols}}})")
            return con.execute(f"""
                SELECT r.business_id, CAST(date_trunc('week', CAST(r.date AS DATE)) AS DATE),
                       count(*), round(avg(r.stars), 4), sum(r.useful + r.funny + r.cool),
                       count(DISTINCT r.user_id)
                FROM {src('review', "business_id: 'VARCHAR', user_id: 'VARCHAR', stars: 'DOUBLE', useful: 'BIGINT', funny: 'BIGINT', cool: 'BIGINT', date: 'VARCHAR'")} r
                JOIN {src('business', "business_id: 'VARCHAR'")} b USING (business_id)
                JOIN {src('user', "user_id: 'VARCHAR'")} u USING (user_id)
                GROUP BY 1, 2""").fetchall()
        finally:
            con.close()

    # ------------------------------------------------------------ layers

    def trace_hooks(self, tracer) -> None:
        """Spans on the calls ``cli`` makes into sources, operators and
        plans. Each write also runs its frame to a noop sink, in a
        ``trace.noop_probe`` span outside the write span, so the write's
        own cost is the difference. The operators only build lazy plans;
        the probe, tagged with its job's kind, is where their work runs,
        so it counts toward the clean and enrich operator times (and
        comes off the ``cli`` job times, which the engine never pays it
        in)."""
        from yelp_etl_spark import cli
        from yelp_etl_spark.plans import pipelines

        def make_write(write_table):
            def traced(df, target, spec=None):
                with tracer.span("sources.write_table") as sp:
                    write_table(df, target, spec)
                    n, size = dir_bytes(target)
                    sp.count("files_written", n)
                    sp.count("bytes_written", size)
                with tracer.span("trace.noop_probe") as sp:
                    sp["job"] = self.kind
                    df.write.format("noop").mode("overwrite").save()

            return traced

        tracer.wrap(cli, "read_json", "sources.read_json")
        tracer.patch(cli, "write_table", make_write)
        tracer.wrap(cli, "enrich_fact", "operators.enrich")
        for entity in list(pipelines.CLEANERS):
            tracer.wrap(pipelines.CLEANERS, entity, "operators.clean")

    def explode_rows_out(self) -> int:
        return pads.dataset(f"{self.last_root}/silver/checkin", format="parquet",
                            partitioning="hive").count_rows()
