"""CDC part of ``yelp_lakehouse``: snapshot writes beside snapshot reads. A
partitioned snapshot table is bootstrapped well larger than each change
batch (outside the pass clock), then every cycle of a pass lands one
small insert/update/delete batch through
``streaming.foreach_batch_upsert(..., snapshot_table=True)`` as one
availableNow micro-batch and reads the table three ways: current,
partition-filtered and time-travel, then runs ``snapshot_compact`` +
``expire_snapshots``. One operation is one cycle.

Deletes are tombstone upserts (``deleted=true``): the streaming sink
merges without a delete branch, so readers filter tombstones."""

from __future__ import annotations

import os
import shutil

import gen
from harness import Pass, dir_bytes, timed_op

# One change batch per pass keeps a pass inside the run budget; a cycle
# costs about 5 s on a 4-vCPU machine, nearly all of it fixed overhead.
SIZES = dict(n_base=20000, n_batches=1, batch_size=300)


class Cdc:
    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.src = os.path.join(work, "cdc_input")
        self.table = None
        self.failures: list[str] = []
        self.bytes_written: list[int] = []

    def generate(self) -> None:
        self.truth = gen.cdc_feed(self.seed, self.src, **SIZES)

    def _bootstrap(self, spark, root: str, base: str) -> None:
        from yelp_etl_spark.sources.snapshots import snapshot_write

        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.join(root, "stream"))
        snapshot_write(spark.read.parquet(base), os.path.join(root, "table"),
                       mode="replace", partition_by=["part"])

    def _land(self, spark, root: str, b: int) -> None:
        """Stream change batch ``b`` into the table as one micro-batch."""
        from yelp_etl_spark.streaming.windows import foreach_batch_upsert

        batch = os.path.join(self.src, f"batch_{b:04d}.parquet")
        shutil.copy(batch, os.path.join(root, "stream", os.path.basename(batch)))
        with self.tracer.span("streaming.batch") as sp:
            stream = spark.readStream.schema(self._schema).parquet(os.path.join(root, "stream"))
            foreach_batch_upsert(stream, os.path.join(root, "table"), ["id"],
                                 os.path.join(root, "checkpoint"), snapshot_table=True)
            sp.count("batches")

    def _cycle(self, spark, root: str, b: int):
        """Land batch ``b``, read the table and compact it; returns the
        current live ``(rows, amount)`` aggregate."""
        from yelp_etl_spark.sources.snapshots import (
            expire_snapshots,
            snapshot_compact,
            snapshot_read,
            snapshots,
        )
        from pyspark.sql import functions as F

        table = os.path.join(root, "table")
        prev = snapshots(table)[-1]["snapshot_id"]
        self._land(spark, root, b)
        live = ~F.col("deleted")
        with self.tracer.span("sources.snapshot_read") as sp:
            df = snapshot_read(spark, table)
            sp.count("files_scanned", len(df.inputFiles()))
            cur = df.filter(live).agg(F.count("*").alias("n"), F.sum("amount_cents").alias("s")).collect()[0]
        with self.tracer.span("sources.snapshot_read") as sp:
            df = snapshot_read(spark, table, partition_filter={"part": b % gen.CDC_PARTITIONS})
            sp.count("files_scanned", len(df.inputFiles()))
            df.filter(live).count()
        with self.tracer.span("sources.snapshot_read") as sp:
            df = snapshot_read(spark, table, snapshot_id=prev)
            sp.count("files_scanned", len(df.inputFiles()))
            df.filter(live).count()
        with self.tracer.span("sources.compact") as sp:
            before = dir_bytes(table)[1]
            snapshot_compact(spark, table, target_file_bytes=4 * 2**20)
            sp.count("rewrite_bytes", dir_bytes(table)[1] - before)
            expire_snapshots(table, keep_last=2)
        return cur["n"], cur["s"]

    def warmup(self, spark) -> None:
        """Bootstrap a small table from the first change batch, stream
        that batch onto it and read it back, so the timed cycles do not
        pay the first streaming start."""
        from yelp_etl_spark.sources.snapshots import snapshot_read

        root = os.path.join(self.work, "cdc_warm")
        self._bootstrap(spark, root, os.path.join(self.src, "batch_0000.parquet"))
        self._land(spark, root, 0)
        snapshot_read(spark, os.path.join(root, "table")).count()

    def prepare(self, spark, i: int) -> None:
        self.root = os.path.join(self.work, "cdc", f"pass{i}")
        self._bootstrap(spark, self.root, os.path.join(self.src, "base.parquet"))
        self.start_bytes = dir_bytes(os.path.join(self.root, "table"))[1]

    def run_pass(self, spark, p: Pass, i: int) -> None:
        for b in range(SIZES["n_batches"]):
            got = None
            with timed_op(p, "cycle", self.failures):
                got = self._cycle(spark, self.root, b)
            want = self.truth["after_batch"][b]
            if got is not None and got != want:
                self.failures.append(f"batch {b}: live (rows, amount) {got}, replay {want}")
        # snapshot files are immutable, so growth is what the pass wrote
        self.bytes_written.append(dir_bytes(os.path.join(self.root, "table"))[1] - self.start_bytes)
        self.table = os.path.join(self.root, "table")

    def rows_per_pass(self) -> int:
        return self.truth["batch_rows"]

    def write_base(self) -> int:
        return self.truth["batch_bytes"]

    def check(self, spark) -> tuple[int, list[str]]:
        """The final live table against the Python replay."""
        from yelp_etl_spark.sources.snapshots import snapshot_read

        rows = snapshot_read(spark, self.table).filter("NOT deleted").collect()
        got = gen.table_hash((r["id"], r["part"], r["name"], r["amount_cents"], r["seq"]) for r in rows)
        if got != self.truth["final_hash"]:
            return 1, [f"final table hash {got[:12]} != replay {self.truth['final_hash'][:12]}"]
        return 1, []

    def trace_hooks(self, tracer) -> None:
        """A commit span inside the micro-batch, on the sink's call into
        the snapshot layer, counting the bytes the commit wrote."""
        from yelp_etl_spark.sources import snapshots

        def make_merge(snapshot_merge):
            def traced(spark, source, table_dir, *args, **kwargs):
                before = dir_bytes(table_dir)[1]
                with tracer.span("sources.snapshot_commit") as sp:
                    out = snapshot_merge(spark, source, table_dir, *args, **kwargs)
                    sp.count("rewrite_bytes", dir_bytes(table_dir)[1] - before)
                return out

            return traced

        tracer.patch(snapshots, "snapshot_merge", make_merge)

    @property
    def _schema(self):
        from pyspark.sql import types as T

        return T.StructType([
            T.StructField("id", T.LongType()), T.StructField("part", T.IntegerType()),
            T.StructField("name", T.StringType()), T.StructField("amount_cents", T.LongType()),
            T.StructField("seq", T.LongType()), T.StructField("deleted", T.BooleanType()),
        ])
