"""SparkSession factory with scale-oriented defaults.

The reference configures its session entirely through spark-defaults.conf
(reference: spark-defaults.conf:1-22, app.py:18). Here the session tuning
is explicit and centralized. Defaults are chosen for the local[N] test
harness but every knob is the one you'd tune on a real cluster:

- AQE on (runtime re-planning, skew-join handling, partition coalescing)
- shuffle partitions sized to cores locally; on a cluster you'd size to
  ~2-3x total cores or rely on AQE coalescing from a high initial value
- Arrow enabled for any Pandas-UDF exchange
- broadcast threshold raised so dimension tables (region/nation/customer
  at test SF) broadcast instead of shuffling
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# Free-space floor below which the RAM-backed scratch root is NOT
# auto-selected (see scratch_root's capacity guard).
SCRATCH_MIN_FREE_BYTES = 8 * 1024**3


def scratch_root() -> str | None:
    """Root directory for throwaway per-invocation scratch: staging
    files, streaming checkpoints of memory-sink verification runs,
    snapshot fixtures, medallion output roots. Everything written here
    is recreated per invocation and removed on exit, so it never needs
    durability — which makes a RAM-backed root strictly better than a
    disk one: the fsync-heavy consumers (streaming state-store commits
    and offset/commit WALs — one fsync per store per micro-batch)
    measured 2-4x faster off the disk path (r15 optimization round,
    guide §6). Resolution order: SPARK_GRAFT_SCRATCH (explicit
    override), an explicit TMPDIR (defer to the operator's choice —
    return None so tempfile applies it), then /dev/shm when present
    and writable, else None (tempfile default). On a real cluster the
    analog is the fast local scratch (NVMe/ramdisk) the deployment
    provisions for spill and shuffle; durable streaming checkpoints of
    PRODUCTION streams stay on reliable storage and are passed
    explicitly by their callers — this root is only for the
    per-invocation verification harnesses."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    if os.environ.get("TMPDIR"):
        return None
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        # Capacity guard (r15 VERDICT what's-wrong #1): tmpfs is capped
        # (typically half of RAM) and its pages compete with executor
        # memory — a shuffle-heavy run on a nearly-full /dev/shm fails
        # or pushes the OS into reclaim where a disk root would merely
        # be slow. Only auto-pick the RAM root while it has a
        # comfortable floor of free space (8 GiB ≈ 50× the largest
        # per-invocation scratch footprint observed at sf0.1 —
        # streaming WALs + medallion roots + shuffle files together
        # stay under ~150 MB); otherwise fall back to the tempfile
        # default. SPARK_GRAFT_SCRATCH above bypasses the guard — an
        # explicit operator choice is honored as given.
        try:
            st = os.statvfs("/dev/shm")
            free = st.f_bavail * st.f_frsize
        except OSError:
            return None
        if free >= SCRATCH_MIN_FREE_BYTES:
            return "/dev/shm"
    return None


def get_spark(
    app_name: str = "yelp-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with engine defaults.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is cluster-safe.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner (and AQE, at runtime) pick shuffled-hash join
        # when the per-partition build side fits: skips the sort-merge
        # sort on both sides. Size conditions keep genuinely huge joins
        # on SMJ, so this is cluster-safe (guide-standard baseline).
        # Interleaved same-session A/B at sf0.1 (r15 optimization
        # round): jaccard_prefix_join 2.99→1.66 s min-of-4 (the
        # shingle self-join's sides land hash-partitioned and skip
        # both sorts; ShuffledHashJoin visible in its physical plan),
        # triangle_count and pagerank_dict_ids neutral (±0.1 s).
        # Identical results (full-catalog 360/360 parity re-run under
        # this conf).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        # A catalog-sized workload generates hundreds of whole-stage-
        # codegen classes; the JVM's default ReservedCodeCacheSize
        # (240m) fills mid-run, the JIT shuts off, and later queries run
        # interpreted (observed as 5-6x slowdowns late in bench runs).
        # G1 matches the reference's GC choice (spark-defaults.conf:17).
        # MetaspaceSize raises the class-metadata GC threshold: the
        # default (~21 MB) makes every metaspace expansion past the
        # high-water mark force a FULL GC to attempt class unloading,
        # and a catalog-sized workload's codegen classes ratchet that
        # mark continuously (jstat mid-bench: metaspace ~98%, 28 full
        # GCs / 5.8 s of FGC pauses in the first 2 minutes — r15
        # optimization round). 512m lets metaspace grow to its working
        # set without GC-per-expansion; same class-unloading behavior
        # once actually above the threshold.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseG1GC -XX:ReservedCodeCacheSize=1g"
            " -XX:MetaspaceSize=512m",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Some driver data generations write events.ts as
        # TIMESTAMP(NANOS), which Spark's parquet reader rejects unless
        # read as long; harmless for non-nanos files. Set once here so
        # readers stay pure (no per-call session-conf mutation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Iterative algorithms (pagerank/BFS/components) write one
        # reliable-checkpoint dir per truncation when a checkpoint dir
        # is configured; without this the dirs accumulate unboundedly
        # on a long-lived cluster session (ADVICE r2). GC them when the
        # originating RDD is collected.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    # Shuffle files, block-manager disk store and localCheckpoint
    # blocks are rebuildable per-run scratch: point spark.local.dir at
    # the fast scratch root (RAM-backed when available — see
    # scratch_root) exactly as a cluster deployment points it at NVMe
    # scratch. Overridable via SPARK_GRAFT_SCRATCH/TMPDIR; on a real
    # cluster spark-submit/YARN provide local dirs and this local[N]
    # factory is not in play.
    _scratch = scratch_root()
    if _scratch is not None:
        builder = builder.config("spark.local.dir", _scratch)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
