"""Snapshot/manifest table layer: atomic commit, snapshot isolation,
time travel, expire+vacuum, and manifest-level file skipping — the
Iceberg semantics surface (reference write.py:24-53) without jars."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from yelp_etl_spark.sources.snapshots import (
    expire_snapshots,
    snapshot_read,
    snapshot_write,
    snapshots,
    vacuum,
)


def test_replace_append_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = snapshot_write(spark.range(0, 100), t, mode="replace")
    s2 = snapshot_write(spark.range(100, 150), t, mode="append")
    s3 = snapshot_write(spark.range(0, 10), t, mode="replace")
    assert (s1, s2, s3) == (1, 2, 3)
    # current = the replace
    assert snapshot_read(spark, t).count() == 10
    # time travel: every older snapshot still reads exactly
    assert snapshot_read(spark, t, snapshot_id=1).count() == 100
    got = snapshot_read(spark, t, snapshot_id=2).agg(F.sum("id")).collect()[0][0]
    assert got == 150 * 149 // 2
    ops = [s["operation"] for s in snapshots(t)]
    assert ops == ["replace", "append", "replace"]


def test_crash_before_commit_is_invisible(spark, tmp_path):
    """Data files written without a manifest/pointer swap must be
    invisible: readers resolve the old snapshot untouched."""
    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 50), t)
    # simulate a writer that crashed after writing data files
    spark.range(1000, 2000).write.parquet(str(tmp_path / "crash"))
    for f in os.listdir(str(tmp_path / "crash")):
        if f.endswith(".parquet"):
            os.rename(
                str(tmp_path / "crash" / f),
                os.path.join(t, "data", f"orphan-{f}"),
            )
    assert snapshot_read(spark, t).count() == 50
    # and vacuum cleans the orphans without touching live files
    removed = vacuum(t)
    assert removed > 0
    assert snapshot_read(spark, t).count() == 50


def test_reader_isolation_across_replace(spark, tmp_path):
    """A file list resolved before a replace still reads the old data
    afterward (until expire+vacuum) — snapshot isolation."""
    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 77), t)
    pinned = snapshot_read(spark, t)  # resolves snapshot-1 files NOW
    snapshot_write(spark.range(0, 5), t, mode="replace")
    assert pinned.count() == 77
    assert snapshot_read(spark, t).count() == 5


def test_expire_vacuum_bounds_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 40), t)
    snapshot_write(spark.range(0, 7), t, mode="replace")
    expired = expire_snapshots(t, keep_last=1)
    assert expired == [1]
    removed = vacuum(t)
    assert removed > 0
    assert snapshot_read(spark, t).count() == 7
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, t, snapshot_id=1)


def test_manifest_file_skipping_prunes_files(spark, tmp_path):
    """Range-clustered data + a point/range predicate: the manifest's
    footer min/max stats must prune files before Spark lists them, and
    pruning + filter must equal the unpruned filter (no lost rows)."""
    t = str(tmp_path / "tbl")
    df = spark.range(0, 100_000).repartitionByRange(8, "id")
    snapshot_write(df, t)
    from yelp_etl_spark.sources.snapshots import _load_manifest, _read_pointer

    n_files = len(_load_manifest(t, _read_pointer(t))["files"])
    assert n_files >= 8
    pruned = snapshot_read(spark, t, prune=("id", "<=", 5_000))
    assert pruned.inputFiles() and len(pruned.inputFiles()) < n_files
    got = pruned.filter(F.col("id") <= 5_000).count()
    assert got == snapshot_read(spark, t).filter(F.col("id") <= 5_000).count() == 5_001
    # point lookup touches exactly one range file
    point = snapshot_read(spark, t, prune=("id", "==", 42))
    assert len(point.inputFiles()) == 1


def test_snapshot_merge_semantics(spark, tmp_path):
    t = str(tmp_path / "tbl")
    from yelp_etl_spark.sources.snapshots import snapshot_merge

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k long, v double"
    )
    delta = spark.createDataFrame(
        [(2, 99.0), (3, 30.0)], "k long, v double"
    )
    s1 = snapshot_merge(spark, base, t, ["k"])
    s2 = snapshot_merge(spark, delta, t, ["k"])
    assert (s1, s2) == (1, 2)
    got = {(r.k, r.v) for r in snapshot_read(spark, t).collect()}
    assert got == {(1, 10.0), (2, 99.0), (3, 30.0)}
    # pre-merge state still time-travelable
    old = {(r.k, r.v) for r in snapshot_read(spark, t, snapshot_id=1).collect()}
    assert old == {(1, 10.0), (2, 20.0)}


def test_streaming_upsert_into_snapshot_table(spark, tmp_path, monkeypatch):
    """Streaming sink → snapshot table: one atomic commit per non-empty
    micro-batch, converged contents equal the batch aggregate, and the
    first batch's state is still readable via time travel. The sink
    looks ``snapshots.snapshot_merge`` up when it runs, so a wrapper
    patched onto that name (perfbench's commit span) sees every
    commit."""
    from pyspark.sql import functions as F

    from yelp_etl_spark.sources import snapshots as snapshots_module
    from yelp_etl_spark.streaming.windows import foreach_batch_upsert

    merges = []
    real_merge = snapshots_module.snapshot_merge

    def counting_merge(*args, **kwargs):
        merges.append(real_merge(*args, **kwargs))
        return merges[-1]

    monkeypatch.setattr(snapshots_module, "snapshot_merge", counting_merge)

    src = str(tmp_path / "src")
    rows = [(i % 5, float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    df.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )
    t = str(tmp_path / "serving")
    foreach_batch_upsert(
        stream, t, ["user_id"], str(tmp_path / "ckpt"), snapshot_table=True
    )
    got = {(r.user_id, r.n, r.total) for r in snapshot_read(spark, t).collect()}
    want = {
        (r.user_id, r.n, r.total)
        for r in df.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .collect()
    }
    assert got == want
    snaps = snapshots(t)
    assert len(snaps) >= 2  # one commit per non-empty batch
    assert merges == [s["snapshot_id"] for s in snaps]
    # intermediate state preserved for time travel
    assert snapshot_read(spark, t, snapshot_id=1).count() > 0


def test_write_table_snapshot_dispatch(spark, tmp_path):
    from yelp_etl_spark.sources.writers import WriteSpec, write_table

    t = str(tmp_path / "tbl")
    write_table(spark.range(0, 30), t, WriteSpec(format="snapshot"))
    write_table(
        spark.range(30, 40), t, WriteSpec(format="snapshot", mode="append")
    )
    assert snapshot_read(spark, t).count() == 40
    assert [s["operation"] for s in snapshots(t)] == ["replace", "append"]


def test_append_schema_evolution_additive(spark, tmp_path):
    """Iceberg-style add-column evolution: an append with a NEW column
    reads old files as NULL for it; an append MISSING an old column
    keeps that column (nulls for new rows); a type change is rejected
    at commit time. The same rule binds both commits that carry the
    parent's files on a partitioned table — append and dynamic
    partition overwrite — and a refused type change writes no file."""
    from yelp_etl_spark.sources.snapshots import snapshot_overwrite_partitions

    def append(df, t):
        return snapshot_write(df, t, mode="append")

    def overwrite(df, t):
        return snapshot_overwrite_partitions(df, t, ["p"])

    for name, commit in (("append", append), ("overwrite", overwrite)):
        t = str(tmp_path / f"partitioned_{name}")
        snapshot_write(
            spark.createDataFrame([(1, "x", "a")], "id long, p string, s string"),
            t,
            partition_by=["p"],
        )
        # each batch lands in its own partition, so the overwrite
        # carries every earlier file
        commit(
            spark.createDataFrame(
                [(2, "y", "b", 9.5)], "id long, p string, s string, score double"
            ),
            t,
        )
        commit(
            spark.createDataFrame([(3, "z", 1.5)], "id long, p string, score double"),
            t,
        )
        rows = {r.id: (r.s, r.score) for r in snapshot_read(spark, t).collect()}
        assert rows == {1: ("a", None), 2: ("b", 9.5), 3: (None, 1.5)}, name
        n_files = len(os.listdir(os.path.join(t, "data")))
        with pytest.raises(ValueError, match="changes type"):
            commit(spark.createDataFrame([("x", "w")], "id string, p string"), t)
        assert len(os.listdir(os.path.join(t, "data"))) == n_files, name
        assert len(snapshots(t)) == 3, name

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([(1, "a")], "id long, s string"), t
    )
    # add a column
    snapshot_write(
        spark.createDataFrame([(2, "b", 9.5)], "id long, s string, score double"),
        t,
        mode="append",
    )
    # append missing the old column s
    snapshot_write(
        spark.createDataFrame([(3, 1.5)], "id long, score double"),
        t,
        mode="append",
    )
    rows = {r.id: (r.s, r.score) for r in snapshot_read(spark, t).collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5), 3: (None, 1.5)}
    # incompatible type change fails at commit, not read
    import pytest as _pytest

    with _pytest.raises(ValueError, match="changes type"):
        snapshot_write(
            spark.createDataFrame([("x",)], "id string"), t, mode="append"
        )


def test_zorder_layout_plus_manifest_skipping(spark, tmp_path):
    """Composition: z-order clustering (sources/layout.py) before a
    snapshot commit makes BOTH columns file-skippable — a point probe
    on either dimension prunes most files from the manifest alone."""
    from yelp_etl_spark.sources.layout import zorder_key
    from yelp_etl_spark.sources.snapshots import _load_manifest, _read_pointer

    t = str(tmp_path / "tbl")
    df = spark.range(0, 40_000).select(
        F.col("id").alias("x"),
        (F.col("id") * 2654435761 % 40_000).alias("y"),
    )
    clustered = (
        zorder_key(df, ["x", "y"], bits=16)
        .repartitionByRange(16, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    snapshot_write(clustered, t)
    n_files = len(_load_manifest(t, _read_pointer(t))["files"])
    assert n_files >= 8
    for col in ("x", "y"):
        probe = snapshot_read(spark, t, prune=(col, "==", 12_345))
        assert len(probe.inputFiles()) <= n_files // 2, col


def test_expire_zero_rejected_and_stray_tmp_ignored(spark, tmp_path):
    import os

    import pytest as _pytest

    from yelp_etl_spark.sources.snapshots import expire_snapshots, vacuum

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 10), t)
    with _pytest.raises(ValueError, match="keep_last"):
        expire_snapshots(t, keep_last=0)
    # a crashed commit's partial manifest must not wedge metadata ops
    stray = os.path.join(t, "manifests", "manifest-0000000099.json.tmp")
    with open(stray, "w") as fh:
        fh.write('{"snapshot_id": 99, "files": [')  # truncated json
    assert [s["snapshot_id"] for s in snapshots(t)] == [1]
    assert expire_snapshots(t, keep_last=1) == []
    assert vacuum(t) == 0
    assert snapshot_read(spark, t).count() == 10


def test_write_table_snapshot_rejects_unsupported_spec(spark, tmp_path):
    import pytest as _pytest

    from yelp_etl_spark.sources.writers import WriteSpec, write_table

    t = str(tmp_path / "tbl")
    with _pytest.raises(ValueError, match="not supported"):
        write_table(
            spark.range(5), t,
            WriteSpec(format="snapshot", partition_columns=["id"]),
        )
    with _pytest.raises(ValueError, match="overwrite|append"):
        write_table(spark.range(5), t, WriteSpec(format="snapshot", mode="error"))


def test_snapshot_changes_cdc(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import snapshot_changes

    t = str(tmp_path / "tbl")
    s1 = snapshot_write(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
        ),
        t,
    )
    s2 = snapshot_write(
        spark.createDataFrame(
            [(1, 10.0), (2, 99.0), (4, 40.0)], "k long, v double"
        ),
        t,
    )
    got = {
        (r.k, r.diff_status)
        for r in snapshot_changes(spark, t, s1, s2, ["k"], ["v"]).collect()
    }
    assert got == {
        (1, "unchanged"), (2, "changed"), (3, "removed"), (4, "added"),
    }


def test_snapshot_layer_model_property(spark, tmp_path):
    """Property: any sequence of replace/append/merge commits matches a
    driver-side model, and every intermediate snapshot stays readable
    with its exact historical contents (bounded deterministic sequence
    enumeration — no wall-clock or RNG)."""
    import itertools

    from yelp_etl_spark.sources.snapshots import snapshot_merge

    from concurrent.futures import ThreadPoolExecutor

    ops = ["replace", "append", "merge"]
    payloads = {
        "replace": [(1, 1.0), (2, 2.0)],
        "append": [(3, 3.0)],
        "merge": [(1, 9.0), (4, 4.0)],
    }

    # each sequence owns a private table dir, so the 27 enumerations
    # are independent — run them on a thread pool (Spark job submission
    # is thread-safe; cuts this test's wall ~4x)
    def check_seq(arg):
        seq_i, seq = arg
        t = str(tmp_path / f"tbl{seq_i}")
        model: list[tuple] = []
        states = []
        for op in seq:
            rows = payloads[op]
            df = spark.createDataFrame(rows, "k long, v double")
            if op == "replace":
                snapshot_write(df, t, mode="replace")
                model = list(rows)
            elif op == "append":
                snapshot_write(df, t, mode="append")
                model = model + list(rows)
            else:
                snapshot_merge(spark, df, t, ["k"])
                kept = [r for r in model if r[0] not in {k for k, _ in rows}]
                model = kept + list(rows)
            states.append(list(model))
        for sid, expect in enumerate(states, start=1):
            got = sorted(
                (r.k, r.v)
                for r in snapshot_read(spark, t, snapshot_id=sid).collect()
            )
            assert got == sorted(expect), f"seq={seq} snapshot={sid}"

    with ThreadPoolExecutor(12) as ex:
        list(ex.map(check_seq, enumerate(itertools.product(ops, repeat=3))))


def test_snapshot_changes_across_schema_evolution(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import snapshot_changes

    t = str(tmp_path / "tbl")
    s1 = snapshot_write(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, a double"), t
    )
    s2 = snapshot_write(
        spark.createDataFrame([(3, 3.0, "x")], "k long, a double, b string"),
        t,
        mode="append",
    )
    got = {
        (r.k, r.diff_status)
        for r in snapshot_changes(spark, t, s1, s2, ["k"], ["a", "b"]).collect()
    }
    assert got == {(1, "unchanged"), (2, "unchanged"), (3, "added")}


def test_metadata_ops_ignore_unswapped_manifest(spark, tmp_path):
    """A fully named manifest whose pointer swap never happened (crash
    between commit steps 2 and 3) is NOT a snapshot: snapshots() hides
    it, expire retention ignores it, and vacuum removes its files
    without touching the committed table."""
    import json as _json
    import os

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 20), t)
    # forge the crash: a valid manifest-2 exists, pointer still says 1
    orphan_data = os.path.join(t, "data", "deadbeef-00000.parquet")
    spark.range(5).coalesce(1).write.parquet(str(tmp_path / "o"))
    src = [
        f for f in os.listdir(str(tmp_path / "o")) if f.endswith(".parquet")
    ][0]
    os.rename(str(tmp_path / "o" / src), orphan_data)
    m = {
        "snapshot_id": 2,
        "parent_id": 1,
        "operation": "replace",
        "schema": spark.range(1).schema.json(),
        "files": [{"path": "data/deadbeef-00000.parquet", "rows": 5,
                   "min": {}, "max": {}}],
    }
    with open(os.path.join(t, "manifests", "manifest-0000000002.json"), "w") as fh:
        _json.dump(m, fh)

    from yelp_etl_spark.sources.snapshots import expire_snapshots, vacuum

    assert [s["snapshot_id"] for s in snapshots(t)] == [1]
    assert expire_snapshots(t, keep_last=1) == []  # must NOT expire 1
    assert snapshot_read(spark, t).count() == 20   # live table intact
    assert vacuum(t) == 1                          # orphan file removed
    assert snapshot_read(spark, t).count() == 20


def test_concurrent_commit_fails_loudly(spark, tmp_path, monkeypatch):
    """Two writers that both read parent N must not silently lose a
    commit: the second manifest create hits the exclusive link and
    raises. One row per case. The first forges the racing writer's
    manifest before a plain write; recovery (confirm no live writer,
    reclaim orphans) then makes the retry succeed against the
    winner's state. Every other row is an operation that reads the
    table and then commits, with a racing commit inside it (a hook
    that fires after its read, before its commit): an append, or for
    a 3-way merge consuming a staged branch, the branch's publish. The
    operation must raise, the racer's rows and snapshot survive, and
    vacuum reclaims exactly the loser's data files."""
    import json as _json

    from yelp_etl_spark.operators import scd
    from yelp_etl_spark.sources import snapshots as snap
    from yelp_etl_spark.sources.snapshots import (
        ConcurrentCommitError,
        _load_manifest,
        _manifest_path,
        _read_pointer,
        remove_orphaned_manifests,
        snapshot_binpack,
        snapshot_compact,
        snapshot_merge,
        snapshot_merge_3way,
        snapshot_publish,
    )

    def rows(*ids):
        return spark.createDataFrame(
            [(i, f"v{i}") for i in ids], "id long, v string"
        )

    flagged = spark.createDataFrame(
        [(1, "x", True), (50, "y", False)], "id long, v string, __del boolean"
    )
    cur = _read_pointer

    def forge(t):
        # the racer won the create of manifest N+1 but has not swapped
        # the pointer yet
        with open(_manifest_path(t, cur(t) + 1), "w") as fh:
            _json.dump({"forged": True}, fh)
        return []

    def append(t):
        snapshot_write(rows(100, 101), t, mode="append")
        return [100, 101]

    def stage(t):  # a staged branch that appends row 41
        return snapshot_write(rows(41), t, mode="append", publish=False)

    def publish(t):  # the branch the 3-way merge is consuming
        snapshot_publish(t, cur(t) + 1)
        return [41]

    # (case, the hook the race fires in (None: before the operation;
    # an optional third item is the number of calls to let pass
    # first), the race (returns the ids it committed), the operation)
    cases = [
        ("forged manifest", None, forge,
         lambda t: snapshot_write(rows(7), t)),
        ("merge", (scd, "merge_upsert"), append,
         lambda t: snapshot_merge(spark, rows(1, 50), t, ["id"])),
        ("merge with deletes", (scd, "merge_upsert"), append,
         lambda t: snapshot_merge(
             spark, flagged, t, ["id"], delete_condition=F.col("__del"))),
        ("compact", (snap, "_spec_exprs"), append,
         lambda t: snapshot_compact(spark, t)),
        ("compact cluster_by", (snap, "_scan"), append,
         lambda t: snapshot_compact(spark, t, cluster_by="id")),
        ("3-way merge", (snap, "_union_schema"), append,
         lambda t: snapshot_merge_3way(
             spark, t, cur(t), cur(t), cur(t), ["id"])),
        ("3-way merge staged", (snap, "_scan"), publish,
         lambda t: snapshot_merge_3way(
             spark, t, cur(t), cur(t), stage(t), ["id"])),
        # the branch is published while the consume writes its data
        # files (the staging write is the hook's first call)
        ("3-way merge staged, published mid-write",
         (snap, "_write_data_files", 1), publish,
         lambda t: snapshot_merge_3way(
             spark, t, cur(t), cur(t), stage(t), ["id"])),
        ("binpack", (snap, "_spec_exprs"), append,
         lambda t: snapshot_binpack(spark, t, small_file_bytes=2**30)),
    ]
    for case, hook, race, op in cases:
        t = str(tmp_path / case.replace(" ", "_"))
        snapshot_write(rows(*range(20)).repartition(2), t)
        n_snapshots = len(snapshots(t))
        data_before = set(os.listdir(os.path.join(t, "data")))
        fired, won = [], []
        if hook is None:
            won += race(t)
        else:
            owner, attr, *skip = hook
            calls = []

            def racing(*a, _real=getattr(owner, attr), _t=t, _race=race,
                       _calls=calls, _skip=sum(skip), **kw):
                out = _real(*a, **kw)
                _calls.append(True)
                if not fired and len(_calls) > _skip:
                    fired.append(True)
                    won.extend(_race(_t))
                return out

            monkeypatch.setattr(owner, attr, racing)
        with pytest.raises(ConcurrentCommitError):
            op(t)
        assert hook is None or fired, case  # the race ran inside op
        monkeypatch.undo()
        # the winner's state reads back: the racer's rows are not lost
        got = sorted(r.id for r in snapshot_read(spark, t).collect())
        assert got == [*range(20), *won], case
        assert len(snapshots(t)) == n_snapshots + bool(fired), case
        # the racer's commit is current and unchanged: for the staged
        # consume, the published branch was not rewritten in place
        assert _load_manifest(t, cur(t))["operation"] == (
            "append" if fired else "replace"
        ), case
        # the loser's failure left no partial manifest behind
        assert not [
            f for f in os.listdir(os.path.join(t, "manifests"))
            if f.endswith(".tmp")
        ], case
        # vacuum reclaims exactly the loser's data files
        racer_files = {
            os.path.basename(e["path"])
            for e in _load_manifest(t, cur(t))["files"]
        } - data_before
        assert vacuum(t) >= 1, case
        assert set(os.listdir(os.path.join(t, "data"))) == (
            data_before | racer_files
        ), case
    # crash-orphan recovery path, on the forged row's table: reclaim
    # manifests above the pointer, then the retry commits
    t = str(tmp_path / "forged_manifest")
    assert remove_orphaned_manifests(t) == [2]
    assert snapshot_write(rows(7), t) == 2
    assert [r.id for r in snapshot_read(spark, t).collect()] == [7]


def test_read_then_commit_parses_one_manifest(spark, tmp_path, monkeypatch):
    """An operation that reads the table and then commits looks up its
    parent once: one manifest parse serves both its read and its
    commit, so the snapshot it reads is the snapshot it commits on (a
    second lookup could see a commit that landed in between)."""
    from yelp_etl_spark.sources import snapshots as snap
    from yelp_etl_spark.sources.snapshots import (
        _read_pointer,
        snapshot_binpack,
        snapshot_compact,
        snapshot_merge,
        snapshot_set_constraint,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        ).repartition(2),
        t,
    )
    upsert = spark.createDataFrame([(1, "u"), (20, "n")], "id long, v string")
    ops = [
        ("merge", lambda: snapshot_merge(spark, upsert, t, ["id"])),
        ("merge with deletes", lambda: snapshot_merge(
            spark, upsert.withColumn("__del", F.col("id") == 1), t, ["id"],
            delete_condition=F.col("__del"))),
        ("compact", lambda: snapshot_compact(spark, t)),
        ("compact cluster_by",
         lambda: snapshot_compact(spark, t, cluster_by="id")),
        ("set_constraint",
         lambda: snapshot_set_constraint(spark, t, "id_nonneg", "id >= 0")),
        ("binpack", lambda: snapshot_binpack(spark, t, small_file_bytes=2**30)),
    ]
    real = snap._load_manifest
    parsed = []
    monkeypatch.setattr(
        snap, "_load_manifest",
        lambda d, sid: parsed.append(sid) or real(d, sid),
    )
    for name, op in ops:
        if name == "binpack":  # needs more than one small file
            snapshot_write(upsert, t, mode="append")
        parent = _read_pointer(t)
        parsed.clear()
        assert op() == parent + 1, name
        assert parsed == [parent], name


def test_commit_stats_read_on_driver(spark, tmp_path, spark_jobs):
    """Every commit reads its data files' footer stats on the driver
    (_file_stats), however many files it writes. On a table shaped like
    perfbench's CDC table (20 000 rows, spec ["part"], 16 files, merged
    on ["id"]) a merge that writes more than 8 files submits 2 Spark
    jobs, none of which reads the written files back; every manifest
    entry's rows/min/max (and Bloom sidecar, on a bloom table of 16
    files) is exactly _file_stats of its file; and min/max file
    skipping still prunes."""
    from yelp_etl_spark.sources.snapshots import (
        _file_stats,
        _load_manifest,
        snapshot_merge,
    )

    def entries_match_file_stats(t, sid, bloom_columns=None):
        m = _load_manifest(t, sid)
        for f in m["files"]:
            direct = _file_stats(os.path.join(t, f["path"]), bloom_columns)
            assert {k: f.get(k) for k in direct} == direct, f["path"]
        return m

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            "id",
            (F.col("id") % 8).cast("int").alias("part"),
            (F.col("id") * 7 % 1000).alias("amount"),
        )

    t = str(tmp_path / "tbl")
    snapshot_write(rows(0, 20_000).repartition(2), t, partition_by=["part"])
    assert len(_load_manifest(t, 1)["files"]) == 16
    sid, n_jobs = spark_jobs(
        lambda: snapshot_merge(spark, rows(19_900, 20_100), t, ["id"])
    )
    assert n_jobs == 2
    m = entries_match_file_stats(t, sid)
    assert len(m["files"]) > 8
    assert sum(f["rows"] for f in m["files"]) == 20_100
    pruned = snapshot_read(spark, t, prune=("id", "==", 20_050))
    assert len(pruned.inputFiles()) < len(m["files"])
    assert pruned.filter(F.col("id") == 20_050).count() == 1

    tb = str(tmp_path / "bloom")
    snapshot_write(
        rows(0, 20_000).repartition(2), tb, partition_by=["part"],
        bloom_columns=["id"],
    )
    mb = entries_match_file_stats(tb, 1, ["id"])
    assert len(mb["files"]) == 16
    assert all("id" in f["bloom"] for f in mb["files"])


def test_snapshot_merge_delete_branch(spark, tmp_path):
    """MERGE with WHEN MATCHED THEN DELETE: flagged source rows remove
    their target keys (and are NOT inserted), unflagged rows upsert,
    everything lands in ONE atomic snapshot with the pre-merge version
    still time-travelable. A delete for an absent key is a no-op."""
    from yelp_etl_spark.sources.snapshots import snapshot_merge

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k int, v string"
    )
    s1 = snapshot_write(base, t)
    src = spark.createDataFrame(
        [
            (2, "b2", "U"),   # update
            (3, None, "D"),   # delete
            (5, "e", "U"),    # insert
            (9, None, "D"),   # delete of absent key: no-op
        ],
        "k int, v string, __op string",
    )
    s2 = snapshot_merge(
        spark, src, t, ["k"], delete_condition=F.col("__op") == "D"
    )
    got = {
        (r.k, r.v) for r in snapshot_read(spark, t, snapshot_id=s2).collect()
    }
    assert got == {(1, "a"), (2, "b2"), (4, "d"), (5, "e")}
    # op column projected away by the upsert branch
    assert snapshot_read(spark, t).columns == ["k", "v"]
    # pre-merge snapshot intact
    assert snapshot_read(spark, t, snapshot_id=s1).count() == 4


def test_merge_null_key_replay_and_delete(spark, tmp_path):
    """Merge keys match null-safely: replaying a batch whose key has a
    NULL part leaves one row for it (the streaming sink's exactly-once
    claim rests on replays being idempotent), and a NULL-keyed delete
    removes its row."""
    from yelp_etl_spark.sources.snapshots import snapshot_merge

    t = str(tmp_path / "tbl")
    schema = "id long, seg string, v double"
    snapshot_write(
        spark.createDataFrame([(1, "a", 1.0), (2, None, 2.0)], schema), t
    )
    batch = spark.createDataFrame([(2, None, 20.0)], schema)
    for _ in range(2):
        snapshot_merge(spark, batch, t, ["id", "seg"])
    assert sorted(map(tuple, snapshot_read(spark, t).collect())) == [
        (1, "a", 1.0), (2, None, 20.0)
    ]
    delete = spark.createDataFrame(
        [(2, None, None, True)], f"{schema}, __del boolean"
    )
    snapshot_merge(
        spark, delete, t, ["id", "seg"], delete_condition=F.col("__del")
    )
    assert [tuple(r) for r in snapshot_read(spark, t).collect()] == [
        (1, "a", 1.0)
    ]


def test_merge_rewrites_only_touched_buckets(spark, tmp_path, spark_jobs):
    """Copy-on-write MERGE scoped by the spec: on a ``bucket(4, id)``
    table merged on ``id``, a batch whose keys fall in one bucket reads
    and rewrites only that bucket's files, and carries the others (same
    path and seq) into an 'overwrite' commit. Choosing the files is one
    distinct query over the batch (two jobs: its shuffle stage and its
    collect); when the spec's source is no key it runs no job, and
    every file is chosen."""
    from yelp_etl_spark.sources.snapshots import (
        _current_manifest,
        _merge_scope,
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(40).withColumn("v", F.lit("old")).repartition(2), t,
        partition_by=["bucket(4, id)"],
    )
    before = _current_manifest(t)[1]

    def bucket(e):
        return e["partition"]["id_bucket4"]

    b = bucket(before["files"][0])
    in_bucket = [e for e in before["files"] if bucket(e) == b]
    ids = sorted(
        r.id
        for r in spark.read.parquet(
            *[os.path.join(t, e["path"]) for e in in_bucket]
        ).collect()
    )
    batch = spark.createDataFrame(
        [(i, "new") for i in ids[:2]], "id long, v string"
    )
    (chosen, rest), n_jobs = spark_jobs(
        lambda: _merge_scope(batch, before, ["id"])
    )
    assert (chosen, n_jobs) == (in_bucket, 2)
    assert rest and all(bucket(e) != b for e in rest)
    (chosen, rest), n_jobs = spark_jobs(
        lambda: _merge_scope(batch, before, ["v"])
    )
    assert (chosen, rest, n_jobs) == (before["files"], [], 0)

    snapshot_merge(spark, batch, t, ["id"])
    after = _current_manifest(t)[1]
    assert after["operation"] == "overwrite"

    def others(m):
        return [(e["path"], e["seq"]) for e in m["files"] if bucket(e) != b]

    assert others(after) == others(before)
    written = [e for e in after["files"] if e["seq"] == after["snapshot_id"]]
    assert written and all(bucket(e) == b for e in written)
    got = {r.id: r.v for r in snapshot_read(spark, t).collect()}
    assert got == {i: "new" if i in ids[:2] else "old" for i in range(40)}


def test_snapshot_compact_rewrites_without_content_change(spark, tmp_path):
    """rewrite_data_files semantics: compaction shrinks the file count
    in a NEW snapshot labeled 'rewrite', content is bit-identical, the
    pre-compaction snapshot still time-travels with its original
    layout, and expire+vacuum then reclaims the small files."""
    from yelp_etl_spark.sources.snapshots import snapshot_compact

    t = str(tmp_path / "tbl")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    s1 = snapshot_write(df.repartition(12), t)
    s2 = snapshot_compact(spark, t)
    log = {s["snapshot_id"]: s for s in snapshots(t)}
    assert log[s1]["n_files"] == 12
    assert log[s2]["n_files"] == 1
    assert log[s2]["operation"] == "rewrite"
    assert log[s2]["n_rows"] == log[s1]["n_rows"] == 10_000
    got = snapshot_read(spark, t).agg(F.sum("v")).collect()[0][0]
    want = snapshot_read(spark, t, snapshot_id=s1).agg(F.sum("v")).collect()[0][0]
    assert got == want
    # maintenance loop: expiring the small-files snapshot frees its files
    assert expire_snapshots(t, keep_last=1) == [s1]
    assert vacuum(t) == 12
    assert snapshot_read(spark, t).count() == 10_000


def test_crashed_commit_auto_reclaimed_after_grace(spark, tmp_path):
    """A manifest orphaned by a crash (pointer never swapped) older
    than the grace window must be reclaimed automatically by the next
    commit — checkpointed streaming replays converge without an
    operator. A FRESH orphan (possible live racer) still fails loudly."""
    import json as _json
    import time

    from yelp_etl_spark.sources.snapshots import (
        ConcurrentCommitError,
        _manifest_path,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 20), t)
    with open(_manifest_path(t, 2), "w") as fh:
        _json.dump({"forged": True}, fh)
    # fresh orphan: loud
    with pytest.raises(ConcurrentCommitError):
        snapshot_write(spark.range(0, 5), t)
    # age it past the grace window: the replayed commit self-heals
    old = time.time() - 3600
    os.utime(_manifest_path(t, 2), (old, old))
    assert snapshot_write(spark.range(0, 5), t) == 2
    assert snapshot_read(spark, t).count() == 5


def test_merge_delete_bootstrap_drops_flag_columns(spark, tmp_path):
    """First merge into an EMPTY table with a delete_condition: the
    dunder op-flag column must not be baked into the table schema, and
    delete-flagged rows must not be inserted."""
    from yelp_etl_spark.sources.snapshots import snapshot_merge

    t = str(tmp_path / "tbl")
    src = spark.createDataFrame(
        [(1, "a", "U"), (2, "b", "D"), (3, "c", "U")],
        "k int, v string, __op string",
    )
    snapshot_merge(spark, src, t, ["k"], delete_condition=F.col("__op") == "D")
    got = snapshot_read(spark, t)
    assert got.columns == ["k", "v"]
    assert {(r.k, r.v) for r in got.collect()} == {(1, "a"), (3, "c")}
    # and a follow-up merge whose source lacks __op works against the
    # clean schema
    src2 = spark.createDataFrame([(3, "c2"), (4, "d")], "k int, v string")
    snapshot_merge(spark, src2, t, ["k"])
    assert {(r.k, r.v) for r in snapshot_read(spark, t).collect()} == {
        (1, "a"),
        (3, "c2"),
        (4, "d"),
    }


def test_snapshot_rollback_restores_and_preserves_history(spark, tmp_path):
    """Rollback re-points at an old file list via a NEW commit: the bad
    snapshot stays inspectable, the rollback is itself revertible, and
    no data files move (pure metadata)."""
    import os as _os

    from yelp_etl_spark.sources.snapshots import snapshot_rollback

    t = str(tmp_path / "tbl")
    s1 = snapshot_write(spark.range(0, 100), t)
    files_before = set(_os.listdir(_os.path.join(t, "data")))
    s2 = snapshot_write(spark.range(0, 3), t)  # the "bad" replace
    s3 = snapshot_rollback(t, s1)
    assert (s1, s2, s3) == (1, 2, 3)
    assert snapshot_read(spark, t).count() == 100       # restored
    assert snapshot_read(spark, t, snapshot_id=s2).count() == 3  # inspectable
    log = {s["snapshot_id"]: s["operation"] for s in snapshots(t)}
    assert log == {1: "replace", 2: "replace", 3: "rollback"}
    # pure metadata: snapshot 3 reuses snapshot 1's files exactly
    from yelp_etl_spark.sources.snapshots import _load_manifest

    assert _load_manifest(t, 3)["files"] == _load_manifest(t, 1)["files"]
    assert files_before <= set(_os.listdir(_os.path.join(t, "data")))
    # rolling back the rollback works too
    s4 = snapshot_rollback(t, s2)
    assert snapshot_read(spark, t).count() == 3 and s4 == 4


def test_bootstrap_crash_orphan_auto_reclaimed(spark, tmp_path):
    """A writer that crashed between publishing manifest 1 and the
    FIRST-EVER pointer swap leaves a table with an orphan manifest and
    no pointer at all. An aged orphan must be reclaimed exactly like
    the pointer-behind case — otherwise every retry fails forever on a
    table that was never committed (the bootstrap snapshot_merge
    replay)."""
    import json as _json
    import time

    from yelp_etl_spark.sources.snapshots import (
        ConcurrentCommitError,
        _manifest_path,
    )

    t = str(tmp_path / "tbl")
    os.makedirs(os.path.dirname(_manifest_path(t, 1)), exist_ok=True)
    with open(_manifest_path(t, 1), "w") as fh:
        _json.dump({"forged": True}, fh)
    # the crashed writer touched the bootstrap marker before its
    # manifest published (the durable record that no pointer has ever
    # existed) — forge that too, it is the state under test
    open(os.path.join(t, "_bootstrap"), "a").close()
    # fresh bootstrap orphan: possible live racer, still loud
    with pytest.raises(ConcurrentCommitError):
        snapshot_write(spark.range(0, 5), t)
    # aged past grace: the replayed first commit self-heals
    old = time.time() - 3600
    os.utime(_manifest_path(t, 1), (old, old))
    assert snapshot_write(spark.range(0, 5), t) == 1
    assert snapshot_read(spark, t).count() == 5
    # the successful pointer swap retires the marker
    assert not os.path.exists(os.path.join(t, "_bootstrap"))


def test_single_snapshot_pointer_loss_never_self_heals(spark, tmp_path):
    """External pointer loss on a COMMITTED one-snapshot table is
    byte-identical to a bootstrap crash except for the durable
    bootstrap marker (retired at first pointer swap). Self-healing
    here would silently overwrite real committed history with the
    retry writer's data — it must stay loud forever, grace or no
    grace (r6 ADVICE)."""
    import time

    from yelp_etl_spark.sources.snapshots import (
        ConcurrentCommitError,
        _manifest_path,
    )

    t = str(tmp_path / "tbl")
    assert snapshot_write(spark.range(0, 5), t) == 1
    os.unlink(os.path.join(t, "_current"))  # the external loss
    old = time.time() - 3600
    os.utime(_manifest_path(t, 1), (old, old))  # well past grace
    with pytest.raises(ConcurrentCommitError):
        snapshot_write(spark.range(100, 103), t)
    # the committed manifest survived untouched
    import json as _json

    assert "forged" not in _json.load(open(_manifest_path(t, 1)))


def test_replace_inherits_parent_partition_spec(spark, tmp_path):
    """mode='replace' without an explicit partition_by keeps the
    table's spec (Iceberg createOrReplace semantics): a plain replace
    on a partitioned table must not silently commit a spec-less
    manifest and de-partition the table."""
    from yelp_etl_spark.sources.snapshots import _load_manifest

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, ["A", "B"][i % 2], float(i)) for i in range(100)],
        "id long, grp string, v double",
    )
    snapshot_write(df, t, mode="replace", partition_by=["grp"])
    s2 = snapshot_write(df.filter("id < 50"), t, mode="replace")
    m2 = _load_manifest(t, s2)
    assert m2.get("partition_by") == ["grp"]
    assert all("partition" in f for f in m2["files"])
    assert snapshot_read(spark, t, partition_filter={"grp": "A"}).count() == 25
    # rewrite (compaction label) inherits too
    s3 = snapshot_write(snapshot_read(spark, t), t, mode="rewrite")
    assert _load_manifest(t, s3).get("partition_by") == ["grp"]


def test_partitioned_snapshot_write_and_pruning(spark, tmp_path):
    """Identity partition spec: each data file holds exactly one
    partition tuple recorded in the manifest (Iceberg-style — the
    partition columns stay IN the files, layout stays flat), and a
    partition_filter read lists only matching files. NULL partitions
    round-trip; pre-spec files are conservatively kept."""
    from yelp_etl_spark.sources.snapshots import _load_manifest

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, ["A", "B", None][i % 3], float(i)) for i in range(300)],
        "id long, grp string, v double",
    )
    s1 = snapshot_write(df, t, mode="replace", partition_by=["grp"])
    m = _load_manifest(t, s1)
    # one tuple per file, all three partitions present
    tuples = {f["partition"]["grp"] for f in m["files"]}
    assert tuples == {"A", "B", None}
    # partition columns still inside the data files
    assert set(snapshot_read(spark, t).columns) == {"id", "grp", "v"}
    assert snapshot_read(spark, t).count() == 300
    # exact pruning: only A-files listed, full A contents back
    a = snapshot_read(spark, t, partition_filter={"grp": "A"})
    assert a.count() == 100
    assert {r.grp for r in a.collect()} == {"A"}
    a_files = [f for f in m["files"] if f["partition"]["grp"] == "A"]
    assert a.rdd.getNumPartitions() <= max(len(a_files), 1) + 1
    # NULL partition addressable
    nulls = snapshot_read(spark, t, partition_filter={"grp": None})
    assert nulls.count() == 100 and {r.grp for r in nulls.collect()} == {None}
    # append without an explicit spec INHERITS the parent's spec (the
    # spec belongs to the table): the appended file gets a partition
    # tuple and pruning stays exact — a plain append must never
    # de-partition the table
    s2 = snapshot_write(
        spark.createDataFrame([(999, "A", 9.9)], "id long, grp string, v double"),
        t,
        mode="append",
    )
    m2 = _load_manifest(t, s2)
    assert m2.get("partition_by") == ["grp"]
    assert all("partition" in f for f in m2["files"])
    assert snapshot_read(spark, t, partition_filter={"grp": "B"}).count() == 100
    assert snapshot_read(spark, t, partition_filter={"grp": "A"}).count() == 101


def test_snapshot_overwrite_partitions_atomic(spark, tmp_path):
    """Dynamic partition overwrite: exactly the delta's partitions are
    replaced in ONE commit — untouched partitions keep their original
    FILES (no rewrite), new partitions append, the pre-overwrite
    snapshot time-travels, and re-running the same publish is
    idempotent."""
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_overwrite_partitions,
    )

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, ["A", "B"][i % 2], float(i)) for i in range(200)],
        "id long, day string, v double",
    )
    s1 = snapshot_write(base, t, mode="replace", partition_by=["day"])
    b_files_before = {
        f["path"]
        for f in _load_manifest(t, s1)["files"]
        if f["partition"]["day"] == "B"
    }
    delta = spark.createDataFrame(
        [(1000, "A", -1.0), (2000, "C", -2.0)], "id long, day string, v double"
    )
    s2 = snapshot_overwrite_partitions(delta, t, ["day"])
    cur = snapshot_read(spark, t)
    assert cur.filter(F.col("day") == "A").count() == 1      # replaced
    assert cur.filter(F.col("day") == "B").count() == 100    # untouched
    assert cur.filter(F.col("day") == "C").count() == 1      # added
    m2 = _load_manifest(t, s2)
    assert m2["operation"] == "overwrite"
    b_files_after = {
        f["path"] for f in m2["files"] if f["partition"]["day"] == "B"
    }
    assert b_files_after == b_files_before  # kept, not rewritten
    assert snapshot_read(spark, t, snapshot_id=s1).count() == 200
    # idempotent replay of the same publish
    s3 = snapshot_overwrite_partitions(delta, t, ["day"])
    assert snapshot_read(spark, t, snapshot_id=s3).count() == 102
    # spec mismatch refuses
    with pytest.raises(ValueError):
        snapshot_overwrite_partitions(delta, t, ["id"])


def test_bucket_transform_spec_hidden_partitioning(spark, tmp_path):
    """bucket(N, col) spec: files are split by pmod(xxhash64(col), N),
    the reader filters on the RAW value (never sees bucket numbers),
    and pruning lists only the matching bucket's files while returning
    exactly the plain-filter content. NULLs land in the null bucket."""
    from yelp_etl_spark.sources.snapshots import _load_manifest

    t = str(tmp_path / "tbl")
    rows = [(i, i % 37, float(i)) for i in range(500)] + [(999, None, 0.0)]
    df = spark.createDataFrame(rows, "id long, k long, v double")
    sid = snapshot_write(df, t, mode="replace", partition_by=["bucket(8, k)"])
    m = _load_manifest(t, sid)
    assert m["partition_by"] == ["bucket(8, k)"]
    buckets = {f["partition"]["k_bucket8"] for f in m["files"]}
    assert None in buckets and len(buckets - {None}) > 1  # spread + null
    # hidden partitioning: filter by raw value
    got = snapshot_read(spark, t, partition_filter={"k": 5})
    want = df.filter(F.col("k") == 5)
    assert got.filter(F.col("k") == 5).count() == want.count()
    # no under-read, and strictly fewer files than the full table
    n_files_probed = got.rdd.getNumPartitions()
    assert {r.k for r in got.collect()} >= {5}
    assert len([f for f in m["files"]]) > n_files_probed or len(buckets) == 1
    # NULL probe hits only the null bucket
    nulls = snapshot_read(spark, t, partition_filter={"k": None})
    assert nulls.count() == 1 and nulls.collect()[0].id == 999
    # dynamic overwrite composes with bucket specs
    from yelp_etl_spark.sources.snapshots import snapshot_overwrite_partitions

    delta = spark.createDataFrame([(10_000, 5, -5.0)], "id long, k long, v double")
    snapshot_overwrite_partitions(delta, t, ["bucket(8, k)"])
    cur = snapshot_read(spark, t)
    # k=5's bucket replaced (its other keys gone), other buckets intact
    assert cur.filter(F.col("k") == 5).count() == 1
    assert cur.filter(F.col("k") == 5).collect()[0].id == 10_000
    assert cur.filter(F.col("k").isNull()).count() == 1
    # a plain replace inherits the bucket spec: the inherited spec is
    # checked against its SOURCE column k, not the field k_bucket8
    sid = snapshot_write(df, t, mode="replace")
    assert _load_manifest(t, sid)["partition_by"] == ["bucket(8, k)"]


def test_metadata_tables(spark, tmp_path):
    """files/history metadata tables reflect the manifest exactly: per
    file rows and partition tuples, and the full commit trail."""
    from yelp_etl_spark.sources.snapshots import (
        snapshot_files_table,
        snapshot_history_table,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, ["A", "B"][i % 2]) for i in range(100)], "id long, g string"
    )
    snapshot_write(df, t, mode="replace", partition_by=["g"])
    snapshot_write(
        spark.createDataFrame([(100, "C")], "id long, g string"), t, mode="append"
    )
    files = snapshot_files_table(spark, t)
    assert files.agg(F.sum("n_rows")).collect()[0][0] == 101
    per_part = {
        r["p"]: r["n"]
        for r in files.groupBy(F.col("partition")["g"].alias("p"))
        .agg(F.sum("n_rows").alias("n"))
        .collect()
    }
    assert per_part["A"] == 50 and per_part["B"] == 50
    # the append inherits the parent spec, so its file carries a tuple
    assert per_part.get("C") == 1
    hist = snapshot_history_table(spark, t).collect()
    assert [(r.snapshot_id, r.operation, r.n_rows) for r in hist] == [
        (1, "replace", 100),
        (2, "append", 101),
    ]


def test_snapshot_layer_model_property_partitioned_ops(spark, tmp_path):
    """Model property over the round-5 surface: every ordered PAIR of
    {partitioned replace, dynamic overwrite, merge-with-delete,
    compact, rollback-to-1} (plus two targeted triples) matches a
    driver-side model at EVERY intermediate snapshot, and the
    partition spec survives every op — a maintenance/merge commit must
    never silently de-partition the table, so an exact
    partition_filter read stays correct at the end of every sequence."""
    import itertools

    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_compact,
        snapshot_merge,
        snapshot_overwrite_partitions,
        snapshot_rollback,
    )

    R0 = [(1, "A", 1.0), (2, "A", 2.0), (3, "B", 3.0), (4, "B", 4.0)]
    D = [(10, "A", 10.0), (20, "C", 20.0)]
    MERGE_SRC = [(1, "A", 99.0, "U"), (3, "B", 0.0, "D"), (30, "B", 30.0, "U")]
    MERGE_UPS = [(1, "A", 99.0), (30, "B", 30.0)]
    MERGE_KEYS = {1, 3, 30}

    ops = ["replace", "overwrite", "merge_del", "compact", "rollback1"]
    seqs = [list(p) for p in itertools.product(ops, repeat=2)]
    seqs += [
        ["overwrite", "compact", "overwrite"],
        ["merge_del", "rollback1", "overwrite"],
    ]

    def apply_op(t, op, model, states):
        if op == "replace":
            snapshot_write(
                spark.createDataFrame(R0, "k long, g string, v double"),
                t,
                mode="replace",
                partition_by=["g"],
            )
            return list(R0)
        if op == "overwrite":
            snapshot_overwrite_partitions(
                spark.createDataFrame(D, "k long, g string, v double"),
                t,
                ["g"],
            )
            if not model:
                return list(D)
            return [r for r in model if r[1] not in {"A", "C"}] + list(D)
        if op == "merge_del":
            snapshot_merge(
                spark,
                spark.createDataFrame(
                    MERGE_SRC, "k long, g string, v double, __op string"
                ),
                t,
                ["k"],
                delete_condition=F.col("__op") == "D",
            )
            if not model:
                return list(MERGE_UPS)
            return [r for r in model if r[0] not in MERGE_KEYS] + list(MERGE_UPS)
        if op == "compact":
            snapshot_compact(spark, t)
            return list(model)
        if op == "rollback1":
            snapshot_rollback(t, 1)
            return list(states[0])
        raise AssertionError(op)

    # a bootstrap merge never declares a spec, so an overwrite after it
    # correctly refuses — pin that, then enumerate only sequences whose
    # first op declares the spec
    t0 = str(tmp_path / "bootstrap")
    snapshot_merge(
        spark,
        spark.createDataFrame(MERGE_SRC, "k long, g string, v double, __op string"),
        t0,
        ["k"],
        delete_condition=F.col("__op") == "D",
    )
    with pytest.raises(ValueError):
        snapshot_overwrite_partitions(
            spark.createDataFrame(D, "k long, g string, v double"), t0, ["g"]
        )

    from concurrent.futures import ThreadPoolExecutor

    # private table dir per sequence → independent; thread pool cuts
    # the enumeration's wall ~4x (same discipline as the unpartitioned
    # model property above)
    def check_seq(arg):
        seq_i, seq = arg
        if seq[0] not in ("replace", "overwrite"):
            return  # need a committed, spec-declaring parent
        t = str(tmp_path / f"tbl{seq_i}")
        model: list[tuple] = []
        states: list[list[tuple]] = []
        for op in seq:
            model = apply_op(t, op, model, states)
            states.append(list(model))
        for sid, expect in enumerate(states, start=1):
            got = sorted(
                (r.k, r.g, r.v)
                for r in snapshot_read(spark, t, snapshot_id=sid).collect()
            )
            assert got == sorted(expect), f"seq={seq} snapshot={sid}"
        # spec survived the whole sequence...
        final = _load_manifest(t, len(states))
        assert final.get("partition_by") == ["g"], f"seq={seq} lost the spec"
        # ...and exact partition pruning still answers correctly
        got_a = sorted(
            (r.k, r.g, r.v)
            for r in snapshot_read(
                spark, t, partition_filter={"g": "A"}
            ).collect()
        )
        assert got_a == sorted(r for r in states[-1] if r[1] == "A"), f"seq={seq}"

    with ThreadPoolExecutor(12) as ex:
        list(ex.map(check_seq, enumerate(seqs)))


def test_partition_filter_renders_values_like_the_writer(spark, tmp_path):
    """Filter values are rendered through Spark's string cast under the
    column's declared type, matching the partition-directory names the
    writer produced — Python str() would render True/'5' where the
    dirs say true/'5.0' and silently prune every file (under-read)."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, True, 5.0), (2, False, 5.0), (3, True, 7.5)],
        "id long, flag boolean, score double",
    )
    snapshot_write(df, t, mode="replace", partition_by=["flag"])
    got = snapshot_read(spark, t, partition_filter={"flag": True})
    assert sorted(r.id for r in got.collect()) == [1, 3]
    assert snapshot_read(spark, t, partition_filter={"flag": False}).count() == 1
    t2 = str(tmp_path / "tbl2")
    snapshot_write(df, t2, mode="replace", partition_by=["score"])
    got2 = snapshot_read(spark, t2, partition_filter={"score": 5.0})
    assert sorted(r.id for r in got2.collect()) == [1, 2]


def test_partition_filter_prunes_every_field_type(spark, tmp_path, spark_jobs):
    """Filter values map to partition values through the writer's own
    spec expressions. For identity fields of type boolean, double, date
    and timestamp, and for a bucket field, a filter on a value or on
    NULL lists fewer files than the table and returns the rows of the
    matching row filter: exactly those for an identity field, and all
    of them among the rest of their bucket for a bucket field. A read
    filtering on an identity and a bucket field submits one Spark job
    while its DataFrame is built."""
    import datetime as dt

    from yelp_etl_spark.sources.snapshots import _load_manifest

    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 2, 29)
    ts1 = dt.datetime(2024, 1, 1, 12, 30, 15, 250000)
    ts2 = dt.datetime(2024, 3, 1)
    typed = spark.createDataFrame(
        [
            (1, True, 5.0, d1, ts1),
            (2, False, 5.0, d2, ts2),
            (3, True, 7.5, d1, ts2),
            (4, None, None, None, None),
            (5, False, 1e20, d2, ts1),
        ],
        "id long, flag boolean, score double, day date, ts timestamp",
    )
    bucketed = spark.createDataFrame(
        [(i, "AB"[i % 2] if i % 7 else None) for i in range(40)]
        + [(None, "A")],
        "id long, g string",
    )
    tables = [
        (typed, ["flag", "score", "day", "ts"], {
            "flag": [True, False, None],
            "score": [5.0, 1e20, None],
            "day": [d1, d2, None],
            "ts": [ts1, ts2, None],
        }),
        (bucketed, ["g", "bucket(4, id)"], {
            "g": ["A", None], "id": [5, None],
        }),
    ]

    def key(r):
        return repr(tuple(r))

    for i, (df, spec, probes) in enumerate(tables):
        t = str(tmp_path / f"tbl{i}")
        sid = snapshot_write(df.repartition(2), t, partition_by=spec)
        n_files = len(_load_manifest(t, sid)["files"])
        for col, values in probes.items():
            for v in values:
                got = snapshot_read(spark, t, partition_filter={col: v})
                cond = F.col(col).isNull() if v is None else F.col(col) == v
                if col not in spec:  # a bucket holds other values too
                    got = got.filter(cond)
                assert sorted(got.collect(), key=key) == sorted(
                    df.filter(cond).collect(), key=key
                ), (col, v)
                assert len(got.inputFiles()) < n_files, (col, v)
    got, n_jobs = spark_jobs(
        lambda: snapshot_read(spark, t, partition_filter={"g": "A", "id": 5})
    )
    assert n_jobs == 1
    cond = (F.col("g") == "A") & (F.col("id") == 5)
    assert got.filter(cond).collect() == bucketed.filter(cond).collect()


def test_empty_string_partition_value_refused(spark, tmp_path):
    """'' and NULL both land in __HIVE_DEFAULT_PARTITION__ in the
    scratch layout, so they would collapse into one manifest tuple —
    the commit refuses '' instead of letting a later dynamic overwrite
    of the '' partition delete the NULL partition's rows."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "x")], "id long, g string"
    )
    with pytest.raises(ValueError, match="empty-string"):
        snapshot_write(df, t, mode="replace", partition_by=["g"])
    # NULLs alone are fine (they ARE the null partition)
    ok = df.filter(F.col("g") != "")
    snapshot_write(
        ok.unionByName(df.filter(F.col("g").isNull())), t,
        mode="replace", partition_by=["g"],
    )
    assert snapshot_read(spark, t).count() == 2


def test_append_inherits_parent_partition_spec(spark, tmp_path):
    """A plain append must NOT de-partition the table: the parent's
    spec carries into the append manifest (and a mismatched or
    parent-less caller spec refuses loudly — no spec evolution)."""
    from yelp_etl_spark.sources.snapshots import _load_manifest

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, g string")
    snapshot_write(df, t, mode="replace", partition_by=["g"])
    s2 = snapshot_write(
        spark.createDataFrame([(3, "a")], "id long, g string"), t, mode="append"
    )
    m = _load_manifest(t, s2)
    assert m.get("partition_by") == ["g"]
    assert all("partition" in f for f in m["files"])
    # pruning still exact across the append
    got = snapshot_read(spark, t, partition_filter={"g": "a"})
    assert sorted(r.id for r in got.collect()) == [1, 3]
    with pytest.raises(ValueError, match="spec"):
        snapshot_write(
            spark.createDataFrame([(4, "c")], "id long, g string"),
            t, mode="append", partition_by=["id"],
        )
    # spec'd append onto a spec-less table also refuses (would mix
    # tuple-less and tupled files in one manifest)
    t2 = str(tmp_path / "tbl2")
    snapshot_write(df, t2, mode="replace")
    with pytest.raises(ValueError, match="spec"):
        snapshot_write(df, t2, mode="append", partition_by=["g"])


def test_rollback_refuses_uncommitted_target(spark, tmp_path):
    """Rolling 'back' to an id beyond the pointer (nonexistent, or a
    crash-orphaned uncommitted manifest) must refuse — it would publish
    a file list that never committed."""
    from yelp_etl_spark.sources.snapshots import snapshot_rollback

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), t)
    with pytest.raises(ValueError, match="not committed"):
        snapshot_rollback(t, 2)


def test_pointer_loss_never_reclaims_history(spark, tmp_path):
    """A table with manifests 1..N but a MISSING pointer (partial
    restore, external deletion) is NOT a bootstrap crash: reclaiming
    manifest 1 would clobber real history and orphan snapshots 2..N.
    The writer must stay loud no matter how old manifest 1 is."""
    import time

    from yelp_etl_spark.sources.snapshots import (
        ConcurrentCommitError,
        _manifest_path,
        _load_manifest,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 5), t)
    snapshot_write(spark.range(5, 8), t, mode="append")
    m1_before = _load_manifest(t, 1)
    os.remove(os.path.join(t, "_current"))  # simulate pointer loss
    old = time.time() - 3600
    os.utime(_manifest_path(t, 1), (old, old))
    os.utime(_manifest_path(t, 2), (old, old))
    with pytest.raises(ConcurrentCommitError):
        snapshot_write(spark.range(0, 9), t)
    # history untouched: manifest 1 is byte-identical, manifest 2 alive
    assert _load_manifest(t, 1) == m1_before
    assert _load_manifest(t, 2)["snapshot_id"] == 2


def test_replace_with_missing_spec_column_raises_curated(spark, tmp_path):
    """replace inheriting the table spec onto a schema that dropped
    the partition source column must fail with the curated error
    naming the partition_by=[] escape, not a raw AnalysisException;
    partition_by=[] then de-partitions deliberately."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, ["A", "B"][i % 2]) for i in range(20)], "id long, grp string"
    )
    snapshot_write(df, t, mode="replace", partition_by=["grp"])
    with pytest.raises(ValueError, match="partition_by=\\[\\]"):
        snapshot_write(df.select("id"), t, mode="replace")
    sid = snapshot_write(df.select("id"), t, mode="replace", partition_by=[])
    assert snapshot_read(spark, t, snapshot_id=sid).columns == ["id"]


def test_bloom_sidecar_point_lookup_skips_files(spark, tmp_path):
    """bloom_columns on write + point_filter on read: a point lookup
    touches a small subset of files, never loses a row (no false
    negatives), and sidecar-less files are conservatively kept."""
    from yelp_etl_spark.sources.snapshots import _load_manifest

    t = str(tmp_path / "tbl")
    df = spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).repartition(16, "k")
    snapshot_write(df, t, bloom_columns=["k"])
    m = _load_manifest(t, 1)
    assert all("bloom" in f and "k" in f["bloom"] for f in m["files"])
    total = len(m["files"])
    assert total >= 8

    # correctness first: every present key returns its row
    for key in (0, 1, 9999, 19_999):
        got = (
            snapshot_read(spark, t, point_filter={"k": key})
            .filter(F.col("k") == key)
            .collect()
        )
        assert [(r.k, r.v) for r in got] == [(key, key % 97)]
    # skipping: a single key lives in ONE file; its bloom keeps few
    from yelp_etl_spark.sources import snapshots as S
    from yelp_etl_spark.functions.integrity import py_bit_positions

    def kept_files(key):
        n = 0
        for f in m["files"]:
            side = f["bloom"]["k"]
            ok = all(
                side["w"].get(str(b // 32), 0) & (1 << (b % 32))
                for b in py_bit_positions(key, side["b"], side["k"])
            )
            n += ok
        return n

    assert kept_files(12345) <= max(2, total // 4)
    # absent key: almost always zero files -> empty frame, full schema
    absent = snapshot_read(spark, t, point_filter={"k": 10**12 + 7})
    assert absent.columns == ["k", "v"]
    assert kept_files(10**12 + 7) <= 2  # FP-bounded


def test_bloom_sidecar_inherited_on_append_and_typed(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    snapshot_write(df, t, bloom_columns=["k"])
    # append inherits the sidecar spec like the partition spec
    snapshot_write(
        spark.range(100, 200).select(F.col("id").alias("k")), t, mode="append"
    )
    from yelp_etl_spark.sources.snapshots import _load_manifest

    m = _load_manifest(t, 2)
    assert m.get("bloom_columns") == ["k"]
    assert all("bloom" in f for f in m["files"])
    # floats are refused: the to-string rendering is not engine-stable
    fdf = spark.range(0, 10).select(F.col("id").cast("double").alias("x"))
    with pytest.raises(ValueError, match="integer or string"):
        snapshot_write(fdf, str(tmp_path / "t2"), bloom_columns=["x"])


def test_bloom_spec_survives_replace_and_overwrite(spark, tmp_path):
    """bloom_columns is a table property: replace/rewrite and dynamic
    partition overwrite inherit it (sidecars keep being built), a
    schema that drops the column refuses loudly, and bloom_columns=[]
    disables deliberately."""
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        _read_pointer,
        snapshot_overwrite_partitions,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, ["A", "B"][i % 2]) for i in range(40)], "k long, grp string"
    )
    snapshot_write(df, t, partition_by=["grp"], bloom_columns=["k"])
    # plain replace inherits the sidecar spec
    snapshot_write(df, t, mode="replace")
    m2 = _load_manifest(t, 2)
    assert m2.get("bloom_columns") == ["k"]
    assert all("bloom" in f for f in m2["files"])
    # dynamic partition overwrite keeps building sidecars too
    snapshot_overwrite_partitions(df.filter("grp = 'A'"), t, ["grp"])
    m3 = _load_manifest(t, 3)
    assert m3.get("bloom_columns") == ["k"]
    assert all("bloom" in f for f in m3["files"])
    # an overwrite batch without the bloom column refuses before any
    # data file lands
    n_files = len(os.listdir(os.path.join(t, "data")))
    with pytest.raises(ValueError, match="bloom_columns"):
        snapshot_overwrite_partitions(
            df.filter("grp = 'B'").select("grp"), t, ["grp"]
        )
    assert len(os.listdir(os.path.join(t, "data"))) == n_files
    assert _read_pointer(t) == 3
    # dropping the source column refuses with the [] escape named
    with pytest.raises(ValueError, match="bloom_columns=\\[\\]"):
        snapshot_write(df.select("grp"), t, mode="replace")
    snapshot_write(df, t, mode="replace", bloom_columns=[])
    assert _load_manifest(t, 4).get("bloom_columns") is None


def test_point_filter_null_value_keeps_all_files(spark, tmp_path):
    """A NULL point lookup must never fabricate false negatives: the
    sidecar records no NULL membership, so every file is kept."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, "c")], "k long, v string"
    )
    snapshot_write(df, t, bloom_columns=["k"])
    got = (
        snapshot_read(spark, t, point_filter={"k": None})
        .filter(F.col("k").isNull())
        .collect()
    )
    assert [(r.k, r.v) for r in got] == [(None, "b")]


# ---------------------------------------------------------------------------
# merge-on-read equality deletes (snapshot_mor_delete)
# ---------------------------------------------------------------------------


def test_mor_delete_masks_rows_without_rewriting_files(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_mor_delete,
    )

    t = str(tmp_path / "tbl")
    s1 = snapshot_write(spark.range(0, 100), t)
    dels = spark.range(0, 100).filter(F.col("id") % 10 == 0)
    s2 = snapshot_mor_delete(spark, t, dels, ["id"])
    # rows masked at read time
    got = {r["id"] for r in snapshot_read(spark, t).collect()}
    assert got == {i for i in range(100) if i % 10 != 0}
    # time travel to the parent still sees everything
    assert snapshot_read(spark, t, snapshot_id=s1).count() == 100
    # the DATA file list is byte-identical — nothing was rewritten
    m1 = _load_manifest(t, s1)
    m2 = _load_manifest(t, s2)
    assert [f["path"] for f in m1["files"]] == [
        f["path"] for f in m2["files"]
    ]
    assert m2["operation"] == "delete"
    assert m2["delete_files"][0]["count"] == 10


def test_mor_delete_then_reinsert_is_visible(spark, tmp_path):
    """Sequence-number semantics: a delete applies only to data files
    with a strictly smaller seq — a later append re-inserting the same
    key is NOT masked (the Iceberg v2 equality-delete rule)."""
    from yelp_etl_spark.sources.snapshots import snapshot_mor_delete

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(0, 10).withColumn("v", F.lit("old")), t
    )
    snapshot_mor_delete(spark, t, spark.range(3, 5), ["id"])
    assert snapshot_read(spark, t).count() == 8
    # re-insert id=3 with a new value
    snapshot_write(
        spark.createDataFrame([(3, "new")], "id long, v string"),
        t,
        mode="append",
    )
    rows = {r["id"]: r["v"] for r in snapshot_read(spark, t).collect()}
    assert rows[3] == "new"  # re-inserted row survives the older delete
    assert 4 not in rows  # still deleted
    assert len(rows) == 9


def test_mor_delete_accumulates_and_append_inherits(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import snapshot_mor_delete

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 20), t)
    snapshot_mor_delete(spark, t, spark.range(0, 3), ["id"])
    snapshot_write(spark.range(20, 25), t, mode="append")
    snapshot_mor_delete(spark, t, spark.range(10, 12), ["id"])
    got = {r["id"] for r in snapshot_read(spark, t).collect()}
    assert got == set(range(3, 10)) | set(range(12, 25))


def test_compact_materializes_and_resets_deletes(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_compact,
        snapshot_mor_delete,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 50), t)
    snapshot_mor_delete(spark, t, spark.range(0, 5), ["id"])
    s3 = snapshot_compact(spark, t)
    m = _load_manifest(t, s3)
    assert not m.get("delete_files")  # rewrite resets the delete list
    assert snapshot_read(spark, t).count() == 45
    # content identical before/after compaction
    assert snapshot_read(spark, t, snapshot_id=2).count() == 45


def test_vacuum_keeps_referenced_delete_files(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import snapshot_mor_delete

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 30), t)
    snapshot_mor_delete(spark, t, spark.range(0, 7), ["id"])
    assert vacuum(t) == 0  # delete file is live — nothing collected
    assert snapshot_read(spark, t).count() == 23
    # replace drops the MOR state; expire+vacuum then reclaims the
    # delete file along with the old data files
    snapshot_write(spark.range(0, 3), t, mode="replace")
    expire_snapshots(t, keep_last=1)
    assert vacuum(t) > 0
    assert snapshot_read(spark, t).count() == 3


def test_mor_delete_changelog_shows_removed_rows(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import (
        snapshot_changes,
        snapshot_mor_delete,
    )

    t = str(tmp_path / "tbl")
    s1 = snapshot_write(
        spark.range(0, 10).withColumn("v", F.col("id") * 2), t
    )
    s2 = snapshot_mor_delete(spark, t, spark.range(4, 6), ["id"])
    ch = snapshot_changes(spark, t, s1, s2, ["id"], ["v"])
    kinds = {r["id"]: r["diff_status"] for r in ch.collect()}
    assert kinds[4] == "removed" and kinds[5] == "removed"
    assert sum(1 for c in kinds.values() if c == "removed") == 2


def test_mor_delete_requires_key_columns_and_parent(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import snapshot_mor_delete

    t = str(tmp_path / "tbl")
    with pytest.raises(FileNotFoundError):
        snapshot_mor_delete(spark, t, spark.range(3), ["id"])
    snapshot_write(spark.range(5), t)
    with pytest.raises(ValueError, match="key column"):
        snapshot_mor_delete(spark, t, spark.range(3), ["nope"])


def test_rollback_restores_mor_deletes_and_bloom(spark, tmp_path):
    """Rollback restores the table STATE: dropping delete_files would
    resurrect erased rows; dropping bloom_columns would silently stop
    sidecar builds."""
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_mor_delete,
        snapshot_rollback,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(0, 20).withColumn("k", F.col("id")),
        t,
        bloom_columns=["k"],
    )
    s2 = snapshot_mor_delete(spark, t, spark.range(0, 5), ["id"])
    snapshot_write(spark.range(100, 103).withColumn("k", F.col("id")), t)
    s4 = snapshot_rollback(t, s2)
    assert snapshot_read(spark, t).count() == 15  # deletes still apply
    m = _load_manifest(t, s4)
    assert m.get("delete_files") and m.get("bloom_columns") == ["k"]


def test_dynamic_overwrite_carries_deletes_and_stamps_seq(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_mor_delete,
        snapshot_overwrite_partitions,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("p")
    )
    snapshot_write(df, t, partition_by=["p"])
    # MOR-delete ids 0..4 (both partitions affected)
    snapshot_mor_delete(spark, t, spark.range(0, 5), ["id"])
    # overwrite ONLY partition '1' with fresh rows, including id 1
    # and 3 (previously deleted): new files must NOT be masked
    repl = spark.createDataFrame(
        [(1, "1"), (3, "1"), (101, "1")], "id long, p string"
    )
    s3 = snapshot_overwrite_partitions(repl, t, ["p"])
    got = {r["id"] for r in snapshot_read(spark, t).collect()}
    # partition '0' keeps its MOR deletes (0,2,4 gone, evens 6..18
    # stay); partition '1' is fully replaced by {1, 3, 101} — old odd
    # rows gone, the re-inserted previously-deleted 1 and 3 visible
    assert got == {i for i in range(6, 20, 2)} | {1, 3, 101}
    m = _load_manifest(t, s3)
    assert m.get("delete_files")
    new_entries = [f for f in m["files"] if f.get("seq") == s3]
    assert new_entries  # fresh files stamped with this commit's seq


# ---------------------------------------------------------------------------
# write-audit-publish staging + tags (refs)
# ---------------------------------------------------------------------------


def test_wap_stage_is_invisible_until_publish(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import snapshot_publish

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 50), t)
    sid = snapshot_write(spark.range(0, 10), t, publish=False)
    # default readers still resolve the committed snapshot
    assert snapshot_read(spark, t).count() == 50
    # the audit reads the staged snapshot by explicit id
    assert snapshot_read(spark, t, snapshot_id=sid).count() == 10
    assert [s["snapshot_id"] for s in snapshots(t)] == [1]  # not listed
    snapshot_publish(t, sid)
    assert snapshot_read(spark, t).count() == 10
    assert [s["snapshot_id"] for s in snapshots(t)] == [1, 2]


def test_wap_stage_blocks_commits_until_resolved(spark, tmp_path):
    import pytest as _pt

    from yelp_etl_spark.sources.snapshots import (
        ConcurrentCommitError,
        snapshot_abandon,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 20), t)
    sid = snapshot_write(spark.range(0, 5), t, publish=False)
    with _pt.raises(ConcurrentCommitError, match="STAGED"):
        snapshot_write(spark.range(0, 3), t)
    snapshot_abandon(t, sid)
    assert snapshot_write(spark.range(0, 3), t) == 2
    assert snapshot_read(spark, t).count() == 3


def test_wap_staged_files_survive_vacuum_until_abandoned(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import snapshot_abandon

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 20), t)
    sid = snapshot_write(spark.range(100, 140), t, publish=False)
    assert vacuum(t) == 0  # staged data files are live
    assert snapshot_read(spark, t, snapshot_id=sid).count() == 40
    snapshot_abandon(t, sid)
    assert vacuum(t) > 0  # now unreferenced
    assert snapshot_read(spark, t).count() == 20


def test_wap_orphan_sweep_skips_staged(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import (
        remove_orphaned_manifests,
        snapshot_publish,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 9), t)
    sid = snapshot_write(spark.range(0, 4), t, publish=False)
    assert remove_orphaned_manifests(t) == []  # staged is not litter
    snapshot_publish(t, sid)
    assert snapshot_read(spark, t).count() == 4


def test_wap_publish_validations(spark, tmp_path):
    import pytest as _pt

    from yelp_etl_spark.sources.snapshots import snapshot_publish

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 5), t)
    with _pt.raises(FileNotFoundError):
        snapshot_publish(t, 9)
    with _pt.raises(ValueError, match="not staged"):
        snapshot_publish(t, 1)  # committed, not staged


def test_tags_pin_snapshots_through_expire(spark, tmp_path):
    from yelp_etl_spark.sources.snapshots import (
        resolve_tag,
        snapshot_drop_tag,
        snapshot_tag,
        snapshot_tags,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 30), t)
    snapshot_tag(t, "v1")
    snapshot_write(spark.range(0, 7), t)
    snapshot_write(spark.range(0, 3), t)
    assert snapshot_tags(t) == {"v1": 1}
    # expire keeps the tagged snapshot alive alongside the newest
    expired = expire_snapshots(t, keep_last=1)
    assert 1 not in expired and 2 in expired
    assert vacuum(t) > 0  # snapshot 2's files reclaimed
    assert snapshot_read(spark, t, snapshot_id=resolve_tag(t, "v1")).count() == 30
    assert snapshot_read(spark, t).count() == 3
    # dropping the tag releases it for the next expire
    snapshot_drop_tag(t, "v1")
    assert expire_snapshots(t, keep_last=1) == [1]


def test_tag_moves_atomically_and_validates(spark, tmp_path):
    import pytest as _pt

    from yelp_etl_spark.sources.snapshots import resolve_tag, snapshot_tag

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 5), t)
    snapshot_tag(t, "latest")
    snapshot_write(spark.range(0, 6), t)
    snapshot_tag(t, "latest")  # move
    assert resolve_tag(t, "latest") == 2
    with _pt.raises(ValueError, match="tag name"):
        snapshot_tag(t, "bad/name")
    with _pt.raises(FileNotFoundError):
        snapshot_tag(t, "ghost", snapshot_id=99)


def test_publish_is_idempotent_after_pointer_swap_crash(spark, tmp_path):
    """Crash window: pointer swapped, staged flag not yet cleared —
    retrying publish must finish cleanly, and the snapshot is already
    readable (pointer-first ordering)."""
    import json
    import os

    from yelp_etl_spark.sources.snapshots import (
        _manifest_path,
        snapshot_publish,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 8), t)
    sid = snapshot_write(spark.range(0, 3), t, publish=False)
    # simulate the crash: swap the pointer by hand, leave flag staged
    with open(os.path.join(t, "_current"), "w") as fh:
        fh.write(str(sid))
    assert snapshot_read(spark, t).count() == 3  # already committed
    assert snapshot_publish(t, sid) == sid  # retry converges
    assert not json.load(open(_manifest_path(t, sid))).get("staged")


def test_drop_tag_rejects_traversal(spark, tmp_path):
    import pytest as _pt

    from yelp_etl_spark.sources.snapshots import (
        snapshot_drop_tag,
        snapshot_tag,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 4), t)
    snapshot_tag(t, "v1")
    with _pt.raises(ValueError, match="tag name"):
        snapshot_drop_tag(t, "../_current")
    assert snapshot_read(spark, t).count() == 4  # pointer intact


def test_tag_refuses_staged_snapshot(spark, tmp_path):
    import pytest as _pt

    from yelp_etl_spark.sources.snapshots import snapshot_tag

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 4), t)
    sid = snapshot_write(spark.range(0, 2), t, publish=False)
    with _pt.raises(ValueError, match="not committed"):
        snapshot_tag(t, "ghost", snapshot_id=sid)


def test_spec_evolution_metadata_only_and_mixed_reads(spark, tmp_path):
    """snapshot_evolve_spec re-specs without touching data files; new
    appends lay out under the new spec; partition_filter on the new
    column prunes exactly the post-evolution files and conservatively
    keeps pre-evolution ones; dynamic overwrite refuses the mix."""
    import os

    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_evolve_spec,
        snapshot_overwrite_partitions,
        snapshot_read,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, ["A", "B"][i % 2], ["X", "Y"][(i // 2) % 2]) for i in range(40)],
        "id long, g string, h string",
    )
    snapshot_write(df.filter("id < 20"), t, mode="replace", partition_by=["g"])
    m1 = _load_manifest(t, 1)
    s2 = snapshot_evolve_spec(t, ["h"])
    m2 = _load_manifest(t, s2)
    # pure metadata: same file list, new spec, evolve-spec op
    assert m2["files"] == m1["files"]
    assert m2["partition_by"] == ["h"] and m2["operation"] == "evolve-spec"
    # append under the (inherited) new spec
    snapshot_write(df.filter("id >= 20"), t, mode="append")
    m3 = _load_manifest(t, 3)
    new_files = [f for f in m3["files"] if f not in m1["files"]]
    assert new_files and all("h" in f["partition"] for f in new_files)
    assert all("h" not in f["partition"] for f in m1["files"])

    # content stays exact under both filters (row filter gives row
    # semantics; the partition_filter is pruning only)
    got_h = snapshot_read(spark, t, partition_filter={"h": "X"}).filter(
        "h = 'X'"
    )
    assert got_h.count() == df.filter("h = 'X'").count()
    got_g = snapshot_read(spark, t, partition_filter={"g": "A"}).filter(
        "g = 'A'"
    )
    assert got_g.count() == df.filter("g = 'A'").count()

    # pruning shape: filtering on h drops post-evolution files of the
    # other h-partition but keeps every pre-evolution file
    kept = [
        f
        for f in m3["files"]
        if "h" not in f["partition"] or f["partition"]["h"] == "X"
    ]
    assert len(kept) < len(m3["files"])

    # dynamic overwrite refuses the mixed-spec table loudly
    import pytest as _pt

    with _pt.raises(ValueError, match="pre-evolution or tuple-less"):
        snapshot_overwrite_partitions(
            df.filter("id >= 35"), t, ["h"]
        )

    # evolving to the same spec is a no-op error; to a missing column loud
    with _pt.raises(ValueError, match="nothing to evolve"):
        snapshot_evolve_spec(t, ["h"])
    with _pt.raises(ValueError, match="absent from the table schema"):
        snapshot_evolve_spec(t, ["nope"])


def test_cluster_compact_files_cover_disjoint_ranges(spark, tmp_path):
    """cluster_by compaction must produce files whose [min,max] cents
    ranges are pairwise disjoint (the zone-map payoff), preserve
    content exactly, and stay deterministic across reruns."""
    import os

    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_compact,
        snapshot_read,
        snapshot_write,
    )

    df = spark.createDataFrame(
        [(i, (i * 7919) % 10007) for i in range(4000)], "id long, v long"
    )
    t = str(tmp_path / "tbl")
    snapshot_write(df.repartition(13), t, mode="replace")
    total = sum(
        os.path.getsize(os.path.join(t, f["path"]))
        for f in _load_manifest(t, 1)["files"]
    )
    s2 = snapshot_compact(
        spark, t, target_file_bytes=total // 4 + 1, cluster_by="v"
    )
    m = _load_manifest(t, s2)
    ranges = sorted(
        (f["min"]["v"], f["max"]["v"]) for f in m["files"]
    )
    assert len(ranges) == 4
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges {ranges}"
    # content identical
    assert snapshot_read(spark, t).count() == 4000
    got = sorted(r.v for r in snapshot_read(spark, t).collect())
    assert got == sorted(((i * 7919) % 10007) for i in range(4000))
    # deterministic relayout: rerun from the same snapshot → same ranges
    s3 = snapshot_compact(
        spark, t, target_file_bytes=total // 4 + 1, cluster_by="v"
    )
    assert sorted(
        (f["min"]["v"], f["max"]["v"])
        for f in _load_manifest(t, s3)["files"]
    ) == ranges


def test_spec_evolution_accepts_bucket_transforms(spark, tmp_path):
    """Evolving to a bucket(N, col) spec must validate the SOURCE
    column, not the derived field name (regression: every bucket spec
    was falsely rejected)."""
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_evolve_spec,
        snapshot_read,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, ["A", "B"][i % 2]) for i in range(20)], "id long, g string"
    )
    snapshot_write(df, t, mode="replace", partition_by=["g"])
    s2 = snapshot_evolve_spec(t, ["bucket(4, id)"])
    assert _load_manifest(t, s2)["partition_by"] == ["bucket(4, id)"]
    snapshot_write(
        spark.createDataFrame([(100, "C")], "id long, g string"),
        t,
        mode="append",
    )
    assert snapshot_read(spark, t).count() == 21


def test_cluster_compact_rejects_empty_and_buckets_nulls(spark, tmp_path):
    """ADVICE r7: cluster_by compaction must raise cleanly on a table
    with no clusterable values (min/max NULL), and NULL cluster values
    must land in the dedicated bottom bucket, not silently mix into
    the top value-range file."""
    import pytest as _pytest

    from yelp_etl_spark.sources.snapshots import (
        snapshot_compact,
        snapshot_read,
        snapshot_write,
    )

    empty = str(tmp_path / "empty")
    snapshot_write(spark.createDataFrame([], "x int, y int"), empty)
    with _pytest.raises(ValueError, match="no non-NULL values"):
        snapshot_compact(spark, empty, cluster_by="x")

    allnull = str(tmp_path / "allnull")
    snapshot_write(
        spark.createDataFrame([(None, 1), (None, 2)], "x int, y int"), allnull
    )
    with _pytest.raises(ValueError, match="no non-NULL values"):
        snapshot_compact(spark, allnull, cluster_by="x")

    mixed = str(tmp_path / "mixed")
    rows = [(None, 1), (5, 2), (100, 3), (None, 4), (7, 5), (93, 6)]
    snapshot_write(spark.createDataFrame(rows, "x int, y int"), mixed)
    snapshot_compact(spark, mixed, target_file_bytes=900, cluster_by="x")
    back = snapshot_read(spark, mixed)
    key = lambda t: (t[0] is not None, t[0] or 0, t[1])
    assert sorted(((r.x, r.y) for r in back.collect()), key=key) == sorted(
        rows, key=key
    )
    # NULLs share the file of the LOWEST values (bucket 0), never the top
    import os as _os

    from yelp_etl_spark.sources.snapshots import _load_manifest, _read_pointer

    manifest = _load_manifest(mixed, _read_pointer(mixed))
    by_file = {}
    for f in manifest["files"]:
        df = spark.read.parquet(_os.path.join(mixed, f["path"]))
        by_file[f["path"]] = [r.x for r in df.collect()]
    null_files = {p for p, xs in by_file.items() if None in xs}
    top_file = max(
        by_file, key=lambda p: max((x for x in by_file[p] if x is not None), default=-1)
    )
    if len(by_file) > 1:
        assert top_file not in null_files


def test_three_way_merge_branch_back(spark, tmp_path):
    """WAP merge-publish: base → ours (main advances) and theirs
    (staged branch) diverge; the 3-way merge applies both sides'
    non-conflicting changes and resolves true conflicts by policy."""
    import pytest as _pytest

    from yelp_etl_spark.sources.snapshots import (
        snapshot_merge_3way,
        snapshot_read,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    base_rows = [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]
    base_id = snapshot_write(
        spark.createDataFrame(base_rows, "k long, v string"), t
    )
    # ours (main): update k1, delete k2, insert k6, update k5 -> 'same'
    ours_rows = [(1, "a-main"), (3, "c"), (4, "d"), (5, "same"), (6, "f")]
    ours_id = snapshot_write(
        spark.createDataFrame(ours_rows, "k long, v string"), t
    )
    # theirs (branch off base): update k3, delete k4, insert k7,
    # update k5 -> 'same' (identical change: NOT a conflict),
    # update k1 -> 'a-branch' (true conflict with ours)
    theirs_rows = [
        (1, "a-branch"), (2, "b"), (3, "c-br"), (5, "same"), (7, "g"),
    ]
    theirs_id = snapshot_write(
        spark.createDataFrame(theirs_rows, "k long, v string"), t,
        publish=False,
    )

    snapshot_merge_3way(
        spark, t, base_id, ours_id, theirs_id, ["k"], on_conflict="theirs"
    )
    got = sorted(map(tuple, snapshot_read(spark, t).collect()))
    assert got == [
        (1, "a-branch"),  # conflict -> theirs
        # k2 deleted by ours (branch untouched) -> gone
        (3, "c-br"),      # branch update applies
        # k4 deleted by branch -> gone
        (5, "same"),      # identical both-side change: no conflict
        (6, "f"),         # main insert survives
        (7, "g"),         # branch insert survives
    ]

    # ours-wins policy flips only the conflicting key
    t2 = str(tmp_path / "tbl2")
    b2 = snapshot_write(spark.createDataFrame(base_rows, "k long, v string"), t2)
    o2 = snapshot_write(spark.createDataFrame(ours_rows, "k long, v string"), t2)
    t2id = snapshot_write(
        spark.createDataFrame(theirs_rows, "k long, v string"), t2,
        publish=False,
    )
    # fail policy raises with the conflict count BEFORE consuming the
    # staged branch (so the branch survives for a later retry/resolve)
    with _pytest.raises(ValueError, match="1 conflicting"):
        snapshot_merge_3way(spark, t2, b2, o2, t2id, ["k"], on_conflict="fail")
    snapshot_merge_3way(spark, t2, b2, o2, t2id, ["k"], on_conflict="ours")
    got2 = sorted(map(tuple, snapshot_read(spark, t2).collect()))
    assert (1, "a-main") in got2 and (1, "a-branch") not in got2


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """A shallow clone references the source's files without copying,
    diverges independently, and each side's vacuum never touches the
    other's data."""
    import os as _os

    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        _read_pointer,
        snapshot_clone,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
        vacuum,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    rows = [(k, k * 10) for k in range(1, 9)]
    snapshot_write(spark.createDataFrame(rows, "k long, v long"), src)
    src_data_files = set(_os.listdir(_os.path.join(src, "data")))

    snapshot_clone(src, dst)
    # zero-copy: the clone holds NO data files of its own yet
    assert not _os.path.isdir(_os.path.join(dst, "data")) or not _os.listdir(
        _os.path.join(dst, "data")
    )
    assert sorted(map(tuple, snapshot_read(spark, dst).collect())) == rows
    m = _load_manifest(dst, _read_pointer(dst))
    assert m["operation"] == "clone"
    assert all(_os.path.isabs(e["path"]) for e in m["files"])

    # diverge the clone: source must not move
    snapshot_merge(
        spark,
        spark.createDataFrame([(1, 999), (9, 90)], "k long, v long"),
        dst,
        ["k"],
    )
    got_dst = sorted(map(tuple, snapshot_read(spark, dst).collect()))
    assert (1, 999) in got_dst and (9, 90) in got_dst
    assert sorted(map(tuple, snapshot_read(spark, src).collect())) == rows
    # the clone's own vacuum sweeps only its own dir; source intact
    vacuum(dst)
    assert set(_os.listdir(_os.path.join(src, "data"))) == src_data_files
    assert sorted(map(tuple, snapshot_read(spark, src).collect())) == rows
    # cloning onto an existing table refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already has a table"):
        snapshot_clone(src, dst)


def test_binpack_rewrites_only_small_files(spark, tmp_path):
    """Selective binpack: small files merge, files at target size carry
    over with byte-identical manifest entries, content is preserved."""
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        _read_pointer,
        snapshot_binpack,
        snapshot_read,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    # one "big" file (many distinct rows in one partition — distinct
    # payloads so parquet compression can't shrink it under threshold)
    big_rows = [(k, f"{k:064d}") for k in range(20000)]
    snapshot_write(
        spark.createDataFrame(big_rows, "k long, v string").repartition(1), t
    )
    # ... plus several micro-appends (streaming-sink shape)
    for i in range(4):
        snapshot_write(
            spark.createDataFrame(
                [(10_000 + i, "tiny")], "k long, v string"
            ).repartition(1),
            t,
            mode="append",
        )
    before = _load_manifest(t, _read_pointer(t))
    import os as _os

    sizes = {
        e["path"]: _os.path.getsize(_os.path.join(t, e["path"]))
        for e in before["files"]
    }
    big_paths = {p for p, s in sizes.items() if s >= 20_000}
    assert len(before["files"]) == 5 and big_paths  # 1 big + 4 tiny

    snapshot_binpack(spark, t, small_file_bytes=20_000)
    after = _load_manifest(t, _read_pointer(t))
    after_paths = {e["path"] for e in after["files"]}
    # untouched big file carried byte-identically; tiny files merged
    assert big_paths <= after_paths
    assert len(after["files"]) < len(before["files"])
    assert after["operation"] == "rewrite"
    got = snapshot_read(spark, t)
    assert got.count() == 20004
    assert got.filter("v = 'tiny'").count() == 4
    # idempotent-ish: a second pass with one merged small file is a no-op
    sid = _read_pointer(t)
    assert snapshot_binpack(spark, t, small_file_bytes=20_000) == sid


def test_binpack_applies_pending_deletes(spark, tmp_path):
    """binpack reads its small files through the pending merge-on-read
    deletes: the rewrite holds only live rows under the new sequence
    number, and the carried big files keep the delete files that mask
    them. Deleted keys stay deleted (in a big file and in a small
    one), and a key re-inserted after its delete survives."""
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        _read_pointer,
        snapshot_binpack,
        snapshot_mor_delete,
    )

    t = str(tmp_path / "tbl")
    schema = "k long, part string, v string"
    # one big file per partition (distinct payloads so parquet
    # compression cannot shrink it under the threshold)
    snapshot_write(
        spark.createDataFrame(
            [(k, "ab"[k % 2], f"{k:064d}") for k in range(20000)], schema
        ).repartition(1),
        t,
        partition_by=["part"],
    )

    def small(*ks):
        return spark.createDataFrame(
            [(k, "ab"[k % 2], "tiny") for k in ks], schema
        ).repartition(1)

    snapshot_write(small(30_001, 30_002), t, mode="append")
    snapshot_mor_delete(
        spark, t, spark.createDataFrame([(4,), (5,), (30_001,)], "k long"),
        ["k"],
    )
    snapshot_write(small(5), t, mode="append")  # re-insert a deleted key
    for k in (30_003, 30_004, 30_005):
        snapshot_write(small(k), t, mode="append")
    before = _load_manifest(t, _read_pointer(t))
    want = sorted(map(tuple, snapshot_read(spark, t).collect()))
    big_paths = {
        e["path"] for e in before["files"]
        if os.path.getsize(os.path.join(t, e["path"])) >= 20_000
    }
    assert len(big_paths) == 2 and before["delete_files"]

    sid = snapshot_binpack(spark, t, small_file_bytes=20_000)
    after = _load_manifest(t, sid)
    assert after["operation"] == "rewrite"
    assert after["delete_files"] == before["delete_files"]
    assert big_paths <= {e["path"] for e in after["files"]}
    assert len(after["files"]) < len(before["files"])
    got = sorted(map(tuple, snapshot_read(spark, t).collect()))
    assert got == want
    keys = [r[0] for r in got]
    assert 4 not in keys and 30_001 not in keys
    assert [r for r in got if r[0] == 5] == [(5, "b", "tiny")]


def test_clone_supports_mor_deletes_on_borrowed_files(spark, tmp_path):
    """Review fix: borrowed file entries keep source sequence numbers
    and the clone's history starts at the source's counter, so a
    merge-on-read delete committed ON THE CLONE masks borrowed files
    (seq strictly smaller) instead of silently not applying."""
    from yelp_etl_spark.sources.snapshots import (
        snapshot_clone,
        snapshot_mor_delete,
        snapshot_read,
        snapshot_write,
    )

    src = str(tmp_path / "src")
    # advance the source a few snapshots so file seqs are > 1
    snapshot_write(spark.createDataFrame([(1, 10)], "k long, v long"), src)
    snapshot_write(
        spark.createDataFrame([(2, 20)], "k long, v long"), src, mode="append"
    )
    snapshot_write(
        spark.createDataFrame([(3, 30)], "k long, v long"), src, mode="append"
    )
    dst = str(tmp_path / "dst")
    snapshot_clone(src, dst)
    snapshot_mor_delete(
        spark, dst, spark.createDataFrame([(2,)], "k long"), ["k"]
    )
    got = sorted(map(tuple, snapshot_read(spark, dst).collect()))
    assert got == [(1, 10), (3, 30)], got
    # and the source is untouched
    assert sorted(map(tuple, snapshot_read(spark, src).collect())) == [
        (1, 10), (2, 20), (3, 30),
    ]


def test_three_way_merge_honors_added_columns_and_null_shifts(spark, tmp_path):
    """Review fixes: (a) a column added on main after the base survives
    the merge (union schema, not base's projection); (b) an edit that
    moves a value between same-typed columns around a NULL is detected
    (null-safe struct comparison, not xxhash64)."""
    from yelp_etl_spark.sources.snapshots import (
        snapshot_merge_3way,
        snapshot_read,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    base_id = snapshot_write(
        spark.createDataFrame(
            [(1, "x", None), (2, "y", None)], "k long, a string, b string"
        ),
        t,
    )
    # ours: NULL-shift edit on k1 (a->b), plus a NEW column c2
    ours_id = snapshot_write(
        spark.createDataFrame(
            [(1, None, "x", 7), (2, "y", None, 8)],
            "k long, a string, b string, c2 long",
        ),
        t,
    )
    # theirs (staged branch): touches k1 too -> TRUE conflict with the
    # null-shift edit; with on_conflict='fail' this must raise
    theirs_id = snapshot_write(
        spark.createDataFrame(
            [(1, "x", "zz"), (2, "y", None)], "k long, a string, b string"
        ),
        t,
        publish=False,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="1 conflicting"):
        snapshot_merge_3way(
            spark, t, base_id, ours_id, theirs_id, ["k"], on_conflict="fail"
        )
    snapshot_merge_3way(
        spark, t, base_id, ours_id, theirs_id, ["k"], on_conflict="theirs"
    )
    out = snapshot_read(spark, t)
    assert set(out.columns) == {"k", "a", "b", "c2"}
    rows = {r.k: (r.a, r.b, r.c2) for r in out.collect()}
    # conflict -> theirs wins on k1 (its c2 reads NULL); k2 keeps ours'
    # added column value
    assert rows[1] == ("x", "zz", None)
    assert rows[2] == ("y", None, 8)


def test_check_constraints_enforced_and_carried(spark, tmp_path):
    import pytest as _pytest

    from yelp_etl_spark.sources.snapshots import (
        snapshot_drop_constraint,
        snapshot_read,
        snapshot_set_constraint,
        snapshot_write,
    )

    d = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, amount double"
    )
    snapshot_write(base, d)
    # add: validates existing data first
    snapshot_set_constraint(spark, d, "amount_pos", "amount > 0")
    with _pytest.raises(ValueError, match="already set"):
        snapshot_set_constraint(spark, d, "amount_pos", "amount > 1")
    # violating existing data refuses the ADD itself
    with _pytest.raises(ValueError, match="violation"):
        snapshot_set_constraint(spark, d, "amount_big", "amount > 15")
    # violating append refuses with the count; table state unchanged
    bad = spark.createDataFrame([(3, -5.0)], "id long, amount double")
    with _pytest.raises(ValueError, match="amount_pos.*1 row"):
        snapshot_write(bad, d, mode="append")
    assert snapshot_read(spark, d).count() == 2
    # NULL predicate result counts as a violation (conservative CHECK)
    nullrow = spark.createDataFrame(
        [(4, None)], "id long, amount double"
    )
    with _pytest.raises(ValueError, match="amount_pos"):
        snapshot_write(nullrow, d, mode="append")
    # valid append passes and the constraint SURVIVES the commit
    ok = spark.createDataFrame([(5, 50.0)], "id long, amount double")
    snapshot_write(ok, d, mode="append")
    with _pytest.raises(ValueError, match="amount_pos"):
        snapshot_write(bad, d, mode="append")
    # replace is validated too (full replacement set)
    with _pytest.raises(ValueError, match="amount_pos"):
        snapshot_write(bad, d, mode="replace")
    # drop: unknown name refuses; real drop lifts enforcement
    with _pytest.raises(ValueError, match="no constraint"):
        snapshot_drop_constraint(d, "nope")
    snapshot_drop_constraint(d, "amount_pos")
    snapshot_write(bad, d, mode="append")
    assert snapshot_read(spark, d).count() == 4


def test_check_constraints_survive_every_commit_path(spark, tmp_path):
    """Every commit kind carries each table property — partition_by,
    bloom_columns, constraints, delete_files — from its parent, or
    deliberately replaces/resets it as _next_manifest documents. One
    row per commit kind, run in sequence on one table; the sequence
    keeps all four properties set wherever a row expects a carry, so
    a dropped property cannot pass vacuously."""
    import pytest as _pytest

    from yelp_etl_spark.sources.snapshots import (
        _TABLE_PROPERTIES,
        _load_manifest,
        _read_pointer,
        snapshot_binpack,
        snapshot_clone,
        snapshot_compact,
        snapshot_drop_constraint,
        snapshot_evolve_spec,
        snapshot_merge,
        snapshot_merge_3way,
        snapshot_mor_delete,
        snapshot_overwrite_partitions,
        snapshot_rollback,
        snapshot_set_constraint,
        snapshot_write,
    )

    d = str(tmp_path / "tbl")
    dst = str(tmp_path / "clone")
    schema = "id long, part string, amount double"

    def rows(*ids):
        return spark.createDataFrame(
            [(i, "ab"[i % 2], float(i)) for i in ids], schema
        )

    def delete(i):
        return lambda: snapshot_mor_delete(
            spark, d, spark.createDataFrame([(i,)], "id long"), ["id"]
        )

    def current():
        return _load_manifest(d, _read_pointer(d))

    snapshot_write(rows(1, 2, 3, 4), d, partition_by=["part"],
                   bloom_columns=["id"])
    snapshot_set_constraint(spark, d, "amount_pos", "amount > 0")
    s_full = delete(4)()
    m1, m_full = _load_manifest(d, 1), current()
    assert all(m_full.get(p) for p in _TABLE_PROPERTIES)
    # CHECK constraints bind the dynamic overwrite's incoming rows too
    with _pytest.raises(ValueError, match="amount_pos"):
        snapshot_overwrite_partitions(
            spark.createDataFrame([(9, "a", -1.0)], schema), d, ["part"]
        )

    def restored(target):  # rollback: the TARGET's value, whatever it is
        return {p: target.get(p) for p in _TABLE_PROPERTIES}

    a_deleted = lambda old, new: (
        new[:-1] == (old or []) and new[-1]["keys"] == ["id"]
    )
    src_abs = os.path.abspath(d)
    absolutized = lambda old, new: new == [
        {**x, "paths": [os.path.join(src_abs, q) for q in x["paths"]]}
        for x in old
    ]
    cur = lambda: _read_pointer(d)
    staged = {}

    def stage():
        staged["id"] = snapshot_write(rows(1, 2, 8), d, publish=False)
        return staged["id"]

    # (kind, commit, expected changes; every other property carries).
    # delete_files=None: replace/rewrite reset the delete list.
    steps = [
        ("append", lambda: snapshot_write(rows(5, 6), d, mode="append"), {}),
        ("overwrite_partitions",
         lambda: snapshot_overwrite_partitions(rows(7), d, ["part"]), {}),
        ("set_constraint",
         lambda: snapshot_set_constraint(spark, d, "id_pos", "id > 0"),
         {"constraints": {"amount_pos": "amount > 0", "id_pos": "id > 0"}}),
        ("drop_constraint", lambda: snapshot_drop_constraint(d, "id_pos"),
         {"constraints": {"amount_pos": "amount > 0"}}),
        ("evolve_spec", lambda: snapshot_evolve_spec(d, ["bucket(2, id)"]),
         {"partition_by": ["bucket(2, id)"]}),
        # de-partition: an empty spec drops partition_by, the rest carry
        ("evolve_spec []", lambda: snapshot_evolve_spec(d, []),
         {"partition_by": None}),
        ("rollback", lambda: snapshot_rollback(d, 1), restored(m1)),
        ("rollback", lambda: snapshot_rollback(d, s_full), restored(m_full)),
        ("mor_delete", delete(6), {"delete_files": a_deleted}),
        ("clone", lambda: snapshot_clone(d, dst),
         {"delete_files": absolutized}),
        ("merge", lambda: snapshot_merge(spark, rows(8), d, ["id"]),
         {"delete_files": None}),
        ("mor_delete", delete(5), {"delete_files": a_deleted}),
        ("replace", lambda: snapshot_write(rows(1, 2, 3), d),
         {"delete_files": None}),
        ("mor_delete", delete(3), {"delete_files": a_deleted}),
        ("rewrite/compact", lambda: snapshot_compact(spark, d),
         {"delete_files": None}),
        ("binpack",
         lambda: snapshot_binpack(spark, d, small_file_bytes=2**30), {}),
        ("mor_delete", delete(1), {"delete_files": a_deleted}),
        ("merge_3way",
         lambda: snapshot_merge_3way(spark, d, cur(), cur(), cur(), ["id"]),
         {"delete_files": None}),
        ("mor_delete", delete(2), {"delete_files": a_deleted}),
        ("replace (staged)", stage, {"delete_files": None}),
        ("merge_3way (staged)",
         lambda: snapshot_merge_3way(
             spark, d, cur(), cur(), staged["id"], ["id"]),
         {"delete_files": None}),
    ]
    for kind, commit, want in steps:
        parent = current()
        sid = commit()
        assert sid == parent["snapshot_id"] + 1 or kind == "clone", kind
        m = _load_manifest(dst if kind == "clone" else d, sid)
        for p in _TABLE_PROPERTIES:
            old, new = parent.get(p), m.get(p)
            if p not in want:
                # binpack follows the compact, which reset the
                # delete list, so it has none to carry
                assert old or (kind, p) == ("binpack", "delete_files"), (
                    kind, p)
                assert new == old, (kind, p, old, new)
            elif callable(want[p]):
                assert want[p](old, new), (kind, p, old, new)
            else:
                assert new == want[p], (kind, p, old, new)
    # the staged branch's rows won the merge; the table still reads
    assert sorted(r.id for r in snapshot_read(spark, d).collect()) == [1, 2, 8]


def test_constraint_commits_do_not_copy_lineage_keys(spark, tmp_path):
    """set/drop_constraint carry the table properties, not every key of
    the parent manifest: a constraint change after a rollback or a
    clone must not re-record that commit's rolled_back_to / clone_of
    lineage."""
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_clone,
        snapshot_drop_constraint,
        snapshot_rollback,
        snapshot_set_constraint,
    )

    d = str(tmp_path / "tbl")
    snapshot_write(spark.range(1, 4), d)
    snapshot_write(spark.range(1, 6), d)
    snapshot_rollback(d, 1)
    m = _load_manifest(d, snapshot_set_constraint(spark, d, "pos", "id > 0"))
    assert m["operation"] == "set_constraint"
    assert "rolled_back_to" not in m
    assert m["constraints"] == {"pos": "id > 0"}

    dst = str(tmp_path / "clone")
    snapshot_clone(d, dst)
    m = _load_manifest(dst, snapshot_drop_constraint(dst, "pos"))
    assert "clone_of" not in m and "constraints" not in m
    m = _load_manifest(dst, snapshot_set_constraint(spark, dst, "lo", "id < 9"))
    assert "clone_of" not in m
    assert m["constraints"] == {"lo": "id < 9"}
    assert snapshot_read(spark, dst).count() == 3


def test_three_way_merge_refused_consume_writes_no_data(spark, tmp_path):
    """A staged branch that does not sit directly above the pointer is
    refused BEFORE the merged rows are written: the refusal strands no
    orphan data file."""
    from yelp_etl_spark.sources.snapshots import (
        _manifest_path,
        snapshot_merge_3way,
    )

    t = str(tmp_path / "tbl")
    base = snapshot_write(spark.createDataFrame([(1, "a")], "k long, v string"), t)
    stage = snapshot_write(
        spark.createDataFrame([(1, "b"), (2, "c")], "k long, v string"),
        t,
        publish=False,
    )
    # external manifest surgery: the stage reappears one id too high
    os.rename(_manifest_path(t, stage), _manifest_path(t, stage + 1))
    before = sorted(os.listdir(os.path.join(t, "data")))
    with pytest.raises(ValueError, match="does not sit directly above"):
        snapshot_merge_3way(spark, t, base, base, stage + 1, ["k"])
    assert sorted(os.listdir(os.path.join(t, "data"))) == before
    assert [tuple(r) for r in snapshot_read(spark, t).collect()] == [(1, "a")]
