"""Snapshot/manifest table layer: the Iceberg read/write semantics the
reference depends on (write.py:24-53 createOrReplace; spark-defaults.conf
catalog) re-derived natively over parquet — atomic commit, snapshot
isolation, time travel, snapshot expiry + safe vacuum, and file-level
min/max skipping — with zero jar dependencies (the sandbox has no
Iceberg runtime; this is the same guarantee surface, minimally).

Layout:

    table_dir/
      data/<prefix>-NNNNN.parquet       immutable data files
      manifests/manifest-0000000001.json  one per snapshot
      _current                          pointer file (atomic os.replace)

A manifest holds ``snapshot_id``, ``parent_id``, ``operation``,
``schema`` (Spark JSON) and ``files`` (one entry per data file: path,
rows, min/max, optional partition tuple, bloom sidecar and ``seq``),
plus the four table properties — ``partition_by`` (the spec),
``bloom_columns``, ``constraints`` (CHECK predicates by name) and
``delete_files`` (merge-on-read equality deletes) — each omitted when
empty, and a few commit-local keys (``staged``, ``rolled_back_to``,
``clone_of``). The table properties belong to the table, not to the
commit: every commit kind builds its manifest with ``_next_manifest``,
which carries them from the parent unless the commit deliberately
replaces or resets one.

Every commit that writes data files goes through ``_commit_data``,
which owns what a data commit inherits from its table: the spec and
bloom columns come from the parent unless passed; a commit that carries
parent files records the parent's schema united with the batch's (a
column type change refuses), a replace or rewrite the batch's own; the
batch must hold the spec source and bloom columns and pass the CHECK
constraints; only then are its data files written.

Commit protocol (single-writer; see note below):
0. An operation looks up its parent snapshot ONCE: the rows it reads
   (``_scan``) and the commit it makes both use that manifest, so a
   commit that lands in between fails the operation with
   ConcurrentCommitError instead of being silently overwritten.
1. Data files are FULLY written (to a scratch dir, then renamed into
   ``data/`` under fresh unique names) before any manifest references
   them — a crash mid-write leaves only unreferenced files, invisible
   to every reader.
2. The manifest (file list + per-file row counts and column min/max
   read on the driver from parquet footers) is written as a new
   numbered file.
3. ``_current`` is swapped with ``os.replace`` — POSIX-atomic, so a
   reader resolves either the old snapshot or the new one, never a mix.

Readers resolve a snapshot (``_current`` or a pinned id) to its exact
file list, so concurrent replaces never tear a read; replaced files
stay on disk until ``expire_snapshots`` + ``vacuum``, which is what
makes time travel work and is exactly Iceberg's expire/remove-orphans
model. At 100 TB the same design holds with the manifest in object
storage; the single piece that needs a real catalog is compare-and-swap
on the pointer for MULTI-writer safety (Iceberg delegates that to the
catalog too — Hadoop catalogs use an atomic rename exactly like this).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_POINTER = "_current"
_BOOTSTRAP = "_bootstrap"  # present only until the first pointer swap
_SKIP_STATS_TYPES = ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY")  # strings: keep simple


import re as _re
import time as _time

_MANIFEST_RE = _re.compile(r"^manifest-\d{10}\.json$")

# A named manifest with no pointer swap that is older than this is
# treated as a crashed commit and reclaimed by the next writer; a
# younger one is assumed to be a live racer's (Iceberg's
# remove_orphan_files uses the same age-cutoff idea).
_ORPHAN_GRACE_SECONDS = 60.0


def _manifest_sid(name: str) -> int:
    """Snapshot id encoded in a manifest filename."""
    return int(name.replace("manifest-", "").replace(".json", ""))


def _manifest_path(table_dir: str, snapshot_id: int) -> str:
    return os.path.join(table_dir, "manifests", f"manifest-{snapshot_id:010d}.json")


def _manifest_names(mdir: str) -> list[str]:
    """Only fully-committed manifests: a crash between writing the .tmp
    and the os.replace may leave a stray partial file, which must never
    wedge snapshots()/expire/vacuum (the commit protocol's promise is
    that incomplete commits are invisible)."""
    return [f for f in os.listdir(mdir) if _MANIFEST_RE.match(f)]


def _committed_manifest_names(table_dir: str) -> list[str]:
    """Manifests at or below the pointer, sorted ascending. A crash
    between the manifest os.replace and the pointer swap leaves a fully
    NAMED manifest that was never committed — the pointer is the commit
    instant, so every metadata operation must treat manifests newer
    than it as invisible (not a snapshot, not retained, its files not
    live). The stray manifest blocks the next commit's exclusive
    create (ConcurrentCommitError) until remove_orphaned_manifests()
    reclaims it."""
    mdir = os.path.join(table_dir, "manifests")
    ptr = _read_pointer(table_dir)
    names = []
    for f in _manifest_names(mdir):
        sid = _manifest_sid(f)
        if ptr is not None and sid <= ptr:
            names.append(f)
    return sorted(names)


def _read_pointer(table_dir: str) -> int | None:
    try:
        with open(os.path.join(table_dir, _POINTER)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return None


def _load_manifest(table_dir: str, snapshot_id: int) -> dict:
    with open(_manifest_path(table_dir, snapshot_id)) as fh:
        return json.load(fh)


def _parent_manifest(table_dir: str) -> dict | None:
    """The committed manifest a commit builds on (None: no table yet),
    parsed once per operation (manifests embed bloom sidecars)."""
    sid = _read_pointer(table_dir)
    return None if sid is None else _load_manifest(table_dir, sid)


def _current_manifest(table_dir: str) -> tuple[int, dict]:
    """The committed snapshot id and its manifest; FileNotFoundError
    when the table has no committed snapshot."""
    sid = _read_pointer(table_dir)
    if sid is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    return sid, _load_manifest(table_dir, sid)


# Keys every manifest has; every other key is written only when non-empty.
_MANIFEST_KEYS = ("snapshot_id", "parent_id", "operation", "schema", "files")
# Table properties (Iceberg: spec and properties belong to the table, not
# to the commit) — carried by every commit through _next_manifest.
_TABLE_PROPERTIES = ("partition_by", "bloom_columns", "constraints", "delete_files")


def _next_manifest(
    parent: dict | None,
    operation: str,
    files: list[dict] | None = None,
    *,
    added: list[dict] | tuple = (),
    **overrides,
) -> dict:
    """The manifest of a commit on top of ``parent`` (None for a table's
    first commit) — the only place a manifest dict is built.

    ``snapshot_id`` is the parent's + 1 and ``parent_id`` the parent's
    id. ``schema`` and ``files`` come from the parent unless given.
    ``added`` entries (the data files this commit wrote) are appended
    after ``files`` (so a dynamic overwrite lists its kept files first)
    and stamped with ``seq = snapshot_id`` (Iceberg's
    data_sequence_number): merge-on-read equality deletes apply only to
    files with a STRICTLY smaller seq, which is what lets a key be
    deleted and later re-inserted without the old delete swallowing
    the new row, and keeps inherited delete files from masking freshly
    written rows. Carried entries keep their original seq.

    Every table property in ``_TABLE_PROPERTIES`` is carried from the
    parent by default, so no commit kind can drop the partition spec,
    the bloom sidecar columns, the CHECK constraints or the delete
    files by forgetting to copy them (a spec-less commit would make the
    next dynamic overwrite refuse and degrade pruned reads to full
    listings; a lost bloom list degrades point lookups to full scans;
    lost delete files resurrect deleted rows). A keyword override
    replaces a property and ``None``/empty drops it. The deliberate
    replacements, by commit kind:

    - replace/rewrite (snapshot_write, compaction, snapshot_merge,
      snapshot_merge_3way) reset ``delete_files``: they start from a
      DataFrame that _scan already applied the deletes to (Iceberg's
      rewrite_position_deletes cleanup). append, overwrite_partitions
      and binpack keep them, because they carry parent data files that
      the delete files mask (binpack reads its rewrite through them).
    - every data commit (_commit_data) records the spec and bloom
      columns it resolved: inherited unless passed, ``[]`` drops them
      deliberately. It validates the batch against ``constraints`` and
      carries them unchanged — binpack included, so a rewrite cannot
      land rows the table's constraints refuse.
    - set/drop_constraint replace ``constraints`` (a drop is always
      explicit), evolve_spec replaces ``partition_by`` and mor_delete
      appends to ``delete_files``.
    - rollback passes the TARGET snapshot as the parent (at the current
      id): the table STATE is restored, all of it — files, schema, its
      delete files (dropping them would silently un-delete every row
      the target masked), spec, constraints (Delta RESTORE) and bloom
      columns.
    - clone overrides the ids and makes every borrowed path absolute.

    Only the id, schema, files and table properties are read from the
    parent: commit-local keys (``staged``, ``rolled_back_to``,
    ``clone_of``) describe one commit and never leak into the next.
    Optional keys with empty values are omitted, as on disk today."""
    parent = parent or {}
    manifest = {
        "snapshot_id": parent.get("snapshot_id", 0) + 1,
        "parent_id": parent.get("snapshot_id"),
        "operation": operation,
        "schema": parent.get("schema"),
        "files": parent.get("files", []) if files is None else files,
        **{p: parent.get(p) for p in _TABLE_PROPERTIES},
        **overrides,
    }
    for e in added:
        e["seq"] = manifest["snapshot_id"]
    manifest["files"] = [*manifest["files"], *added]
    return {k: v for k, v in manifest.items() if v or k in _MANIFEST_KEYS}


def _file_bloom(table, bloom_columns: list[str]) -> dict:
    """Per-file Bloom sidecar for point-lookup file skipping: for each
    declared column, the DISTINCT values in this file (``table``, its
    pyarrow data projected to ``bloom_columns``) fold into a
    sparse {word: bits} map using the repo's portable md5 bit
    positions (functions/integrity.py py_bit_positions — the same
    convention the Spark expressions replay). ~`_BLOOM_SIDE_BITS/8`
    bytes per (file, column) at worst; self-describing (b/k recorded
    per entry) so mixed-spec manifests stay consistent. Restricted to
    integer/string columns — their to-string rendering is identical
    between pyarrow values here and Spark's cast on the probe side;
    floats are refused upstream."""
    from yelp_etl_spark.functions.integrity import py_bit_positions

    out: dict = {}
    for c in bloom_columns:
        words: dict[int, int] = {}
        vals = set(table[c].to_pylist())
        vals.discard(None)
        for v in vals:
            for bit in py_bit_positions(v, _BLOOM_SIDE_BITS, _BLOOM_SIDE_K):
                w, m = bit // 32, 1 << (bit % 32)
                words[w] = words.get(w, 0) | m
        out[c] = {
            "b": _BLOOM_SIDE_BITS,
            "k": _BLOOM_SIDE_K,
            "w": {str(w): m for w, m in sorted(words.items())},
        }
    return out


# 32 Kib / 3 hashes ≈ 0.5% false positives at ~2000 distinct values
# per (file, column); a sidecar costs ≤ 4 KB per (file, column) in the
# manifest — metadata-sized at any table scale.
_BLOOM_SIDE_BITS = 32768
_BLOOM_SIDE_K = 3


def _file_stats(path: str, bloom_columns: list[str] | None = None) -> dict:
    """Per-file row count and numeric column min/max from the parquet
    footer, read on the driver (pyarrow metadata — no data read). These
    power manifest-level file skipping: a predicate prunes FILES before
    Spark ever lists them. With ``bloom_columns``, one projected data
    read of the same open file adds the Bloom sidecar (_file_bloom).

    Commits call this in a plain loop, one file at a time. On 4 vCPU,
    16 and 64 files with a Bloom column (20 000 and 128 000 rows) took
    0.14-0.25 s and 0.77-0.93 s this way, and 1.9-2.0 s and 5.1-5.7 s
    as a warm Spark job; without one, the loop takes under 10 ms."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            if col.physical_type in _SKIP_STATS_TYPES:
                continue
            name = col.path_in_schema
            lo, hi = st.min, st.max
            if not isinstance(lo, (int, float)) or isinstance(lo, bool):
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    st = {
        "rows": md.num_rows,
        "min": mins,
        "max": maxs,
    }
    if bloom_columns:
        st["bloom"] = _file_bloom(pf.read(columns=bloom_columns), bloom_columns)
    return st


class ConcurrentCommitError(RuntimeError):
    """Another manifest with this snapshot id already exists: either a
    concurrent writer violated the single-writer assumption (the lost
    update this error prevents) or a previous writer crashed between
    its manifest write and pointer swap. Run
    ``remove_orphaned_manifests`` after confirming no writer is live,
    then retry. A 3-way merge consuming a staged branch also raises it
    when the branch is published or abandoned during the merge."""


def remove_orphaned_manifests(table_dir: str) -> list[int]:
    """Delete fully-named manifests NEWER than the committed pointer —
    the leftovers of a writer that crashed between manifest creation
    and the pointer swap (their data files are reclaimed separately by
    ``vacuum``). Single-maintenance-writer only, like vacuum: a live
    concurrent committer's not-yet-swapped manifest looks identical to
    a crash orphan from here."""
    mdir = os.path.join(table_dir, "manifests")
    ptr = _read_pointer(table_dir)
    removed = []
    for f in _manifest_names(mdir):
        sid = _manifest_sid(f)
        if ptr is None or sid > ptr:
            # staged (write-audit-publish) snapshots are intentional,
            # not crash litter: snapshot_abandon is their remover
            if json.load(open(os.path.join(mdir, f))).get("staged"):
                continue
            os.remove(os.path.join(mdir, f))
            removed.append(sid)
    # also reclaim .tmp litter from crashes between the tmp write and
    # its unlink (the uuid suffix means no later commit reuses the name)
    for f in os.listdir(mdir):
        if f.endswith(".tmp"):
            os.remove(os.path.join(mdir, f))
    return sorted(removed)


def _commit_manifest(
    table_dir: str, manifest: dict, swap_pointer: bool = True
) -> int:
    """Publish ``manifest`` exclusively and swap the pointer — the
    commit tail every commit kind shares (staged writes stop before
    the swap; snapshot_publish finishes them).

    Exclusive manifest creation approximates the catalog
    compare-and-swap: two writers that both read parent N race to
    create manifest N+1, and the loser fails LOUDLY instead of
    silently clobbering the winner's committed file list (lost
    update) — read-then-commit operations included, as each reads the
    parent it commits on (step 0 of the commit protocol). Written to a
    unique tmp first so a fully-NAMED manifest is always complete,
    then published with os.link — atomic and EEXCL on POSIX (the
    object-store analogue is a conditional PUT / If-None-Match;
    Iceberg delegates the same race to its catalog).

    On EEXIST, disambiguate before failing. (a) The pointer already
    reached snapshot_id: another writer COMMITTED first and our parent
    read is stale — the lost-update case this guard exists for; always
    loud. (b) Pointer still behind and the manifest is older than the
    grace window: a previous writer crashed between manifest publish
    and pointer swap — auto-reclaim so checkpointed streaming replays
    converge without an operator. (c) Pointer behind but the manifest
    is fresh: a live racer milliseconds before its pointer swap — loud.
    """
    snapshot_id = manifest["snapshot_id"]
    mpath = _manifest_path(table_dir, snapshot_id)
    # Durable bootstrap marker: dropped the instant the FIRST pointer
    # swap succeeds, so "no pointer + marker present" (true bootstrap
    # crash, safe to self-heal) is distinguishable from "no pointer +
    # no marker" (a committed table whose pointer file was lost
    # externally — self-healing there would overwrite real history;
    # r6 ADVICE). Touched before the first manifest ever publishes.
    sentinel = os.path.join(table_dir, _BOOTSTRAP)
    if _read_pointer(table_dir) is None and not _manifest_names(
        os.path.join(table_dir, "manifests")
    ):
        open(sentinel, "a").close()
    tmp = f"{mpath}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, mpath)
    except FileExistsError:
        committed = _read_pointer(table_dir)
        if committed is not None:
            # a pointer exists, so any sentinel is stale litter from a
            # losing bootstrap racer that re-touched it after the
            # winner's swap — retire it so it can't legitimize a
            # future self-heal on this committed table
            try:
                os.unlink(sentinel)
            except FileNotFoundError:
                pass
        try:
            existing_staged = bool(
                json.load(open(mpath)).get("staged", False)
            )
        except Exception:
            existing_staged = False
        if existing_staged:
            # a STAGED snapshot (write-audit-publish) is intentional,
            # not a crash orphan: never reclaim it by age — the next
            # writer must wait for snapshot_publish / snapshot_abandon
            os.unlink(tmp)
            raise ConcurrentCommitError(
                f"snapshot {snapshot_id} is STAGED (write-audit-"
                f"publish) in {table_dir!r}: publish or abandon it "
                "before committing again"
            ) from None
        try:
            age = _time.time() - os.path.getmtime(mpath)
        except FileNotFoundError:
            # the blocking manifest vanished between the failed link
            # and this stat (concurrent abandon / orphan sweep won the
            # race): retry the exclusive create cleanly
            os.unlink(tmp)
            return _commit_manifest(table_dir, manifest, swap_pointer)
        # committed=None counts as "pointer behind": a writer that
        # crashed between publishing manifest 1 and the FIRST-EVER
        # pointer swap leaves no pointer at all, and without this the
        # orphan would block every retry forever (case (b)'s bootstrap
        # variant — checkpointed streaming replays must converge).
        # BUT a missing pointer is only a bootstrap crash when (i) no
        # HIGHER-numbered manifest exists (pointer loss on an
        # established table would clobber real history) AND (ii) the
        # durable bootstrap marker is still present — the marker is
        # removed by the first successful pointer swap, so its absence
        # proves a pointer EXISTED and was lost externally, even on a
        # one-snapshot table where (i) alone cannot tell the cases
        # apart. Pointer loss is an operator problem (restore the
        # pointer or remove_orphaned_manifests), never a silent heal.
        bootstrap_ok = (
            committed is None
            and os.path.exists(sentinel)
            and snapshot_id == max(
                (_manifest_sid(n) for n in _manifest_names(
                    os.path.join(table_dir, "manifests"))),
                default=snapshot_id,
            )
        )
        if (
            bootstrap_ok or (committed is not None and committed < snapshot_id)
        ) and age > _ORPHAN_GRACE_SECONDS:
            os.replace(tmp, mpath)  # reclaim the crash orphan
        else:
            os.unlink(tmp)
            raise ConcurrentCommitError(
                f"manifest for snapshot {snapshot_id} already exists in "
                f"{table_dir!r}: "
                + (
                    "a concurrent writer committed first (stale parent)"
                    if committed is not None and committed >= snapshot_id
                    else "a writer is mid-commit, or a crash happened "
                    f"within the last {_ORPHAN_GRACE_SECONDS}s"
                )
                + " — confirm no writer is live, then "
                "remove_orphaned_manifests() and retry"
            ) from None
    else:
        os.unlink(tmp)

    if not swap_pointer:
        # staged (write-audit-publish): the manifest exists and its
        # data files are durable, but no reader resolves it until
        # snapshot_publish swaps the pointer
        return snapshot_id
    _swap_pointer(table_dir, snapshot_id)
    return snapshot_id


def _swap_pointer(table_dir: str, snapshot_id: int) -> None:
    """Atomic pointer swap — the commit instant. A pointer now durably
    exists, so the bootstrap marker is retired: a future missing
    pointer then reads as external loss, not a crash."""
    ptmp = os.path.join(table_dir, _POINTER + ".tmp")
    with open(ptmp, "w") as fh:
        fh.write(str(snapshot_id))
    os.replace(ptmp, os.path.join(table_dir, _POINTER))
    try:
        os.unlink(os.path.join(table_dir, _BOOTSTRAP))
    except FileNotFoundError:
        pass


_HIVE_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"

_BUCKET_SPEC_RE = _re.compile(r"^bucket\((\d+),\s*([A-Za-z_][A-Za-z0-9_]*)\)$")


def _spec_fields(partition_by: list[str]) -> list[tuple[str, str, int | None]]:
    """Resolve a partition spec into (field_name, source_column,
    n_buckets-or-None) triples. Two transform kinds, Iceberg-style:
    a bare column name is an identity partition; ``bucket(N, col)`` is
    a hash bucket (hidden partitioning — readers filter on the SOURCE
    value and never see bucket numbers)."""
    out = []
    for entry in partition_by:
        m = _BUCKET_SPEC_RE.match(entry)
        if m:
            n, col = int(m.group(1)), m.group(2)
            out.append((f"{col}_bucket{n}", col, n))
        else:
            out.append((entry, entry, None))
    return out


def _bucket_expr(col: str, n: int):
    """The bucket transform: pmod(xxhash64(col), n), NULL-preserving
    (Iceberg buckets NULL into the null partition, and Spark's
    xxhash64 would otherwise hash a NULL to the seed value)."""
    return F.when(
        F.col(col).isNull(), F.lit(None).cast("long")
    ).otherwise(F.pmod(F.xxhash64(F.col(col)), F.lit(n)))


def _spec_exprs(partition_by: list[str] | None) -> dict:
    """Each spec field's value as a column expression, by field name:
    the source column for an identity field, its bucket for
    ``bucket(N, col)``. Empty for no spec."""
    return {
        field: F.col(src) if n is None else _bucket_expr(src, n)
        for field, src, n in _spec_fields(partition_by or [])
    }


def _parse_partition_dirs(rel_dir: str, fields: list[str]) -> dict:
    """Decode a Hive-style ``__p_field=value/...`` scratch path into the
    file's partition tuple (values as unescaped strings, NULL as
    None)."""
    from urllib.parse import unquote

    vals: dict = {}
    for part in rel_dir.split(os.sep):
        if "=" not in part:
            continue
        k, _, v = part.partition("=")
        name = k.removeprefix("__p_")
        if name in fields:
            vals[name] = None if v == _HIVE_NULL_DIR else unquote(v)
    return vals


def _write_data_files(
    df: DataFrame,
    table_dir: str,
    partition_by: list[str] | None,
    bloom_columns: list[str] | None = None,
) -> list[dict]:
    """Step 1 of every commit: fully write ``df``'s data files (scratch
    write, rename under fresh unique names) and return their manifest
    entries (path + footer stats + partition tuple, the tuple only
    under a spec with fields). The stats are read on the driver, one
    ``_file_stats`` per renamed file; no Spark job reads the files
    back. (Iceberg gathers them task-side during the write; a table
    whose footer reads outgrow the driver would move them into the
    write, not into a second job.) No manifest references the files
    yet, so a crash here leaves only unreferenced files, invisible to
    every reader and reclaimed by vacuum. A table without a spec is a
    spec with no fields: the same scratch write, with nothing to
    partition by."""
    os.makedirs(os.path.join(table_dir, "data"), exist_ok=True)
    os.makedirs(os.path.join(table_dir, "manifests"), exist_ok=True)
    scratch = os.path.join(table_dir, f".commit-{uuid.uuid4().hex}")
    prefix = uuid.uuid4().hex[:12]
    spec = _spec_fields(partition_by or [])
    fields = [f for f, _, _ in spec]
    # Empty-string identity partition values are refused at commit
    # time: Spark's Hive-style scratch layout writes '' and NULL to the
    # SAME __HIVE_DEFAULT_PARTITION__ directory, so the two would
    # collapse into one manifest tuple — and a later dynamic overwrite
    # of the '' partition would silently delete the NULL partition's
    # rows (and partition_filter='' would under-read). One narrow
    # pruned-column scan per commit, string identity sources only.
    str_srcs = [
        src
        for _f, src, n in spec
        if n is None
        and src in df.columns
        and isinstance(df.schema[src].dataType, T.StringType)
    ]
    if str_srcs:
        probe = df.select(
            *[F.max(F.when(F.col(c) == "", F.lit(1))).alias(c) for c in str_srcs]
        ).collect()[0]
        offenders = [c for c in str_srcs if probe[c] is not None]
        if offenders:
            raise ValueError(
                f"empty-string value(s) in identity partition "
                f"column(s) {offenders}: the Hive scratch layout "
                "cannot distinguish '' from NULL "
                f"({_HIVE_NULL_DIR}) — map empty strings to NULL "
                "or a sentinel before partitioning on them"
            )
    out = df
    for field, expr in _spec_exprs(partition_by).items():
        out = out.withColumn(f"__p_{field}", expr)
    out.write.partitionBy(*[f"__p_{f}" for f in fields]).parquet(scratch)
    renamed = []  # (manifest-relative path, absolute path, partition)
    for root, _dirs, fnames in sorted(os.walk(scratch)):
        for f in sorted(fnames):
            if not f.endswith(".parquet"):
                continue
            dst_name = f"{prefix}-{len(renamed):05d}.parquet"
            dst = os.path.join(table_dir, "data", dst_name)
            os.rename(os.path.join(root, f), dst)
            part = _parse_partition_dirs(os.path.relpath(root, scratch), fields)
            renamed.append((os.path.join("data", dst_name), dst, part))
    shutil.rmtree(scratch)
    return [
        {
            "path": rel,
            **_file_stats(dst, bloom_columns),
            **({"partition": p} if fields else {}),
        }
        for rel, dst, p in renamed
    ]


def snapshot_write(
    df: DataFrame,
    table_dir: str,
    mode: str = "replace",
    partition_by: list[str] | None = None,
    bloom_columns: list[str] | None = None,
    publish: bool = True,
) -> int:
    """Commit ``df`` as a new snapshot of ``table_dir``; returns the new
    snapshot id. ``mode='replace'`` is the reference's createOrReplace
    (write.py:24-29); ``'append'`` keeps the parent snapshot's files and
    adds the new ones (Iceberg's append commit); ``'rewrite'`` is a
    replace labeled as compaction (snapshot_compact) so the snapshot
    log distinguishes maintenance commits from data changes.

    ``partition_by`` is an identity partition spec (reference
    write.py:45-49, Iceberg-style rather than Hive-style): every data
    file holds exactly ONE partition tuple, the tuple is recorded in
    the MANIFEST per file, and — unlike a Hive layout — the partition
    columns stay present inside the data files, so reads need no
    directory inference and the file layout stays flat. Readers prune
    on the manifest tuples (snapshot_read ``partition_filter``) before
    Spark lists a single file — at 100 TB this is the coarse pruning
    layer in front of the min/max zone maps. The per-file-single-tuple
    guarantee comes from writing through a scratch partitionBy on
    duplicated dunder columns (Spark's fanout writer splits tasks by
    value), which are stripped from the files themselves.

    ``partition_by`` and ``bloom_columns`` default to the table's, an
    append records the union of the table's and the batch's schemas,
    and ``publish=False`` stages the snapshot (write-audit-publish) —
    the rules every data commit shares (_commit_data)."""
    if mode not in ("replace", "append", "rewrite"):
        raise ValueError(f"mode must be replace|append|rewrite, got {mode!r}")
    pm = _parent_manifest(table_dir)
    # an append carries the parent's files; replace/rewrite start empty
    carry = pm["files"] if mode == "append" and pm is not None else None
    return _commit_data(
        df,
        table_dir,
        pm,
        mode,
        carry,
        partition_by=partition_by,
        bloom_columns=bloom_columns,
        publish=publish,
    )


def _union_schema(operation: str, *schemas: T.StructType) -> T.StructType:
    """Additive schema evolution (Iceberg's add-column): the union of
    ``schemas`` by column name in first-seen order, every column
    nullable — files or versions that lack a column read it as NULL,
    and a batch that lacks an old column can never silently drop it. A
    column whose type differs between them refuses, at commit time
    rather than at read time."""
    types: dict = {}
    for schema in schemas:
        for f in schema.fields:
            prev = types.setdefault(f.name, f.dataType)
            if prev != f.dataType:
                raise ValueError(
                    f"{operation} changes type of column {f.name!r}: "
                    f"{prev} -> {f.dataType}"
                )
    return T.StructType([T.StructField(n, t, True) for n, t in types.items()])


def _commit_data(
    df: DataFrame,
    table_dir: str,
    parent: dict | None,
    operation: str,
    carry: list[dict] | Callable[[list[dict]], list[dict]] | None = None,
    *,
    partition_by: list[str] | None = None,
    bloom_columns: list[str] | None = None,
    publish: bool = True,
    replace_staged: bool = False,
) -> int:
    """Commit ``df`` as ``operation`` on top of ``parent`` (None for a
    table's first commit) — the one path by which a commit writes data
    files. ``carry`` is the parent entries the new snapshot keeps: a
    list, or a function of the new entries (a dynamic overwrite keeps
    the partitions the batch did not touch). None starts from no files
    and resets the delete list (replace/rewrite, see _next_manifest).

    1. The spec and bloom columns are the parent's unless passed
       (``[]`` drops one deliberately). A commit that carries parent
       files writes under the table's spec: a passed spec must equal
       it (the layout changes only through snapshot_evolve_spec).
    2. The schema: with ``carry``, the parent's united with the
       batch's (_union_schema); otherwise the batch's own.
    3. The batch must hold every spec source and bloom column, and
       bloom columns must be integer or string.
    4. The table's CHECK constraints validate the batch (Delta's ADD
       CONSTRAINT: one aggregate job per constrained commit, with
       per-constraint counts; the rows already in the table were
       checked when each constraint was added).
    5. Only then are the data files written, so a refusal above
       leaves the table and its ``data/`` directory untouched.
    6. The manifest commits. ``publish=False`` stages it instead
       (Iceberg's write-audit-publish: readable by explicit id,
       invisible to default readers, and holding the next id
       exclusively until snapshot_publish or snapshot_abandon).
       ``replace_staged`` swaps it, staged, for the staged manifest
       already holding its id, then publishes it (snapshot_merge_3way
       consuming a staged branch)."""
    pm = parent or {}
    carries = carry is not None
    table_spec = pm.get("partition_by")
    if partition_by is None:
        partition_by = table_spec
    elif carries and (table_spec is None or list(partition_by) != table_spec):
        raise ValueError(
            f"{operation} spec {list(partition_by)!r} != parent snapshot "
            f"spec {table_spec!r}: a commit that keeps the table's files "
            "writes under its spec — to change the table's layout going "
            "forward, commit snapshot_evolve_spec first"
        )
    if bloom_columns is None:
        bloom_columns = pm.get("bloom_columns")
    schema = df.schema
    if carries:
        parent_schema = T.StructType.fromJson(json.loads(pm["schema"]))
        schema = _union_schema(operation, parent_schema, schema)
    sources = [src for _f, src, _n in _spec_fields(partition_by or [])]
    if missing := [c for c in sources if c not in df.columns]:
        raise ValueError(
            f"{operation} writes under the partition spec {partition_by!r} "
            f"but the batch lacks source column(s) {missing!r}: pass "
            "partition_by=[...] for a new spec, or partition_by=[] to "
            "de-partition the table explicitly"
        )
    if missing := [c for c in bloom_columns or [] if c not in df.columns]:
        raise ValueError(
            f"{operation} builds the bloom_columns {bloom_columns!r} but "
            f"the batch lacks column(s) {missing!r}: pass "
            "bloom_columns=[...] for a new list, or bloom_columns=[] to "
            "drop the sidecars explicitly (snapshot_write)"
        )
    bloom_types = (T.IntegralType, T.StringType)
    bad = [
        c for c in bloom_columns or []
        if not isinstance(df.schema[c].dataType, bloom_types)
    ]
    if bad:
        raise ValueError(
            f"bloom_columns {bad!r} must be integer or string columns: the "
            "sidecar's to-string rendering is only engine-stable for those "
            "types (floats render differently between pyarrow and Spark "
            "casts)"
        )
    if pm.get("constraints"):
        _validate_constraints(df, pm["constraints"])
    new_files = _write_data_files(df, table_dir, partition_by, bloom_columns)
    if callable(carry):
        carry = carry(new_files)
    manifest = _next_manifest(
        parent,
        operation,
        carry or [],
        added=new_files,
        schema=schema.json(),
        partition_by=partition_by,
        bloom_columns=bloom_columns,
        staged=not publish or replace_staged,
        **({} if carries else {"delete_files": None}),
    )
    if replace_staged:
        # the branch may have been published (or abandoned) while the
        # data files were written: replacing its manifest then would
        # rewrite committed history in place. The new data files stay
        # unreferenced for vacuum.
        sid = manifest["snapshot_id"]
        try:
            staged = _load_manifest(table_dir, sid).get("staged")
        except FileNotFoundError:
            staged = False
        if _read_pointer(table_dir) != pm.get("snapshot_id") or not staged:
            raise ConcurrentCommitError(
                f"staged branch {sid} in {table_dir!r} was published or "
                "abandoned while the merge wrote its data files: the "
                "merge did not commit"
            )
        _replace_manifest(table_dir, manifest)
        return snapshot_publish(table_dir, manifest["snapshot_id"])
    return _commit_manifest(table_dir, manifest, swap_pointer=publish)


def _replace_manifest(table_dir: str, manifest: dict) -> None:
    """Rewrite the manifest of ``manifest["snapshot_id"]`` in place:
    a unique tmp file, then one atomic os.replace, so a reader sees the
    old manifest or the new one, never a partial file."""
    mpath = _manifest_path(table_dir, manifest["snapshot_id"])
    tmp = f"{mpath}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, mpath)


def _validate_constraints(df: DataFrame, constraints: dict) -> None:
    """Refuse (ValueError) if any row of ``df`` violates any CHECK
    constraint. NULL predicate results count as violations — the
    conservative reading (Delta treats CHECK as 'must evaluate true'),
    so a constraint on a nullable column must say so explicitly
    (``x IS NULL OR x > 0``). One aggregate job computes every
    constraint's violation count at once (not one scan per
    constraint)."""
    counts = df.agg(
        *[
            F.sum(
                F.when(F.expr(pred), F.lit(0)).otherwise(F.lit(1))
            ).alias(name)
            for name, pred in sorted(constraints.items())
        ]
    ).collect()[0]
    bad = {
        name: int(counts[name] or 0)
        for name in constraints
        if counts[name]
    }
    if bad:
        raise ValueError(
            f"CHECK constraint violation(s), commit refused: "
            + ", ".join(
                f"{n!r} ({constraints[n]!r}): {c} row(s)"
                for n, c in sorted(bad.items())
            )
        )


def snapshot_set_constraint(
    spark: SparkSession, table_dir: str, name: str, predicate: str
) -> int:
    """Add a named CHECK constraint to the table (Delta's ALTER TABLE
    ADD CONSTRAINT): ``predicate`` is a SQL boolean over the table's
    columns. Like Delta, the EXISTING data is validated first (one
    scan — a constraint that current rows violate refuses), then a
    metadata-only snapshot commits the constraint into the manifest;
    every later snapshot_write against the table validates incoming
    rows and refuses violating commits. Constraint names are tag-rule
    identifiers; re-setting an existing name refuses (drop first) so
    a constraint can't be silently weakened in place."""
    if not _TAG_RE.match(name):
        raise ValueError(
            f"constraint name {name!r} must match {_TAG_RE.pattern}"
        )
    _, pm = _current_manifest(table_dir)
    constraints = dict(pm.get("constraints") or {})
    if name in constraints:
        raise ValueError(
            f"constraint {name!r} already set to "
            f"{constraints[name]!r}: snapshot_drop_constraint first"
        )
    _validate_constraints(_scan(spark, table_dir, pm), {name: predicate})
    constraints[name] = predicate
    return _commit_manifest(
        table_dir,
        _next_manifest(pm, "set_constraint", constraints=constraints),
    )


def snapshot_drop_constraint(table_dir: str, name: str) -> int:
    """Remove a named CHECK constraint (metadata-only commit; the
    explicit inverse of snapshot_set_constraint). Unknown names refuse
    so a typo can't no-op where a real drop was intended."""
    _, pm = _current_manifest(table_dir)
    constraints = dict(pm.get("constraints") or {})
    if name not in constraints:
        raise ValueError(f"no constraint named {name!r} on this table")
    del constraints[name]
    return _commit_manifest(
        table_dir,
        _next_manifest(pm, "drop_constraint", constraints=constraints),
    )


def snapshot_publish(table_dir: str, snapshot_id: int) -> int:
    """Publish a STAGED snapshot (the P of write-audit-publish): after
    the audit passes, one atomic pointer swap makes the staged
    snapshot current. The manifest is rewritten without the staged
    flag first, so metadata readers (snapshots(), expire) see a plain
    committed snapshot afterwards. Refuses if the id is not a staged
    manifest directly above the pointer."""
    mpath = _manifest_path(table_dir, snapshot_id)
    try:
        manifest = json.load(open(mpath))
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no staged manifest {snapshot_id} in {table_dir!r}"
        ) from None
    ptr = _read_pointer(table_dir)
    if not manifest.get("staged"):
        raise ValueError(
            f"snapshot {snapshot_id} is not staged (already published?)"
        )
    if ptr is not None and snapshot_id <= ptr:
        # crash-recovery retry: a previous publish swapped the pointer
        # but died before clearing the flag — finish idempotently
        pass
    elif (ptr or 0) + 1 != snapshot_id:
        raise ValueError(
            f"staged snapshot {snapshot_id} does not sit directly above "
            f"the pointer ({ptr}): publish refused"
        )
    else:
        # POINTER FIRST: after this instant the snapshot is committed
        # (readers resolve it; vacuum counts its files live via the
        # committed path) even if we crash before clearing the flag.
        # The reverse order opens a window where an unstaged
        # above-pointer manifest looks like crash litter — an orphan
        # sweep or vacuum inside it would delete the audited snapshot.
        # (The first-ever pointer may arrive here, retiring the marker.)
        _swap_pointer(table_dir, snapshot_id)
    manifest.pop("staged", None)
    _replace_manifest(table_dir, manifest)
    return snapshot_id


def snapshot_abandon(table_dir: str, snapshot_id: int) -> None:
    """Drop a STAGED snapshot after a failed audit: removes the staged
    manifest (its data files become unreferenced and vacuum reclaims
    them). Refuses to touch committed snapshots."""
    ptr = _read_pointer(table_dir)
    if ptr is not None and snapshot_id <= ptr:
        raise ValueError(
            f"snapshot {snapshot_id} is committed (pointer {ptr}): "
            "abandon only removes staged snapshots — use rollback + "
            "expire for committed history"
        )
    mpath = _manifest_path(table_dir, snapshot_id)
    manifest = json.load(open(mpath))
    if not manifest.get("staged"):
        raise ValueError(f"snapshot {snapshot_id} is not staged")
    os.remove(mpath)


_TAG_RE = _re.compile(r"^[A-Za-z0-9_.-]{1,64}$")


def snapshot_tag(
    table_dir: str, name: str, snapshot_id: int | None = None
) -> int:
    """Create/move a named TAG (Iceberg refs): a durable name for a
    snapshot id — 'v1', 'audited-2024-06', the dataset versions
    training jobs pin. Tagged snapshots survive expire_snapshots
    (refs retain history, exactly Iceberg's retention rule); reads
    resolve with ``snapshot_read(..., snapshot_id=resolve_tag(...))``.
    Atomic os.replace, so a tag move is all-or-nothing."""
    if not _TAG_RE.match(name):
        raise ValueError(f"tag name {name!r} must match {_TAG_RE.pattern}")
    ptr = _read_pointer(table_dir)
    sid = snapshot_id if snapshot_id is not None else ptr
    if sid is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    if not os.path.exists(_manifest_path(table_dir, sid)):
        raise FileNotFoundError(f"no manifest for snapshot {sid}")
    if ptr is None or sid > ptr:
        # staged / crash-orphaned manifests are not committed history:
        # a tag on one dangles the moment it is abandoned or swept,
        # breaking the docstring's durability promise silently
        raise ValueError(
            f"snapshot {sid} is not committed (pointer {ptr}): tags pin "
            "committed snapshots — publish first"
        )
    rdir = os.path.join(table_dir, "refs")
    os.makedirs(rdir, exist_ok=True)
    tmp = os.path.join(rdir, f".{name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(sid))
    os.replace(tmp, os.path.join(rdir, name))
    return sid


def snapshot_tags(table_dir: str) -> dict[str, int]:
    """All tags as {name: snapshot_id}."""
    rdir = os.path.join(table_dir, "refs")
    if not os.path.isdir(rdir):
        return {}
    out = {}
    for f in os.listdir(rdir):
        if f.startswith("."):
            continue
        with open(os.path.join(rdir, f)) as fh:
            out[f] = int(fh.read().strip())
    return out


def resolve_tag(table_dir: str, name: str) -> int:
    tags = snapshot_tags(table_dir)
    if name not in tags:
        raise FileNotFoundError(f"no tag {name!r} in {table_dir!r}")
    return tags[name]


def snapshot_drop_tag(table_dir: str, name: str) -> None:
    if not _TAG_RE.match(name):
        # same validation as snapshot_tag: an unvalidated os.remove
        # would follow '../_current' out of refs/ and delete the
        # commit pointer
        raise ValueError(f"tag name {name!r} must match {_TAG_RE.pattern}")
    os.remove(os.path.join(table_dir, "refs", name))


def snapshot_read(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int | None = None,
    prune: tuple[str, str, float] | None = None,
    schema_snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    point_filter: dict | None = None,
) -> DataFrame:
    """Read a snapshot (current by default; pass ``snapshot_id`` for
    time travel). The file list is resolved NOW, so later commits or
    replaces cannot tear this read (snapshot isolation; files survive
    until expire+vacuum).

    ``prune=(column, op, value)`` with op in <=,>=,== applies
    manifest-level file skipping from footer min/max stats BEFORE Spark
    lists anything — combine with a matching .filter() for row-level
    semantics (skipping alone keeps whole files that merely overlap).

    ``partition_filter={col: value, ...}`` keeps only files whose
    manifest-recorded partition tuple matches every given value. The
    values are evaluated by the writer's own ``_spec_exprs`` (an
    identity field takes the value, a ``bucket(N, col)`` field its
    bucket; None matches the NULL partition), so reader and writer
    cannot disagree on a partition value. Exact pruning on identity
    fields — a partitioned file holds exactly one tuple — so unlike
    min/max skipping it needs no residual row filter on those columns;
    a bucket field keeps the value's whole bucket. Files without
    recorded partition info (committed before the spec, or under a
    different spec) are conservatively KEPT; combine with a row-level
    .filter() when the table mixes specs.

    ``point_filter={col: value, ...}`` applies Bloom-sidecar file
    skipping (for tables written with ``bloom_columns``): files whose
    sidecar proves a value absent are dropped before listing — the
    point-lookup complement to min/max ``prune`` (zone maps cannot
    skip on high-cardinality unclustered keys; a Bloom can). Never a
    false negative; sidecar-less files are kept. Whole-file skipping —
    combine with a matching .filter() for row semantics.

    ``schema_snapshot_id`` reads the files under ANOTHER snapshot's
    (usually newer, evolved) schema — columns added since the read
    snapshot appear as NULL. This is how changelog reads span an
    add-column boundary (Iceberg reads both ends of a changelog under
    the current schema for the same reason)."""
    manifest = (
        _load_manifest(table_dir, snapshot_id)
        if snapshot_id is not None
        else _current_manifest(table_dir)[1]
    )
    schema_manifest = (
        _load_manifest(table_dir, schema_snapshot_id)
        if schema_snapshot_id is not None
        else manifest
    )
    files = manifest["files"]
    if point_filter:
        # Bloom-sidecar file skipping (snapshot_write bloom_columns):
        # a file is dropped only when its sidecar PROVES the value
        # absent (some probe bit unset) — no false negatives, ~0.5%
        # false-keep at the sidecar's design point. Files without a
        # sidecar for the column are conservatively KEPT, so mixed
        # manifests stay correct. Like ``prune``, this skips whole
        # files; combine with a matching .filter() for row semantics.
        from yelp_etl_spark.functions.integrity import py_bit_positions

        def _bloom_keeps(f: dict) -> bool:
            for col, value in point_filter.items():
                if value is None:
                    # NULL membership is never recorded in a sidecar
                    # (builders discard None), and hashing the string
                    # 'None' would fabricate false negatives — a NULL
                    # point lookup keeps every file (use partition or
                    # min/max pruning for NULL-partitioned layouts)
                    continue
                side = (f.get("bloom") or {}).get(col)
                if side is None:
                    continue
                words = side["w"]
                for bit in py_bit_positions(value, side["b"], side["k"]):
                    if not words.get(str(bit // 32), 0) & (1 << (bit % 32)):
                        return False
            return True

        files = [f for f in files if _bloom_keeps(f)]
    if partition_filter:
        # Hidden partitioning: filters name SOURCE columns and raw
        # values. The writer's own _spec_exprs map them to partition
        # values, over a one-row frame typed by the manifest schema,
        # and the cast to string is the rendering the scratch write's
        # directory names recorded ('true', '5.0'; NULL stays NULL).
        # A filtered column that is no source of the spec maps through
        # an identity entry, which matches files written under an
        # older spec. A column the schema lacks is in no file's tuple
        # (every tuple's sources are schema columns), so it prunes
        # nothing. One Spark job for the whole filter.
        schema = T.StructType.fromJson(json.loads(manifest["schema"]))
        filt = {c: v for c, v in partition_filter.items() if c in schema.names}
        spec = manifest.get("partition_by") or []
        srcs = [src for _f, src, _n in _spec_fields(spec)]
        entries = [e for e, src in zip(spec, srcs) if src in filt]
        entries += [c for c in filt if c not in srcs]
        wanted: dict[str, str | None] = {}
        if filt:
            row = spark.createDataFrame(
                [tuple(filt.values())],
                T.StructType(
                    [T.StructField(c, schema[c].dataType) for c in filt]
                ),
            )
            wanted = row.select(
                *[
                    e.cast("string").alias(field)
                    for field, e in _spec_exprs(entries).items()
                ]
            ).collect()[0].asDict()

        def tuple_matches(f: dict) -> bool:
            part = f.get("partition")
            if part is None:
                return True  # unknown spec → cannot skip
            for field, want in wanted.items():
                if field not in part:
                    continue  # field not in this file's spec
                if part[field] != want:
                    return False
            return True

        files = [f for f in files if tuple_matches(f)]
    if prune is not None:
        col, op, value = prune
        if op not in ("<=", ">=", "=="):
            raise ValueError(f"prune op must be <=, >= or ==, got {op!r}")

        def overlaps(f: dict) -> bool:
            lo, hi = f["min"].get(col), f["max"].get(col)
            if lo is None or hi is None:
                return True  # no stats → cannot skip
            if op == "<=":
                return lo <= value
            if op == ">=":
                return hi >= value
            return lo <= value <= hi

        files = [f for f in files if overlaps(f)]
    return _scan(spark, table_dir, manifest, files, schema_manifest["schema"])


def _scan(
    spark: SparkSession,
    table_dir: str,
    manifest: dict,
    files: list[dict] | None = None,
    schema: str | None = None,
) -> DataFrame:
    """The rows of ``files`` (default: all of ``manifest``'s) under the
    Spark JSON ``schema`` (default: the manifest's), merge-on-read
    deletes applied: the one path from a resolved manifest to a
    DataFrame, for snapshot_read and every read-then-commit operation."""
    if files is None:
        files = manifest["files"]
    schema = T.StructType.fromJson(json.loads(schema or manifest["schema"]))
    if not files:
        return spark.createDataFrame([], schema)
    dels = manifest.get("delete_files") or []
    if not dels:
        paths = [os.path.join(table_dir, f["path"]) for f in files]
        return spark.read.schema(schema).parquet(*paths)
    # Merge-on-read equality deletes (snapshot_mor_delete): a delete
    # file masks rows of every data file with a STRICTLY smaller
    # sequence number (Iceberg v2's equality-delete rule — files
    # appended after the delete, including re-inserts of deleted keys,
    # are untouched). Data files group by their seq; each group
    # anti-joins the union of the delete files that apply to it. No
    # broadcast hint: the delete scans carry size stats, so Catalyst/
    # AQE broadcasts small delete sets on its own but won't be forced
    # to materialize a billion-key delete set on every executor —
    # when deletes grow past that, snapshot_compact materializes them
    # away (delete_files reset on rewrite).
    by_seq: dict[int, list[str]] = {}
    for f in files:
        by_seq.setdefault(int(f.get("seq", 0)), []).append(
            os.path.join(table_dir, f["path"])
        )
    # each delete file is scanned ONCE and the frame reused across seq
    # groups (the frames are seq-invariant; re-creating them per group
    # would multiply scan nodes by |groups|·|deletes|)
    del_frames = [
        (
            d["seq"],
            list(d["keys"]),
            spark.read.parquet(
                *[os.path.join(table_dir, p) for p in d["paths"]]
            ),
        )
        for d in dels
    ]
    parts = []
    for fseq, paths in sorted(by_seq.items()):
        part = spark.read.schema(schema).parquet(*paths)
        for dseq, dkeys, dk in del_frames:
            if dseq > fseq:
                part = part.join(dk, dkeys, "left_anti")
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def snapshots(table_dir: str) -> list[dict]:
    """All committed snapshots, oldest first: (snapshot_id, parent_id,
    operation, n_files, n_rows) — Iceberg's snapshots metadata table.
    Manifests newer than the pointer (a crashed, never-committed write)
    are not snapshots and are excluded."""
    mdir = os.path.join(table_dir, "manifests")
    out = []
    for f in _committed_manifest_names(table_dir):
        m = json.load(open(os.path.join(mdir, f)))
        out.append(
            {
                "snapshot_id": m["snapshot_id"],
                "parent_id": m["parent_id"],
                "operation": m["operation"],
                "n_files": len(m["files"]),
                "n_rows": sum(fl["rows"] for fl in m["files"]),
            }
        )
    return out


def snapshot_files_table(
    spark: SparkSession, table_dir: str, snapshot_id: int | None = None
) -> DataFrame:
    """Iceberg's ``table.files`` metadata table as a DataFrame: one row
    per data file of a snapshot with (path, rows, partition tuple as a
    map, min/max zone maps as JSON). Layout audits, skew checks, and
    compaction planning query THIS instead of listing storage — at
    100 TB the manifest is the only thing small enough to inspect
    interactively."""
    m = (
        _load_manifest(table_dir, snapshot_id)
        if snapshot_id is not None
        else _current_manifest(table_dir)[1]
    )
    rows = [
        (
            f["path"],
            f["rows"],
            {k: v for k, v in (f.get("partition") or {}).items()},
            json.dumps(f["min"], sort_keys=True),
            json.dumps(f["max"], sort_keys=True),
        )
        for f in m["files"]
    ]
    return spark.createDataFrame(
        rows,
        "path string, n_rows long, partition map<string,string>, "
        "min_json string, max_json string",
    )


def snapshot_history_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """Iceberg's ``table.history``/``table.snapshots`` metadata table:
    one row per committed snapshot (id, parent, operation, file/row
    counts) — the audit trail behind time travel and rollback."""
    rows = [
        (
            s["snapshot_id"],
            s["parent_id"],
            s["operation"],
            s["n_files"],
            s["n_rows"],
        )
        for s in snapshots(table_dir)
    ]
    return spark.createDataFrame(
        rows,
        "snapshot_id long, parent_id long, operation string, "
        "n_files long, n_rows long",
    )


def expire_snapshots(table_dir: str, keep_last: int = 1) -> list[int]:
    """Drop all but the newest ``keep_last`` manifests (returns expired
    ids). Data files stay until vacuum() — expiry only limits how far
    back time travel reaches, exactly Iceberg's expire_snapshots.

    ``keep_last`` must be >= 1: expiring everything would leave the
    ``_current`` pointer dangling and a subsequent vacuum() would treat
    every live data file as orphaned."""
    if keep_last < 1:
        raise ValueError(
            "keep_last must be >= 1 — expiring every snapshot would "
            "orphan the current pointer and let vacuum() delete the "
            "live table"
        )
    mdir = os.path.join(table_dir, "manifests")
    # retention is computed over COMMITTED manifests only: counting a
    # crash-orphaned newer manifest could expire the manifest the
    # pointer references (and vacuum would then delete the live table)
    names = _committed_manifest_names(table_dir)
    # tagged snapshots are retained regardless of position (Iceberg's
    # refs rule): a tag is a durable promise that time travel to that
    # id keeps working
    tagged = set(snapshot_tags(table_dir).values())
    expired = []
    for f in names[:-keep_last]:
        sid = _manifest_sid(f)
        if sid in tagged:
            continue
        os.remove(os.path.join(mdir, f))
        expired.append(sid)
    return expired


def vacuum(table_dir: str) -> int:
    """Delete data files referenced by NO committed manifest (returns
    count removed) — Iceberg's remove_orphan_files. Every readable
    snapshot's files are referenced, so vacuum never breaks a committed
    snapshot; files of a crash-orphaned uncommitted manifest ARE
    removed (that is the cleanup of the failed commit). MUST NOT run
    concurrently with an in-flight snapshot_write: a commit renames
    data files into place before its manifest exists, and a concurrent
    vacuum would collect them (same single-maintenance-writer rule as
    Iceberg's remove_orphan_files, which uses an age cutoff for the
    same reason)."""
    mdir = os.path.join(table_dir, "manifests")
    # one pointer lookup: a manifest committed between two lookups
    # would count as neither committed nor staged and lose its files
    ptr = _read_pointer(table_dir)
    live = set()
    for f in _manifest_names(mdir):
        m = json.load(open(os.path.join(mdir, f)))
        # committed manifests are live, and so is a STAGED
        # (write-audit-publish) snapshot above the pointer: not
        # committed but intentional, its files must survive or the
        # audit would read a half-deleted snapshot. Crash orphans
        # (named manifests above the pointer WITHOUT the flag) are
        # collectible.
        if (ptr is not None and _manifest_sid(f) <= ptr) or m.get("staged"):
            live |= {fl["path"] for fl in m["files"]}
            # merge-on-read delete files are as live as the data files
            # they mask: collecting one would resurrect deleted rows in
            # every snapshot that references it
            live |= {
                p for d in m.get("delete_files", []) for p in d["paths"]
            }
    removed = 0
    ddir = os.path.join(table_dir, "data")
    for f in os.listdir(ddir):
        rel = os.path.join("data", f)
        if rel not in live:
            os.remove(os.path.join(ddir, f))
            removed += 1
    return removed


def snapshot_overwrite_partitions(
    df: DataFrame, table_dir: str, partition_by: list[str]
) -> int:
    """Atomic dynamic partition overwrite (Iceberg's overwrite commit;
    the engine's only dynamic overwrite): replace ONLY the partitions
    present in ``df``, keep every other partition's files from the
    parent snapshot, all in ONE commit — readers see the old table or
    the new one, never a half-replaced partition, and the replaced
    partitions stay time-travelable. This is the idempotent
    backfill/late-data publish primitive: re-running a day's job
    rewrites exactly that day.

    Requires the parent snapshot to carry the SAME identity spec
    (files without partition info cannot be safely kept-or-replaced;
    the commit refuses rather than guessing). The touched tuples come
    from the new files' manifest entries, so choosing what to keep
    costs no job. Like an append, the batch may add or omit columns
    but not change a column's type, and it builds the table's bloom
    sidecars and passes its constraints (_commit_data)."""
    pm = _parent_manifest(table_dir)
    if pm is None:
        return _commit_data(df, table_dir, None, "replace",
                            partition_by=partition_by)
    fields = [f for f, _, _ in _spec_fields(pm.get("partition_by") or [])]
    if any(
        "partition" not in f or any(c not in f["partition"] for c in fields)
        for f in pm["files"]
    ):
        # files without the table spec's full partition tuple — an
        # older layer version's tuple-less files, or files written
        # before a snapshot_evolve_spec under the previous layout —
        # cannot be safely kept-or-replaced; refuse BEFORE the data
        # write (a KeyError after it would strand orphan files)
        raise ValueError(
            "parent snapshot contains files without the current spec's "
            "partition tuples (pre-evolution or tuple-less): dynamic "
            "overwrite cannot keep-or-replace them safely — rewrite the "
            "table under the spec first (snapshot_write replace with "
            "partition_by)"
        )

    def untouched(new_files: list[dict]) -> list[dict]:
        touched = {tuple(f["partition"][c] for c in fields) for f in new_files}
        return [
            f
            for f in pm["files"]
            if tuple(f["partition"][c] for c in fields) not in touched
        ]

    # the spec must match the table's; kept partitions keep their
    # delete files (see _next_manifest)
    return _commit_data(
        df, table_dir, pm, "overwrite", untouched, partition_by=partition_by
    )


def snapshot_rollback(table_dir: str, to_snapshot: int) -> int:
    """Iceberg's rollback: make ``to_snapshot``'s file list current
    again by committing it as a NEW snapshot (operation 'rollback') —
    history is never rewritten, so the bad snapshot stays inspectable
    and the rollback itself is time-travelable and revertible. Pure
    metadata: no data files move; the commit is one manifest write and
    a pointer swap regardless of table size — the operational 'undo'
    for a bad replace/merge at 100 TB."""
    current = _read_pointer(table_dir)
    if current is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    if to_snapshot > current:
        # ids beyond the pointer are either nonexistent or a crash-
        # orphaned UNCOMMITTED manifest from a failed writer — rolling
        # "back" to one would publish a file list that never committed
        raise ValueError(
            f"snapshot {to_snapshot} is not committed (current is "
            f"{current}): refusing to roll back to an uncommitted or "
            "orphaned manifest"
        )
    target = _load_manifest(table_dir, to_snapshot)  # raises if expired
    # the target is the parent, at the current id: rollback restores
    # the table STATE, all of it (see _next_manifest)
    manifest = _next_manifest(
        {**target, "snapshot_id": current},
        "rollback",
        rolled_back_to=to_snapshot,
    )
    return _commit_manifest(table_dir, manifest)


def snapshot_evolve_spec(table_dir: str, partition_by: list[str]) -> int:
    """Iceberg's partition-spec evolution (``ALTER TABLE … ADD/REPLACE
    PARTITION FIELD``): commit a NEW snapshot with the SAME file list
    but a new declared spec — pure metadata, one manifest write and a
    pointer swap at any table size, because Iceberg NEVER rewrites
    data on a spec change. Files written before the evolution keep the
    partition tuples of the spec they were written under (their
    directory layout is immutable history); appends after it lay new
    files out under the NEW spec. Reads stay correct across the mix:
    ``partition_filter`` prunes exactly on files that RECORD the
    filter column and conservatively KEEPS files that don't
    (snapshot_read's documented mixed-spec contract), so pre-evolution
    files are scanned rather than wrongly skipped — combine with a
    row-level ``.filter()`` for row semantics, exactly as Iceberg
    requires residual filters over mixed specs. ``partition_by=[]``
    de-partitions the table going forward.

    Reference anchor: the reference hard-codes one identity
    partition + bucket layout per entity for the table's whole life
    (write.py:24-53); this is the capability that lets a 100 TB table
    change its layout as query patterns drift, without a rewrite."""
    _, pm = _current_manifest(table_dir)
    if partition_by:
        schema = T.StructType.fromJson(json.loads(pm["schema"]))
        # validate SOURCE columns (a bucket(N, col) field is named
        # col_bucketN — checking field names would falsely reject
        # every bucket-transform spec)
        missing = [
            src for _f, src, _n in _spec_fields(partition_by)
            if src not in schema.fieldNames()
        ]
        if missing:
            raise ValueError(
                f"new partition spec {partition_by!r} references source "
                f"column(s) {missing!r} absent from the table schema"
            )
    if list(partition_by or []) == list(pm.get("partition_by") or []):
        raise ValueError(
            f"partition spec is already {partition_by!r}: nothing to evolve"
        )
    return _commit_manifest(
        table_dir,
        _next_manifest(pm, "evolve-spec", partition_by=partition_by),
    )


def snapshot_compact(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 2**20,
    cluster_by: str | None = None,
) -> int:
    """Iceberg's ``rewrite_data_files``: rewrite the current
    snapshot's files into ~``target_file_bytes``-sized ones and commit
    the result as a new snapshot with IDENTICAL content (operation
    'rewrite'). Readers pinned to older snapshots keep their exact
    file lists; the small files are reclaimed later by
    expire_snapshots + vacuum — compaction never deletes anything
    in-band, which is what makes it safe to run while readers are
    live. A commit landing between its read and its commit fails it
    (ConcurrentCommitError) instead of losing its rows to the rewrite.
    The streaming-sink small-files
    problem at 100 TB is exactly this maintenance loop (the engine's
    only compaction; time travel preserved).

    ``cluster_by=<column>`` additionally SORT-ORDERS the rewrite
    (Iceberg's rewrite with a sort order / binpack→sort strategy):
    rows are value-range bucketed on the column from its exact global
    min/max and each output file covers a narrow range, so later
    ``prune=(column, op, value)`` reads skip most files. Deterministic
    by construction (exact-bounds bucketing, never sampled range
    partitioning)."""
    _, manifest = _current_manifest(table_dir)
    total = sum(
        os.path.getsize(os.path.join(table_dir, f["path"]))
        for f in manifest["files"]
    )
    n_out = max(1, -(-total // target_file_bytes))
    df = _scan(spark, table_dir, manifest)
    spec = manifest.get("partition_by")
    if cluster_by is not None:
        if spec:
            raise ValueError(
                "cluster_by compaction on a partitioned table is not "
                "supported: cluster within partitions by compacting each "
                "partition's sub-table, or de-partition first"
            )
        # Clustered rewrite (Iceberg's rewrite_data_files with a sort
        # order): assign each row a value-range bucket from the EXACT
        # global min/max (one cheap agg — deterministic, unlike
        # repartitionByRange's reservoir sampling, so the resulting
        # file layout and every file-skip count replay identically),
        # shuffle on the bucket, and sort within partitions. Each
        # output file then covers a narrow value range, so min/max
        # ``prune`` reads skip most files — the layout maintenance
        # that keeps zone-map pruning effective as a table ages.
        lo, hi = (
            df.agg(
                F.min(cluster_by).cast("double"),
                F.max(cluster_by).cast("double"),
            ).collect()[0]
        )
        if lo is None or hi is None:
            # empty table or all-NULL cluster column: no value range to
            # order by — a plain rewrite is the meaningful maintenance op
            raise ValueError(
                f"cluster_by={cluster_by!r}: no non-NULL values to cluster "
                "on (empty table or all-NULL column); run a plain compact"
            )
        span = (hi - lo) or 1.0
        # NULL cluster values get a dedicated bucket 0 (NULLS FIRST, the
        # engines' default sort placement) — without the explicit branch,
        # F.least(lit(n-1), NULL) = n-1 would silently mix NULL rows into
        # the top value-range file and break its zone-map tightness.
        bucket = F.when(F.col(cluster_by).isNull(), F.lit(0)).otherwise(
            F.least(
                F.lit(n_out - 1),
                F.floor(
                    (F.col(cluster_by).cast("double") - F.lit(lo))
                    / F.lit(span)
                    * n_out
                ).cast("int"),
            )
        )
        # A plain repartition(n, bucket) hash-scatters buckets across
        # partitions (collisions merge ranges and wreck the zone-map
        # story). Probe Spark's own hash partitioner for one integer
        # token per target partition and route each bucket through its
        # token — every output file then holds EXACTLY one value
        # range. The probe is one n_out-row local job.
        probe = (
            spark.range(0, 65536)
            .selectExpr(
                "CAST(id AS INT) AS t",
                f"pmod(hash(CAST(id AS INT)), {n_out}) AS p",
            )
            .groupBy("p")
            .agg(F.min("t").alias("t"))  # min: collect-order-independent
        )
        tok = {r.p: r.t for r in probe.collect()}
        if len(tok) < n_out:
            raise RuntimeError(
                f"hash-token probe could not cover {n_out} partitions"
            )
        token = F.element_at(
            F.array(*[F.lit(tok[p]) for p in range(n_out)]), bucket + 1
        )
        df = (
            df.withColumn("__cluster_tok", token)
            .repartition(n_out, "__cluster_tok")
            .sortWithinPartitions(cluster_by)
            .drop("__cluster_tok")
        )
    else:
        # the rewrite inherits the spec (Iceberg compaction rewrites
        # WITHIN the spec): repartition on the spec fields so each
        # output task holds whole partitions — the fanout write then
        # emits ~one file per (task, partition) instead of
        # files-per-partition × tasks
        df = df.repartition(n_out, *_spec_exprs(spec).values())
    return _commit_data(df, table_dir, manifest, "rewrite")


def _merge_scope(
    source: DataFrame, manifest: dict, keys: list[str]
) -> tuple[list[dict], list[dict]]:
    """(chosen, rest): the files a keyed merge of ``source`` reads and
    rewrites, and the ones it carries untouched. Only when every spec
    source is a key does a key have one partition value; then a file
    whose recorded tuple the batch's ``_spec_exprs`` (over the table's
    types, cast to string: one distinct query) never evaluate to
    cannot hold a batch key. A file with no tuple, or missing a current
    spec field, is always chosen; under any other spec every file is,
    with no job."""
    files = manifest["files"]
    spec = manifest.get("partition_by") or []
    fields = [f for f, _s, _n in _spec_fields(spec)]
    sources = list(dict.fromkeys(src for _f, src, _n in _spec_fields(spec)))
    if not fields or not set(sources) <= set(keys):
        return files, []
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    typed = source.select(
        *[F.col(c).cast(schema[c].dataType).alias(c) for c in sources]
    )
    touched = {
        tuple(r)
        for r in typed.select(
            *[e.cast("string").alias(f) for f, e in _spec_exprs(spec).items()]
        ).distinct().collect()
    }

    def holds(f: dict) -> bool:
        part = f.get("partition") or {}
        return any(c not in part for c in fields) or (
            tuple(part[c] for c in fields) in touched
        )

    return [f for f in files if holds(f)], [f for f in files if not holds(f)]


def snapshot_merge(
    spark: SparkSession,
    source: DataFrame,
    table_dir: str,
    keys: list[str],
    delete_condition=None,
) -> int:
    """MERGE INTO for the snapshot layer (operators/scd.merge_upsert)
    committed as one atomic snapshot: readers see the pre-merge table
    or the post-merge table, never an intermediate state, and the
    pre-merge snapshot stays time-travelable. First merge into an
    empty table is the initial insert. Keys match null-safely, so
    replaying a batch with a NULL key part leaves one row.

    ``delete_condition`` (a Column over ``source``) adds the
    WHEN MATCHED THEN DELETE branch of the full MERGE statement
    (Iceberg v2 row-level deletes, the natural extension of reference
    write.py's replace semantics): source rows where it is true REMOVE
    the matching target keys and are not inserted; the remaining rows
    upsert. Extra columns that exist only for the condition (an op
    flag from a CDC feed) are allowed on ``source`` — the upsert
    branch is projected onto the target's columns. Execution is one
    extra anti-join on the delete keys over the plain upsert — still a
    single keyed shuffle family, broadcastable when the delta is
    small.

    When every spec source is a key, only the partitions the batch
    touches are read and rewritten, and the other files are carried
    into an ``'overwrite'`` commit (_merge_scope, Iceberg's
    copy-on-write MERGE); otherwise the table is rewritten
    (``'replace'``).

    The merge keeps the table's spec and bloom columns (_commit_data)
    and reads the target from the snapshot it commits on, so a writer
    that commits in between fails it with ConcurrentCommitError instead
    of having its rows silently dropped by the replace."""
    from yelp_etl_spark.operators.scd import anti_join_keys, merge_upsert

    pm = _parent_manifest(table_dir)
    target, rest = None, []
    if pm is not None:
        chosen, rest = _merge_scope(source, pm, keys)
        target = _scan(spark, table_dir, pm, chosen)
    if delete_condition is None:
        merged = (
            source
            if target is None
            else merge_upsert(target, source, keys, null_safe=True)
        )
    else:
        deletes = source.filter(delete_condition).select(*keys)
        upserts = source.filter(~F.coalesce(delete_condition, F.lit(False)))
        if target is None:
            # no target schema to project onto yet: strip engine-internal
            # dunder columns (the CDC op-flag convention) so a bootstrap
            # merge does not bake the flag into the table schema forever
            merged = upserts.drop(
                *[c for c in upserts.columns if c.startswith("__")]
            )
        else:
            merged = anti_join_keys(
                merge_upsert(
                    target, upserts.select(*target.columns), keys,
                    null_safe=True,
                ),
                deletes, keys, null_safe=True,
            )
    # carried files keep the delete files that mask them, like binpack
    return _commit_data(
        merged, table_dir, pm, "overwrite" if rest else "replace", rest or None
    )


def snapshot_mor_delete(
    spark: SparkSession,
    table_dir: str,
    delete_keys: DataFrame,
    keys: list[str],
) -> int:
    """Merge-on-read row deletion (Iceberg v2 equality deletes): commit
    the distinct ``keys``-tuples of ``delete_keys`` as a DELETE FILE —
    the parent's data files are carried into the new snapshot
    UNTOUCHED, and readers mask matching rows with an anti-join at
    scan time (snapshot_read). Returns the new snapshot id.

    This is the write path copy-on-write cannot afford at 100 TB:
    deleting a scattered 0.1% of rows (GDPR erasure, late
    retractions) under snapshot_merge's replace semantics rewrites
    the entire table; here the commit cost is O(|deleted keys|) — one
    small parquet write plus a manifest — regardless of table size.
    The read-side anti-join is the deferred price; when accumulated
    delete files grow, ``snapshot_compact`` materializes them into a
    clean rewrite and resets the delete list (Iceberg's
    rewrite_position_deletes + rewrite_data_files maintenance pair).

    Sequence-number semantics: the delete applies only to data files
    with a strictly smaller sequence number, so keys re-inserted by a
    LATER append are visible — delete-then-reinsert works exactly as
    in Iceberg. Time travel to the parent snapshot still sees the
    deleted rows (the delete is a new snapshot, not an edit).

    ``delete_keys`` may carry extra columns; only ``keys`` are
    written. Deleting by a non-key predicate = filter the table first
    and pass the matching key tuples."""
    parent, pm = _current_manifest(table_dir)
    missing = [k for k in keys if k not in delete_keys.columns]
    if missing:
        raise ValueError(f"delete_keys lacks key column(s) {missing!r}")
    entries = _write_data_files(
        delete_keys.select(*keys).distinct(), table_dir, None, None
    )
    delete = {
        "paths": [e["path"] for e in entries],
        "keys": list(keys),
        "seq": parent + 1,
        "count": sum(e.get("rows", 0) for e in entries),
    }
    manifest = _next_manifest(
        pm, "delete", delete_files=[*(pm.get("delete_files") or []), delete]
    )
    return _commit_manifest(table_dir, manifest)


def snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    from_snapshot: int,
    to_snapshot: int,
    keys: list[str],
    compare_columns: list[str],
) -> DataFrame:
    """Changelog between two committed snapshots (Iceberg's
    changelog/CDC read): rows classified added / removed / changed /
    unchanged via operators/scd.snapshot_diff — one full-outer join on
    the keys between the two pinned file lists. This is what lets
    downstream incremental consumers (incremental_agg_maintenance,
    index refreshers) process exactly the delta between two table
    versions without a write-side log."""
    from yelp_etl_spark.operators.scd import snapshot_diff

    # both ends read under the TO side's schema, so a column added
    # between the snapshots compares as NULL->value (= 'changed')
    # instead of crashing the old side's select
    old = snapshot_read(
        spark, table_dir, snapshot_id=from_snapshot,
        schema_snapshot_id=to_snapshot,
    )
    new = snapshot_read(spark, table_dir, snapshot_id=to_snapshot)
    return snapshot_diff(old, new, keys, compare_columns)


def snapshot_merge_3way(
    spark: SparkSession,
    table_dir: str,
    base_id: int,
    ours_id: int,
    theirs_id: int,
    keys: list[str],
    on_conflict: str = "theirs",
) -> int:
    """Three-way keyed merge of two diverged table versions against
    their common base — the RECONCILING publish for the WAP surface
    (Iceberg/Nessie branch merge semantics): stage work on a branch
    (snapshot_write(publish=False)), let main advance meanwhile, then
    merge the branch back instead of blind-publishing over main's
    concurrent commits.

    Per key, each side's change vs base classifies as insert / update
    / delete / nochange — value equality is a NULL-SAFE struct
    comparison over the merged schema (never a bare xxhash64 of the
    columns: Spark's xxhash64 skips NULL children, so swapping a value
    between same-typed columns around a NULL would hash identically
    and the edit would silently vanish — the same quirk _bucket_expr
    guards). Non-conflicting changes from BOTH sides apply; keys
    changed on both sides to DIFFERENT values resolve by
    ``on_conflict``: 'theirs' (the branch wins — merge-publish),
    'ours' (main wins — rebase-drop), or 'fail' (raise with the
    conflicting key count, Nessie's default — checked BEFORE the
    staged branch is consumed, so it survives for a resolve+retry).
    Identical both-side changes are not conflicts.

    Additive schema evolution is honored: the merge operates over the
    UNION of the three versions' schemas (a column added on either
    side reads as NULL from the others — snapshot_write's append
    rule), so a column added on main or on the branch survives the
    merge instead of being silently projected away.

    Durability ordering when the branch is staged: the merged data
    files are fully written FIRST; then ONE atomic os.replace swaps
    the staged branch manifest's file for a STAGED merge manifest
    reusing the same snapshot id (a stage holds parent+1 exclusively,
    so the id is free to reuse); then the normal snapshot_publish tail
    (pointer swap, idempotent flag clear) commits it. There is no
    instant where neither manifest exists: before the replace the
    branch is intact, after it a staged merge is on disk (resumable
    via snapshot_publish), after the pointer swap the merge is
    committed. The branch's own data files become unreferenced at the
    replace and are reclaimed by vacuum, exactly as an abandon would
    leave them.

    Execution: two keyed full-outer joins (base⟗ours⟗theirs) on the
    merge keys + one CASE projection — the standard three-scan keyed
    shuffle family, broadcastable when the diverged deltas are small,
    linear at 100 TB. Preserves the parent snapshot's partition spec
    (the snapshot_merge rule)."""
    if on_conflict not in ("theirs", "ours", "fail"):
        raise ValueError(f"on_conflict must be theirs|ours|fail: {on_conflict}")
    pm = _parent_manifest(table_dir)  # the commit protocol's step 0
    base = snapshot_read(spark, table_dir, base_id)
    ours = snapshot_read(spark, table_dir, ours_id)
    theirs = snapshot_read(spark, table_dir, theirs_id)
    union = _union_schema(
        "3-way merge", base.schema, ours.schema, theirs.schema
    )
    cols = union.fieldNames()
    val_cols = [c for c in cols if c not in keys]

    def aligned(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[
                F.col(c) if c in have
                else F.lit(None).cast(union[c].dataType).alias(c)
                for c in cols
            ]
        )

    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return aligned(df).select(
            *[F.col(k).alias(f"{tag}_{k}") for k in keys],
            F.struct(*[F.col(c) for c in val_cols]).alias(f"{tag}_row"),
            F.lit(True).alias(f"{tag}_present"),
        )

    b, o, t = tagged(base, "b"), tagged(ours, "o"), tagged(theirs, "t")
    cond_bo = [b[f"b_{k}"].eqNullSafe(o[f"o_{k}"]) for k in keys]
    j = b.join(o, cond_bo, "full_outer")
    key_bo = [
        F.coalesce(F.col(f"b_{k}"), F.col(f"o_{k}")).alias(f"k_{k}")
        for k in keys
    ]
    j = j.select(*key_bo, "b_row", "b_present", "o_row", "o_present")
    cond_t = [j[f"k_{k}"].eqNullSafe(t[f"t_{k}"]) for k in keys]
    j = j.join(t, cond_t, "full_outer").select(
        *[F.coalesce(F.col(f"k_{k}"), F.col(f"t_{k}")).alias(k) for k in keys],
        "b_row", "b_present", "o_row", "o_present", "t_row", "t_present",
    )
    bp = F.coalesce("b_present", F.lit(False))
    op_ = F.coalesce("o_present", F.lit(False))
    tp = F.coalesce("t_present", F.lit(False))
    # NULL-safe struct equality: exact, no hash, no NULL-shift blindness
    bo_eq = F.col("b_row").eqNullSafe(F.col("o_row"))
    bt_eq = F.col("b_row").eqNullSafe(F.col("t_row"))
    ot_eq = F.col("o_row").eqNullSafe(F.col("t_row"))
    o_changed = (bp != op_) | (bp & op_ & ~bo_eq)
    t_changed = (bp != tp) | (bp & tp & ~bt_eq)
    same_result = (op_ == tp) & (~op_ | ot_eq)
    conflict = o_changed & t_changed & ~same_result
    if on_conflict == "fail":
        n = j.filter(conflict).count()
        if n:
            raise ValueError(f"3-way merge: {n} conflicting keys")
    winner_theirs = conflict if on_conflict == "theirs" else F.lit(False)
    take_theirs = (t_changed & ~o_changed) | winner_theirs
    present = F.when(take_theirs, tp).otherwise(op_)
    row = F.when(take_theirs, F.col("t_row")).otherwise(F.col("o_row"))
    merged = (
        j.select(*keys, present.alias("__present"), row.alias("__row"))
        .filter(F.col("__present"))
        .select(*keys, *[F.col("__row")[c].alias(c) for c in val_cols])
        .select(*cols)
    )
    if not _load_manifest(table_dir, theirs_id).get("staged"):
        return _commit_data(merged, table_dir, pm, "replace")
    # staged branch: atomic consume (see docstring) — merged data
    # files first, then os.replace the staged branch manifest with a
    # STAGED merge manifest reusing its id, then the publish tail.
    # Never abandon-then-commit: a crash between those two steps would
    # leave BOTH the branch and the merge as unreferenced orphans.
    parent = (pm or {}).get("snapshot_id")
    if theirs_id != (parent or 0) + 1:
        # a stage holds parent+1 exclusively (snapshot_write refuses
        # concurrent commits while it exists), so anything else means
        # external manifest surgery — refuse rather than clobber, and
        # BEFORE the data write (after it, the refusal would strand
        # orphan data files)
        raise ValueError(
            f"staged branch {theirs_id} does not sit directly above "
            f"the pointer ({parent}): refusing in-place consume"
        )
    return _commit_data(merged, table_dir, pm, "replace", replace_staged=True)


def snapshot_clone(src_dir: str, dst_dir: str) -> int:
    """Zero-copy shallow clone (Delta SHALLOW CLONE / Iceberg snapshot
    ref across tables): create a NEW table at ``dst_dir`` whose first
    snapshot references the SOURCE table's current data files by
    absolute path — no data is read or copied, the clone commit is one
    manifest write however many petabytes the source holds. The clone
    then evolves independently: its own writes land as normal relative
    files inside ``dst_dir``, and commits there never touch the
    source.

    Same caveat as every shallow clone: the clone BORROWS the source's
    files, so expire+vacuum on the SOURCE can reclaim files the clone
    still references (Delta documents the identical hazard). The
    clone's own vacuum is safe — it only sweeps files under its own
    directory, and the borrowed entries live outside it.

    Dev/test table forks, reproducible-experiment pinning, and
    blue/green migration staging are the 100 TB use cases: all want
    "a table that starts as an exact copy, diverges cheaply"."""
    sid, m = _current_manifest(src_dir)
    if _read_pointer(dst_dir) is not None:
        raise ValueError(f"clone target {dst_dir!r} already has a table")
    src_abs = os.path.abspath(src_dir)

    # The clone's history starts AT the source's snapshot counter, not
    # at 1: borrowed file entries keep their source sequence numbers
    # (all <= sid), so the clone's own future commits (sid+1, ...) can
    # mask them with merge-on-read deletes — restarting at 1 would make
    # every borrowed seq look newer than any clone delete and the
    # delete would silently not apply. Carried delete-file seq
    # relationships stay verbatim for the same reason.
    manifest = _next_manifest(
        m,
        "clone",
        [{**e, "path": os.path.join(src_abs, e["path"])} for e in m["files"]],
        snapshot_id=sid,
        parent_id=None,
        clone_of={"table": src_abs, "snapshot_id": sid},
        # delete-file entries carry a "paths" LIST, not a single path
        delete_files=[
            {**d, "paths": [os.path.join(src_abs, p) for p in d["paths"]]}
            for d in m.get("delete_files") or []
        ],
    )
    os.makedirs(os.path.join(dst_dir, "manifests"), exist_ok=True)
    # data/ too: vacuum on a fresh clone lists it (borrowed files live
    # outside it, so the sweep is a safe no-op, not a FileNotFoundError)
    os.makedirs(os.path.join(dst_dir, "data"), exist_ok=True)
    return _commit_manifest(dst_dir, manifest)


def snapshot_binpack(
    spark: SparkSession,
    table_dir: str,
    small_file_bytes: int = 32 * 2**20,
) -> int:
    """SELECTIVE small-file compaction (Iceberg rewrite_data_files'
    binpack with a min-input-files/size filter — the shape real
    maintenance uses): only files under ``small_file_bytes`` are read
    and rewritten; every file already at target size is carried into
    the new snapshot UNTOUCHED, byte-identical path entries and all.
    A full-table compact rewrites 100 TB to fix a few thousand
    streaming-sink micro-files; this rewrites only the micro-files —
    maintenance cost proportional to the problem, not the table.

    Commits one atomic 'rewrite' snapshot (content identical by
    construction); parent spec and bloom sidecars carry over like
    snapshot_compact, and the rewritten rows pass the table's CHECK
    constraints like every data commit's (_commit_data). The small
    files are read through the pending merge-on-read deletes (_scan)
    of the manifest the rewrite commits on: the rewrite holds only live
    rows under the new sequence number, and the carried files keep
    theirs and the delete files that mask them."""
    sid, manifest = _current_manifest(table_dir)
    small, big, small_bytes = [], [], 0
    for e in manifest["files"]:
        size = os.path.getsize(os.path.join(table_dir, e["path"]))
        if size < small_file_bytes:
            small.append(e)
            small_bytes += size
        else:
            big.append(e)
    if len(small) <= 1:
        return sid  # nothing worth rewriting: keep the snapshot as-is
    df_small = _scan(spark, table_dir, manifest, small).repartition(
        max(1, -(-small_bytes // small_file_bytes)),
        *_spec_exprs(manifest.get("partition_by")).values(),
    )
    # the rewrite inherits the spec and bloom columns and carries the
    # files already at size untouched
    return _commit_data(df_small, table_dir, manifest, "rewrite", big)
