"""Upsert (MERGE) and slowly-changing-dimension operators.

The reference's only write mode is whole-table replace
(createOrReplace, reference write.py:24-33); real lakehouse pipelines
also need keyed upserts and dimension history. Both are expressed as
pure DataFrame transforms so they work against any sink: with an
Iceberg catalog the same semantics can push down to ``MERGE INTO``,
but nothing here requires it.

Scale notes: merge_upsert is one left-anti hash join on the key —
with both sides bucketed on the key (sources/writers.py
write_bucketed_table) it is shuffle-free; scd2_history is one
window over (key, ts), i.e. a single shuffle on the entity key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def anti_join_keys(
    df: DataFrame,
    other: DataFrame,
    keys: list[str],
    null_safe: bool = False,
) -> DataFrame:
    """The rows of ``df`` whose ``keys`` tuple is not in ``other``.
    ``null_safe=True`` matches NULL key values to each other (<=>
    semantics); the default equality never matches a NULL key."""
    if not null_safe:
        return df.join(other.select(*keys), keys, "left_anti")
    t = df.alias("__t")
    s = other.select(*keys).alias("__s")
    cond = None
    for k in keys:
        c = F.col(f"__t.{k}").eqNullSafe(F.col(f"__s.{k}"))
        cond = c if cond is None else (cond & c)
    return t.join(s, cond, "left_anti").select(
        *[F.col(f"__t.{c}") for c in df.columns]
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    null_safe: bool = False,
) -> DataFrame:
    """MERGE semantics as a transform: rows from ``source`` replace
    target rows with the same key; unmatched target rows pass through
    (SCD type 1 / "upsert"). Schemas must align by name.

    ``WHEN MATCHED THEN UPDATE (all columns), WHEN NOT MATCHED THEN
    INSERT`` — the classic lakehouse MERGE shape, as target ANTI-JOIN
    source UNION ALL source.

    ``null_safe=True`` matches NULL key values to each other (<=>
    semantics) — required when a nullable column is part of the merge
    key (e.g. a nullable partition column): with the default equality
    a NULL-keyed target row never matches and its replacement is
    DUPLICATED instead of applied. SQL MERGE has the same foot-gun;
    Spark's anti-join on column names shares it."""
    return anti_join_keys(target, source, keys, null_safe).unionByName(source)


def scd2_history(
    snapshots: DataFrame,
    key: str,
    ts: str,
    attr: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Build SCD type-2 validity intervals from an event/snapshot log:
    one row per (key, run of equal ``attr``), with ``valid_from`` =
    first ts of the run and ``valid_to`` = start of the next run
    (NULL = current). The training-data use: point-in-time joins
    against dimension state as of example time (asof_join on
    valid_from does exactly that).

    Change detection is lag() over (key, ts[, tiebreak]); one shuffle
    on the entity key for both the lag and the lead.
    """
    order: list[Column] = [F.col(ts)]
    if tiebreak:
        order.append(F.col(tiebreak))
    w = Window.partitionBy(key).orderBy(*order)
    cols = [key, ts, attr] + ([tiebreak] if tiebreak else [])
    changed = (
        snapshots.select(*dict.fromkeys(cols))
        .withColumn("__prev", F.lag(attr).over(w))
        .filter(F.col("__prev").isNull() | (F.col(attr) != F.col("__prev")))
    )
    return changed.select(
        key,
        F.col(attr),
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w).alias("valid_to"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_columns: list[str],
    status_column: str = "diff_status",
) -> DataFrame:
    """Row-level diff between two snapshots of the same logical table:
    each key is classified 'added' (new only), 'removed' (old only),
    'changed' (both, any compare column differs, NULL-safe), or
    'unchanged'. The change-data-capture primitive for incremental
    pipelines without a log.

    One full outer join on the keys — the single unavoidable shuffle;
    both sides co-partition on the same key hash, and comparisons are
    JVM-side null-safe equality (eqNullSafe), no UDFs. At 100 TB, write
    both snapshots bucketed by the key (sources/writers.py
    write_bucketed_table) and the exchange disappears entirely.

    Returns the new-side values for added/changed/unchanged rows and
    the old-side values for removed rows, with the key always
    populated.

    The reference has no CDC surface; extension per SURVEY.md §2.10
    (the batch analogue of merge_upsert above).
    """
    o = old.select(
        [F.col(k).alias(f"__old_{k}") for k in keys]
        + [F.col(c).alias(f"__old_{c}") for c in compare_columns]
    )
    n = new.select(
        [F.col(k).alias(f"__new_{k}") for k in keys]
        + [F.col(c).alias(f"__new_{c}") for c in compare_columns]
    )
    cond = [
        o[f"__old_{k}"].eqNullSafe(n[f"__new_{k}"]) for k in keys
    ]
    joined = o.join(n, cond, "full_outer")
    old_present = F.col(f"__old_{keys[0]}").isNotNull()
    new_present = F.col(f"__new_{keys[0]}").isNotNull()
    any_change = None
    for c in compare_columns:
        ne = ~F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}"))
        any_change = ne if any_change is None else (any_change | ne)
    status = (
        F.when(~old_present, F.lit("added"))
        .when(~new_present, F.lit("removed"))
        .when(any_change, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out_cols = [
        F.coalesce(F.col(f"__new_{k}"), F.col(f"__old_{k}")).alias(k)
        for k in keys
    ] + [
        F.when(new_present, F.col(f"__new_{c}"))
        .otherwise(F.col(f"__old_{c}"))
        .alias(c)
        for c in compare_columns
    ]
    return joined.select(*out_cols, status.alias(status_column))


def snapshot_deltas(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    group_cols: list[str],
    measure_cols: list[str],
) -> DataFrame:
    """Signed aggregate deltas between two snapshots, grouped by
    ``group_cols``: every added/changed/removed KEY contributes a
    -1-signed row with its old values and/or a +1-signed row with its
    new values; unchanged keys contribute nothing. Output columns:
    group_cols, ``delta_n`` (net row-count change) and one
    ``delta_<m>`` per measure (net sum change).

    This is the producer half of incremental view maintenance: the
    classification is one full outer join on the key (same shuffle as
    snapshot_diff — and in production this frame comes from a CDC log /
    Iceberg changelog scan instead, with no join at all). Because the
    group columns ride along on both the - and + rows, a key that MOVES
    between groups maintains both groups correctly.
    """
    o = old.select(
        [F.col(k).alias(f"__k_{k}") for k in keys] + group_cols + measure_cols
    )
    n = new.select(
        [F.col(k).alias(f"__nk_{k}") for k in keys]
        + [F.col(c).alias(f"__n_{c}") for c in group_cols + measure_cols]
    )
    cond = [o[f"__k_{k}"].eqNullSafe(n[f"__nk_{k}"]) for k in keys]
    joined = o.join(n, cond, "full_outer")
    old_present = F.col(f"__k_{keys[0]}").isNotNull()
    new_present = F.col(f"__nk_{keys[0]}").isNotNull()
    changed = None
    for c in group_cols + measure_cols:
        ne = ~F.col(c).eqNullSafe(F.col(f"__n_{c}"))
        changed = ne if changed is None else (changed | ne)
    # rows that need maintenance: anything except (present,present,equal)
    touched = joined.filter(~(old_present & new_present) | changed)
    minus = touched.filter(old_present).select(
        *group_cols, F.lit(-1).alias("__sign"), *measure_cols
    )
    plus = touched.filter(new_present).select(
        *[F.col(f"__n_{c}").alias(c) for c in group_cols],
        F.lit(1).alias("__sign"),
        *[F.col(f"__n_{m}").alias(m) for m in measure_cols],
    )
    signed = minus.unionByName(plus)
    aggs = [F.sum("__sign").alias("delta_n")] + [
        F.sum(F.col("__sign") * F.col(m)).alias(f"delta_{m}")
        for m in measure_cols
    ]
    return signed.groupBy(*group_cols).agg(*aggs)


def apply_agg_deltas(
    base: DataFrame,
    deltas: DataFrame,
    group_cols: list[str],
    count_col: str = "n_rows",
    sum_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Consumer half of incremental view maintenance: merge the signed
    deltas from snapshot_deltas into an existing materialized aggregate
    (``base`` has group_cols + count_col + the sum columns named by
    ``sum_cols`` mapping measure → base column). Groups whose count
    reaches 0 drop out; groups appearing only in the deltas are born.
    Touches |base| + |deltas| rows — the fact table is never rescanned,
    which is the entire point at 100 TB: a day's CDC feed maintains a
    year's aggregate. Only decomposable aggregates (count/sum, and avg
    as sum/count) can be maintained this way; min/max need a recompute
    on affected groups.
    """
    sum_cols = sum_cols or {}
    joined = base.join(deltas, group_cols, "full_outer")
    merged_count = F.coalesce(F.col(count_col), F.lit(0)) + F.coalesce(
        F.col("delta_n"), F.lit(0)
    )
    out = [merged_count.alias(count_col)] + [
        (
            F.coalesce(F.col(b), F.lit(0.0))
            + F.coalesce(F.col(f"delta_{m}"), F.lit(0.0))
        ).alias(b)
        for m, b in sum_cols.items()
    ]
    return joined.select(*group_cols, *out).filter(F.col(count_col) > 0)


def row_deltas(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Row-level signed delta stream between two snapshots: every
    removed/changed key yields a −1 row with its OLD values, every
    added/changed key a +1 row with its NEW values; unchanged keys
    yield nothing. This is the multiset difference new − old in CDC
    shape — the producer for join-view maintenance
    (``join_agg_deltas``), where the deltas must stay ROW-level
    because they re-join the other side before any grouping
    (``snapshot_deltas`` pre-aggregates and is only usable for
    single-table views). One full-outer join on the key; in production
    this frame comes from a changelog scan (snapshot_changes) with no
    join at all."""
    # explicit presence markers, NOT key-null tests: the join below is
    # eqNullSafe precisely so NULL keys match as real keys — testing
    # presence via key.isNotNull() would silently drop every delta on
    # a NULL-keyed row
    o = old.select(
        [F.col(k).alias(f"__k_{k}") for k in keys]
        + value_cols
        + [F.lit(1).alias("__old_present")]
    )
    n = new.select(
        [F.col(k).alias(f"__nk_{k}") for k in keys]
        + [F.col(c).alias(f"__n_{c}") for c in value_cols]
        + [F.lit(1).alias("__new_present")]
    )
    cond = [o[f"__k_{k}"].eqNullSafe(n[f"__nk_{k}"]) for k in keys]
    joined = o.join(n, cond, "full_outer")
    old_present = F.col("__old_present").isNotNull()
    new_present = F.col("__new_present").isNotNull()
    changed = None
    for c in value_cols:
        ne = ~F.col(c).eqNullSafe(F.col(f"__n_{c}"))
        changed = ne if changed is None else (changed | ne)
    touched = joined.filter(~(old_present & new_present) | changed)
    minus = touched.filter(old_present).select(
        *[F.col(f"__k_{k}").alias(k) for k in keys],
        *value_cols,
        F.lit(-1).alias("__sign"),
    )
    plus = touched.filter(new_present).select(
        *[F.col(f"__nk_{k}").alias(k) for k in keys],
        *[F.col(f"__n_{c}").alias(c) for c in value_cols],
        F.lit(1).alias("__sign"),
    )
    return minus.unionByName(plus)


def join_agg_deltas(
    r_old: DataFrame,
    r_delta: DataFrame,
    s_new: DataFrame,
    s_delta: DataFrame,
    join_keys: list[str],
    group_cols: list[str],
    measure_cols: list[str],
) -> DataFrame:
    """Incremental maintenance of an aggregate over an INNER JOIN —
    the two-table extension of snapshot_deltas/apply_agg_deltas, via
    the textbook delta rule

        Δ(R ⋈ S) = ΔR ⋈ S_new  +  R_old ⋈ ΔS

    (exact under multiset semantics: expand (R_new−R_old)⋈S_new +
    R_old⋈(S_new−S_old) and the R_old⋈S_new terms cancel). ``r_delta``
    / ``s_delta`` are ROW-level signed deltas (``row_deltas``); the
    joined sign is the delta row's sign, group columns may come from
    either side (a dimension row that moves groups maintains both),
    and the output is (group_cols, delta_n, delta_<m>…) — exactly the
    schema ``apply_agg_deltas`` consumes, so the same merge step
    finishes the view.

    Cost: |ΔR| ⋈ S_new plus R_old ⋈ |ΔS| plus one keyed agg — the
    join results are never rescanned. At 100 TB keep R_old bucketed on
    the join key so the ΔS-side probe is a co-located join, and
    broadcast the (small) delta sides; a day's CDC feed then maintains
    a year's join view for the cost of the day."""
    a = r_delta.join(s_new, join_keys)
    b = r_old.join(s_delta, join_keys)
    rows = a.select(
        *group_cols, "__sign", *measure_cols
    ).unionByName(b.select(*group_cols, "__sign", *measure_cols))
    aggs = [F.sum("__sign").cast("long").alias("delta_n")] + [
        F.sum(F.col("__sign") * F.col(m)).alias(f"delta_{m}")
        for m in measure_cols
    ]
    return rows.groupBy(*group_cols).agg(*aggs)
