"""Unit tests for upsert/SCD operators (operators/scd.py)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from yelp_etl_spark.operators.scd import merge_upsert, scd2_history


def ts(s):
    return datetime.fromisoformat(s)


def test_merge_upsert_replaces_matched_keeps_unmatched(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    source = spark.createDataFrame([(2, "B"), (4, "D")], "id long, v string")
    got = {r.id: r.v for r in merge_upsert(target, source, ["id"]).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "D"}


def test_scd2_history_runs_and_intervals(spark):
    snaps = spark.createDataFrame(
        [
            (1, ts("2024-01-01"), "new", 10),
            (1, ts("2024-01-05"), "new", 11),      # no change → folded into run
            (1, ts("2024-01-09"), "active", 12),
            (1, ts("2024-02-01"), "closed", 13),
            (2, ts("2024-01-03"), "new", 14),
        ],
        "k long, t timestamp, status string, seq long",
    )
    rows = scd2_history(snaps, "k", "t", "status", tiebreak="seq").collect()
    hist = {(r.k, r.status): (r.valid_from, r.valid_to) for r in rows}
    assert hist[(1, "new")] == (ts("2024-01-01"), ts("2024-01-09"))
    assert hist[(1, "active")] == (ts("2024-01-09"), ts("2024-02-01"))
    assert hist[(1, "closed")] == (ts("2024-02-01"), None)  # current
    assert hist[(2, "new")] == (ts("2024-01-03"), None)
    assert len(rows) == 4


def test_snapshot_diff_classification(spark):
    from yelp_etl_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(2, 25.0), (3, None), (4, 40.0)], "k long, v double"
    )
    out = {r.k: (r.diff_status, r.v) for r in
           snapshot_diff(old, new, ["k"], ["v"]).collect()}
    assert out[1] == ("removed", 10.0)
    assert out[2] == ("changed", 25.0)   # new-side value surfaced
    assert out[3] == ("unchanged", None)  # NULL == NULL (null-safe)
    assert out[4] == ("added", 40.0)


def test_incremental_agg_maintenance_group_moves_and_death(spark):
    """apply_agg_deltas(base, snapshot_deltas(...)) must equal a direct
    recompute over the new snapshot — including the two cases the
    full-join classification can get wrong: a key MOVING between groups
    (maintains both sides) and a group losing its last row (drops out),
    plus a group born only in the deltas."""
    from yelp_etl_spark.operators.scd import apply_agg_deltas, snapshot_deltas
    from pyspark.sql import functions as F

    old = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "a", 20.0),
            (3, "b", 30.0),   # group b's only row: will move to a
            (4, "c", 40.0),   # will be removed -> group c dies
        ],
        "k long, g string, v double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10.0),   # unchanged
            (2, "a", 25.0),   # value changed in place
            (3, "a", 30.0),   # moved b -> a
            (5, "d", 50.0),   # added in a brand-new group
        ],
        "k long, g string, v double",
    )
    base = old.groupBy("g").agg(
        F.count("*").alias("n_rows"), F.sum("v").alias("sum_v")
    )
    deltas = snapshot_deltas(old, new, ["k"], ["g"], ["v"])
    maintained = {
        r.g: (r.n_rows, r.sum_v)
        for r in apply_agg_deltas(
            base, deltas, ["g"], count_col="n_rows", sum_cols={"v": "sum_v"}
        ).collect()
    }
    expected = {
        r.g: (r.n_rows, r.sum_v)
        for r in new.groupBy("g")
        .agg(F.count("*").alias("n_rows"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert maintained == expected
    assert "b" not in maintained and "c" not in maintained
    assert maintained["d"] == (1, 50.0)


# ---------------------------------------------------------------------------
# join-view incremental maintenance (row_deltas + join_agg_deltas)
# ---------------------------------------------------------------------------


def _view(join_df):
    return {
        r["g"]: (r["n"], r["s"])
        for r in join_df.groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("m").alias("s"))
        .collect()
    }


def test_join_agg_deltas_equals_recompute_both_sides_changing(spark):
    from yelp_etl_spark.operators.scd import (
        apply_agg_deltas,
        join_agg_deltas,
        row_deltas,
    )

    # R: fact rows (id, k, m); S: dim rows (k, g)
    r_old = spark.createDataFrame(
        [(1, 10, 5), (2, 10, 7), (3, 20, 1), (4, 30, 9)],
        "id long, k long, m long",
    )
    # row 2 re-priced, row 3 deleted, row 5 inserted
    r_new = spark.createDataFrame(
        [(1, 10, 5), (2, 10, 70), (4, 30, 9), (5, 20, 2)],
        "id long, k long, m long",
    )
    s_old = spark.createDataFrame(
        [(10, "a"), (20, "a"), (30, "b")], "k long, g string"
    )
    # dim key 20 moves group a -> b; key 40 appears (no facts yet)
    s_new = spark.createDataFrame(
        [(10, "a"), (20, "b"), (30, "b"), (40, "c")], "k long, g string"
    )
    base = (
        r_old.join(s_old, "k")
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("m").alias("s"))
    )
    dr = row_deltas(r_old, r_new, ["id"], ["k", "m"])
    ds = row_deltas(s_old, s_new, ["k"], ["g"])
    deltas = join_agg_deltas(r_old, dr, s_new, ds, ["k"], ["g"], ["m"])
    maintained = apply_agg_deltas(
        base, deltas, ["g"], count_col="n", sum_cols={"m": "s"}
    )
    got = {r["g"]: (r["n"], r["s"]) for r in maintained.collect()}
    want = _view(r_new.join(s_new, "k"))
    assert got == want


def test_join_agg_deltas_no_change_is_empty(spark):
    from yelp_etl_spark.operators.scd import join_agg_deltas, row_deltas

    r = spark.createDataFrame([(1, 10, 5)], "id long, k long, m long")
    s = spark.createDataFrame([(10, "a")], "k long, g string")
    dr = row_deltas(r, r, ["id"], ["k", "m"])
    ds = row_deltas(s, s, ["k"], ["g"])
    assert join_agg_deltas(r, dr, s, ds, ["k"], ["g"], ["m"]).count() == 0


def test_row_deltas_signs_and_values(spark):
    from yelp_etl_spark.operators.scd import row_deltas

    old = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    new = spark.createDataFrame([(2, "z"), (3, "w")], "id long, v string")
    rows = {
        (r["id"], r["v"], r["__sign"])
        for r in row_deltas(old, new, ["id"], ["v"]).collect()
    }
    assert rows == {
        (1, "x", -1),  # removed: old values, -1
        (2, "y", -1),  # changed: old values out...
        (2, "z", 1),  # ...new values in
        (3, "w", 1),  # added
    }


def test_row_deltas_null_keys_emit_deltas(spark):
    from yelp_etl_spark.operators.scd import row_deltas

    old = spark.createDataFrame([(None, "x"), (1, "a")], "id long, v string")
    new = spark.createDataFrame([(None, "y"), (1, "a")], "id long, v string")
    rows = {
        (r["id"], r["v"], r["__sign"])
        for r in row_deltas(old, new, ["id"], ["v"]).collect()
    }
    # the NULL-keyed row changed: it must emit -old and +new
    assert rows == {(None, "x", -1), (None, "y", 1)}
