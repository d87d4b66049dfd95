"""Unit tests for temporal joins (operators/temporal.py)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from yelp_etl_spark.operators.temporal import asof_join, asof_join_ranked, range_join


def ts(s):
    return datetime.fromisoformat(s)


def test_asof_backward_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, "k", ts("2024-01-10T00:00:00")), (2, "k", ts("2024-01-01T00:00:00"))],
        "id long, key string, t timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k", ts("2024-01-05T00:00:00"), "mid"),
            ("k", ts("2024-01-09T00:00:00"), "late"),
            ("k", ts("2024-02-01T00:00:00"), "future"),
        ],
        "key string, rt timestamp, tag string",
    )
    out = asof_join(
        left, right, "id", "t", "rt", ["key"], ["key"], right_columns=["tag"]
    )
    got = {r.id: r.tag for r in out.collect()}
    assert got == {1: "late", 2: None}  # row 2 predates all right rows → NULL


def test_asof_forward(spark):
    left = spark.createDataFrame(
        [(1, "k", ts("2024-01-06T00:00:00"))], "id long, key string, t timestamp"
    )
    right = spark.createDataFrame(
        [("k", ts("2024-01-05T00:00:00"), "before"), ("k", ts("2024-01-07T00:00:00"), "after")],
        "key string, rt timestamp, tag string",
    )
    out = asof_join(
        left, right, "id", "t", "rt", ["key"], ["key"],
        right_columns=["tag"], direction="forward",
    )
    assert out.collect()[0].tag == "after"


def test_asof_merge_equals_ranked_with_tiebreak(spark):
    """The union-merge asof (one shuffle) must agree with the
    join-then-rank anchor, including equal-ts tiebreaks and no-match
    left rows, in both directions."""
    left = spark.createDataFrame(
        [
            (1, "a", ts("2024-01-10T00:00:00")),
            (2, "a", ts("2024-01-05T00:00:00")),  # ties exactly with two right rows
            (3, "a", ts("2023-12-01T00:00:00")),  # predates all right rows
            (4, "b", ts("2024-01-10T00:00:00")),  # key with single match
            (5, "c", ts("2024-01-10T00:00:00")),  # key with no right rows
        ],
        "id long, key string, t timestamp",
    )
    right = spark.createDataFrame(
        [
            ("a", ts("2024-01-05T00:00:00"), 10, "r10"),
            ("a", ts("2024-01-05T00:00:00"), 20, "r20"),  # same ts, higher tiebreak
            ("a", ts("2024-01-08T00:00:00"), 5, "r5"),
            ("b", ts("2024-01-01T00:00:00"), 1, "rb"),
        ],
        "key string, rt timestamp, seq long, tag string",
    )
    for direction in ("backward", "forward"):
        a = asof_join(
            left, right, "id", "t", "rt", ["key"], ["key"],
            right_columns=["seq", "tag"], direction=direction, tiebreak="seq",
        )
        b = asof_join_ranked(
            left, right, "id", "t", "rt", ["key"], ["key"],
            right_columns=["seq", "tag"], direction=direction, tiebreak="seq",
        )
        cols = sorted(a.columns)
        assert cols == sorted(b.columns)
        ra = sorted(map(tuple, a.select(*cols).collect()), key=str)
        rb = sorted(map(tuple, b.select(*cols).collect()), key=str)
        assert ra == rb, f"{direction}: {ra} != {rb}"


def test_range_join_residual_predicate(spark):
    left = spark.createDataFrame([(1, 10), (1, 50)], "k long, v long")
    right = spark.createDataFrame([(1, 0, 20), (1, 40, 60)], "k long, lo long, hi long")
    out = range_join(
        left, right, [("k", "k")],
        (left["v"] >= right["lo"]) & (left["v"] < right["hi"]),
    )
    got = {(r[1], r[3], r[4]) for r in out.collect()}
    assert got == {(10, 0, 20), (50, 40, 60)}


def test_asof_tolerance_masks_stale_matches(spark):
    """merge_asof tolerance parity: the nearest match still wins, but a
    match outside the horizon nulls out instead of attaching."""
    left = spark.createDataFrame(
        [
            (1, "k", ts("2024-01-10T00:00:00")),  # match 1 day back: keep
            (2, "k", ts("2024-03-01T00:00:00")),  # match 52 days back: mask
        ],
        "id long, key string, t timestamp",
    )
    right = spark.createDataFrame(
        [("k", ts("2024-01-09T00:00:00"), "q1")],
        "key string, rt timestamp, tag string",
    )
    out = asof_join(
        left, right, "id", "t", "rt", ["key"], ["key"],
        right_columns=["tag"], tolerance_seconds=7 * 86400,
    )
    got = {r.id: r.tag for r in out.collect()}
    assert got == {1: "q1", 2: None}

    # forward direction: horizon measured the other way
    fwd = asof_join(
        left, right, "id", "t", "rt", ["key"], ["key"],
        right_columns=["tag"], direction="forward",
        tolerance_seconds=7 * 86400,
    )
    got_fwd = {r.id: r.tag for r in fwd.collect()}
    assert got_fwd == {1: None, 2: None}  # right row is BEFORE both lefts
