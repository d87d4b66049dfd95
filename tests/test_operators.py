"""Unit tests for the cleaning/wrangling operators (SURVEY.md §5.2):
flatten, safe-cast, explode, date features, nullish normalization,
enrich prefixing — each on tiny in-memory DataFrames pinning the
reference's behavior."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from yelp_etl_spark.operators import (
    add_date_features,
    enrich,
    explode_delimited,
    flatten_structs,
    normalize_nullish_strings,
    prefix_columns,
    safe_cast,
)
from yelp_etl_spark.operators.enrich import Dimension


def test_flatten_structs_recursive(spark):
    df = spark.createDataFrame(
        [(1, {"a": 2, "b": {"c": "x"}})],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField(
                    "s",
                    T.StructType(
                        [
                            T.StructField("a", T.LongType()),
                            T.StructField(
                                "b",
                                T.StructType([T.StructField("c", T.StringType())]),
                            ),
                        ]
                    ),
                ),
            ]
        ),
    )
    flat = flatten_structs(df)
    assert flat.columns == ["id", "s_a", "s_b_c"]
    row = flat.collect()[0]
    assert (row.id, row.s_a, row.s_b_c) == (1, 2, "x")


def test_flatten_structs_only_selected(spark):
    df = spark.createDataFrame([((1,), (2,))], "s1 struct<a:int>, s2 struct<b:int>")
    flat = flatten_structs(df, only={"s1"})
    assert flat.columns == ["s1_a", "s2"]


def test_safe_cast_accepts_only_lossless(spark):
    # 'maybe_bool' casts cleanly; 'not_bool' would create a new NULL → kept.
    df = spark.createDataFrame(
        [("true", "true"), ("false", "banana"), (None, None)],
        "maybe_bool string, not_bool string",
    )
    out = safe_cast(
        df,
        {
            "maybe_bool": [T.BooleanType()],
            "not_bool": [T.BooleanType()],
        },
    )
    types = dict(out.dtypes)
    assert types["maybe_bool"] == "boolean"
    assert types["not_bool"] == "string"


def test_safe_cast_candidate_order(spark):
    # map<string,boolean> fails (values aren't booleans), map<string,string> wins
    df = spark.createDataFrame([('{"a": "x"}',)], "m string")
    out = safe_cast(
        df,
        {
            "m": [
                T.MapType(T.StringType(), T.BooleanType()),
                T.MapType(T.StringType(), T.StringType()),
            ]
        },
    )
    assert dict(out.dtypes)["m"] == "map<string,string>"
    assert out.collect()[0].m == {"a": "x"}


def test_probe_cast_guard_matches_try_cast(spark):
    """The regex pre-guard in the probe expressions must be a NECESSARY
    condition for cast success: when(guard, try_cast) and plain try_cast
    agree on null-ness for every fuzzed input, for every guarded type."""
    from yelp_etl_spark.operators.cleaning import _cast_expr, _probe_cast_expr

    vals = [
        "1", " 42 ", "  7", "+5", "-7", "007", "1.0", "1.5", ".5", "5.",
        "1e2", "0x1F", "", "  ", "\t8", "8\n", "\x0142\x01", "12,3",
        "9" * 25, "-" + "9" * 25, "200", "-129", "true", "TRUE", " t ",
        "f", "y", "N", "yes", "No", "on", "off", "0", "1 ", "briefcase",
        "1-URGENT", "None", "null", "nan", "inf", "+", "-", "+-1", "--1",
        None,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for t in (T.LongType(), T.IntegerType(), T.ByteType(), T.BooleanType()):
        rows = df.select(
            "s",
            _cast_expr(F.col("s"), t).isNull().alias("plain"),
            _probe_cast_expr(F.col("s"), t).isNull().alias("guarded"),
        ).collect()
        bad = [(r.s, r.plain, r.guarded) for r in rows if r.plain != r.guarded]
        assert not bad, f"{t}: guard diverges from try_cast on {bad}"


def test_normalize_nullish_strings(spark):
    df = spark.createDataFrame(
        [("u'free'",), ("None",), ("none",), ("True",), ("{'a': True, 'b': u'x'}",)],
        "v string",
    )
    out = normalize_nullish_strings(df, ["v"]).collect()
    values = [r.v for r in out]
    assert values[0] == "free"
    assert values[1] is None
    assert values[2] is None
    assert values[3] == "true"
    assert values[4] == "{'a': true, 'b': 'x'}"


def test_explode_delimited_checkin_shape(spark):
    # reference clean.py:54-57: comma-separated timestamps → rows + id
    df = spark.createDataFrame(
        [("b1", "2020-01-01 00:00:00, 2020-01-02 00:00:00"), ("b2", "2020-03-01 12:00:00")],
        "business_id string, date string",
    )
    out = explode_delimited(
        df, "date", ", ", id_column="checkin_id", key_columns=["business_id"]
    )
    rows = out.collect()
    assert len(rows) == 3
    assert len({r.checkin_id for r in rows}) == 3  # unique surrogate keys
    # deterministic: same input → same ids
    again = explode_delimited(
        df.repartition(4), "date", ", ", id_column="checkin_id", key_columns=["business_id"]
    ).collect()
    assert {r.checkin_id for r in rows} == {r.checkin_id for r in again}


def test_add_date_features(spark):
    df = spark.createDataFrame([("2018-07-04",)], "date string")
    out = add_date_features(df, "date", "yyyy-MM-dd")
    row = out.collect()[0]
    assert str(row.date_date) == "2018-07-04"
    assert str(row.date_week_start_date) == "2018-07-02"  # Monday
    assert row.date_week == 27
    assert row.date_quarter == 3
    assert row.date_dayofweek == 4  # Wednesday, Sun=1 convention
    assert row.date_month == 7
    assert row.date_year == 2018
    assert "date" not in out.columns


def test_enrich_prefixes_and_inner_semantics(spark):
    fact = spark.createDataFrame(
        [(1, "k1", 10.0), (2, "k2", 20.0), (3, "orphan", 30.0)],
        "fact_id long, business_id string, stars double",
    )
    dim = spark.createDataFrame(
        [("k1", "A", 4.5), ("k2", "B", 3.0)], "business_id string, name string, stars double"
    )
    out = enrich(fact, [Dimension("business", dim, "business_id")])
    assert sorted(out.columns) == sorted(
        ["fact_id", "business_id", "stars", "business_name", "business_stars"]
    )
    assert out.count() == 2  # inner join drops the orphan


def test_prefix_columns_exclude(spark):
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    out = prefix_columns(df, "dim", exclude={"id"})
    assert out.columns == ["id", "dim_v"]


# ---------------------------------------------------------------------------
# Data-quality validation / compaction / observe metrics
# ---------------------------------------------------------------------------


def test_quality_report_counts_violations(spark):
    from pyspark.sql import functions as F

    from yelp_etl_spark.operators.validate import (
        assert_quality,
        duplicate_key_count,
        quality_report,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (1, -5.0), (2, None), (3, 7.0)], "k long, v double"
    )
    row = quality_report(
        df, {"neg_v": F.col("v") < 0, "null_v": F.col("v").isNull()}
    ).collect()[0]
    assert (row.n_rows, row.neg_v, row.null_v) == (4, 1, 1)

    dups = duplicate_key_count(df, ["k"]).collect()[0]
    assert dups.n_rows_with_dup_key == 2  # both k=1 rows

    import pytest as _pytest

    with _pytest.raises(ValueError, match="neg_v"):
        assert_quality(df, {"neg_v": F.col("v") < 0})
    assert_quality(df, {"huge_v": F.col("v") > 1e9})  # passes silently


def test_observe_metrics_single_pass(spark):
    """df.observe collects pipeline metrics during the one real action —
    no second scan for instrumentation (the runtime analogue of
    quality_report)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("metrics")
    df = spark.range(0, 1000).observe(
        obs,
        F.count("*").alias("n"),
        F.sum(F.col("id") % 7).alias("mod_sum"),
    )
    df.write.format("noop").mode("overwrite").save()
    assert obs.get["n"] == 1000
    assert obs.get["mod_sum"] == sum(i % 7 for i in range(1000))


def test_safe_cast_non_string_source_unaffected_by_guard(spark):
    """The probe's regex guard must not apply to non-string sources:
    DOUBLE→LONG succeeds numerically even though str(3.0) fails the
    integral grammar — the candidate must still be accepted."""
    df = spark.createDataFrame([(3.0,), (4.0,)], "d double")
    out = safe_cast(df, {"d": [T.LongType()]})
    assert dict(out.dtypes)["d"] == "bigint"
    assert {r.d for r in out.collect()} == {3, 4}


def test_profile_columns_counts_and_entropy(spark):
    import math

    from yelp_etl_spark.operators.validate import profile_columns

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), (None, 4)],
        "cat string, k long",
    )
    out = {r["col_name"]: r for r in profile_columns(df, ["cat", "k"]).collect()}
    assert out["cat"]["n_nonnull"] == 3 and out["cat"]["n_null"] == 1
    assert out["cat"]["n_distinct"] == 2
    assert out["k"]["n_distinct"] == 4 and out["k"]["n_null"] == 0
    # decomposed micro-nat entropy of {a:2, b:1}:
    # q(ln 3) - round((2*q(ln 2) + 1*q(ln 1)) / 3)
    q = lambda x: round(math.log(x) * 1e6)  # noqa: E731
    want = q(3) - round((2 * q(2) + 1 * q(1)) / 3)
    assert out["cat"]["entropy_micronats"] == want
    # uniform over 4 distinct values: ln(4) micro-nats exactly
    assert out["k"]["entropy_micronats"] == q(4)


def test_profile_columns_reports_all_null_column(spark):
    from yelp_etl_spark.operators.validate import profile_columns

    df = spark.createDataFrame(
        [("a", None), ("b", None)], "cat string, empty string"
    )
    out = {
        r["col_name"]: r for r in profile_columns(df, ["cat", "empty"]).collect()
    }
    assert "empty" in out  # the pathological column must be reported
    assert out["empty"]["n_null"] == 2 and out["empty"]["n_nonnull"] == 0
    assert out["empty"]["n_distinct"] == 0
    assert out["empty"]["entropy_micronats"] == 0


def test_grid_radius_join_equals_brute_force(spark):
    """Grid-cell candidates + exact verify must reproduce the brute
    force all-pairs radius predicate verbatim, including negative
    coordinates straddling cell boundaries."""
    from yelp_etl_spark.operators.spatial import grid_radius_join

    pts = [(i, (i * 37) % 101 - 50, (i * 53) % 97 - 48) for i in range(120)]
    qrs = [(j, (j * 71) % 89 - 44, (j * 29) % 83 - 41) for j in range(15)]
    points = spark.createDataFrame(pts, "pid long, x long, y long")
    queries = spark.createDataFrame(qrs, "qid long, x long, y long")
    r = 13
    got = sorted(
        map(tuple, grid_radius_join(queries, points, r).collect())
    )
    want = sorted(
        (q, p, (qx - px) ** 2 + (qy - py) ** 2)
        for q, qx, qy in qrs
        for p, px, py in pts
        if (qx - px) ** 2 + (qy - py) ** 2 <= r * r
    )
    assert got == want and want  # non-vacuous


def test_point_in_polygon_matches_shapely_free_reference(spark):
    """Ray-crossing containment vs a pure-Python point-in-polygon
    reference over a concave polygon and a square, including points in
    the concave notch (the case a bbox or convex test gets wrong)."""
    from yelp_etl_spark.operators.spatial import point_in_polygon_join

    polys = [
        (1, [(0, 0), (10, 0), (10, 10), (0, 10)]),
        # concave L: notch is the (4..10, 4..10) upper-right-removed area
        (2, [(20, 0), (30, 0), (30, 4), (24, 4), (24, 10), (20, 10)]),
    ]
    pts = [
        (1, 5, 5),     # inside square
        (2, 11, 5),    # right of square
        (3, 0, 5),     # on square's left edge -> vertex-x but odd-y rule:
                       # x==edge, py odd, edge vertical -> num=0, no cross
        (4, 21, 7),    # inside L's left arm
        (5, 27, 7),    # in the notch (outside!)
        (6, 27, 3),    # inside L's bottom arm
        (7, 25, 5),    # just right of the arm boundary x=24 (outside)
    ]

    def inside(px, py, ring):
        n = len(ring)
        c = False
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            if (y1 <= py) != (y2 <= py):
                num = (x1 - px) * (y2 - y1) + (x2 - x1) * (py - y1)
                if (num > 0) == (y2 - y1 > 0) and num != 0:
                    c = not c
        return c

    want = sorted(
        (pid, poly_id)
        for pid, px, py in pts
        for poly_id, ring in polys
        if inside(px, py, ring)
    )
    df = spark.createDataFrame(pts, "pid int, x int, y int")
    got = sorted(
        (r.pid, r.polygon_id)
        for r in point_in_polygon_join(df, polys).collect()
    )
    assert got == want
    assert (5, 2) not in got and (4, 2) in got and (6, 2) in got


def test_point_in_polygon_rejects_even_point_risk(spark):
    from yelp_etl_spark.operators.spatial import point_in_polygon_join

    df = None  # never reached: the validation fires while building edges
    import pytest as _pytest

    with _pytest.raises(ValueError, match="even"):
        point_in_polygon_join(df, [(1, [(0, 1), (4, 1), (4, 5)])])
