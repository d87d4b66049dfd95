"""Property-based tests (hypothesis) for operator invariants.

Each property generates a batch of rows and runs ONE Spark job over the
batch (per-example Spark jobs would be prohibitively slow), asserting
invariants that must hold for any input — the SURVEY §5 test-strategy
upgrade over the reference's zero tests.
"""

from __future__ import annotations

from datetime import date, datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from yelp_etl_spark.functions import dedup as D
from yelp_etl_spark.functions import text as TX
from yelp_etl_spark.operators.dates import add_date_features

from rounding_ref import half_up

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=0, max_size=30
)


@given(batch=st.lists(words, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_fingerprint_whitespace_case_invariant(spark, batch):
    """fingerprint(text) is invariant to case and whitespace runs."""
    rows = []
    for i, ws in enumerate(batch):
        canonical = " ".join(ws)
        mangled = "  ".join(w.upper() for w in ws) + " "
        rows.append((i, canonical, mangled))
    df = spark.createDataFrame(rows, "i long, a string, b string")
    out = df.select(
        (TX.fingerprint(F.col("a")) == TX.fingerprint(F.col("b"))).alias("eq")
    ).collect()
    assert all(r.eq for r in out)


@given(batch=st.lists(words, min_size=1, max_size=8), n=st.integers(2, 4))
@settings(**SETTINGS)
def test_shingles_count_and_width(spark, batch, n):
    """Shingle arrays: ≤ max(tokens-n+1, 0) entries (distinct), each
    exactly n tokens wide."""
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(batch)], "i long, text string"
    )
    out = df.select(
        "i",
        F.size(TX.tokens(F.col("text"))).alias("n_tok"),
        D.shingles(F.col("text"), n).alias("sh"),
    ).collect()
    for r in out:
        expected_max = max(r.n_tok - n + 1, 0)
        assert len(r.sh) <= expected_max
        assert (expected_max == 0) == (len(r.sh) == 0)
        for gram in r.sh:
            assert len(gram.split(" ")) == n


@given(batch=st.lists(words.filter(lambda w: len(w) >= 3), min_size=2, max_size=6))
@settings(**SETTINGS)
def test_jaccard_pairs_bounds_and_self_similarity(spark, batch):
    """Every emitted pair has 0 < jaccard <= 1; duplicated docs that
    have shingles always pair at exactly 1.0."""
    rows = [(i, " ".join(ws)) for i, ws in enumerate(batch)]
    dup_src = rows[0]
    rows.append((len(rows), dup_src[1]))  # exact duplicate of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    for p in pairs:
        assert 0.0 < p.jaccard <= 1.0
    n_tokens = len(dup_src[1].split())
    if n_tokens >= 3:
        dup_pair = [
            p for p in pairs if p.id_a == 0 and p.id_b == len(rows) - 1
        ]
        assert dup_pair and dup_pair[0].jaccard == 1.0


@given(
    dates=st.lists(
        st.dates(min_value=date(1990, 1, 1), max_value=date(2035, 12, 31)),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_date_features_consistent_with_python(spark, dates):
    """D1-D8 agree with Python's datetime for any date: year/month/
    quarter/ISO-week; week_start is the preceding Monday."""
    df = spark.createDataFrame(
        [(d.isoformat(),) for d in dates], "date string"
    )
    out = add_date_features(df, "date", "yyyy-MM-dd").collect()
    for d, r in zip(dates, out):
        assert r.date_year == d.year
        assert r.date_month == d.month
        assert r.date_quarter == (d.month - 1) // 3 + 1
        assert r.date_week == d.isocalendar()[1]
        ws = r.date_week_start_date
        assert ws.weekday() == 0  # Monday
        assert 0 <= (d - ws).days <= 6


@given(batch=st.lists(st.integers(0, 10**9), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_exact_dedup_partition_invariant(spark, batch):
    """exact_dedup output is identical under any repartitioning, and
    copy counts sum to the input size."""
    rows = [(i, f"doc number {v % 7}") for i, v in enumerate(batch)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, D.exact_dedup(df).collect()))
    b = sorted(map(tuple, D.exact_dedup(df.repartition(5)).collect()))
    assert a == b
    assert sum(r[2] for r in a) == len(rows)


@given(
    batch=st.lists(words, min_size=2, max_size=10),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
@settings(**SETTINGS)
def test_jaccard_prefix_join_exactness_property(spark, batch, threshold):
    """For ANY corpus and threshold, prefix filtering must reproduce
    the brute-force all-pairs shingle join verbatim (the no-false-
    negatives contract of the AllPairs/PPJoin prefix principle)."""
    from concurrent.futures import ThreadPoolExecutor

    rows = [(i, " ".join(ws)) for i, ws in enumerate(batch)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # the two sides are independent jobs — overlap them (JVM-bound)
    with ThreadPoolExecutor(2) as ex:
        f_brute = ex.submit(
            lambda: D.ngram_jaccard_pairs(df, n=2, threshold=threshold).collect()
        )
        f_pref = ex.submit(
            lambda: D.jaccard_prefix_join(df, threshold=threshold, n=2).collect()
        )
        brute = sorted(map(tuple, f_brute.result()))
        pref = sorted(map(tuple, f_pref.result()))
    assert pref == brute


# ---------------------------------------------------------------------------
# round-5 metric modules: cross-check the distributed implementations
# against direct O(n²)/pure-python reference definitions on random input
# ---------------------------------------------------------------------------


@given(
    nums=st.lists(
        st.one_of(
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False,
            ),
            # exact .5 boundaries at the 7th decimal — the tie cases
            # where HALF_UP (Spark) and banker's (Python round) diverge
            st.integers(-2_000_000, 2_000_000).map(lambda k: k * 5e-7),
        ),
        min_size=1,
        max_size=64,
    ),
    ndigits=st.integers(0, 6),
)
@settings(**SETTINGS)
def test_half_up_reference_matches_spark_round_bitwise(spark, nums, ndigits):
    """tests/rounding_ref.half_up must reproduce Spark's F.round
    bit-for-bit — it is the reference every engine-vs-python rounding
    comparison in this suite leans on (r10 VERDICT #1: Python's
    builtin round banker's-rounds exact .5 boundaries the other way)."""
    from pyspark.sql import functions as SF

    from rounding_ref import half_up

    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(nums)],
                               "i int, v double")
    got = {
        r.i: r.r
        for r in df.select("i", SF.round("v", ndigits).alias("r")).collect()
    }
    for i, v in enumerate(nums):
        expect = half_up(v, ndigits)
        assert got[i] == expect, (v, ndigits, got[i], expect)


@given(
    data=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 9)),
        min_size=2,
        max_size=25,
    ).filter(lambda d: 0 < sum(x[0] for x in d) < len(d))
)
@settings(**SETTINGS)
def test_auc_matches_pairwise_definition(spark, data):
    """Mann-Whitney AUC == P(pos > neg) + 0.5·P(pos == neg), computed
    by brute-force pair enumeration."""
    from yelp_etl_spark.functions.evaluation import auc_score

    df = spark.createDataFrame(data, "label int, score int")
    got = auc_score(df, "label", "score").collect()[0]
    pos = [s for l, s in data if l == 1]
    neg = [s for l, s in data if l == 0]
    wins = sum(1 for p in pos for q in neg if p > q)
    ties = sum(1 for p in pos for q in neg if p == q)
    expect = (wins + 0.5 * ties) / (len(pos) * len(neg))
    # half_up, not builtin round: the engine quantizes via F.round
    # (BigDecimal HALF_UP) and expect hits exact .5 boundaries whenever
    # 2·n_pos·n_neg divides a power of 10 (r10 VERDICT #1: 0.6015625)
    assert got.auc == half_up(expect)
    assert got.n_pos == len(pos) and got.n_neg == len(neg)


@given(
    subjects=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 1)),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_kaplan_meier_matches_sequential_reference(spark, subjects):
    """KM survival equals the sequential product computed directly in
    python (micro-nat quantization bounds the divergence per step)."""
    from yelp_etl_spark.functions.evaluation import kaplan_meier

    df = spark.createDataFrame(subjects, "t int, churned int")
    got = {r.t: r for r in kaplan_meier(df, "t", "churned").collect()}

    import math
    from collections import Counter

    ends = Counter(t for t, _ in subjects)
    deaths = Counter(t for t, e in subjects if e == 1)
    n_risk = len(subjects)
    surv_q = 0  # running sum of quantized ln factors
    dead = False
    for t in sorted(ends):
        d = deaths.get(t, 0)
        assert got[t].n_risk == n_risk
        assert got[t].d_event == d
        factor = 1.0 - d / n_risk
        if factor <= 0:
            dead = True
        if not dead:
            surv_q += half_up(math.log(factor) * 1e6, 0) if factor > 0 else 0
            assert got[t].survival == half_up(math.exp(surv_q / 1e6))
        else:
            assert got[t].survival == 0.0
        n_risk -= ends[t]


@given(
    xs=st.lists(st.integers(0, 50), min_size=3, max_size=30),
    lag=st.integers(1, 3),
)
@settings(**SETTINGS)
def test_acf_matches_direct_formula(spark, xs, lag):
    from yelp_etl_spark.functions.evaluation import acf

    df = spark.createDataFrame(list(enumerate(xs)), "step int, x int")
    rows = {r.lag: r for r in acf(df, "step", "x", max_lag=lag).collect()}
    n = len(xs)
    mu = sum(xs) / n
    den = sum((x - mu) ** 2 for x in xs)
    for k in range(1, lag + 1):
        num = sum((xs[t] - mu) * (xs[t + k] - mu) for t in range(n - k))
        expect = 0.0 if den == 0 else half_up(num / den)
        if n - k <= 0:
            # the promised lag grid is complete: a pairless lag shows
            # up explicitly as (n_pairs=0, r=0), never a missing row
            assert rows[k].n_pairs == 0 and rows[k].r == 0.0
        else:
            assert abs(rows[k].r - expect) < 2e-6
            assert rows[k].n_pairs == n - k


def test_acf_empty_series_full_zero_grid(spark):
    """An EMPTY series (den = NULL from SUM over zero rows) still
    yields the complete promised lag grid with r = 0.0 — not NULL —
    matching the oracle's `den = 0 OR num IS NULL` branch."""
    from yelp_etl_spark.functions.evaluation import acf

    empty = spark.createDataFrame([], "step long, x double")
    rows = acf(empty, "step", "x", max_lag=4).collect()
    assert sorted((r.lag, r.n_pairs, r.r) for r in rows) == [
        (k, 0, 0.0) for k in range(1, 5)
    ]


@given(
    bins=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # pos
            st.integers(min_value=1, max_value=30),  # extra (n = pos+extra)
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_isotonic_fit_matches_sequential_pava_property(spark, bins):
    """The minimax closed form equals the classic sequential
    pool-adjacent-violators fit on ANY bin table (rates compared as
    exact fractions; the operator's micro-floor applied to both)."""
    from yelp_etl_spark.functions.evaluation import isotonic_fit

    rows = [(i, p, p + extra) for i, (p, extra) in enumerate(bins)]

    # sequential PAVA, then expand block fits back to per-bin fits
    blocks = [[p, n] for _, p, n in rows]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] * blocks[i + 1][1] > blocks[i + 1][0] * blocks[i][1]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    want = []
    bi, consumed = 0, 0
    for _, p, n in rows:
        want.append((1_000_000 * blocks[bi][0]) // blocks[bi][1])
        consumed += n
        if consumed >= blocks[bi][1]:
            consumed = 0
            bi += 1
    df = spark.createDataFrame(rows, "bucket int, pos int, n int")
    got = [r.iso_q for r in isotonic_fit(df).orderBy("bucket").collect()]
    assert got == want
    assert got == sorted(got)


@given(
    edits=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=12),      # key
            st.sampled_from(["ou", "od", "tu", "td"]),  # side+op
            st.integers(min_value=0, max_value=5),       # new value
        ),
        min_size=0,
        max_size=10,
    )
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_three_way_merge_matches_python_model(spark, tmp_path_factory, edits):
    """snapshot_merge_3way(on_conflict='theirs') equals a per-key
    Python model for ANY combination of side edits (update/delete on
    either side, including double edits and delete-vs-update)."""
    from yelp_etl_spark.sources.snapshots import (
        snapshot_merge_3way,
        snapshot_read,
        snapshot_write,
    )

    base = {k: k * 10 for k in range(1, 9)}
    ours, theirs = dict(base), dict(base)
    for k, op, v in edits:
        side = ours if op[0] == "o" else theirs
        if op[1] == "d":
            side.pop(k, None)
        else:
            side[k] = 1000 + v if op[0] == "o" else 2000 + v

    def model():
        keys = set(base) | set(ours) | set(theirs)
        out = {}
        for k in keys:
            b, o, t = base.get(k), ours.get(k), theirs.get(k)
            o_changed = o != b
            t_changed = t != b
            same = o == t
            if (t_changed and not o_changed) or (
                o_changed and t_changed and not same
            ):
                if t is not None:
                    out[k] = t
            else:
                if o is not None:
                    out[k] = o
        return sorted(out.items())

    tdir = str(tmp_path_factory.mktemp("m3w") / "tbl")
    bid = snapshot_write(
        spark.createDataFrame(sorted(base.items()), "k long, v long"), tdir
    )
    oid = snapshot_write(
        spark.createDataFrame(sorted(ours.items()) or [(None, None)],
                              "k long, v long").filter("k IS NOT NULL"),
        tdir,
    )
    tid = snapshot_write(
        spark.createDataFrame(sorted(theirs.items()) or [(None, None)],
                              "k long, v long").filter("k IS NOT NULL"),
        tdir,
        publish=False,
    )
    snapshot_merge_3way(spark, tdir, bid, oid, tid, ["k"],
                        on_conflict="theirs")
    got = sorted(map(tuple, snapshot_read(spark, tdir).collect()))
    assert got == model()


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=-2, max_value=14),
            st.integers(min_value=-2, max_value=14),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_point_in_polygon_matches_python_reference_property(spark, pts):
    """The Catalyst ray-crossing join equals a pure-Python even-odd
    reference for arbitrary points (odd-y adjusted) against a concave
    polygon — including points outside the bbox and in the notch."""
    from yelp_etl_spark.operators.spatial import point_in_polygon_join

    ring = [(0, 0), (12, 0), (12, 4), (6, 4), (6, 10), (0, 10)]  # L-shape
    rows = [
        (i, x, y * 2 + 1) for i, (x, y) in enumerate(pts)
    ]  # odd y by construction

    def inside(px, py):
        c = False
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            if (y1 <= py) != (y2 <= py):
                num = (x1 - px) * (y2 - y1) + (x2 - x1) * (py - y1)
                # num == 0 <=> the point lies ON this edge's line: the
                # operator's strict num*(y2-y1) > 0 convention counts no
                # crossing there (boundary points resolve by the other
                # edges — deterministic, engine-portable)
                if num != 0 and (num > 0) == (y2 - y1 > 0):
                    c = not c
        return c

    want = sorted((i, 1) for i, x, y in rows if inside(x, y))
    df = spark.createDataFrame(rows, "pid int, x int, y int")
    got = sorted(
        (r.pid, r.polygon_id)
        for r in point_in_polygon_join(df, [(1, ring)]).collect()
    )
    assert got == want
