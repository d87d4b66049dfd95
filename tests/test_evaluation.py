"""Unit tests for functions/evaluation.py (AUC, PSI) and
functions/classify.py (Naive Bayes) — known-answer checks plus the
partitioning-determinism contract every metric must satisfy."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from yelp_etl_spark.functions.classify import (
    naive_bayes_predict,
    naive_bayes_train,
)
from yelp_etl_spark.functions.evaluation import auc_score, fixed_bin, psi_drift

from rounding_ref import half_up


def test_auc_perfect_and_random_rankers(spark):
    # Perfect separation: every positive scores above every negative.
    rows = [(1, 10.0), (1, 9.0), (0, 2.0), (0, 1.0)]
    df = spark.createDataFrame(rows, "label int, score double")
    r = auc_score(df, "label", "score").collect()[0]
    assert r.auc == 1.0 and r.n_pos == 2 and r.n_neg == 2

    # Reversed scores → AUC 0.
    df2 = spark.createDataFrame([(0, 10.0), (0, 9.0), (1, 2.0)], "label int, score double")
    assert auc_score(df2, "label", "score").collect()[0].auc == 0.0


def test_auc_ignores_null_and_nan_rows(spark):
    """NULL labels are unknown (not negatives) and NULL/NaN scores
    rank in engine-specific positions — all such rows are excluded, so
    dirty input gives the same AUC as its clean subset."""
    clean = [(1, 10.0), (1, 9.0), (0, 2.0), (0, 1.0)]
    dirty = clean + [(None, 5.0), (1, None), (0, float("nan"))]
    df = spark.createDataFrame(dirty, "label int, score double")
    r = auc_score(df, "label", "score").collect()[0]
    assert r.auc == 1.0 and r.n_pos == 2 and r.n_neg == 2


def test_auc_midrank_tie_handling(spark):
    # All scores tied → AUC exactly 0.5 by the midrank convention.
    rows = [(1, 5.0)] * 3 + [(0, 5.0)] * 7
    df = spark.createDataFrame(rows, "label int, score double")
    assert auc_score(df, "label", "score").collect()[0].auc == 0.5
    # Hand-computed mixed case: pos scores {3, 1}, neg {2, 1}.
    # Ranks: 1→(1,2) avg 1.5; 2→3; 3→4. R_pos = 1.5+4 = 5.5.
    # AUC = (5.5 - 3)/(2*2) = 0.625.
    df2 = spark.createDataFrame(
        [(1, 3.0), (1, 1.0), (0, 2.0), (0, 1.0)], "label int, score double"
    )
    assert df2.transform(lambda d: auc_score(d, "label", "score")).collect()[0].auc == 0.625


def test_fixed_bin_clamps_and_is_exact(spark):
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.999,), (10.0,), (99.9,), (100.0,), (1e9,)], "v double"
    )
    out = [r[0] for r in df.select(fixed_bin(F.col("v"), 0.0, 100.0, 10)).collect()]
    assert out == [0, 0, 0, 1, 9, 9, 9]


def test_psi_zero_for_identical_and_positive_for_shifted(spark):
    a = spark.createDataFrame([(float(i % 10) * 10 + 5,) for i in range(100)], "v double")
    out = psi_drift(a, a, "v", 0.0, 100.0, 10).collect()
    assert [r.bin for r in out] == list(range(10))
    assert all(r.psi_term == 0.0 for r in out)
    # Shift everything up by 30: PSI total must be clearly positive.
    b = a.select((F.col("v") + 30.0).alias("v"))
    total = sum(r.psi_term for r in psi_drift(a, b, "v", 0.0, 100.0, 10).collect())
    assert total > 0.25


def test_naive_bayes_learns_separable_vocab(spark):
    # Two classes with disjoint vocabularies — NB must classify
    # held-out docs perfectly, and prediction must be
    # partitioning-independent.
    rows = []
    for i in range(20):
        rows.append((i, "apple banana cherry apple", "fruit"))
        rows.append((100 + i, "bolt washer screw bolt", "tool"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    priors, loglik = naive_bayes_train(df)
    test = spark.createDataFrame(
        [(500, "banana apple"), (501, "screw bolt washer")],
        "doc_id long, text string",
    )
    pred = {r.doc_id: r.label for r in naive_bayes_predict(test, priors, loglik).collect()}
    assert pred == {500: "fruit", 501: "tool"}

    a = sorted(map(tuple, naive_bayes_predict(test.repartition(3), priors, loglik).collect()))
    b = sorted(map(tuple, naive_bayes_predict(test.repartition(1), priors, loglik).collect()))
    assert a == b


def test_naive_bayes_prior_only_for_oov_doc(spark):
    # A test doc with no in-vocabulary token falls back to the class
    # prior → majority class wins deterministically.
    rows = [(i, "common words here", "big") for i in range(9)] + [
        (99, "rare other tokens", "small")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    priors, loglik = naive_bayes_train(df)
    test = spark.createDataFrame([(7, "zzz qqq")], "doc_id long, text string")
    out = naive_bayes_predict(test, priors, loglik).collect()
    assert len(out) == 1 and out[0].label == "big"
    # score must equal the quantized prior exactly (no token terms)
    assert out[0].score_q == half_up(math.log(9 / 10) * 1e6, 0)


def test_logreg_learns_planted_separator(spark):
    """LR on a linearly separable planted direction reaches high
    training accuracy in 4 rounds and is partitioning-independent."""
    import random

    from yelp_etl_spark.functions.classify import logistic_regression_train

    rng = random.Random(7)
    rows = []
    for i in range(200):
        y = i % 2
        # features: dim 4; coordinate 1 carries the signal
        base = [rng.uniform(-0.2, 0.2) for _ in range(4)]
        base[1] += 2.0 if y else -2.0
        rows.append((i, [float(v) for v in base], float(y)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, y double")
    w, acc = logistic_regression_train(
        df, df.select("vec_id", "y"), iterations=4, lr=1.0
    )
    wmap = dict(w)
    assert acc >= 0.95
    # the signal coordinate dominates every noise coordinate
    assert abs(wmap[1]) > 3 * max(abs(wmap[p]) for p in (0, 2, 3))
    w2, acc2 = logistic_regression_train(
        df.repartition(7), df.select("vec_id", "y").repartition(3),
        iterations=4, lr=1.0,
    )
    assert w == w2 and acc == acc2


def test_psi_ignores_null_nan_and_flags_empty_side(spark):
    from pyspark.sql import functions as F  # noqa: F811

    a = spark.createDataFrame(
        [(5.0,), (15.0,), (None,), (float("nan"),)], "v double"
    )
    out = psi_drift(a, a, "v", 0.0, 100.0, 10).collect()
    # NULL/NaN excluded: only bins 0 and 1 carry mass
    assert {r.bin: r.n_base for r in out if r.n_base} == {0: 1, 1: 1}
    assert all(r.psi_term == 0.0 for r in out)
    # empty current side: totals coalesce to 0, terms stay finite and
    # the total PSI reads as LARGE drift, never NULL-silenced 0.0
    empty = a.filter(F.col("v") < -1)
    drift = psi_drift(a, empty, "v", 0.0, 100.0, 10).collect()
    assert all(r.psi_term is not None for r in drift)
    assert sum(r.psi_term for r in drift) > 0.0


def test_chi2_ranks_class_dependent_term_first(spark):
    """A term exclusive to one class dominates a term spread evenly
    across classes; counts in the output are exact presence counts."""
    from yelp_etl_spark.functions.classify import chi2_terms

    rows = []
    for i in range(20):
        # 'marker' only in class A; 'common' everywhere
        rows.append((i, "marker common filler", "A"))
        rows.append((100 + i, "other common filler", "B"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = chi2_terms(df, top_k=50).collect()
    by_cell = {(r.tok, r.label): r for r in out}
    assert by_cell[("marker", "A")].n_docs_in_class == 20
    # exclusive terms (marker/other) strictly dominate uniform ones
    assert by_cell[("marker", "A")].chi2 > by_cell[("common", "A")].chi2
    assert by_cell[("common", "A")].chi2 == 0.0  # perfectly independent
    a = sorted(map(tuple, chi2_terms(df.repartition(5), top_k=50).collect()))
    b = sorted(map(tuple, out))
    assert a == b


def test_kaplan_meier_textbook_example(spark):
    """Classic hand-computed KM: subjects with durations
    [1e, 2c, 3e, 3e, 4c, 5e] (e=event, c=censored).
    t=1: n=6, d=1 -> S=5/6; t=2: censored only -> S unchanged;
    t=3: n=4, d=2 -> S=5/6*2/4=5/12; t=4: censored; t=5: n=1, d=1 -> 0.
    """
    from yelp_etl_spark.functions.evaluation import kaplan_meier

    rows = [(1, 1), (2, 0), (3, 1), (3, 1), (4, 0), (5, 1)]
    df = spark.createDataFrame(rows, "t int, churned int")
    out = {r.t: r for r in kaplan_meier(df, "t", "churned").collect()}
    assert out[1].n_risk == 6 and out[1].survival == half_up(5 / 6)
    assert out[2].survival == half_up(5 / 6) and out[2].n_censored == 1
    assert out[3].n_risk == 4 and out[3].survival == half_up(5 / 12)
    assert out[5].n_risk == 1 and out[5].survival == 0.0
    # partitioning-independent
    a = sorted(map(tuple, kaplan_meier(df.repartition(5), "t", "churned").collect()))
    b = sorted(map(tuple, kaplan_meier(df, "t", "churned").collect()))
    assert a == b


def test_acf_periodic_series(spark):
    """A period-2 alternating series has r_1 ~ -1 and r_2 ~ +1; exact
    integer algebra makes the values partitioning-independent."""
    from yelp_etl_spark.functions.evaluation import acf

    rows = [(t, 10 if t % 2 == 0 else 20) for t in range(20)]
    df = spark.createDataFrame(rows, "step int, x int")
    out = {r.lag: r for r in acf(df, "step", "x", max_lag=3).collect()}
    assert out[1].n_pairs == 19 and out[1].r < -0.9
    assert out[2].n_pairs == 18 and out[2].r > 0.85
    a = sorted(map(tuple, acf(df.repartition(6), "step", "x", 3).collect()))
    b = sorted(map(tuple, acf(df, "step", "x", 3).collect()))
    assert a == b


def test_acf_constant_series_reads_zero(spark):
    from yelp_etl_spark.functions.evaluation import acf

    df = spark.createDataFrame([(t, 7) for t in range(10)], "step int, x int")
    out = acf(df, "step", "x", max_lag=2).collect()
    assert [r.r for r in out] == [0.0, 0.0]


def test_acf_emits_every_promised_lag_even_with_no_pairs(spark):
    """The lag grid is the contract: a series shorter than max_lag+1
    still yields rows for every lag in 1..max_lag, with n_pairs=0 and
    r=0 where no pair exists (not silently missing rows)."""
    from yelp_etl_spark.functions.evaluation import acf

    df = spark.createDataFrame([(t, t * 3 % 7) for t in range(4)], "step int, x int")
    out = acf(df, "step", "x", max_lag=6).collect()
    assert [r.lag for r in out] == [1, 2, 3, 4, 5, 6]
    by_lag = {r.lag: r for r in out}
    assert by_lag[3].n_pairs == 1
    assert by_lag[4].n_pairs == 0 and by_lag[4].r == 0.0
    assert by_lag[6].n_pairs == 0 and by_lag[6].r == 0.0


def test_benford_flags_uniform_but_accepts_benford_data(spark):
    from pyspark.sql import functions as F  # noqa: F811

    from yelp_etl_spark.functions.evaluation import benford_audit

    # Benford-ish data: powers spread over scales (2^k leads Benford)
    benford = spark.createDataFrame(
        [(2 ** k,) for k in range(1, 40)], "v long"
    )
    chi_b = sum(r.chi2_term for r in benford_audit(benford, "v").collect())
    # uniform-first-digit data: 100..900 step 100, many copies
    uniform = spark.createDataFrame(
        [(100 * d + 7,) for d in range(1, 10) for _ in range(20)], "v long"
    )
    chi_u = sum(r.chi2_term for r in benford_audit(uniform, "v").collect())
    assert chi_u > chi_b  # uniform digits deviate far more than 2^k
    out = benford_audit(uniform, "v").collect()
    assert [r.digit for r in out] == list(range(1, 10))
    assert all(r.n_obs == 20 for r in out)


def test_reliability_bins_perfect_and_biased_scorers(spark):
    from yelp_etl_spark.functions.evaluation import reliability_bins

    # perfectly calibrated: in each bin, observed rate == mean p
    rows = []
    for b in range(10):
        p = b / 10 + 0.05
        n_pos = int(round(p * 20))
        rows += [(p, 1)] * n_pos + [(p, 0)] * (20 - n_pos)
    df = spark.createDataFrame(rows, "p double, y int")
    out = reliability_bins(df, "p", "y", 10).collect()
    assert [r.bin for r in out] == list(range(10))
    assert all(abs(r.gap) <= 0.0501 for r in out)  # n_pos rounding slack
    # overconfident scorer: p=0.9 but only 10% positives -> gap ~ -0.8
    bad = spark.createDataFrame([(0.9, 1 if i < 2 else 0) for i in range(20)], "p double, y int")
    g = reliability_bins(bad, "p", "y", 10).collect()
    assert len(g) == 1 and g[0].bin == 9 and g[0].gap < -0.7
    a = sorted(map(tuple, reliability_bins(df.repartition(7), "p", "y", 10).collect()))
    assert a == sorted(map(tuple, out))


# ---------------------------------------------------------------------------
# ranking_metrics (NDCG@k / MRR / MAP@k)
# ---------------------------------------------------------------------------


def _rank_rows(spark, rels, query_id=1):
    rows = [(query_id, i + 1, r) for i, r in enumerate(rels)]
    return spark.createDataFrame(rows, "query_id long, rank long, rel long")


def test_ranking_metrics_perfect_ranking(spark):
    from yelp_etl_spark.functions.evaluation import ranking_metrics

    # 3 relevant items, all ranked at the top of a k=5 list
    ranked = _rank_rows(spark, [1, 1, 1, 0, 0])
    counts = spark.createDataFrame([(1, 3)], "query_id long, n_rel long")
    row = ranking_metrics(ranked, counts, k=5).collect()[0]
    assert row["ndcg_at_5"] == 1.0
    assert row["mrr"] == 1.0
    assert row["map_at_5"] == 1.0


def test_ranking_metrics_known_values(spark):
    from yelp_etl_spark.functions.evaluation import (
        dcg_weight_micro,
        ranking_metrics,
    )

    # relevant at ranks 2 and 5; 2 relevant in the corpus
    ranked = _rank_rows(spark, [0, 1, 0, 0, 1])
    counts = spark.createDataFrame([(1, 2)], "query_id long, n_rel long")
    row = ranking_metrics(ranked, counts, k=5).collect()[0]
    w = dcg_weight_micro(5)
    dcg = w[1] + w[4]
    idcg = w[0] + w[1]
    assert row["ndcg_at_5"] == half_up(dcg / idcg)
    assert row["mrr"] == 0.5
    # AP = (1/2 + 2/5) / 2, each precision term micro-quantized
    ap_micro = half_up(1_000_000 * 1 / 2, 0) + half_up(1_000_000 * 2 / 5, 0)
    assert row["map_at_5"] == half_up(ap_micro / (2 * 1_000_000))


def test_ranking_metrics_no_relevant_in_corpus(spark):
    from yelp_etl_spark.functions.evaluation import ranking_metrics

    ranked = _rank_rows(spark, [0, 0, 0])
    counts = spark.createDataFrame([(1, 0)], "query_id long, n_rel long")
    row = ranking_metrics(ranked, counts, k=3).collect()[0]
    assert row["ndcg_at_3"] == 0.0
    assert row["mrr"] == 0.0
    assert row["map_at_3"] == 0.0


def test_ranking_metrics_ideal_capped_at_k(spark):
    from yelp_etl_spark.functions.evaluation import (
        dcg_weight_micro,
        ranking_metrics,
    )

    # 100 relevant in corpus but k=3: IDCG uses only the first 3 weights
    ranked = _rank_rows(spark, [1, 0, 1])
    counts = spark.createDataFrame([(1, 100)], "query_id long, n_rel long")
    row = ranking_metrics(ranked, counts, k=3).collect()[0]
    w = dcg_weight_micro(3)
    assert row["ndcg_at_3"] == half_up((w[0] + w[2]) / sum(w))


# ---------------------------------------------------------------------------
# categorical encoders (woe_encode / loo_target_encode)
# ---------------------------------------------------------------------------


def test_woe_encode_signs_and_counts(spark):
    from yelp_etl_spark.functions.classify import woe_encode

    # 'hi' is pure-positive, 'lo' pure-negative: WoE signs must split
    rows = [("hi", 1)] * 8 + [("hi", 0)] * 2 + [("lo", 1)] * 2 + [
        ("lo", 0)
    ] * 8
    df = spark.createDataFrame(rows, "cat string, y long")
    out = {r["category"]: r for r in woe_encode(df, "cat", "y").collect()}
    assert out["hi"]["n"] == 10 and out["hi"]["n_pos"] == 8
    assert out["hi"]["woe_micro"] > 0 > out["lo"]["woe_micro"]
    # IV contributions are non-negative by construction
    assert out["hi"]["iv_micro"] >= 0 and out["lo"]["iv_micro"] >= 0
    w = math.log((8.5 * 10.5) / (2.5 * 10.5))
    assert out["hi"]["woe_micro"] == half_up(w * 1e6, 0)


def test_woe_encode_smoothing_keeps_empty_cells_finite(spark):
    from yelp_etl_spark.functions.classify import woe_encode

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 0)], "cat string, y long"
    )
    out = {r["category"]: r for r in woe_encode(df, "cat", "y").collect()}
    assert out["a"]["woe_micro"] is not None  # neg=0 cell, smoothed
    assert out["b"]["woe_micro"] is not None  # pos=0 cell, smoothed


def test_loo_target_encode_excludes_own_label(spark):
    from yelp_etl_spark.functions.classify import loo_target_encode

    # category 'a': labels [1, 1, 0] — LOO for a y=1 row is mean(1,0)
    # = 0.5; for the y=0 row mean(1,1) = 1.0
    df = spark.createDataFrame(
        [(1, "a", 1), (2, "a", 1), (3, "a", 0), (4, "solo", 1)],
        "id long, cat string, y long",
    )
    out = {
        r["id"]: r["loo_enc_ppm"]
        for r in loo_target_encode(df, "cat", "y").collect()
    }
    assert out[1] == 500_000 and out[2] == 500_000
    assert out[3] == 1_000_000
    # singleton falls back to the global prior floor(3e6/4)
    assert out[4] == 750_000


def test_loo_target_encode_is_leak_free_constant_per_cell(spark):
    from yelp_etl_spark.functions.classify import loo_target_encode

    import random as _r

    rng = _r.Random(7)
    rows = [
        (i, f"c{rng.randrange(4)}", rng.randrange(2)) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, cat string, y long")
    enc = loo_target_encode(df, "cat", "y")
    cells = (
        enc.groupBy("cat", "y")
        .agg(F.countDistinct("loo_enc_ppm").alias("k"))
        .collect()
    )
    assert all(r["k"] == 1 for r in cells)


def test_loo_target_encode_keeps_null_category_rows(spark):
    from yelp_etl_spark.functions.classify import loo_target_encode

    df = spark.createDataFrame(
        [(1, None, 1), (2, None, 0), (3, "a", 1)],
        "id long, cat string, y long",
    )
    out = loo_target_encode(df, "cat", "y")
    assert out.count() == 3  # an encoder never changes the row count
    got = {r["id"]: r["loo_enc_ppm"] for r in out.collect()}
    # NULL is a real category of size 2: LOO works within it
    assert got[1] == 0 and got[2] == 1_000_000
    # singleton 'a' falls back to global prior floor(2e6/3)
    assert got[3] == 666_666


def test_boosted_stumps_unsplittable_grid_raises(spark):
    from yelp_etl_spark.functions.classify import boosted_stumps

    df = spark.createDataFrame([(5, 100), (5, 200)], "f long, y long")
    with pytest.raises(ValueError, match="non-empty sides"):
        boosted_stumps(df, "y", [("f", [5])])  # all rows on the lo side


def test_mutual_info_ranks_class_dependent_term_first(spark):
    from yelp_etl_spark.functions.classify import mutual_info_terms

    rows = [
        (i, "en", "the quick fox" if i % 2 else "the lazy dog")
        for i in range(20)
    ] + [(100 + i, "de", "der schnelle fuchs") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = mutual_info_terms(df, "lang", "text", "doc_id", top_k=5).collect()
    # 'the' appears in every en doc and no de doc: maximal MI; a term
    # split across classes ranks below it
    top_toks = [r["tok"] for r in out]
    assert top_toks[0] in {"the", "der", "schnelle", "fuchs"}
    mi = {r["tok"]: r["mi_micro"] for r in out}
    assert all(v >= 0 for v in mi.values())


def test_nelson_aalen_known_hazard(spark):
    from yelp_etl_spark.functions.evaluation import nelson_aalen

    # durations: 1,1,2 with events 1,0,1 → at t=1: n_risk=3, d=1;
    # at t=2: n_risk=1, d=1 → H = 1/3 + 1 (micro-quantized terms)
    df = spark.createDataFrame(
        [(1, 1), (1, 0), (2, 1)], "t long, churned long"
    )
    rows = {r["t"]: r for r in nelson_aalen(df, "t", "churned").collect()}
    assert rows[1]["n_risk"] == 3 and rows[1]["d_event"] == 1
    assert rows[1]["cum_hazard_micro"] == half_up(1e6 / 3, 0)
    assert rows[2]["cum_hazard_micro"] == half_up(1e6 / 3, 0) + 1_000_000


def test_cogrouped_asof_attribution_bounds(spark):
    from yelp_etl_spark.functions.udfs import cogrouped_asof_attribution

    views = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-05 00:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    buys = spark.createDataFrame(
        [
            (1, "2024-01-01 12:00:00"),  # within 1 day of the view
            (1, "2024-01-03 12:00:00"),  # too late
            (2, "2024-01-04 00:00:00"),  # view is AFTER: no match
            (3, "2024-01-01 00:00:00"),  # user never viewed
        ],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["key"]: r
        for r in cogrouped_asof_attribution(
            views, buys, "user_id", "ts", 1
        ).collect()
    }
    assert out[1]["n_right"] == 2 and out[1]["n_attributed"] == 1
    assert out[2]["n_right"] == 1 and out[2]["n_attributed"] == 0
    assert out[3]["n_right"] == 1 and out[3]["n_attributed"] == 0


def test_cogrouped_asof_attribution_string_keys(spark):
    from yelp_etl_spark.functions.udfs import cogrouped_asof_attribution

    views = spark.createDataFrame(
        [("de", "2024-01-01 00:00:00")], "cc string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    buys = spark.createDataFrame(
        [("de", "2024-01-01 06:00:00")], "cc string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = cogrouped_asof_attribution(views, buys, "cc", "ts", 1).collect()
    assert out[0]["key"] == "de" and out[0]["n_attributed"] == 1


def test_markov_attribution_rejects_reserved_channels(spark):
    import pytest as _pt

    from yelp_etl_spark.functions.attribution import (
        markov_removal_attribution,
    )

    events = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00", "view")],
        "event_id long, user_id long, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with _pt.raises(ValueError, match="reserved"):
        markov_removal_attribution(events, ["view", "purchase"])


def test_isotonic_fit_matches_pava_reference(spark):
    """Minimax isotonic fit vs the classic sequential PAVA pooling on a
    violator-rich sequence (known sklearn-style answer)."""
    from yelp_etl_spark.functions.evaluation import isotonic_fit

    # rates: 0.5, 0.2, 0.8, 0.4, 0.4, 0.9 with equal n=10
    bins = [(i, p, 10) for i, p in enumerate([5, 2, 8, 4, 4, 9])]

    def pava(pos, n):
        blocks = [[p, c] for p, c in zip(pos, n)]
        i = 0
        while i < len(blocks) - 1:
            if blocks[i][0] * blocks[i + 1][1] > blocks[i + 1][0] * blocks[i][1]:
                blocks[i][0] += blocks[i + 1][0]
                blocks[i][1] += blocks[i + 1][1]
                del blocks[i + 1]
                i = max(i - 1, 0)
            else:
                i += 1
        out = []
        for p, c in blocks:
            out.extend([(p, c)] * c)
        # per original bin (n=10 each): take every 10th
        return [out[k * 10] for k in range(len(pos))]

    want = [
        (1_000_000 * p) // c for p, c in pava([5, 2, 8, 4, 4, 9], [10] * 6)
    ]
    df = spark.createDataFrame(bins, "bucket int, pos int, n int")
    got = [r.iso_q for r in isotonic_fit(df).orderBy("bucket").collect()]
    assert got == want
    assert got == sorted(got)  # the isotonic property itself
