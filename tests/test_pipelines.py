"""Golden end-to-end pipeline tests on the Yelp-shaped micro-fixtures
(FIXTURES.md §B): extract → clean → enrich, pinning the reference's
dirty-case behavior (unicode prefixes, textual nulls, map-like attribute
strings, hour splitting, checkin explode, orphan-dropping inner joins).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from yelp_etl_spark.plans.pipelines import (
    CLEANERS,
    clean_business,
    clean_checkin,
    clean_review,
    clean_user,
    enrich_fact,
)
from yelp_etl_spark.sources.readers import read_json

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def raw(spark):
    return {
        e: read_json(spark, os.path.join(FIXTURES, f"{e}.json"))
        for e in ("business", "review", "user", "checkin", "tip")
    }


def test_extract_infers_nested_schema(raw):
    b = raw["business"]
    assert b.count() == 4
    types = dict(b.dtypes)
    assert types["attributes"].startswith("struct<")
    assert types["hours"].startswith("struct<")
    assert types["is_open"] == "bigint"


def test_clean_business_types_and_values(raw):
    cleaned = clean_business(raw["business"])
    types = dict(cleaned.dtypes)
    assert types["is_open"] == "boolean"
    assert types["categories"] == "array<string>"
    # attribute repair + safe cast: WiFi values u'free'/'no'/None → plain strings
    assert types["attributes_wifi"] == "string"
    assert types["attributes_bikeparking"] == "boolean"
    assert types["attributes_businessparking"].startswith("map<string,")
    rows = {r.business_id: r for r in cleaned.collect()}
    assert rows["b1"].attributes_wifi == "free"
    assert rows["b2"].attributes_wifi == "no"
    assert rows["b3"].attributes_wifi is None  # "None" → NULL
    assert rows["b1"].attributes_bikeparking is True
    assert rows["b1"].attributes_businessparking["street"] in (True, "true")
    assert rows["b1"].categories == ["Coffee & Tea", "Cafes", "Breakfast"]
    assert rows["b3"].categories is None
    # hours split: b1 Wednesday 7:30-17:30
    assert rows["b1"].wednesday_start_hour == 7
    assert rows["b1"].wednesday_start_minute == 30
    assert rows["b1"].wednesday_end_hour == 17
    assert rows["b1"].wednesday_end_minute == 30
    assert rows["b3"].monday_start_hour is None  # null hours struct
    assert "hours_monday" not in cleaned.columns


def test_clean_checkin_explodes_and_derives(raw):
    cleaned = clean_checkin(raw["checkin"])
    assert cleaned.count() == 6  # 3 + 1 + 2 timestamps
    b1 = cleaned.filter(F.col("business_id") == "b1")
    assert b1.count() == 3
    assert cleaned.select("checkin_id").distinct().count() == 6
    row = cleaned.filter(F.col("date_ts") == "2020-02-29 23:59:59").collect()[0]
    assert row.business_id == "b2"
    assert row.date_year == 2020 and row.date_month == 2
    assert str(row.date_week_start_date) == "2020-02-24"


def test_clean_review_date_features(raw):
    cleaned = clean_review(raw["review"])
    r1 = cleaned.filter(F.col("review_id") == "r1").collect()[0]
    assert r1.date_year == 2018 and r1.date_quarter == 3 and r1.date_dayofweek == 4
    assert "date" not in cleaned.columns


def test_clean_user_yelping_since(raw):
    cleaned = clean_user(raw["user"])
    u1 = cleaned.filter(F.col("user_id") == "u1").collect()[0]
    assert u1.yelping_since_year == 2015
    assert str(u1.yelping_since_date) == "2015-03-20"


def test_enrich_review_obt(raw):
    review = clean_review(raw["review"])
    business = clean_business(raw["business"])
    user = clean_user(raw["user"])
    obt = enrich_fact(review, {"business": business, "user": user})
    # r4 references unknown business b9 → dropped by inner join
    assert {r.review_id for r in obt.select("review_id").collect()} == {"r1", "r2", "r3"}
    # dim columns prefixed; overlapping 'stars' disambiguated
    assert "business_stars" in obt.columns and "user_name" in obt.columns
    assert "stars" in obt.columns  # fact's own stars kept unprefixed
    r1 = obt.filter(F.col("review_id") == "r1").collect()[0]
    assert r1.business_name == "Cafe One"
    assert r1.user_name == "Ana"
    assert r1.business_stars == 4.5 and r1.stars == 5.0


def test_gold_weekly_business_stats(raw):
    from yelp_etl_spark.plans.pipelines import gold_weekly_business_stats

    review = clean_review(raw["review"])
    business = clean_business(raw["business"])
    user = clean_user(raw["user"])
    obt = enrich_fact(review, {"business": business, "user": user})
    gold = gold_weekly_business_stats(obt)
    rows = {(r.business_id, str(r.date_week_start_date)): r for r in gold.collect()}
    # b1 has r1 (2018-07-04, week of 07-02) and r2 (2019-12-31, week of 12-30)
    assert rows[("b1", "2018-07-02")].n_reviews == 1
    assert rows[("b1", "2018-07-02")].avg_stars == 5.0
    assert rows[("b1", "2019-12-30")].n_reviews == 1
    assert len([k for k in rows if k[0] == "b2"]) == 1


def test_gold_user_engagement(raw):
    from yelp_etl_spark.plans.pipelines import clean_tip, gold_user_engagement

    review = clean_review(raw["review"])
    business = clean_business(raw["business"])
    user = clean_user(raw["user"])
    obt = enrich_fact(review, {"business": business, "user": user})
    tip_obt = enrich_fact(clean_tip(raw["tip"]), {"business": business, "user": user})
    gold = gold_user_engagement(obt, tip_obt)
    rows = {r.user_id: r for r in gold.collect()}
    assert rows["u1"].n_reviews == 2  # r1 (b1) + r3 (b2)
    assert rows["u1"].n_businesses == 2
    assert rows["u1"].n_tips == 1
    assert rows["u2"].n_tips == 1
    assert str(rows["u1"].first_review_date) == "2018-07-04"


def test_cli_end_to_end(spark, tmp_path):
    """Drive extract → clean → enrich through the CLI surface."""
    from yelp_etl_spark.cli import build_parser, run

    bronze = {}
    for entity in ("review", "business", "user"):
        out = str(tmp_path / f"bronze_{entity}")
        run(
            build_parser().parse_args(
                ["--pipeline", "extract", "--entity_type", entity,
                 "--input", os.path.join(FIXTURES, f"{entity}.json"),
                 "--output", out]
            ),
            spark,
        )
        bronze[entity] = out
    silver = {}
    for entity in ("review", "business", "user"):
        out = str(tmp_path / f"silver_{entity}")
        args = ["--pipeline", "clean", "--entity_type", entity,
                "--input", bronze[entity], "--output", out]
        if entity == "review":
            args += ["--partition_column", "date_year", "--bucket_column", "business_id",
                     "--buckets", "2"]
        run(build_parser().parse_args(args), spark)
        silver[entity] = out
    # partitioned layout on disk: date_year=YYYY directories
    assert any(p.name.startswith("date_year=") for p in (tmp_path / "silver_review").iterdir())
    obt_path = str(tmp_path / "obt")
    run(
        build_parser().parse_args(
            ["--pipeline", "enrich", "--entity_type", "review",
             "--input", silver["review"], "--output", obt_path,
             "--dimension_inputs", silver["business"], silver["user"],
             "--dimension_entity_types", "business", "user"]
        ),
        spark,
    )
    obt = spark.read.parquet(obt_path)
    assert obt.count() == 3
    assert "business_name" in obt.columns


def test_cli_maintain_pipeline(spark, tmp_path):
    """The maintain pipeline runs the snapshot maintenance loop in
    place: compact small files into one snapshot, expire history past
    --keep_last, vacuum the orphaned small files — content unchanged,
    time travel to the pre-compaction snapshot preserved (keep_last=2)."""
    from yelp_etl_spark.cli import build_parser, run
    from yelp_etl_spark.sources.snapshots import (
        snapshot_read,
        snapshot_write,
        snapshots,
    )

    t = str(tmp_path / "snaptbl")
    snapshot_write(spark.range(0, 500).repartition(8), t, mode="replace")
    n_before = snapshot_read(spark, t).count()
    run(
        build_parser().parse_args(
            ["--pipeline", "maintain", "--input", t, "--keep_last", "2"]
        ),
        spark,
    )
    assert snapshot_read(spark, t).count() == n_before
    ops = [s["operation"] for s in snapshots(t)]
    assert ops == ["replace", "rewrite"]  # compaction committed, both kept
    # another round with keep_last=1 drops history and reclaims files
    run(
        build_parser().parse_args(
            ["--pipeline", "maintain", "--input", t, "--keep_last", "1"]
        ),
        spark,
    )
    assert snapshot_read(spark, t).count() == n_before
    assert [s["operation"] for s in snapshots(t)] == ["rewrite"]
    # non-maintain pipelines still demand entity/output
    import pytest as _pt

    with _pt.raises(SystemExit):
        run(
            build_parser().parse_args(
                ["--pipeline", "clean", "--input", t]
            ),
            spark,
        )


@pytest.fixture(scope="module")
def training_run(spark, sf_dir, tmp_path_factory):
    """Run the composed curation pipeline ONCE for the module — both
    pipeline tests assert different invariants over the same output,
    and the run itself is the expensive part (~10 s each when run
    per-test)."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
    )
    from run_training_pipeline import run

    out = str(tmp_path_factory.mktemp("training") / "corpus")
    metrics = run(spark, sf_dir, out)
    return out, metrics


def test_training_pipeline_end_to_end(spark, sf_dir, training_run):
    """The composed curation pipeline: gate → filter → dedup → scrub →
    split → write. Output must be deduplicated, split-disjoint, and
    consistent with the observed metrics."""
    from pyspark.sql import functions as F

    from yelp_etl_spark.functions import text as TX

    out, metrics = training_run
    result = spark.read.parquet(out)
    n = result.count()
    assert n == metrics["n_docs"] > 0
    assert metrics["n_train"] == result.filter(F.col("split") == "train").count()
    # exact-dedup invariant: no two output docs share a fingerprint
    n_fp = result.select(
        TX.fingerprint(F.col("text")).alias("fp")
    ).distinct().count()
    assert n_fp == n
    # split column partitions the output exhaustively
    assert result.filter(~F.col("split").isin("train", "test")).count() == 0


def test_training_pipeline_curation_stages(spark, sf_dir, training_run):
    """Round-2 stages: output is decontaminated against the eval
    sample, carries a dense shard layout, and respects the source
    mixture downsampling."""
    import os

    from pyspark.sql import functions as F

    from yelp_etl_spark.functions.curation import decontaminate
    from yelp_etl_spark.functions.sampling import deterministic_sample

    out, _ = training_run
    result = spark.read.parquet(out)

    # shard layout: present, dense within (shard)
    assert {"shard", "pos"} <= set(result.columns)
    for r in (
        result.groupBy("shard")
        .agg(F.count("*").alias("n"), F.max("pos").alias("mx"))
        .collect()
    ):
        assert r.n == r.mx

    # no doc from the eval sample leaks into the corpus, and no output
    # doc still shares a 5-gram with it
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    eval_set = deterministic_sample(docs, "doc_id", 0.02)
    eval_ids = {r.doc_id for r in eval_set.select("doc_id").collect()}
    out_ids = {r.doc_id for r in result.select("doc_id").collect()}
    assert not (eval_ids & out_ids)
    assert (
        decontaminate(result, eval_set, ngram=5, keep_clean=False).count() == 0
    )


def test_run_gold_pipeline_partitioned_and_exact(spark, sf_dir, tmp_path):
    """run_gold_pipeline commits a partitioned, time-travelable gold
    table whose cents-exact rollup matches a direct recomputation from
    silver, and whose identity spec answers partition_filter reads."""
    from pyspark.sql import functions as F

    from yelp_etl_spark.plans.pipelines import run_gold_pipeline
    from yelp_etl_spark.sources.readers import load_table
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_read,
    )

    t = str(tmp_path / "gold")
    sid = run_gold_pipeline(spark, sf_dir, t)
    assert sid == 1
    assert _load_manifest(t, sid).get("partition_by") == ["segment"]

    gold = snapshot_read(spark, t)
    # direct recomputation from silver
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    want = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.to_date(F.date_trunc("week", "o_orderdate")).alias("week_start"),
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
    )
    assert sorted(map(tuple, gold.collect())) == sorted(
        map(tuple, want.collect())
    )
    # identity-partition pruning answers a single segment correctly
    seg = gold.select("segment").first().segment
    pruned = snapshot_read(spark, t, partition_filter={"segment": seg})
    assert pruned.count() == gold.filter(F.col("segment") == seg).count()


def test_guarded_cdc_apply_is_batch_order_invariant(spark, tmp_path):
    """apply_changelog_guarded must converge to the highest-seq fold
    no matter the batch arrival order — including the resurrection
    trap: a delete followed by a STALER update must stay deleted
    (tombstone + seq guard), which physical deletes cannot guarantee."""
    from pyspark.sql import functions as F

    from yelp_etl_spark.plans.pipelines import (
        apply_changelog_guarded,
        read_cdc_table,
    )
    from yelp_etl_spark.sources.snapshots import snapshot_write

    base_rows = [(k, "base", 100 + k) for k in range(8)]
    # batch A (older): updates k0,k1, late update to k2 (seq 2)
    batch_a = [
        (0, "a0", 500, "U", 2),
        (1, "a1", 501, "U", 2),
        (2, "a2", 502, "U", 2),
    ]
    # batch B (newer): delete k2 (seq 5), update k3 (seq 5), insert k9
    batch_b = [
        (2, "zzz", 0, "D", 5),
        (3, "b3", 503, "U", 5),
        (9, "b9", 509, "I", 5),
    ]
    want = sorted(
        [(0, "a0", 500), (1, "a1", 501), (3, "b3", 503), (9, "b9", 509)]
        + [(k, "base", 100 + k) for k in range(4, 8)]
    )
    schema_c = "k long, v string, x long, op string, seq long"

    def run(order):
        t = str(tmp_path / f"tbl_{order}")
        snapshot_write(
            spark.createDataFrame(base_rows, "k long, v string, x long"), t
        )
        batches = [batch_a, batch_b] if order == "ab" else [batch_b, batch_a]
        for b in batches:
            apply_changelog_guarded(
                spark, spark.createDataFrame(b, schema_c), t, ["k"]
            )
        return sorted(map(tuple, read_cdc_table(spark, t).collect()))

    assert run("ab") == want
    # reversed arrival: batch A is STALE for k2 (2 < 5) — the tombstone
    # must survive; everything else identical
    assert run("ba") == want
    # idempotent replay of the newest batch changes nothing
    t = str(tmp_path / "tbl_ba")
    apply_changelog_guarded(
        spark, spark.createDataFrame(batch_b, schema_c), t, ["k"]
    )
    assert sorted(map(tuple, read_cdc_table(spark, t).collect())) == want


def test_apply_changelog_bootstrap_drops_op_column(spark, tmp_path):
    """ADVICE r7 (medium): a changelog folded into a NOT-yet-created
    table must not bake the CDC op flag into the table schema — the
    op column is merge bookkeeping, never data."""
    from yelp_etl_spark.plans.pipelines import apply_changelog
    from yelp_etl_spark.sources.snapshots import snapshot_read

    t = str(tmp_path / "boot")
    ch = spark.createDataFrame(
        [(1, "a", 1, "I"), (2, "b", 1, "I"), (2, None, 2, "D"), (3, "c", 5, "U")],
        "k int, v string, seq int, op string",
    )
    apply_changelog(spark, ch, t, ["k"])
    out = snapshot_read(spark, t)
    assert out.columns == ["k", "v"]
    # bootstrap deletes target rows that don't exist: no-ops, and the
    # keyed collapse keeps the delete as k2's final state → k2 absent
    assert sorted((r.k, r.v) for r in out.collect()) == [(1, "a"), (3, "c")]
    # second apply exercises the parent-exists branch on the clean schema
    ch2 = spark.createDataFrame(
        [(1, "a2", 2, "U"), (3, None, 6, "D")], "k int, v string, seq int, op string"
    )
    apply_changelog(spark, ch2, t, ["k"])
    out2 = snapshot_read(spark, t)
    assert out2.columns == ["k", "v"]
    assert sorted((r.k, r.v) for r in out2.collect()) == [(1, "a2")]


def test_run_medallion_layers_and_gold_values(spark, sf_dir, tmp_path):
    """End-to-end medallion (extract×5 → clean×5 → enrich×3 → gold):
    layer layout + the gold rollup's exact integer-cents values vs a
    direct recompute from the raw inputs."""
    from yelp_etl_spark.plans.pipelines import run_medallion
    from yelp_etl_spark.sources.readers import load_table
    from yelp_etl_spark.sources.snapshots import snapshot_read

    root = str(tmp_path / "med")
    counts = run_medallion(spark, sf_dir, root)
    assert counts == {"bronze": 5, "silver": 5, "enriched": 3, "gold": 1}
    # silver orders is identity-partitioned by order year
    years = [
        d for d in os.listdir(f"{root}/silver/orders")
        if d.startswith("o_orderdate_year=")
    ]
    assert len(years) >= 2
    gold = snapshot_read(spark, f"{root}/gold/segment_weekly")
    direct = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.to_date(F.date_trunc("week", "o_orderdate")).alias("week_start"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents")
        )
    )
    got = {(r.segment, r.week_start): r.revenue_cents for r in gold.collect()}
    want = {(r.segment, r.week_start): r.revenue_cents for r in direct.collect()}
    assert got == want


def test_apply_changelog_self_heals_pre_fix_polluted_table(spark, tmp_path):
    """A table created by the pre-fix bootstrap (op flag baked into the
    schema) must be healed by the next apply_changelog, not hard-fail
    with UNRESOLVED_COLUMN."""
    from yelp_etl_spark.plans.pipelines import apply_changelog
    from yelp_etl_spark.sources.snapshots import snapshot_read, snapshot_write

    t = str(tmp_path / "polluted")
    # simulate the old bug: 'op' is a real column of the committed table
    snapshot_write(
        spark.createDataFrame(
            [(1, "a", "I"), (3, "c", "U")], "k int, v string, op string"
        ),
        t,
    )
    ch = spark.createDataFrame(
        [(1, "a2", 2, "U"), (3, None, 6, "D"), (4, "d", 6, "I")],
        "k int, v string, seq int, op string",
    )
    apply_changelog(spark, ch, t, ["k"])
    out = snapshot_read(spark, t)
    assert out.columns == ["k", "v"]
    assert sorted((r.k, r.v) for r in out.collect()) == [(1, "a2"), (4, "d")]
