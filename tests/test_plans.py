"""Physical-plan quality tests — the 100 TB scale evidence.

Correctness says the query returns the right rows; these assert the
plan is the one you'd want on a 1000-executor cluster: predicates and
projections reach the parquet scan, small dimensions broadcast instead
of shuffling, aggregations partial-aggregate map-side, and the hot path
stays inside whole-stage codegen.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from yelp_etl_spark.plans.catalog import QUERIES


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_and_projection_pushed_to_scan(spark, sf_dir):
    plan = plan_of(QUERIES["filter_project"].fn(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "o_orderstatus" in plan.split("PushedFilters")[1].split("]")[0]
    # column pruning: the scan must not read the unused o_orderdate
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "o_orderdate" not in read_schema
    assert "o_totalprice" in read_schema


def test_flagship_joins_broadcast_no_fact_shuffle(spark, sf_dir):
    plan = plan_of(QUERIES["flagship_revenue"].fn(spark, sf_dir))
    # both dimension joins chosen as broadcast at this size → the only
    # exchange left is the final group-by
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pricing_summary_partial_aggregation(spark, sf_dir):
    df = QUERIES["pricing_summary"].fn(spark, sf_dir)
    plan = plan_of(df)
    # partial + final hash aggregation (map-side combine before shuffle)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    # the aggregation pipeline compiles into whole-stage codegen
    assert "WholeStageCodegen" in plan_of(df, "codegen")


def test_sort_limit_is_top_k_not_global_sort(spark, sf_dir):
    plan = plan_of(QUERIES["sort_limit_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # per-partition top-k, no full sort


def test_enrich_dims_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["enrich_obt"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # part + supplier hinted


def test_dedup_shuffles_hashes_not_documents(spark, sf_dir):
    """The exact-dedup shuffle must carry the content hash, not text."""
    plan = plan_of(QUERIES["dedup_exact"].fn(spark, sf_dir))
    exchange_section = plan.split("Exchange")[1] if "Exchange" in plan else ""
    assert "content_key" in plan
    # text column pruned before the exchange: ReadSchema has text (input)
    # but the exchange partitions on content_key
    assert "hashpartitioning(content_key" in plan


def test_no_cartesian_in_range_join(spark, sf_dir):
    plan = plan_of(QUERIES["range_join"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cobucketed_join_has_no_shuffle(spark, sf_dir):
    """S6/J2 at parquet level: two tables bucketed on the join key
    sort-merge-join with zero Exchange — the shuffle-free co-located
    join the reference gets from Iceberg bucket(8, id) + SPJ confs."""
    from yelp_etl_spark.sources.readers import load_table
    from yelp_etl_spark.sources.writers import write_bucketed_table

    write_bucketed_table(
        load_table(spark, sf_dir, "orders"), "b_orders", "o_orderkey", 4
    )
    write_bucketed_table(
        load_table(spark, sf_dir, "lineitem")
        .withColumnRenamed("l_orderkey", "o_orderkey")
        .select("o_orderkey", "l_quantity"),
        "b_lineitem",
        "o_orderkey",
        4,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketed scans align, no shuffle
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_tpch_q5_dimension_chain_broadcasts(spark, sf_dir):
    """The 6-table Q5 shape must broadcast the supplier/nation/region
    chain — the fact side is never shuffled for a dimension join."""
    plan = plan_of(QUERIES["tpch_q5_region_revenue"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """Union-merge as-of join: exactly one Exchange (the per-key window
    partitioning) — no join blow-up, no second shuffle for ranking."""
    plan = plan_of(QUERIES["asof_join"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange") == 1
    assert "RowNumber" not in plan  # no rank-1 pass; running last() only


def test_tpch_q3_top_k_and_pushdown(spark, sf_dir):
    plan = plan_of(QUERIES["tpch_q3_shipping"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # top-10 never globally sorts
    # the shipdate predicate reaches the lineitem scan
    pushed = plan.split("lineitem.parquet")[0]
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0] or \
        any("l_shipdate" in seg.split("]")[0]
            for seg in plan.split("PushedFilters")[1:])


def test_tpch_q21_semi_anti_no_cartesian(spark, sf_dir):
    plan = plan_of(QUERIES["tpch_q21_shape"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan


def test_hash_split_is_map_only_before_agg(spark, sf_dir):
    plan = plan_of(QUERIES["hash_split_sample"].fn(spark, sf_dir), "simple")
    # split assignment adds no exchange: exactly one shuffle (the groupBy)
    assert plan.count("Exchange") == 1


def test_snapshot_diff_single_join(spark, sf_dir):
    plan = plan_of(QUERIES["snapshot_diff_cdc"].fn(spark, sf_dir))
    assert plan.count("FullOuter") >= 1
    assert "Cartesian" not in plan


def test_date_spine_broadcasts_daily_agg(spark, sf_dir):
    plan = plan_of(QUERIES["date_spine_fill"].fn(spark, sf_dir))
    # the pre-reduced daily aggregate joins the generated spine without
    # shuffling the spine side into a sort-merge join
    assert "SortMergeJoin" not in plan


def test_tfidf_single_token_shuffle(spark, sf_dir):
    plan = plan_of(QUERIES["tfidf_top_terms"].fn(spark, sf_dir))
    # doc-frequency and corpus totals come back via broadcast, not a
    # second shuffle of the token stream
    assert plan.count("BroadcastExchange") >= 2


def test_tpch_q10_top20_no_global_sort(spark, sf_dir):
    plan = plan_of(QUERIES["tpch_q10_returns"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # the returnflag filter reaches the lineitem scan
    assert "l_returnflag" in plan.split("PushedFilters")[1].split("]")[0]


def test_tpch_q19_or_predicates_stay_residual_on_one_join(spark, sf_dir):
    plan = plan_of(QUERIES["tpch_q19_disjunctive"].fn(spark, sf_dir), "simple")
    # one hash join on the common key; the OR-of-AND arms must not
    # degrade the plan to a nested-loop/cartesian product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_tpch_q7_dims_broadcast_single_fact_shuffle(spark, sf_dir):
    plan = plan_of(QUERIES["tpch_q7_nation_volume"].fn(spark, sf_dir), "simple")
    # supplier/nation/region chains broadcast; at this size even the
    # orders/customer spine broadcasts, leaving the final aggregate as
    # the only shuffle (count hash-partition exchanges, not the
    # BroadcastExchange rows)
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("Exchange hashpartitioning") <= 2


def test_tpch_q17_decorrelates_to_broadcast_threshold(spark, sf_dir):
    plan = plan_of(QUERIES["tpch_q17_small_quantity"].fn(spark, sf_dir), "simple")
    # the per-part avg threshold joins back via broadcast, never SMJ
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_count_min_build_partial_aggregates(spark, sf_dir):
    plan = plan_of(QUERIES["count_min_freq"].fn(spark, sf_dir))
    # sketch cells partial-aggregate map-side: the shuffle carries at
    # most depth×width×partitions rows, never the raw keys
    assert "partial_count" in plan or "partial_sum" in plan


def test_funnel_single_keyed_shuffle(spark, sf_dir):
    """The first-touch funnel materializes each step frame exactly
    once (truncate_lineage): the final plan reads the three
    checkpointed step frames, so NO events scan and NO keyed exchange
    remain — the per-step chains never recompute. The only joins left
    are the broadcast crosses of the three 1-row count frames."""
    df = QUERIES["funnel_conversion"].fn(spark, sf_dir)
    plan = plan_of(df, "simple")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # every step frame is pre-materialized: the count-side plan holds
    # zero parquet scans and zero keyed exchanges
    assert "FileScan parquet" not in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_bloom_prune_probe_filter_is_broadcast(spark, sf_dir):
    """The membership prefilter must reach the probe side as a
    broadcast semi join (a map-side filter) — never a shuffled join."""
    plan = plan_of(QUERIES["bloom_prune_join"].fn(spark, sf_dir), "simple")
    semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert semi and all("Broadcast" in ln for ln in semi)


def test_cohort_distinct_then_two_aggs(spark, sf_dir):
    """Cohort retention: the activity set dedups once, then first-seen
    and retention aggregate on keys — no more than 3 keyed exchanges
    (distinct, per-user min, cohort×offset count-distinct) plus
    whatever the distinct-count expansion needs; no cartesian."""
    plan = plan_of(QUERIES["cohort_retention"].fn(spark, sf_dir), "simple")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") <= 4


def test_embedding_neardup_lsh_is_bucketed_equi_join(spark, sf_dir):
    """The LSH near-dup scale path must generate candidates through an
    equi-join on (band, bucket) — never a cross/nested-loop join (the
    exact all-pairs witness is the only place that shape is allowed)."""
    plan = plan_of(QUERIES["embedding_neardup_lsh"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # bucket join keys reach a hash-based join
    assert "band" in plan and "bucket" in plan


def test_salted_join_spreads_key_no_cartesian(spark, sf_dir):
    """Salted skew join (operators/skew.py): the join must remain a
    hash equi-join on the widened (key, salt) pair — the salt column
    has to reach the join keys so a hot key spreads across n_salts
    tasks — and the dimension replication must never degrade to a
    cartesian/nested-loop shape."""
    plan = plan_of(QUERIES["salted_join_agg"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__salt" in plan


def test_two_stage_agg_is_two_hash_aggregates(spark, sf_dir):
    """Two-stage salted aggregation: both stages plan as hash
    aggregates, and the only keyed exchanges are the (key, salt)
    pre-stage and the key merge — at most 2 — so the rewrite never
    silently adds shuffles beyond the salting it promises."""
    plan = plan_of(QUERIES["two_stage_topk"].fn(spark, sf_dir), "simple")
    assert "HashAggregate" in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Cartesian" not in plan
    # column pruning survives the salting: the salt hashes only the
    # projected columns, so the scan must not read l_shipdate/l_tax
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_shipdate" not in read_schema
    assert "l_tax" not in read_schema


def test_semantic_dedup_pipeline_never_all_pairs(spark, sf_dir):
    """The exact→LSH→components→keep composition must add no join
    shape the audited stages don't have: no cartesian anywhere, and
    the candidate stage stays a (band, bucket) equi-join."""
    plan = plan_of(QUERIES["semantic_dedup_pipeline"].fn(spark, sf_dir), "simple")
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_is_one_lazy_plan_no_eager_stats_job(spark, sf_dir):
    """Round 2's bm25 ran an eager corpus-stats collect (a full extra
    scan before the main plan). Now N/avgdl ride a broadcast 1-row
    stats table inside the ONE lazy plan: building the query must
    trigger zero Spark jobs, and the top-k must stay a per-partition
    heap, posting-prune before the token shuffle."""
    from pyspark.sql import DataFrame

    eager_calls = []
    originals = {
        n: getattr(DataFrame, n) for n in ("collect", "toPandas", "count", "head")
    }

    def record(name):
        def wrapper(self, *a, **kw):
            eager_calls.append(name)
            return originals[name](self, *a, **kw)

        return wrapper

    for n in originals:
        setattr(DataFrame, n, record(n))
    try:
        df = QUERIES["bm25_search"].fn(spark, sf_dir)
    finally:
        for n, f in originals.items():
            setattr(DataFrame, n, f)
    assert eager_calls == [], f"bm25 construction ran eager actions: {eager_calls}"
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    # posting-list prune reaches below the first token exchange
    assert "tok" in plan


# The eight catalog queries perfbench's analytics_curation workload runs.
BENCHMARK_MIX = (
    "flagship_revenue",
    "pricing_summary",
    "tpch_q3_shipping",
    "tpch_q5_region_revenue",
    "tpch_q18_large_orders",
    "window_topk",
    "sessionize_gaps",
    "asof_join",
)


def test_benchmark_mix_builds_without_spark_jobs(spark, sf_dir, spark_jobs):
    """Building a query is planning only: once a session has loaded a
    table (its schema is then known), building any of the benchmark mix
    submits zero Spark jobs — no schema inference, no partition probe,
    no eager action."""
    for name in BENCHMARK_MIX:
        QUERIES[name].fn(spark, sf_dir)
    for name in BENCHMARK_MIX:
        _, jobs = spark_jobs(lambda: QUERIES[name].fn(spark, sf_dir))
        assert jobs == 0, name


def test_jaccard_prefix_join_plan(spark, sf_dir):
    """Prefix-filter similarity join: candidate generation must be an
    equi-join on the shingle hash (never cartesian / nested-loop), the
    doc-frequency side must broadcast, and the window that ranks
    tokens rarest-first must partition by doc id (no global sort)."""
    plan = plan_of(QUERIES["jaccard_prefix_join"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan  # doc-freq agg broadcast
    assert "Window" in plan


def test_incremental_agg_maintenance_plan(spark, sf_dir):
    """IVM merge: the base aggregate and delta aggregate both partial-
    aggregate map-side, and nothing in the plan rescans orders more
    than the two snapshot reads + delta classification require."""
    plan = plan_of(QUERIES["incremental_agg_maintenance"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_r5_metric_family_plan_shapes(spark, sf_dir):
    """The round-5 ML/metric queries keep their scale-safe shapes: no
    cartesian products anywhere; hashed_features' only data shuffle is
    the per-feature reduction (the per-(doc,feature) agg rides the
    fan_out partitioning); auc_score reduces to ONE keyed exchange
    before its distinct-score window; the scans prune to the columns
    each query touches."""
    for name in (
        "hashed_features",
        "pmi_collocations",
        "naive_bayes_confusion",
        "chi2_terms",
        "auc_score",
        "psi_drift",
        "kaplan_meier",
        "bigram_nll",
        "acf_daily_events",
        "benford_audit",
        "sssp_weighted",
    ):
        plan = plan_of(QUERIES[name].fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in plan, name

    hf = plan_of(QUERIES["hashed_features"].fn(spark, sf_dir), "simple")
    assert hf.count("Exchange hashpartitioning") == 2  # fan_out + feature agg
    assert "struct<doc_id:bigint,text:string>" in hf  # column pruning

    auc = plan_of(QUERIES["auc_score"].fn(spark, sf_dir), "simple")
    assert auc.count("Exchange hashpartitioning") == 1  # score groupBy only
    assert auc.count("Exchange SinglePartition") == 1  # distinct-score window

    bf = plan_of(QUERIES["benford_audit"].fn(spark, sf_dir), "simple")
    # digit extraction is map-side: partial agg before the 9-cell exchange
    assert "partial_count" in bf


def test_r6_integrity_plan_shapes(spark, sf_dir):
    """Round-6 integrity operators keep their bounded-shuffle shapes:
    table_checksum is ONE map-side-combined keyed exchange (16 cells
    per map task); bloom_bitarray_prune never shuffles the probe side
    (the prune is k broadcast joins fused around the scan);
    hll_portable shuffles only register cells."""
    plan = plan_of(QUERIES["table_checksum"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan

    plan = plan_of(QUERIES["bloom_bitarray_prune"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # everything broadcasts
    assert "BroadcastHashJoin" in plan
    # the probe (lineitem) is never hash-repartitioned — its only
    # exchanges are the 1-row count scalars
    assert plan.count("Exchange hashpartitioning") <= 1  # bloom word agg

    plan = plan_of(QUERIES["hll_portable"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # nation dim broadcasts


def test_dpp_join_injects_dynamic_pruning(spark, sf_dir):
    """The year-partitioned fact scan must carry a dynamicpruning
    subquery fed by the filtered dim — the runtime filter that lets a
    100 TB star join skip unselected partitions entirely."""
    df = QUERIES["dpp_prune_join"].fn(spark, sf_dir)
    plan = plan_of(df, "formatted").lower()
    assert "dynamicpruning" in plan
    # and the fact side reads the partition column from the layout
    assert "partitionfilters" in plan


def test_orc_scan_pushes_filters(spark, sf_dir):
    """ORC must give the same pushdown/pruning guarantees as parquet —
    the scan carries PushedFilters and prunes unread columns."""
    df = QUERIES["orc_scan_roundtrip"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "Scan orc" in plan
    assert "PushedFilters: [" in plan
    assert "o_orderstatus" in plan.split("PushedFilters")[1].split("]")[0]
