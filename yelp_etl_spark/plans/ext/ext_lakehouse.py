"""Extension catalog — lakehouse queries."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yelp_etl_spark.sources.readers import load_table

from yelp_etl_spark.plans.ext._shared import (  # noqa: F401
    EXTRA_QUERIES,
    _t,
)



def q_checksum_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained table checksum over the snapshot
    layer (functions/integrity.py table_checksum_incremental): orders
    v1 is committed and checksummed; v2 applies a mixed delta
    (status rewrite on keys %10==3, deletes on %10==7, inserts with
    negated keys for %10==1) as a second snapshot; the new checksums
    are then maintained purely from the base checksums + the touched
    rows — never a full v2 re-read. The oracle recomputes the final
    state's checksums directly, so equality proves the incremental
    path bit-exact (commutative fingerprint sums make C₂ = C₁ + Σfp₊
    − Σfp₋ an identity, not an approximation). At 100 TB this is
    continuous integrity verification priced at O(changelog), the
    consumer half of snapshot_changes' CDC."""
    from yelp_etl_spark.functions.integrity import (
        table_checksum,
        table_checksum_incremental,
    )
    from yelp_etl_spark.plans.catalog import _scratch_dir
    from yelp_etl_spark.sources.snapshots import snapshot_read, snapshot_write

    canon = ["o_orderkey", "o_custkey", "o_orderstatus"]
    v1 = _t(spark, sf_dir, "orders").select(*canon)
    table = _scratch_dir(sf_dir, "ckincr")
    snapshot_write(v1, table)
    k = F.col("o_orderkey")
    v2 = (
        v1.filter(k % 10 != 7)
        .withColumn(
            "o_orderstatus",
            F.when(k % 10 == 3, F.lit("X")).otherwise(F.col("o_orderstatus")),
        )
        .unionByName(
            v1.filter(k % 10 == 1).select(
                (-k).alias("o_orderkey"), "o_custkey",
                F.lit("N").alias("o_orderstatus"),
            )
        )
    )
    snapshot_write(v2, table)
    base = table_checksum(
        snapshot_read(spark, table, snapshot_id=1), canon, "o_orderkey"
    )
    old_rows = snapshot_read(spark, table, snapshot_id=1).filter(
        (k % 10).isin(3, 7)
    )
    new_rows = snapshot_read(spark, table, snapshot_id=2).filter(
        (k % 10 == 3) | (k < 0)
    )
    return table_checksum_incremental(
        base, old_rows, new_rows, canon, "o_orderkey"
    ).select(F.col("bucket").cast("long").alias("bucket"), "checksum", "n_rows")


ORACLE_CHECKSUM_INCREMENTAL = """
WITH final AS MATERIALIZED (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 10 = 3 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus
  FROM orders WHERE o_orderkey % 10 <> 7
  UNION ALL
  SELECT -o_orderkey, o_custkey, 'N' FROM orders WHERE o_orderkey % 10 = 1
),
fp AS MATERIALIZED (
  SELECT CAST(concat('0x', substr(md5(concat_ws(chr(31),
           coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
           coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
           coalesce(o_orderstatus, chr(0))
         )), 18, 15)) AS BIGINT) AS fp,
         CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 18, 15))
              AS BIGINT) % 16 AS bucket
  FROM final
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(CAST(fp AS DECIMAL(38,0))) % 2305843009213693952 AS BIGINT)
         AS checksum,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM fp GROUP BY 1
"""


EXTRA_QUERIES.update(
    {
        "checksum_incremental": (
            q_checksum_incremental,
            ORACLE_CHECKSUM_INCREMENTAL,
            "ext:CDC-maintained table checksum (O(delta) integrity)",
        ),
    }
)


# --------------------------------------------------------------------------
# Column profiler (operators/validate.py profile_columns)
# --------------------------------------------------------------------------


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan profile of four orders columns spanning the cardinality
    spectrum (status: 3 values; priority: 5; custkey: key-like;
    orderkey: unique) — counts, distincts, and micro-nat entropy via
    a single stack-unpivot + keyed agg (validate.profile_columns)."""
    from yelp_etl_spark.operators.validate import profile_columns

    orders = _t(spark, sf_dir, "orders")
    return profile_columns(
        orders, ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey"]
    )


def _profile_block(col: str) -> str:
    # decomposed micro-nat entropy (mirrors validate.profile_columns):
    # q(ln n) − round(Σ cnt·q(ln cnt) / n) — per-cell terms are exact
    # BIGINT, one final division
    return f"""SELECT '{col}' AS col_name,
       CAST(SUM(cnt) AS BIGINT) AS n_nonnull,
       CAST((SELECT COUNT(*) FROM orders WHERE {col} IS NULL) AS BIGINT)
         AS n_null,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(ROUND(LN(CAST(SUM(cnt) AS DOUBLE)) * 1000000) AS BIGINT)
         - CAST(ROUND(CAST(SUM(cnt * CAST(ROUND(LN(CAST(cnt AS DOUBLE))
                                               * 1000000) AS BIGINT))
                           AS BIGINT)
                      / CAST(SUM(cnt) AS BIGINT)) AS BIGINT)
         AS entropy_micronats
FROM (SELECT CAST({col} AS VARCHAR) AS v, COUNT(*) AS cnt
      FROM orders WHERE {col} IS NOT NULL GROUP BY 1)"""


ORACLE_PROFILE_COLUMNS = (
    "\nUNION ALL\n".join(
        _profile_block(c)
        for c in ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey"]
    )
    + "\nORDER BY col_name"
)


EXTRA_QUERIES.update(
    {
        "profile_columns": (
            q_profile_columns,
            ORACLE_PROFILE_COLUMNS,
            "ext:one-scan column profiler (cardinality + micro-nat entropy)",
        ),
    }
)


# --------------------------------------------------------------------------
# ORC format roundtrip (sources/readers.read_files format surface)
# --------------------------------------------------------------------------


def q_orc_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format coverage beyond parquet: orders → ORC files →
    read back through sources/readers.read_files with predicate
    pushdown intact — ORC is the other pushdown-capable columnar
    format Spark ships natively (Hive-lineage warehouses are full of
    it). The aggregate proves values survive the roundtrip bit-exactly
    and the filtered scan equals the oracle's direct filter over the
    source table."""
    from yelp_etl_spark.plans.catalog import _scratch_dir
    from yelp_etl_spark.sources.readers import read_files

    orders = _t(spark, sf_dir, "orders")
    target = _scratch_dir(sf_dir, "orc")
    orders.write.format("orc").save(target)
    back = read_files(spark, target, format="orc")
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
            F.countDistinct("o_custkey").cast("long").alias("n_cust"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_ORC_ROUNDTRIP = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
FROM orders WHERE o_orderstatus = 'F'
GROUP BY 1 ORDER BY 1
"""


EXTRA_QUERIES.update(
    {
        "orc_scan_roundtrip": (
            q_orc_scan_roundtrip,
            ORACLE_ORC_ROUNDTRIP,
            "ext:ORC columnar roundtrip (pushdown-capable second format)",
        ),
    }
)


# --------------------------------------------------------------------------
# Gold-layer pipeline (the reference's declared-but-TODO silver → gold jobs)
# --------------------------------------------------------------------------


def q_gold_pipeline_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end gold-layer recipe (plans/pipelines.run_gold_pipeline —
    the "TODO: Silver -> Gold pipeline jobs" the reference declares at
    run-all-pipelines.sh:239 and never ships): enrich (fact × prefixed
    dim) → per-(segment, ISO-week) rollup in exact integer cents →
    snapshot_write with an identity partition spec, then the committed
    gold table is read BACK through the snapshot layer and summarized
    per segment. The oracle recomputes the same rollup straight from
    the silver parquet, so the check covers the enrich join, the week
    truncation, the cents quantization, the partitioned snapshot
    commit, and the read path in one pass. date_trunc('week') is
    Monday-anchored in both engines."""
    from yelp_etl_spark.plans.catalog import _scratch_dir
    from yelp_etl_spark.plans.pipelines import run_gold_pipeline
    from yelp_etl_spark.sources.snapshots import snapshot_read

    table = _scratch_dir(sf_dir, "gold")
    run_gold_pipeline(spark, sf_dir, table)
    gold = snapshot_read(spark, table)
    return (
        gold.groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_weeks"),
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
            F.max("n_customers").cast("long").alias("max_weekly_customers"),
        )
        .orderBy("segment")
    )


ORACLE_GOLD_PIPELINE_ROLLUP = """
WITH gold AS MATERIALIZED (
  SELECT c_mktsegment AS segment,
         CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_weeks,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders,
       CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents,
       CAST(MAX(n_customers) AS BIGINT) AS max_weekly_customers
FROM gold GROUP BY segment ORDER BY segment
"""


EXTRA_QUERIES.update(
    {
        "gold_pipeline_rollup": (
            q_gold_pipeline_rollup,
            ORACLE_GOLD_PIPELINE_ROLLUP,
            "ext:gold-layer pipeline (enrich → week rollup → partitioned snapshot)",
        ),
    }
)


# --------------------------------------------------------------------------
# Partition-spec evolution (snapshot layer)
# --------------------------------------------------------------------------


def q_snapshot_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution (sources/snapshots.snapshot_evolve_spec
    — Iceberg's ALTER TABLE … REPLACE PARTITION FIELD): orders commit
    partitioned by status, the spec evolves to priority as a pure
    metadata commit (no data rewrite), and a post-evolution append
    lays its files out under the NEW spec. The read back proves the
    mixed-spec contract: a partition_filter on the NEW column prunes
    only files that record it and conservatively scans pre-evolution
    files, so combined with the row-level filter the answer equals the
    raw recomputation exactly; same for a filter on the OLD column.
    The ops column pins the commit log shape."""
    from yelp_etl_spark.plans.catalog import _scratch_dir
    from yelp_etl_spark.sources.snapshots import (
        snapshot_evolve_spec,
        snapshot_read,
        snapshot_write,
        snapshots,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    table = _scratch_dir(sf_dir, "specevo")
    snapshot_write(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        table,
        mode="replace",
        partition_by=["o_orderstatus"],
    )
    snapshot_evolve_spec(table, ["o_orderpriority"])
    snapshot_write(
        orders.filter(F.col("o_orderkey") % 2 == 1), table, mode="append"
    )
    ops = ",".join(s["operation"] for s in snapshots(table))
    cur = snapshot_read(spark, table)
    n_urgent = (
        snapshot_read(
            spark, table, partition_filter={"o_orderpriority": "1-URGENT"}
        )
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .agg(F.count("*").cast("long").alias("n"))
    )
    n_f = (
        snapshot_read(spark, table, partition_filter={"o_orderstatus": "F"})
        .filter(F.col("o_orderstatus") == "F")
        .agg(F.count("*").cast("long").alias("n"))
    )
    total = cur.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("total_cents"),
    )
    return total.crossJoin(n_urgent.withColumnRenamed("n", "n_urgent")).crossJoin(
        n_f.withColumnRenamed("n", "n_f")
    ).select(
        "n_rows", "total_cents", "n_urgent", "n_f", F.lit(ops).alias("ops")
    )


ORACLE_SNAPSHOT_SPEC_EVOLUTION = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_urgent,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_f,
       'replace,evolve-spec,append' AS ops
FROM orders
"""


EXTRA_QUERIES.update(
    {
        "snapshot_spec_evolution": (
            q_snapshot_spec_evolution,
            ORACLE_SNAPSHOT_SPEC_EVOLUTION,
            "ext:partition-spec evolution (metadata-only re-spec, mixed-spec reads)",
        ),
    }
)


# --------------------------------------------------------------------------
# binaryFile source (raw-asset ingestion for multimodal corpora)
# --------------------------------------------------------------------------


def q_binaryfile_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-asset ingestion through Spark's native ``binaryFile`` source
    — the entry point a multimodal corpus uses for image/audio payload
    files (S-surface sibling of the csv/orc/jsonl roundtrips). A
    bounded sample of document texts is materialized as individual
    .bin files (driver-side, ≤24 files by construction — the ivf
    codebook-sample discipline), read back as (path, length, content)
    rows via binaryFile with a glob filter, and summarized by
    content-derived values only (byte totals, distinct md5 digests) so
    the check is path-independent. The oracle recomputes the same
    digests straight from the documents table. At scale the source
    lists and reads files in parallel like any other FileScan; the
    driver loop here is only fixture synthesis."""
    import os

    from yelp_etl_spark.plans.catalog import _scratch_dir

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 21 == 0)
        .select("doc_id", "text")
        .collect()
    )
    target = _scratch_dir(sf_dir, "binfiles")
    os.makedirs(target, exist_ok=True)
    for r in docs:
        with open(os.path.join(target, f"doc-{r.doc_id}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    scanned = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(target)
    )
    return scanned.select(
        F.col("length").cast("long").alias("length"),
        F.md5(F.col("content")).alias("digest"),
    ).agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("length").cast("long").alias("total_bytes"),
        F.countDistinct("digest").cast("long").alias("n_distinct_digests"),
        F.min("digest").alias("min_digest"),
        F.max("digest").alias("max_digest"),
    )


ORACLE_BINARYFILE_SCAN_ROUNDTRIP = """
WITH f AS MATERIALIZED (
  SELECT octet_length(encode(text)) AS length, md5(text) AS digest
  FROM documents WHERE doc_id % 21 = 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(length) AS BIGINT) AS total_bytes,
       CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_distinct_digests,
       MIN(digest) AS min_digest,
       MAX(digest) AS max_digest
FROM f
"""


EXTRA_QUERIES.update(
    {
        "binaryfile_scan_roundtrip": (
            q_binaryfile_scan_roundtrip,
            ORACLE_BINARYFILE_SCAN_ROUNDTRIP,
            "ext:binaryFile source roundtrip (multimodal raw-asset ingestion)",
        ),
    }
)


# --------------------------------------------------------------------------
# Golden-record survivorship (the consolidation step after record linkage)
# --------------------------------------------------------------------------


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record consolidation — the survivorship step an MDM
    pipeline runs AFTER record_linkage_fs clusters its matches: within
    each matched-entity cluster (the same brand|size hash block the
    linkage query uses), merge attributes by rule: surviving id = MIN
    key, canonical price = MAX retail cents ("most complete/recent
    wins"), canonical name = alphabetical MIN, canonical type = MODE
    with alphabetical-least tie-break (computed as a count + rank
    window over the per-cluster value census, never a collect). Top 30
    clusters by size, deterministic order. Scale: two keyed aggs and
    one cluster-keyed ranking window — the mode census is bounded by
    distinct (cluster, type) pairs."""
    part = _t(spark, sf_dir, "part")
    recs = part.select(
        F.concat(F.col("p_brand"), F.lit("|"), (F.col("p_size") % 10)).alias(
            "cluster"
        ),
        "p_partkey",
        "p_name",
        "p_type",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    base = recs.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("p_partkey").cast("long").alias("surviving_id"),
        F.max("cents").cast("long").alias("canonical_cents"),
        F.min("p_name").alias("canonical_name"),
    )
    census = recs.groupBy("cluster", "p_type").agg(
        F.count("*").alias("cnt")
    )
    wm = Window.partitionBy("cluster").orderBy(
        F.desc("cnt"), F.asc("p_type")
    )
    mode = (
        census.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("p_type").alias("canonical_type"))
    )
    return (
        base.join(mode, "cluster")
        .orderBy(F.desc("n_members"), "cluster")
        .limit(30)
    )


ORACLE_GOLDEN_RECORD = """
WITH recs AS MATERIALIZED (
  SELECT p_brand || '|' || CAST(p_size % 10 AS VARCHAR) AS cluster,
         p_partkey, p_name, p_type,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents
  FROM part
),
base AS (
  SELECT cluster,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(MIN(p_partkey) AS BIGINT) AS surviving_id,
         CAST(MAX(cents) AS BIGINT) AS canonical_cents,
         MIN(p_name) AS canonical_name
  FROM recs GROUP BY 1
),
census AS (
  SELECT cluster, p_type, COUNT(*) AS cnt FROM recs GROUP BY 1, 2
),
mode_ AS (
  SELECT cluster, p_type AS canonical_type
  FROM (SELECT cluster, p_type,
               ROW_NUMBER() OVER (PARTITION BY cluster
                                  ORDER BY cnt DESC, p_type ASC) AS rn
        FROM census)
  WHERE rn = 1
)
SELECT b.cluster, b.n_members, b.surviving_id, b.canonical_cents,
       b.canonical_name, m.canonical_type
FROM base b JOIN mode_ m USING (cluster)
ORDER BY n_members DESC, cluster
LIMIT 30
"""


EXTRA_QUERIES.update(
    {
        "golden_record": (
            q_golden_record,
            ORACLE_GOLDEN_RECORD,
            "ext:golden-record survivorship (rule-based attribute merge per cluster)",
        ),
    }
)


# --------------------------------------------------------------------------
# Clustered (sort-order) compaction + zone-map pruning payoff
# --------------------------------------------------------------------------

_CLUSTER_FILES = 8


def q_snapshot_cluster_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-order compaction (sources/snapshots.snapshot_compact with
    ``cluster_by`` — Iceberg's rewrite_data_files with a sort
    strategy): orders commit scattered across 16 hash-arbitrary files,
    then a clustered rewrite value-range-buckets them on the cents
    column into 8 files, each covering one exact-bounds range (the
    bucket→partition routing is probed from Spark's own hash
    partitioner, so the layout is fully deterministic — no sampled
    range partitioner). The payoff is measured, not asserted: a
    min/max ``prune`` read for the top value range must now skip
    every file whose bucket max falls below the cut. Every output —
    file count, kept-file count, pruned totals — derives from the
    data alone, so DuckDB recomputes all of it from the same
    bucketing formula."""
    import os as _os

    from yelp_etl_spark.plans.catalog import _scratch_dir
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_compact,
        snapshot_read,
        snapshot_write,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _scratch_dir(sf_dir, "clustered")
    snapshot_write(orders.repartition(16), table, mode="replace")
    # target sized so n_out == _CLUSTER_FILES exactly at any SF
    m1 = _load_manifest(table, 1)
    total = sum(
        _os.path.getsize(_os.path.join(table, f["path"])) for f in m1["files"]
    )
    s2 = snapshot_compact(
        spark, table, target_file_bytes=total // _CLUSTER_FILES + 1,
        cluster_by="cents",
    )
    m2 = _load_manifest(table, s2)
    # the cut: exact top-eighth boundary, pure BIGINT arithmetic (a
    # float cut would truncate here and round in DuckDB's CAST)
    row = orders.agg(F.min("cents"), F.max("cents")).collect()[0]
    lo_i, hi_i = int(row[0]), int(row[1])
    cut = lo_i + (hi_i - lo_i) * (_CLUSTER_FILES - 1) // _CLUSTER_FILES
    kept = [
        f for f in m2["files"]
        if f.get("max", {}).get("cents") is not None
        and f["max"]["cents"] >= cut
    ]
    pruned = snapshot_read(spark, table, prune=("cents", ">=", float(cut)))
    top = pruned.filter(F.col("cents") >= cut).agg(
        F.count("*").cast("long").alias("n_top_rows"),
        F.sum("cents").cast("long").alias("top_cents"),
    )
    return top.select(
        F.lit(len(m2["files"])).cast("long").alias("n_files_after"),
        F.lit(len(kept)).cast("long").alias("n_files_kept_by_prune"),
        "n_top_rows",
        "top_cents",
    )


ORACLE_SNAPSHOT_CLUSTER_COMPACT = f"""
WITH src AS MATERIALIZED (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
bounds AS (
  SELECT CAST(MIN(cents) AS DOUBLE) AS lo, CAST(MAX(cents) AS DOUBLE) AS hi
  FROM src
),
bucketed AS (
  SELECT cents,
         LEAST({_CLUSTER_FILES - 1},
               CAST(FLOOR((CAST(cents AS DOUBLE) - lo) / (hi - lo)
                          * {_CLUSTER_FILES}) AS INT)) AS b
  FROM src, bounds
),
cut AS (
  SELECT MIN(cents) + (MAX(cents) - MIN(cents)) * {_CLUSTER_FILES - 1}
         // {_CLUSTER_FILES} AS c
  FROM src
)
SELECT (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) FROM bucketed)
         AS n_files_after,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
          (SELECT b, MAX(cents) AS mx FROM bucketed GROUP BY b)
        WHERE mx >= (SELECT c FROM cut)) AS n_files_kept_by_prune,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bucketed
        WHERE cents >= (SELECT c FROM cut)) AS n_top_rows,
       (SELECT CAST(SUM(cents) AS BIGINT) FROM bucketed
        WHERE cents >= (SELECT c FROM cut)) AS top_cents
"""


EXTRA_QUERIES.update(
    {
        "snapshot_cluster_compact": (
            q_snapshot_cluster_compact,
            ORACLE_SNAPSHOT_CLUSTER_COMPACT,
            "ext:sort-order compaction (deterministic range clustering + prune payoff)",
        ),
    }
)


def q_text_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1's line-text sibling (the last Spark-native file source the
    matrix lacked after json/csv/orc/binaryFile/xml): documents →
    one-record-per-line text files (id TAB payload; payload tabs and
    line breaks space-sanitized length-preservingly first — text is a
    schema-free format, the line IS the record) → read back through
    sources/readers.read_files(format='text') → parse with one split
    at the first tab → aggregate id checksum + payload length to prove
    every record survived byte-exactly. Plan note: a text scan has no
    column pruning (one value column by construction) but still splits
    and parallelizes by file/offset at 100 TB; the parse stays in
    whole-stage codegen (substring_index — no UDF)."""
    from yelp_etl_spark.plans.catalog import _scratch_dir
    from yelp_etl_spark.sources.readers import read_files

    docs = _t(spark, sf_dir, "documents")
    target = _scratch_dir(sf_dir, "textsrc")
    docs.select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            # COALESCE: a NULL text would make concat_ws drop the tab
            # separator entirely and silently desync from the oracle
            F.regexp_replace(F.coalesce(F.col("text"), F.lit("")),
                             "[\\t\\n\\r]", " "),
        ).alias("value")
    ).write.text(target)
    back = read_files(spark, target, format="text")
    parsed = back.select(
        F.substring_index("value", "\t", 1).cast("long").alias("doc_id"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("payload"),
    )
    return parsed.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum(F.length("payload")).cast("long").alias("payload_chars"),
        F.min(F.length("payload")).cast("long").alias("min_chars"),
        F.max(F.length("payload")).cast("long").alias("max_chars"),
    )


ORACLE_TEXT_SCAN_ROUNDTRIP = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(SUM(length(regexp_replace(text, '[\\t\\n\\r]', ' ', 'g')))
            AS BIGINT) AS payload_chars,
       CAST(MIN(length(regexp_replace(text, '[\\t\\n\\r]', ' ', 'g')))
            AS BIGINT) AS min_chars,
       CAST(MAX(length(regexp_replace(text, '[\\t\\n\\r]', ' ', 'g')))
            AS BIGINT) AS max_chars
FROM documents
"""


def q_grouped_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware k-fold split assignment — the ML-pipeline splitter
    that prevents ENTITY leakage across folds (sklearn GroupKFold's
    contract): the fold is a pure function of the group key (customer),
    fold = hash60(key) mod 5, so every order of a customer lands in
    the SAME fold on any engine, any partitioning, any day. The audit
    output proves the two properties that matter: (1) zero leakage —
    each customer contributes to exactly one fold (a per-fold distinct
    count whose total equals the global distinct count); (2) balance —
    per-fold order counts and positive-class (urgent-priority) rates
    stay near-uniform. One keyed agg; the assignment itself is
    map-side arithmetic. At 100 TB this is a projection column, not a
    shuffle."""
    from yelp_etl_spark.functions.sampling import hash60

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_orderpriority") < "3").cast("long").alias("y"),
        F.pmod(
            hash60(F.concat(F.lit("fold-"), F.col("o_custkey").cast("string"))),
            F.lit(5),
        ).cast("long").alias("fold"),
    )
    per_fold = orders.groupBy("fold").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.countDistinct("o_custkey").cast("long").alias("n_groups"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    totals = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("total_groups")
    )
    return (
        per_fold.crossJoin(totals)
        .select(
            "fold",
            "n_orders",
            "n_groups",
            "n_pos",
            # leakage-free ⟺ Σ per-fold distinct groups == global distinct
            # (a group straddling folds would be counted twice on the left)
            (
                F.sum("n_groups").over(
                    Window.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
                == F.col("total_groups")
            ).alias("leak_free"),
        )
        .orderBy("fold")
    )


ORACLE_GROUPED_KFOLD = """
WITH orders_f AS MATERIALIZED (
  SELECT o_custkey,
         CASE WHEN o_orderpriority < '3' THEN 1 ELSE 0 END AS y,
         CAST(concat('0x', substr(md5(concat('fold-', CAST(o_custkey AS VARCHAR))), 18, 15)) AS BIGINT) % 5 AS fold
  FROM orders
),
per_fold AS (
  SELECT fold,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_groups,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM orders_f GROUP BY fold
),
tot AS (
  SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS total_groups
  FROM orders_f
)
SELECT fold, n_orders, n_groups, n_pos,
       SUM(n_groups) OVER () = (SELECT total_groups FROM tot) AS leak_free
FROM per_fold ORDER BY fold
"""


def q_hll_mergeable_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hard-checkable twin of hll_mergeable (VERDICT r7 #6):
    the same build→union→estimate Datasketches HLL pipeline, but the
    query RETURNS the exact per-region distinct count plus BOOLEAN
    error-envelope verdicts instead of the engine-specific estimate —
    |est − exact| must sit inside ±3·RSE·exact with RSE = 1.04/√2^12
    (the lgConfigK=12 default's relative standard error; 3σ ≈ 4.9%,
    generous enough to be seed-stable, tight enough that a broken
    sketch pipeline trips it). The oracle recomputes the exact counts
    and pins the booleans TRUE, so the sketch path gets a hard value
    check while the estimate itself stays engine-side. Mergeability is
    checked against the combined error envelope: the unioned estimate
    and a directly-built per-region estimate must agree within
    2·(3·RSE)·exact — NOT bit-equality. Below ~lgConfigK² distincts
    both paths sit in the sparse/coupon regime and are exact (so they
    happen to coincide at sf0.01), but past the estimator transition
    (~3k distincts per region at sf0.1) build→union and
    build-at-coarser-grain legitimately diverge by O(RSE) — measured
    0.3–1.0% at sf0.1 — while each stays inside its own ±3σ envelope;
    an exact-equality check is scale-fragile by construction (caught
    by the r15 full-catalog sf0.1 certification)."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = customer.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    per_nation = joined.groupBy("n_regionkey", "n_name").agg(
        F.hll_sketch_agg("c_custkey").alias("sketch")
    )
    merged = per_nation.groupBy("n_regionkey").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est")
    )
    direct = joined.groupBy("n_regionkey").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("c_custkey")).alias("est_direct"),
        F.countDistinct("c_custkey").cast("long").alias("exact_customers"),
    )
    eps = 3 * 1.04 / (2.0 ** 6)  # 3·RSE at lgConfigK=12 (√2^12 = 2^6)
    return (
        merged.join(direct, "n_regionkey")
        .select(
            F.col("n_regionkey").cast("long").alias("region"),
            "exact_customers",
            (
                F.abs(F.col("est") - F.col("exact_customers"))
                <= F.lit(eps) * F.col("exact_customers")
            ).alias("within_bounds"),
            (
                F.abs(F.col("est") - F.col("est_direct"))
                <= F.lit(2 * eps) * F.col("exact_customers")
            ).alias("merge_consistent"),
        )
        .orderBy("region")
    )


ORACLE_HLL_MERGEABLE_CHECKED = """
SELECT CAST(n_regionkey AS BIGINT) AS region,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_customers,
       CAST(1 AS BOOLEAN) AS within_bounds,
       CAST(1 AS BOOLEAN) AS merge_consistent
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_regionkey ORDER BY region
"""


def q_medallion_gold_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 13-job medallion workload (plans/pipelines.run_medallion
    — extract×5 → clean×5 → enrich×3 → gold, the reference
    run-all-pipelines.sh shape at TPC-H scale) under the value oracle:
    the committed gold snapshot table is read back and reduced to
    per-segment totals the DuckDB twin recomputes STRAIGHT from the
    raw inputs, so one green row covers bronze/silver write-read
    integrity, the enrich join, the week rollup, the cents
    quantization, and the partitioned snapshot commit end to end."""
    from yelp_etl_spark.plans.catalog import _scratch_dir
    from yelp_etl_spark.plans.pipelines import run_medallion
    from yelp_etl_spark.sources.snapshots import snapshot_read

    root = _scratch_dir(sf_dir, "medallion")
    run_medallion(spark, sf_dir, root)
    gold = snapshot_read(spark, f"{root}/gold/segment_weekly")
    return (
        gold.groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_weeks"),
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
            F.sum("n_customers").cast("long").alias("customer_weeks"),
        )
        .orderBy("segment")
    )


ORACLE_MEDALLION_GOLD_PARITY = """
WITH gold AS MATERIALIZED (
  SELECT c_mktsegment AS segment,
         CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_weeks,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders,
       CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(n_customers) AS BIGINT) AS customer_weeks
FROM gold GROUP BY segment ORDER BY segment
"""


EXTRA_QUERIES.update(
    {
        "text_scan_roundtrip": (
            q_text_scan_roundtrip,
            ORACLE_TEXT_SCAN_ROUNDTRIP,
            "ext:line-text source roundtrip (S1 family completion)",
        ),
        "grouped_kfold_assign": (
            q_grouped_kfold_assign,
            ORACLE_GROUPED_KFOLD,
            "ext:leakage-free group k-fold split with balance audit",
        ),
        "hll_mergeable_checked": (
            q_hll_mergeable_checked,
            ORACLE_HLL_MERGEABLE_CHECKED,
            "ext:Datasketches HLL error-envelope hard check",
        ),
        "medallion_gold_parity": (
            q_medallion_gold_parity,
            ORACLE_MEDALLION_GOLD_PARITY,
            "ext:13-job medallion pipeline end-to-end value parity",
        ),
    }
)


def q_snapshot_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch merge-back for the WAP surface (snapshots.
    snapshot_merge_3way — Nessie/Iceberg-branch merge semantics):
    main (ours) and a STAGED branch (theirs) diverge from a common
    base with overlapping edits — updates, deletes, inserts, one
    identical both-side change, and true conflicts — then the branch
    merges back with on_conflict='theirs'. The merge consumes the
    staged snapshot (the reconciling publish) and commits atomically.
    The oracle replays the same three versions and the same
    change-classification algebra (changed-vs-base per side, identical
    changes are not conflicts, branch wins true conflicts) in pure
    SQL full-outer joins, then both sides aggregate the merged table.
    Execution: two keyed full-outer joins + one CASE projection — the
    three-scan keyed shuffle family, linear at 100 TB."""
    from yelp_etl_spark.plans.catalog import _scratch_dir
    from yelp_etl_spark.sources.snapshots import (
        snapshot_merge_3way,
        snapshot_read,
        snapshot_write,
    )

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    base = orders.filter(F.col("k") % 2 == 0)
    ours = (
        base.filter(F.col("k") % 10 != 0)  # main deletes k%10
        .withColumn(
            "st", F.when(F.col("k") % 6 == 0, F.lit("O")).otherwise(F.col("st"))
        )
        .withColumn(
            "c",
            F.when(F.col("k") % 6 == 0, F.col("c") + 100).otherwise(F.col("c")),
        )
        .unionByName(  # main inserts odd k%9
            orders.filter((F.col("k") % 2 == 1) & (F.col("k") % 9 == 0))
        )
        # identical both-side change: k%26==0 -> st='S' on BOTH sides
        .withColumn(
            "st", F.when(F.col("k") % 26 == 0, F.lit("S")).otherwise(F.col("st"))
        )
    )
    theirs = (
        base.filter(F.col("k") % 22 != 0)  # branch deletes k%22
        .withColumn(
            "st",
            F.when(F.col("k") % 14 == 0, F.lit("T")).otherwise(F.col("st")),
        )
        .withColumn(
            "c",
            F.when(F.col("k") % 14 == 0, F.col("c") + 500).otherwise(F.col("c")),
        )
        .unionByName(  # branch inserts odd k%15
            orders.filter((F.col("k") % 2 == 1) & (F.col("k") % 15 == 0))
        )
        .withColumn(
            "st", F.when(F.col("k") % 26 == 0, F.lit("S")).otherwise(F.col("st"))
        )
    )
    table = _scratch_dir(sf_dir, "branchmerge")
    base_id = snapshot_write(base, table)
    ours_id = snapshot_write(ours, table)
    theirs_id = snapshot_write(theirs, table, publish=False)  # the branch
    snapshot_merge_3way(
        spark, table, base_id, ours_id, theirs_id, ["k"], on_conflict="theirs"
    )
    final = snapshot_read(spark, table)
    return final.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("c").cast("long").alias("total_cents"),
        F.sum((F.col("st") == "O").cast("long")).cast("long").alias("n_ours_upd"),
        F.sum((F.col("st") == "T").cast("long")).cast("long")
        .alias("n_theirs_upd"),
        F.sum((F.col("st") == "S").cast("long")).cast("long").alias("n_same"),
        F.sum(F.col("k")).cast("long").alias("key_sum"),
    )


ORACLE_SNAPSHOT_BRANCH_MERGE = """
WITH orders_kv AS MATERIALIZED (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
base AS MATERIALIZED (SELECT * FROM orders_kv WHERE k % 2 = 0),
ours AS MATERIALIZED (
  SELECT k,
         CASE WHEN k % 26 = 0 THEN 'S'
              WHEN k % 6 = 0 THEN 'O' ELSE st END AS st,
         CASE WHEN k % 6 = 0 THEN c + 100 ELSE c END AS c
  FROM base WHERE k % 10 != 0
  UNION ALL
  SELECT k, CASE WHEN k % 26 = 0 THEN 'S' ELSE st END, c
  FROM orders_kv WHERE k % 2 = 1 AND k % 9 = 0
),
theirs AS MATERIALIZED (
  SELECT k,
         CASE WHEN k % 26 = 0 THEN 'S'
              WHEN k % 14 = 0 THEN 'T' ELSE st END AS st,
         CASE WHEN k % 14 = 0 THEN c + 500 ELSE c END AS c
  FROM base WHERE k % 22 != 0
  UNION ALL
  SELECT k, CASE WHEN k % 26 = 0 THEN 'S' ELSE st END, c
  FROM orders_kv WHERE k % 2 = 1 AND k % 15 = 0
),
j AS MATERIALIZED (
  SELECT COALESCE(b.k, o.k, t.k) AS k,
         b.k IS NOT NULL AS bp, o.k IS NOT NULL AS op, t.k IS NOT NULL AS tp,
         o.st AS ost, o.c AS oc, t.st AS tst, t.c AS tc,
         ((b.k IS NULL) != (o.k IS NULL)
          OR (b.st IS DISTINCT FROM o.st OR b.c IS DISTINCT FROM o.c)
             AND b.k IS NOT NULL AND o.k IS NOT NULL) AS o_changed,
         ((b.k IS NULL) != (t.k IS NULL)
          OR (b.st IS DISTINCT FROM t.st OR b.c IS DISTINCT FROM t.c)
             AND b.k IS NOT NULL AND t.k IS NOT NULL) AS t_changed,
         ((o.k IS NULL) = (t.k IS NULL)
          AND (o.k IS NULL
               OR (o.st IS NOT DISTINCT FROM t.st
                   AND o.c IS NOT DISTINCT FROM t.c))) AS same_result
  FROM base b
  FULL OUTER JOIN ours o ON b.k = o.k
  FULL OUTER JOIN theirs t ON COALESCE(b.k, o.k) = t.k
),
final AS (
  SELECT k,
         CASE WHEN (t_changed AND NOT o_changed)
                   OR (o_changed AND t_changed AND NOT same_result)
              THEN tst ELSE ost END AS st,
         CASE WHEN (t_changed AND NOT o_changed)
                   OR (o_changed AND t_changed AND NOT same_result)
              THEN tc ELSE oc END AS c,
         CASE WHEN (t_changed AND NOT o_changed)
                   OR (o_changed AND t_changed AND NOT same_result)
              THEN tp ELSE op END AS present
  FROM j
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(c) AS BIGINT) AS total_cents,
       CAST(SUM(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_ours_upd,
       CAST(SUM(CASE WHEN st = 'T' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_theirs_upd,
       CAST(SUM(CASE WHEN st = 'S' THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM final WHERE present
"""


EXTRA_QUERIES.update(
    {
        "snapshot_branch_merge": (
            q_snapshot_branch_merge,
            ORACLE_SNAPSHOT_BRANCH_MERGE,
            "ext:WAP branch merge-back (3-way keyed reconciliation)",
        ),
    }
)


def q_snapshot_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy shallow clone + divergence (snapshots.snapshot_clone —
    Delta SHALLOW CLONE semantics): clone a committed table by
    manifest reference (no data copied), merge updates into the CLONE,
    and prove (a) the clone evolved, (b) the source is bit-unchanged,
    (c) the clone's first snapshot borrowed every file by absolute
    reference. Booleans are pinned TRUE by the oracle; the content
    aggregates are recomputed from the base arithmetic. The clone
    commit is one manifest write at any table size — the point of the
    operator."""
    import os as _os

    from yelp_etl_spark.plans.catalog import _scratch_dir
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        snapshot_clone,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    base = orders.filter(F.col("k") % 3 == 0)
    src = _scratch_dir(sf_dir, "clonesrc")
    dst = _scratch_dir(sf_dir, "clonedst")
    snapshot_write(base, src)
    clone_sid = snapshot_clone(src, dst)
    borrowed = all(
        _os.path.isabs(e["path"])
        for e in _load_manifest(dst, clone_sid)["files"]
    )
    delta = base.filter(F.col("k") % 15 == 0).select(
        "k", F.lit("C").alias("st"), (F.col("c") + 777).alias("c")
    )
    snapshot_merge(spark, delta, dst, ["k"])
    s = snapshot_read(spark, src).agg(
        F.count("*").alias("n"), F.sum("c").alias("cents")
    )
    d = snapshot_read(spark, dst).agg(
        F.count("*").alias("n"),
        F.sum("c").alias("cents"),
        F.sum((F.col("st") == "C").cast("long")).alias("n_upd"),
    )
    return (
        s.select(
            F.col("n").cast("long").alias("src_rows"),
            F.col("cents").cast("long").alias("src_cents"),
        )
        .crossJoin(
            d.select(
                F.col("n").cast("long").alias("clone_rows"),
                F.col("cents").cast("long").alias("clone_cents"),
                F.col("n_upd").cast("long").alias("clone_updated"),
            )
        )
        .select(
            "src_rows",
            "src_cents",
            "clone_rows",
            "clone_cents",
            "clone_updated",
            F.lit(bool(borrowed)).alias("zero_copy"),
            (F.col("clone_cents") - F.col("src_cents")
             == 777 * F.col("clone_updated")).alias("diverged_exactly"),
        )
    )


ORACLE_SNAPSHOT_CLONE = """
WITH base AS MATERIALIZED (
  SELECT o_orderkey AS k,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS src_rows,
       CAST(SUM(c) AS BIGINT) AS src_cents,
       CAST(COUNT(*) AS BIGINT) AS clone_rows,
       CAST(SUM(CASE WHEN k % 15 = 0 THEN c + 777 ELSE c END) AS BIGINT)
         AS clone_cents,
       CAST(SUM(CASE WHEN k % 15 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS clone_updated,
       CAST(1 AS BOOLEAN) AS zero_copy,
       CAST(1 AS BOOLEAN) AS diverged_exactly
FROM base
"""


def q_snapshot_binpack_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective small-file compaction (snapshots.snapshot_binpack —
    Iceberg binpack with an input-size filter): a table seeded with
    one full-size file plus streaming-sink micro-appends is binpacked;
    only the micro-files rewrite, the big file's manifest entry
    carries over byte-identically, and the content is unchanged. File
    counts are Spark-layout-dependent, so the driver-checked outputs
    are the exact content aggregates plus invariant booleans the
    oracle pins TRUE."""
    from yelp_etl_spark.plans.catalog import _scratch_dir
    from yelp_etl_spark.sources.snapshots import (
        _load_manifest,
        _read_pointer,
        snapshot_binpack,
        snapshot_read,
        snapshot_write,
    )

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    t = _scratch_dir(sf_dir, "binpack")
    snapshot_write(orders.filter(F.col("k") % 2 == 0).repartition(1), t)
    # orderBy BEFORE limit: a bare limit picks arbitrary partitions.
    # collect() is the materialization — a localCheckpoint here would
    # be a second, wasted job (review finding).
    micro = orders.filter(F.col("k") % 2 == 1).orderBy("k").limit(40)
    rows = sorted(micro.collect(), key=lambda r: r.k)
    for i in range(0, 40, 10):  # 4 micro-appends, one row-slice each
        snapshot_write(
            spark.createDataFrame(rows[i : i + 10], micro.schema)
            .repartition(1),
            t,
            mode="append",
        )
    before = _load_manifest(t, _read_pointer(t))["files"]
    snapshot_binpack(spark, t, small_file_bytes=16_384)
    after = _load_manifest(t, _read_pointer(t))["files"]
    before_paths = {e["path"] for e in before}
    after_paths = {e["path"] for e in after}
    import os as _os

    big_before = {
        e["path"]
        for e in before
        if _os.path.getsize(_os.path.join(t, e["path"])) >= 16_384
    }
    final = snapshot_read(spark, t)
    return final.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("c").cast("long").alias("total_cents"),
        F.sum("k").cast("long").alias("key_sum"),
    ).select(
        "*",
        F.lit(len(after_paths) < len(before_paths)).alias("files_reduced"),
        F.lit(big_before <= after_paths).alias("untouched_kept"),
    )


ORACLE_SNAPSHOT_BINPACK = """
WITH rows_all AS MATERIALIZED (
  SELECT o_orderkey AS k, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
kept AS (
  SELECT k, c FROM rows_all WHERE k % 2 = 0
  UNION ALL
  SELECT k, c FROM (
    SELECT k, c FROM rows_all WHERE k % 2 = 1 ORDER BY k LIMIT 40
  )
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(c) AS BIGINT) AS total_cents,
       CAST(SUM(k) AS BIGINT) AS key_sum,
       CAST(1 AS BOOLEAN) AS files_reduced,
       CAST(1 AS BOOLEAN) AS untouched_kept
FROM kept
"""


EXTRA_QUERIES.update(
    {
        "snapshot_clone_divergence": (
            q_snapshot_clone_divergence,
            ORACLE_SNAPSHOT_CLONE,
            "ext:zero-copy shallow clone + independent divergence",
        ),
        "snapshot_binpack_compact": (
            q_snapshot_binpack_compact,
            ORACLE_SNAPSHOT_BINPACK,
            "ext:selective small-file binpack (untouched files carried)",
        ),
    }
)


def q_gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten workflow end to end — the compliance
    composite the snapshot layer's pieces exist FOR, in the order a
    100 TB deployment runs them:

    1. **Locate & erase**: the target users' rows are removed by a
       merge-on-read equality delete (snapshots.snapshot_mor_delete) —
       commit cost O(|erased keys|), never a table rewrite.
    2. **Verify**: the live read shows zero target rows, while time
       travel to the pre-erasure snapshot still shows them (the audit
       trail erasure must NOT silently destroy), and the changelog
       between the two snapshots reports exactly the removed rows.
    3. **Materialize & destroy**: compaction folds the delete files
       into a clean rewrite, expire_snapshots drops the pre-erasure
       history, and vacuum physically removes the bytes — only now is
       the data GONE, which is why the erasure SLA clock measures to
       THIS step, not step 1.

    Counts are oracle-exact from the base arithmetic; the workflow
    invariants (pre-erasure visibility, zero leakage after vacuum,
    physical file reclamation) are pinned as booleans."""
    from yelp_etl_spark.plans.catalog import _scratch_dir
    from yelp_etl_spark.sources.snapshots import (
        expire_snapshots,
        snapshot_changes,
        snapshot_compact,
        snapshot_mor_delete,
        snapshot_read,
        snapshot_write,
        vacuum,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    t = _scratch_dir(sf_dir, "gdpr")
    base_sid = snapshot_write(ev, t)
    targets = ev.filter(F.col("user_id") % 37 == 3).select("user_id").distinct()
    erase_sid = snapshot_mor_delete(spark, t, targets, ["user_id"])

    live = snapshot_read(spark, t)
    leaked_live = live.filter(F.col("user_id") % 37 == 3).count()
    pre = snapshot_read(spark, t, snapshot_id=base_sid)
    pre_visible = pre.filter(F.col("user_id") % 37 == 3).count()
    removed = (
        snapshot_changes(
            spark, t, base_sid, erase_sid, ["event_id"], ["user_id", "v_cents"]
        )
        .filter(F.col("diff_status") == "removed")
        .count()
    )
    snapshot_compact(spark, t)  # materialize the deletes physically
    expire_snapshots(t, keep_last=1)
    n_reclaimed = vacuum(t)
    final = snapshot_read(spark, t)
    return final.agg(
        F.count("*").cast("long").alias("n_rows_after"),
        F.sum("v_cents").cast("long").alias("cents_after"),
        F.countDistinct("user_id").cast("long").alias("users_after"),
    ).select(
        "*",
        F.lit(int(removed)).cast("long").alias("n_erased_rows"),
        F.lit(leaked_live == 0).alias("zero_leakage"),
        F.lit(pre_visible == removed and removed > 0).alias(
            "audit_trail_held"
        ),
        F.lit(bool(n_reclaimed > 0)).alias("bytes_reclaimed"),
    )


ORACLE_GDPR_ERASURE_AUDIT = """
WITH ev AS MATERIALIZED (
  SELECT event_id, user_id, CAST(ROUND(value * 100) AS BIGINT) AS v_cents
  FROM events
),
kept AS (SELECT * FROM ev WHERE user_id % 37 != 3)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_after,
       CAST(SUM(v_cents) AS BIGINT) AS cents_after,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_after,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ev WHERE user_id % 37 = 3)
         AS n_erased_rows,
       CAST(1 AS BOOLEAN) AS zero_leakage,
       CAST(1 AS BOOLEAN) AS audit_trail_held,
       CAST(1 AS BOOLEAN) AS bytes_reclaimed
FROM kept
"""


EXTRA_QUERIES.update(
    {
        "gdpr_erasure_audit": (
            q_gdpr_erasure_audit,
            ORACLE_GDPR_ERASURE_AUDIT,
            "ext:right-to-be-forgotten workflow (MOR erase → audit → compact+vacuum)",
        ),
    }
)


def q_snapshot_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time CHECK constraints end to end (sources/snapshots.py
    snapshot_set_constraint / snapshot_write enforcement — Delta's
    ALTER TABLE ADD CONSTRAINT): a quality gate becomes a TABLE
    property instead of a hope about upstream jobs. Flow: commit an
    orders slice; ADD a constraint (validates existing rows first — a
    predicate current data violates refuses, exercised); append a
    violating batch (refused with the per-constraint count, table
    unchanged — exercised); append a valid batch (constraint carried
    forward); drop and re-append the once-refused batch. The audit row
    pins every refusal count plus the final table rollup; the oracle
    recomputes the final state from the same input predicates. At
    100 TB enforcement is one aggregate job per constrained write over
    the incoming batch only — Delta's price, the linear path."""
    from yelp_etl_spark.plans.catalog import _scratch_dir
    from yelp_etl_spark.sources.snapshots import (
        snapshot_drop_constraint,
        snapshot_read,
        snapshot_set_constraint,
        snapshot_write,
        snapshots,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    good = orders.filter(F.col("o_totalprice") > 50000)
    low = orders.filter(F.col("o_totalprice") <= 50000)
    table = _scratch_dir(sf_dir, "snapck")
    snapshot_write(good.filter(F.col("o_orderkey") % 2 == 0), table)
    snapshot_set_constraint(spark, table, "price_floor", "o_totalprice > 50000")
    refused_add = 0
    try:  # existing data violates → the ADD itself must refuse
        snapshot_set_constraint(
            spark, table, "impossible", "o_totalprice > 100000000"
        )
    except ValueError:
        refused_add = 1
    refused_appends = 0
    try:  # violating batch refused, table unchanged
        snapshot_write(low, table, mode="append")
    except ValueError:
        refused_appends += 1
    snapshot_write(
        good.filter(F.col("o_orderkey") % 2 == 1), table, mode="append"
    )
    try:  # constraint survived the valid append
        snapshot_write(low.limit(1), table, mode="append")
    except ValueError:
        refused_appends += 1
    snapshot_drop_constraint(table, "price_floor")
    snapshot_write(low, table, mode="append")
    ops = ",".join(s["operation"] for s in snapshots(table))
    return snapshot_read(spark, table).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.lit(refused_add).cast("long").alias("refused_constraint_adds"),
        F.lit(refused_appends).cast("long").alias("refused_appends"),
        F.lit(ops).alias("ops"),
    )


ORACLE_SNAPSHOT_CHECK_CONSTRAINTS = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(o_totalprice), 2) AS total,
       CAST(1 AS BIGINT) AS refused_constraint_adds,
       CAST(2 AS BIGINT) AS refused_appends,
       'replace,set_constraint,append,drop_constraint,append' AS ops
FROM orders
"""


EXTRA_QUERIES.update(
    {
        "snapshot_check_constraints": (
            q_snapshot_check_constraints,
            ORACLE_SNAPSHOT_CHECK_CONSTRAINTS,
            "ext:write-time CHECK constraints (add/enforce/carry/drop)",
        ),
    }
)
