"""Mergeable frequency sketches: count-min.

Complements the built-in mergeable cardinality sketches (hll_sketch_agg
— see the hll_mergeable query) with a frequency sketch Spark lacks.
Not in the reference (no aggregation surface at all — SURVEY.md §2.5);
this is extension surface for 100 TB profiling: a count-min sketch
answers "how often does key X occur" within ε·N after ONE pass, in
depth×width integers, and two sketches built over disjoint partitions
of the data merge by cell-wise addition — so per-day sketches roll up
to month/year for free, the property exact counts don't have.

Hashing follows the engine-portable scheme of functions/dedup.py
minhash_portable: 31-bit md5-derived base hash permuted by fixed
(a·h + b) mod P maps, all exact int64 arithmetic — so sketch cells and
estimates are value-identical in any SQL engine and oracle-checkable.

Scale shape: the build explodes each row into ``depth`` (row, pos)
cells, but partial aggregation collapses the shuffle to at most
depth×width×partitions rows — the sketch itself, tiny by construction.
Estimates broadcast the sketch (depth×width rows) against the probe
keys; nothing large ever shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CMS_P = (1 << 31) - 1  # Mersenne prime, mask == modulus
CMS_DEPTH = 4
CMS_WIDTH = 512
# fixed odd multipliers/offsets < 2^20 keep a·h + b < 2^51 (exact int64)
CMS_PERMS = [(633869, 88811), (415739, 41647), (761159, 11173), (104729, 95003)]


def _h31(key: Column) -> Column:
    """31-bit base hash: md5 hex digits 18-32 as an integer, masked.
    Portable — any engine with md5 + string slicing computes the same
    value (DuckDB: CAST(concat('0x', substr(md5(x),18,15)) AS BIGINT))."""
    return (
        F.conv(F.substring(F.md5(key.cast("string").cast("binary")), 18, 15), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(CMS_P))
    )


def _positions_from_h(h: Column, depth: int, width: int) -> Column:
    """Array of ``depth`` cell positions from an ALREADY-COMPUTED base
    hash column — callers project ``_h31`` once behind a select
    boundary so the md5 chain is evaluated once per row, not once per
    array element (r15 optimization round; the inline form leaned on
    codegen subexpression elimination, which does not reach inside
    every operator the array lands in)."""
    return F.array(
        *[
            ((F.lit(a) * h + F.lit(b)) % F.lit(CMS_P)) % F.lit(width)
            for a, b in CMS_PERMS[:depth]
        ]
    )


def count_min_sketch(
    df: DataFrame,
    key_column: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Build a count-min sketch of ``key_column`` frequencies: returns
    the counter table (d, pos, cnt) with at most depth×width rows.
    One pass, map-side partial aggregation; the shuffle carries only
    sketch cells, never keys."""
    from yelp_etl_spark.sources.readers import fan_out

    # keyless round-robin, NOT fan_out(df, key_column): hashing by the
    # sketch key would concentrate every occurrence of a heavy hitter
    # (the very thing CMS measures) into one task
    return (
        fan_out(df)
        .select(_h31(F.col(key_column)).alias("__h"))
        .select(
            F.posexplode(_positions_from_h(F.col("__h"), depth, width)).alias(
                "d", "pos"
            )
        )
        .groupBy("d", "pos")
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with identical (depth, width, perms) by
    cell-wise addition — the mergeability that makes per-partition /
    per-day sketches roll up without touching raw data."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "pos").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_column: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-frequency estimates for each distinct key in ``keys``:
    min over the key's depth counters (classic CMS upper-bound
    estimate; never under-counts, over-counts by ≤ ε·N w.h.p.).
    The sketch side broadcasts."""
    probed = keys.select(
        key_column, _h31(F.col(key_column)).alias("__h")
    ).select(
        key_column,
        F.posexplode(_positions_from_h(F.col("__h"), depth, width)).alias(
            "d", "pos"
        ),
    )
    return (
        probed.join(F.broadcast(sketch), ["d", "pos"], "left_outer")
        .groupBy(key_column)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_count"))
    )


def fixed_histogram(
    df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    bins: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-boundary histogram sketch of ``column``: (bin, cnt) with at
    most ``bins`` rows. Like the count-min and HLL sketches above it is
    MERGEABLE (cell-wise addition — per-day/per-partition histograms
    roll up without touching raw data), and unlike KLL/GK quantile
    sketches its content is EXACTLY determined by the data and the
    fixed boundaries, so downstream quantile estimates are value-
    oracle-able in any engine. Out-of-range values clamp to the edge
    bins. One map-side-combined aggregate; the shuffle carries bins
    cells, never rows. With ``group_cols`` the sketch is per group —
    the per-segment-percentile shape: ≤ groups×bins cells total.

    NULLs are excluded (the standard aggregate-function convention):
    without the filter, floor(NULL)=NULL but greatest(0, NULL)=0 in
    Spark's null-skipping greatest(), so nulls would silently count as
    lo-edge values and skew every downstream quantile."""
    df = df.filter(F.col(column).isNotNull())
    width = (hi - lo) / bins
    b = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0), F.floor((F.col(column) - F.lit(lo)) / F.lit(width)).cast("int")
        ),
    )
    keys = [F.col(c) for c in (group_cols or [])] + [b.alias("bin")]
    return df.groupBy(*keys).agg(F.count("*").alias("cnt"))


def histogram_quantiles(
    hist: DataFrame,
    quantiles: list[float],
    lo: float,
    hi: float,
    bins: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantile estimates from a fixed_histogram: for each q, locate the
    first bin whose cumulative count reaches q·N and linearly
    interpolate inside it — the classic equi-width-histogram estimator,
    with error bounded by one bin width. Deterministic arithmetic on
    (bin, cnt, cum) so an oracle can reproduce it bit-for-bit; the
    cumulative window runs over ≤``bins`` rows (single tiny partition
    by construction, not a data-sized sort)."""
    from pyspark.sql import Window

    gcols = list(group_cols or [])
    width = (hi - lo) / bins
    w = (
        Window.partitionBy(*gcols).orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy(*gcols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = hist.select(
        *gcols,
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    qdf = hist.sparkSession.createDataFrame(
        [(float(q),) for q in quantiles], "q double"
    )
    target = F.col("q") * F.col("n")
    eligible = c.join(F.broadcast(qdf)).filter(F.col("cum") >= target)
    first = eligible.groupBy(*gcols, "q").agg(
        F.min_by(F.struct("bin", "cnt", "cum", "n"), "bin").alias("s")
    )
    return first.select(
        *gcols,
        "q",
        F.round(
            F.lit(lo)
            + F.lit(width)
            * (
                F.col("s.bin")
                + (F.col("q") * F.col("s.n") - (F.col("s.cum") - F.col("s.cnt")))
                / F.col("s.cnt")
            ),
            4,
        ).alias("est"),
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog: an engine-replayable twin of hll_sketch_agg
# ---------------------------------------------------------------------------

HLL_P = 9                      # 2^9 = 512 registers
HLL_M = 1 << HLL_P
HLL_W_BITS = 32                # rank slice width -> rho in [1, 33]
HLL_SCALE = 40                 # register term 2^(SCALE - M_j) stays integral
_HLL_W_MASK = (1 << HLL_W_BITS) - 1


def _h60(key: Column) -> Column:
    """Portable 60-bit hash — the single repo-wide definition
    (sampling.hash60), re-exported so register derivations can't
    desync from the convention every oracle replays."""
    from yelp_etl_spark.functions.sampling import hash60

    return hash60(key)


def hll_portable_sketch(
    df: DataFrame, key_column: str, group_cols: list[str]
) -> DataFrame:
    """HyperLogLog registers per group, built from the portable hash —
    the cross-engine-exact twin of the Datasketches ``hll_sketch_agg``
    query (hll_mergeable): identical register values in any engine, so
    the ESTIMATE (not just the row shape) is oracle-checkable.

    Register math is pure integers: bucket = low p bits of the 60-bit
    hash; the next 32 bits form the rank slice w; rho = 33 − bitlen(w)
    (bitlen via base-2 string length — identical in Spark ``conv`` and
    DuckDB ``bin``; no float log2 whose power-of-two boundary behavior
    is library-specific). One map-side-combined aggregate; the shuffle
    carries ≤ groups×512 register cells, never rows — the property
    that makes distinct counts incrementally maintainable at 100 TB.

    NULL keys are excluded before hashing (distinct-count semantics:
    Spark's and DuckDB's COUNT(DISTINCT) both ignore NULLs) — without
    the filter a NULL key would emit a (group, bucket=NULL, m_j=NULL)
    register row that corrupts hll_portable_estimate's n_empty and
    the estimate on dirty input.

    Returns (group_cols..., bucket, m_j)."""
    h = _h60(F.col(key_column))
    bucket = (h % F.lit(HLL_M)).cast("int")
    w = F.shiftright(h, HLL_P).bitwiseAND(F.lit(_HLL_W_MASK))
    bitlen = F.when(w == 0, F.lit(0)).otherwise(
        F.length(F.conv(w.cast("string"), 10, 2))
    )
    rho = (F.lit(HLL_W_BITS + 1) - bitlen).cast("int")
    return (
        df.filter(F.col(key_column).isNotNull())
        .select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def hll_portable_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge register tables onto coarser groups by per-bucket MAX —
    HLL's defining mergeability (sketch(A ∪ B) = cellwise max), so
    per-partition sketches roll up without re-reading raw data."""
    return registers.groupBy(*group_cols, "bucket").agg(
        F.max("m_j").alias("m_j")
    )


def hll_portable_estimate(
    registers: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Cardinality estimate from a register table, engine-exact: the
    harmonic sum Σ 2^(−M_j) is scaled by 2^HLL_SCALE so it accumulates
    as an exact BIGINT (register terms are dyadic; float accumulation
    order would not be cross-engine safe). Absent buckets contribute
    2^SCALE each. The only floats are the final fixed expression
    (one division, and ln(m/V) on the linear-counting branch), rounded
    to 2 decimals.

        raw = α_m · m² / Z,  Z = S / 2^SCALE
        est = m·ln(m/V)  if raw ≤ 2.5m and V > 0 (small-range), else raw

    Returns (group_cols..., n_empty, reg_sum, est_distinct)."""
    m = HLL_M
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    term = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_SCALE} - m_j AS INT))"
    )
    g = registers.groupBy(*group_cols).agg(
        F.count("*").alias("n_set"),
        F.sum(term).cast("long").alias("set_sum"),
    )
    v = (F.lit(m) - F.col("n_set")).cast("long")
    s = (F.col("set_sum") + v * F.lit(1 << HLL_SCALE)).cast("long")
    raw = (
        alpha
        * F.lit(float(m) * float(m))
        * F.lit(float(1 << HLL_SCALE))
        / s.cast("double")
    )
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return g.select(
        *group_cols,
        v.alias("n_empty"),
        s.alias("reg_sum"),
        F.round(est, 2).alias("est_distinct"),
    )


def misra_gries_candidates(
    df: DataFrame, col: str = "tok", k: int = 40
) -> DataFrame:
    """Misra-Gries heavy-hitter candidates: the DETERMINISTIC-guarantee
    frequency summary (every item with true frequency > N/(k+1) is
    GUARANTEED present; counters never overcount and undercount by at
    most N/(k+1) in total) — the complement to count_min_sketch
    (probabilistic overcount) for the "what are the dominant tokens /
    URLs / keys" pass every curation pipeline runs.

    Distributed shape: one Arrow `mapInPandas` pass builds a k-counter
    summary PER PARTITION (single pass, O(k) memory — the reason to
    use MG instead of an exact groupBy at 100 TB is bounded state, not
    speed), then the per-partition summaries merge by counter
    addition, which preserves the guarantee (Agarwal et al., the
    mergeable-summaries result, public PODS 2012). Each partition
    batch is pre-reduced with value_counts, so the Python loop runs
    over DISTINCT tokens per batch, and the k-truncation subtracts the
    (k+1)-th largest counter — the standard summary-merge step.

    Candidate counts are partitioning-dependent (only the GUARANTEE is
    deterministic) — callers must join back for exact counts before
    emitting driver-facing values (q_misra_gries_heavy_hitters)."""
    import pandas as pd

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            vc = pdf[col].value_counts()
            for tok, cnt in vc.items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    t: c - cut for t, c in counters.items() if c - cut > 0
                }
        yield pd.DataFrame(
            {"tok": list(counters), "mg": list(counters.values())}
        )

    return (
        df.select(F.col(col).alias("tok"))
        .mapInPandas(mg, "tok string, mg long")
        .groupBy("tok")
        .agg(F.sum("mg").cast("long").alias("mg"))
    )
