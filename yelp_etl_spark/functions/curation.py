"""Training-corpus curation operators: repetition/quality gating,
benchmark decontamination, mixture reweighting, and shard assignment.

These are the corpus-level gates an LLM-data pipeline runs between raw
text and training shards (the reference has no analog — its pipeline
stops at cleaned+enriched tables; this is extension surface like
functions/dedup.py and functions/sampling.py):

- ``repetition_metrics``: Gopher-style repetition signals (most-common
  word share, duplicate n-gram fraction) — heavily repetitive documents
  correlate with boilerplate/spam and are down-weighted or dropped.
- ``decontaminate``: flag documents sharing any token n-gram with a
  benchmark/eval set so evaluation data can be excluded from training.
- ``mixture_sample``: deterministic per-group sampling rates (e.g.
  re-balance languages or sources toward a target mixture).
- ``shard_assignment``: stable (shard, position) for writing training
  shards — a pure function of the document key, reproducible across
  runs and engines.

Every operator is deterministic and engine-portable (md5-based
decisions, no RNG, no Python UDF in the hot path), so each catalog
query has an exact DuckDB oracle.

Scale notes: repetition metrics cost one explode + keyed agg on doc_id
(token rows never leave their doc's partition grouping); contamination
is a broadcast semi-join against the (small) benchmark shingle set;
mixture sampling is a scan-level filter; shard positions are one
shuffle on shard id. Nothing is all-pairs; nothing collects to the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yelp_etl_spark.functions.sampling import fraction_threshold, hash_prefix
from yelp_etl_spark.functions.text import tokens


def _token_rows(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, pos, tok) rows — tokenizer runs ONCE per document, then
    everything downstream is flat relational ops. Documents with no
    tokens keep one (id, null, null) row (explode_outer) so per-doc
    aggregates still see them."""
    from yelp_etl_spark.sources.readers import fan_out

    return fan_out(df, id_col).select(
        F.col(id_col),
        F.posexplode_outer(tokens(F.col(text_col))).alias("pos", "tok"),
    )


def _token_ngram_rows(
    tok_rows: DataFrame, id_col: str, n: int
) -> DataFrame:
    """Add a ``gram`` column to (id, pos, tok) rows: the n-gram
    starting at pos (null for the trailing n-1 positions and for
    empty docs). One window shuffle on the doc key — co-partitioned
    with every later per-doc aggregate."""
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", j).over(w) for j in range(1, n)
    ]
    gram = F.when(
        F.col("tok").isNotNull() & parts[-1].isNotNull(),
        F.concat_ws(" ", *parts),
    )
    return tok_rows.withColumn("gram", gram)


def repetition_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
) -> DataFrame:
    """Per-document repetition signals (Gopher-style quality gates):

    - ``n_tokens``
    - ``top_word_frac``: share of tokens taken by the most frequent
      token (mode share) — boilerplate pushes this up.
    - ``dup_ngram_frac``: 1 − distinct/total token ``ngram``-grams —
      near 1.0 for looped/templated text.

    Shape: tokenizer once per doc (posexplode), one window + three
    aggregates ALL keyed on the doc id — a single shuffle partitioning
    reused end to end. (The array-expression form, an n-gram array
    built over ``tokens(text)``, let CollapseProject re-inline the
    tokenizer into every gram and ran 30× slower at sf0.1.) Lowercased
    word tokens match functions.text.
    """
    grams = _token_ngram_rows(_token_rows(df, id_col, text_col), id_col, ngram)
    per_doc = grams.groupBy(id_col).agg(
        F.count("tok").alias("n_tokens"),
        F.count("gram").alias("__n_grams"),
        F.size(F.collect_set("gram")).cast("long").alias("__n_distinct"),
    )
    top = (
        grams.filter(F.col("tok").isNotNull())
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("__top"))
    )
    return per_doc.join(top, id_col, "left").select(
        id_col,
        "n_tokens",
        F.when(
            F.col("__n_grams") > 0,
            F.round(
                1.0 - F.col("__n_distinct") / F.col("__n_grams").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_ngram_frac"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("__top") / F.col("n_tokens").cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("top_word_frac"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    keep_clean: bool = True,
) -> DataFrame:
    """Benchmark decontamination: drop (or flag) training documents
    that share ANY token ``ngram``-gram with the benchmark set.

    The benchmark side reduces to its DISTINCT shingle set — small by
    construction (eval sets are thousands of docs, not billions) — and
    broadcasts into a semi-join against the training side's shingle
    rows; matched ids then anti-join (keep_clean) back onto the full
    rows. The tokenizer runs once per document (exploded/window form,
    not per-shingle re-inlined expressions); the only training-side
    shuffle is the window on the doc key plus the matched-id distinct.
    """
    doc_sh = (
        _token_ngram_rows(_token_rows(docs, id_col, text_col), id_col, ngram)
        .filter(F.col("gram").isNotNull())
        .select(F.col(id_col), F.col("gram").alias("__sh"))
    )
    bench_sh = (
        _token_ngram_rows(
            _token_rows(benchmark, id_col, text_col), id_col, ngram
        )
        .filter(F.col("gram").isNotNull())
        .select(F.col("gram").alias("__sh"))
        .distinct()
    )
    dirty_ids = (
        doc_sh.join(F.broadcast(bench_sh), "__sh", "left_semi")
        .select(id_col)
        .distinct()
    )
    how = "left_anti" if keep_clean else "left_semi"
    return docs.join(dirty_ids, id_col, how)


def mixture_sample(
    df: DataFrame,
    group_col: str,
    rates: dict[str, float],
    key_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic mixture reweighting: keep a per-group fraction of
    rows (e.g. downsample an over-represented language toward a target
    corpus mixture). Decisions are a pure function of the row key (md5
    prefix, as in functions/sampling.py), so the sample is stable
    across runs/engines/repartitioning and composes with splits. Pure
    scan-level filter: no shuffle, no state."""
    prefix = hash_prefix(F.col(key_col))
    cond = F.lit(None).cast("boolean")
    expr = None
    for group, rate in sorted(rates.items()):
        branch = prefix < F.lit(fraction_threshold(rate))
        expr = (
            F.when(F.col(group_col) == group, branch)
            if expr is None
            else expr.when(F.col(group_col) == group, branch)
        )
    cond = (
        expr.otherwise(prefix < F.lit(fraction_threshold(default_rate)))
        if expr is not None
        else prefix < F.lit(fraction_threshold(default_rate))
    )
    return df.filter(cond)


def shard_assignment(
    df: DataFrame,
    key_col: str = "doc_id",
    n_shards: int = 8,
) -> DataFrame:
    """Stable training-shard layout: every key gets a shard (md5-hash
    mod n_shards) and a position within the shard (rank by hash, key
    as tiebreak) — the deterministic global shuffle used to write
    training shards. One exchange on shard id; within-shard ordering
    is a local sort. Output: (key, shard, pos)."""
    # 15 hex digits < 2^60 fits a BIGINT exactly (16 digits could not)
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("shard").orderBy(F.col("__h"), F.col(key_col))
    return (
        df.select(
            F.col(key_col),
            h.alias("__h"),
        )
        .withColumn("shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(key_col, "shard", "pos")
    )


def cross_doc_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document boilerplate detection — the corpus-level
    complement of repetition_metrics (which is within-document): a word
    ``ngram``-gram occurring in >= ``min_docs`` DISTINCT documents is
    boilerplate (headers, footers, license blocks, templated spans);
    each document is scored with the fraction of its gram positions
    covered by boilerplate. Downstream curation drops or rewrites docs
    past a fraction cut — the passage-level dedup signal that document-
    level near-dup (MinHash et al.) cannot see, because a 5% shared
    footer never moves whole-document Jaccard.

    Shape: tokenizer once per doc → gram rows (one doc-keyed window) →
    grams hashed to 8-byte keys → distinct (doc, gram) pairs → one
    gram-keyed doc-frequency aggregate → hot set joined back (broadcast
    while it fits — boilerplate vocabularies are orders smaller than
    the corpus; drop the hint past ~100M hot grams and it degrades to a
    plain equi-join on the 8-byte hash) → per-doc fraction on the
    already-used doc key. Nothing wider than (id, 8-byte hash) ever
    shuffles.
    """
    grams = _token_ngram_rows(
        _token_rows(df, id_col, text_col), id_col, ngram
    ).filter(F.col("gram").isNotNull())
    g = grams.select(id_col, F.xxhash64("gram").alias("gh"))
    docfreq = g.distinct().groupBy("gh").agg(F.count("*").alias("df"))
    hot = docfreq.filter(F.col("df") >= min_docs).select(
        "gh", F.lit(True).alias("__hot")
    )
    flagged = g.join(F.broadcast(hot), "gh", "left")
    n_boiler = F.count("__hot")  # count() skips the nulls of the left join
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        n_boiler.alias("n_boilerplate"),
        F.round(n_boiler / F.count("*"), 6).alias("boilerplate_frac"),
    )
