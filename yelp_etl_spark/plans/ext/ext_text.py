"""Extension catalog — text queries."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yelp_etl_spark.sources.readers import load_table

from yelp_etl_spark.plans.ext._shared import (  # noqa: F401
    EXTRA_QUERIES,
    _pos_ctes,
    _t,
)



# --------------------------------------------------------------------------
# Distributed BPE vocabulary training (functions/bpe.py)
# --------------------------------------------------------------------------

from yelp_etl_spark.functions import bpe as BPE  # noqa: E402
from yelp_etl_spark.functions import dedup as DD  # noqa: E402

_BPE_MERGES = 8


def _bpe_oracle_sql(num_merges: int, final: str) -> str:
    """Generate the DuckDB twin of learn_bpe as an UNROLLED CTE chain —
    one (pair-count, argmax, merge-apply) triple per merge step. The
    symbol state is a control-char-delimited string (chr(1)/chr(2)
    wrap each symbol — characters that cannot appear in text words,
    unlike brackets) so the
    engine's greedy left-to-right non-overlapping replace() is exactly
    the fold semantics of functions/bpe.py:merge_pair_expr — adjacent
    occurrences never share boundary characters, which a space-
    separated encoding would (['a','a','a','a'] must merge to
    [aa, aa], not [aa, a, a]). An empty b{i} (best pair under the
    min-freq floor) LEFT-JOINs as NULL and COALESCEs the pattern to the
    unmatchable chr(3) sentinel, reproducing learn_bpe's early stop.

    Every CTE is AS MATERIALIZED: with default inlining each step
    would splice multiple copies of the previous step into its plan
    (direct reference + the best-pair join), growing the expression
    tree exponentially in the merge count — 8 merges hang the
    optimizer. Materialization makes the chain linear, mirroring how
    the Spark side's per-iteration jobs execute."""
    ctes = [
        """w0 AS MATERIALIZED (
  SELECT chr(1) || array_to_string(string_split(word, ''), chr(2) || chr(1)) || chr(2) AS syms,
         COUNT(*) AS wfreq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
  WHERE word <> ''
  GROUP BY 1
)"""
    ]
    for i in range(1, num_merges + 1):
        ctes.append(
            f"""b{i} AS MATERIALIZED (
  SELECT lhs, rhs, CAST(pair_freq AS BIGINT) AS pair_freq
  FROM (
    SELECT toks[j] AS lhs, toks[j+1] AS rhs, SUM(wfreq) AS pair_freq
    FROM (SELECT string_split(substr(syms, 2, length(syms) - 2), chr(2) || chr(1)) AS toks, wfreq
          FROM w{i - 1}) t,
         LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS j)
    GROUP BY 1, 2
  )
  WHERE pair_freq >= 2
  ORDER BY pair_freq DESC, lhs, rhs LIMIT 1
), w{i} AS MATERIALIZED (
  SELECT replace(w.syms,
                 COALESCE(chr(1) || b.lhs || chr(2) || chr(1) || b.rhs || chr(2), chr(3)),
                 COALESCE(chr(1) || b.lhs || b.rhs || chr(2), chr(3))) AS syms,
         w.wfreq
  FROM w{i - 1} w LEFT JOIN b{i} b ON TRUE
)"""
        )
    if final == "words_cte":
        # Caller appends its own ", name AS (...)" CTEs + final SELECT.
        return "WITH " + ",\n".join(ctes)
    if final == "merges":
        tail = "\nUNION ALL\n".join(
            f"SELECT CAST({i} AS BIGINT) AS rank, lhs, rhs, pair_freq FROM b{i}"
            for i in range(1, num_merges + 1)
        )
    else:
        tail = f"""SELECT token, CAST(SUM(wfreq) AS BIGINT) AS tok_freq
FROM (SELECT unnest(string_split(substr(syms, 2, length(syms) - 2), chr(2) || chr(1))) AS token,
             wfreq
      FROM w{num_merges})
GROUP BY token
ORDER BY tok_freq DESC, token LIMIT 30"""
    return "WITH " + ",\n".join(ctes) + "\n" + tail


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-0 BPE statistics: adjacent character-pair frequencies over
    the word-frequency table (functions/bpe.py:pair_counts), top 30.
    The corpus collapses to (word, wfreq) in one shuffle; the pair agg
    then runs on vocabulary-sized data with a partial aggregate."""
    docs = _t(spark, sf_dir, "documents")
    words = BPE.with_symbols(BPE.word_frequencies(docs, "text"))
    return (
        BPE.pair_counts(words)
        .orderBy(F.desc("pair_freq"), "lhs", "rhs")
        .limit(30)
    )


ORACLE_BPE_PAIR_COUNTS = """
WITH words AS (
  SELECT word, COUNT(*) AS wfreq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
  WHERE word <> ''
  GROUP BY word
)
SELECT toks[j] AS lhs, toks[j+1] AS rhs, CAST(SUM(wfreq) AS BIGINT) AS pair_freq
FROM (SELECT string_split(word, '') AS toks, wfreq FROM words) t,
     LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS j)
GROUP BY 1, 2
ORDER BY pair_freq DESC, lhs, rhs
LIMIT 30
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE training, 8 merges (functions/bpe.py:learn_bpe): per
    iteration one vocabulary-sized pair count, a 1-row argmax collect,
    and a codegen'd fold applying the merge — no Python in the loop.
    Deterministic tiebreak (freq DESC, lhs, rhs) makes the learned
    merge table engine-reproducible; the oracle is the unrolled
    SQL twin (_bpe_oracle_sql)."""
    docs = _t(spark, sf_dir, "documents")
    merges, _ = BPE.learn_bpe(docs, "text", _BPE_MERGES, min_pair_freq=2)
    return BPE.merges_df(spark, merges)


ORACLE_BPE_MERGES = _bpe_oracle_sql(_BPE_MERGES, "merges")


def q_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-encode roundtrip: learn 8 merges, encode the word
    table with them (map-only folds), and return the top-30 subword
    vocabulary by corpus frequency — the artifact an LLM tokenizer
    build would persist."""
    docs = _t(spark, sf_dir, "documents")
    _, words = BPE.learn_bpe(docs, "text", _BPE_MERGES, min_pair_freq=2)
    return (
        BPE.subword_frequencies(words)
        .orderBy(F.desc("tok_freq"), "token")
        .limit(30)
    )


ORACLE_BPE_ENCODE = _bpe_oracle_sql(_BPE_MERGES, "tokens")


# --------------------------------------------------------------------------
# Exact duplicated-substring spans (functions/dedup.py:duplicate_spans)
# --------------------------------------------------------------------------

_SPAN_K = 25


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al-style exact substring dedup: flag every 25-char gram
    occurring in >1 document and merge overlapping positions into
    maximal spans per doc (gaps-and-islands window). Two keyed
    shuffles (gram hash, then doc id), no all-pairs stage."""
    docs = _t(spark, sf_dir, "documents")
    return DD.duplicate_spans(docs, "doc_id", "text", k=_SPAN_K)


ORACLE_DUPLICATE_SPANS = f"""
WITH grams AS (
  SELECT doc_id, length(text) AS len, i AS pos,
         CAST(concat('0x', substr(md5(substr(text, i, {_SPAN_K})), 18, 15)) AS BIGINT) AS gh
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text) - {_SPAN_K - 1})) AS i)
  WHERE length(text) >= {_SPAN_K}
), dup AS (
  SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) > 1
), hits AS (
  SELECT g.doc_id, g.len, g.pos FROM grams g JOIN dup USING (gh)
), flagged AS (
  SELECT doc_id, len, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {_SPAN_K}
              THEN 1 ELSE 0 END AS new_island
  FROM hits
), isl AS (
  SELECT doc_id, len, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), spans AS (
  SELECT doc_id, len, island, MIN(pos) AS s, MAX(pos) + {_SPAN_K - 1} AS e
  FROM isl GROUP BY 1, 2, 3
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
       ROUND(CAST(SUM(e - s + 1) AS DOUBLE) / len, 4) AS dup_frac
FROM spans GROUP BY doc_id, len
"""


def q_duplicate_spans_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coarse-bucket two-phase form of duplicate_spans
    (functions/dedup.duplicate_spans_pruned): phase 1 shuffles only a
    32-bit bucket per position (half the record width, no portable
    fingerprint), phase 2 reruns the exact pipeline over candidate
    docs only. Output is provably identical to duplicate_spans —
    multi-doc buckets can't miss a duplicated gram, and collision
    candidates are cleared by the exact pass — so it shares its
    oracle. The scale path for mostly-clean corpora where candidates
    are a small fraction."""
    docs = _t(spark, sf_dir, "documents")
    return DD.duplicate_spans_pruned(docs, "doc_id", "text", k=_SPAN_K)


EXTRA_QUERIES.update(
    {
        "bpe_pair_counts": (q_bpe_pair_counts, ORACLE_BPE_PAIR_COUNTS, "ext:bpe pair stats"),
        "bpe_merges": (q_bpe_merges, ORACLE_BPE_MERGES, "ext:bpe training"),
        "bpe_encode_tokens": (q_bpe_encode_tokens, ORACLE_BPE_ENCODE, "ext:bpe encode"),
        "duplicate_spans": (q_duplicate_spans, ORACLE_DUPLICATE_SPANS, "ext:substring dedup spans"),
        "duplicate_spans_pruned": (
            q_duplicate_spans_pruned,
            ORACLE_DUPLICATE_SPANS,
            "ext:substring dedup spans, bucket-pruned two-phase",
        ),
    }
)


def q_bpe_corpus_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting under the learned vocabulary — the
    train→apply composition every LLM data pipeline runs to budget
    training tokens. Train 8 merges, encode the WORD table (map-only
    folds over vocabulary-sized data), then join the corpus word
    stream to (word, n_toks) — a keyed shuffle join on the word, NOT a
    broadcast: at 100 TB the vocabulary table is ~10^7-10^8 rows and
    must not be collected. Returns per-source token/char totals."""
    docs = _t(spark, sf_dir, "documents")
    _, words = BPE.learn_bpe(docs, "text", _BPE_MERGES, min_pair_freq=2)
    word_toks = words.select("word", F.size("syms").cast("long").alias("n_toks"))
    stream = docs.select(
        "source",
        # literal single space, NOT \s+: the vocabulary this joins
        # against (learn_bpe's word_frequencies) and the DuckDB oracle
        # both split on ' ' — a \s+ split silently drops words
        # containing tabs/\x0B via the inner join (and Java \s covers
        # \x0B while RE2's does not, the cross-engine trap the bpe
        # module docstring documents)
        F.explode(F.split(F.lower("text"), " ")).alias("word"),
    ).filter(F.col("word") != "")
    return (
        stream.join(word_toks, "word")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.round(F.sum("n_toks") / F.count("*"), 4).alias("toks_per_word"),
        )
    )


ORACLE_BPE_CORPUS_TOKENS = (
    _bpe_oracle_sql(_BPE_MERGES, "words_cte")
    + """
, word_toks AS (
  SELECT substr(syms, 2, length(syms) - 2) AS bare, wfreq,
         len(string_split(substr(syms, 2, length(syms) - 2), chr(2) || chr(1))) AS n_toks
  FROM w8
), stream AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS word
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(n_toks) AS DOUBLE) / COUNT(*), 4) AS toks_per_word
FROM stream s
JOIN word_toks w ON replace(w.bare, chr(2) || chr(1), '') = s.word
WHERE s.word <> ''
GROUP BY source
"""
)


EXTRA_QUERIES.update(
    {
        "bpe_corpus_tokens": (
            q_bpe_corpus_tokens,
            ORACLE_BPE_CORPUS_TOKENS,
            "ext:bpe corpus token accounting",
        ),
    }
)


# --------------------------------------------------------------------------
# Event-sequence pattern matching (MATCH_RECOGNIZE / CEP analog)
# --------------------------------------------------------------------------


def q_event_path_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL MATCH_RECOGNIZE / Flink-CEP analog: detect
    view→(no error)→purchase sequences per user by compiling each
    user's ordered event stream into a symbol string (first char of
    event_type — distinct across the five types) and counting regex
    matches of 'v[^e]*?p' (lazy quantifier: each purchase closes the
    nearest open view, so back-to-back conversions count separately). ONE shuffle on user_id builds the paths;
    the regex runs on per-user strings, never on the event stream.
    Per-user path length is bounded by per-user activity (sessionize
    first — sessionize_gaps — when single users span millions of
    events). Ordering ties on ts break by event_id so the compiled
    string is deterministic. Returns matching users only."""
    events = _t(spark, sf_dir, "events")
    paths = (
        events.select(
            "user_id",
            F.struct(F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("sym")).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(e)), x -> x.sym)"), ""
            ).alias("path")
        )
    )
    return (
        paths.select(
            "user_id",
            F.length("path").cast("long").alias("path_len"),
            F.size(F.expr("regexp_extract_all(path, 'v[^e]*?p', 0)"))
            .cast("long")
            .alias("n_matches"),
        )
        .filter(F.col("n_matches") > 0)
    )


ORACLE_EVENT_PATH = """
WITH paths AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS path
  FROM events
  GROUP BY user_id
)
SELECT user_id, CAST(length(path) AS BIGINT) AS path_len,
       CAST(len(regexp_extract_all(path, 'v[^e]*?p')) AS BIGINT) AS n_matches
FROM paths
WHERE len(regexp_extract_all(path, 'v[^e]*?p')) > 0
"""


# --------------------------------------------------------------------------
# k-anonymity audit (privacy-side curation)
# --------------------------------------------------------------------------


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit for quasi-identifier re-identification risk: any
    (nation, market-segment, balance-band) combination shared by fewer
    than k=5 customers fails k-anonymity — publishing those rows risks
    re-identification. One partially-aggregated shuffle on the
    quasi-identifier tuple; the audit output is group-sized, not
    row-sized. The release-side fix (suppress, or generalize the
    balance band wider and re-audit) is a semi-join against this
    result."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        )
        .agg(F.count("*").cast("long").alias("group_size"))
        .filter(F.col("group_size") < 5)
    )


ORACLE_K_ANONYMITY = """
SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment AS mktsegment,
       CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
       CAST(COUNT(*) AS BIGINT) AS group_size
FROM customer
GROUP BY 1, 2, 3
HAVING COUNT(*) < 5
"""


EXTRA_QUERIES.update(
    {
        "event_path_pattern": (
            q_event_path_pattern,
            ORACLE_EVENT_PATH,
            "ext:CEP sequence pattern",
        ),
        "k_anonymity_audit": (
            q_k_anonymity_audit,
            ORACLE_K_ANONYMITY,
            "ext:privacy k-anonymity",
        ),
    }
)


# --------------------------------------------------------------------------
# N-gram novelty scoring (incremental corpus diversity)
# --------------------------------------------------------------------------


def q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental novelty per document: the fraction of a doc's
    distinct word 5-grams that no earlier doc (by doc_id order)
    contains — the curation signal for 'is this document adding new
    content or repeating the corpus'. Each distinct (gram, doc) pair
    reduces to the gram's FIRST doc via one min-aggregate on the gram
    hash (partial aggs apply), then a keyed join back — the same
    two-shuffle shape as duplicate_spans, never all-pairs. Grams hash
    to the portable 60-bit md5 convention. Returns per-source novelty
    aggregates (doc-level scores are the intermediate)."""
    from yelp_etl_spark.sources.readers import fan_out

    docs = fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id",
        "source",
        F.split(F.lower("text"), " ").alias("ws"),
    ).withColumn("ws", F.expr("filter(ws, w -> w <> '')"))
    grams = (
        toks.filter(F.size("ws") >= 5)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(0), F.size("ws") - 5)).alias("i"),
            F.col("ws"),
        )
        .select(
            "doc_id",
            "source",
            F.conv(
                F.substring(
                    F.md5(F.expr("array_join(slice(ws, i + 1, 5), ' ')")), 18, 15
                ),
                16,
                10,
            )
            .cast("long")
            .alias("gh"),
        )
        .distinct()
    )
    # n_novel(doc) = # grams whose corpus-wide min doc is this doc — it
    # is fully determined by the per-gram min table, so aggregate THAT
    # down to doc granularity instead of joining it back onto the
    # gram-sized frame (r15 optimization round, guide §2.3 "aggregate
    # before you shuffle": the old gram⋈first_doc equi-join shuffled
    # the full gram table a second time only to count matches; the two
    # aggregates below shuffle doc-sized rows and meet in a doc-sized
    # join — and the shared distinct-gram subtree is computed once via
    # exchange reuse, exactly as before). Same results: doc_id → source
    # is functional, and a doc with no corpus-first grams scores 0.
    first_doc = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    novel_per_doc = first_doc.groupBy(
        F.col("first_doc").alias("doc_id")
    ).agg(F.count("*").cast("long").alias("n_novel"))
    scored = (
        grams.groupBy("doc_id", "source")
        .agg(F.count("*").cast("long").alias("n_grams"))
        .join(novel_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias(
                "n_novel"
            ),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg(F.col("n_novel") / F.col("n_grams")), 4).alias(
                "avg_novelty"
            ),
            F.sum("n_novel").cast("long").alias("total_novel_grams"),
        )
    )


ORACLE_NOVELTY = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, source,
         CAST(concat('0x',
              substr(md5(array_to_string(ws[i+1:i+5], ' ')), 18, 15)) AS BIGINT) AS gh
  FROM toks, LATERAL (SELECT unnest(generate_series(0, len(ws) - 5)) AS i)
  WHERE len(ws) >= 5
), first_doc AS (
  SELECT gh, MIN(doc_id) AS first_doc FROM grams GROUP BY gh
), scored AS (
  SELECT g.doc_id, g.source, COUNT(*) AS n_grams,
         SUM(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END) AS n_novel
  FROM grams g JOIN first_doc f USING (gh)
  GROUP BY 1, 2
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(CAST(n_novel AS DOUBLE) / n_grams), 4) AS avg_novelty,
       CAST(SUM(n_novel) AS BIGINT) AS total_novel_grams
FROM scored GROUP BY source
"""


EXTRA_QUERIES.update(
    {
        "novelty_scores": (
            q_novelty_scores,
            ORACLE_NOVELTY,
            "ext:curation n-gram novelty",
        ),
    }
)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs (functions/dedup.py:
    containment_pairs): catches short-doc-quoted-in-long-doc
    duplication that Jaccard's union denominator hides."""
    docs = _t(spark, sf_dir, "documents")
    return DD.containment_pairs(docs, n=3, threshold=0.8)


ORACLE_CONTAINMENT = """
WITH toks AS (
  SELECT doc_id AS id, regexp_extract_all(LOWER(text), '[a-z0-9]+') AS tok
  FROM documents
),
sh AS (
  SELECT id, g AS sh FROM (
    SELECT id, unnest(list_distinct(list_transform(
        range(1, GREATEST(LENGTH(tok) - 2, 0) + 1),
        i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2])))) AS g
    FROM toks
    WHERE LENGTH(tok) >= 3
  )
),
sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(n_common AS DOUBLE) / sa.n_sh, 6) AS containment_a,
       ROUND(CAST(n_common AS DOUBLE) / sb.n_sh, 6) AS containment_b,
       ROUND(CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh), 6) AS containment
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= 0.8
"""


EXTRA_QUERIES.update(
    {
        "containment_pairs": (
            q_containment_pairs,
            ORACLE_CONTAINMENT,
            "ext:dedup asymmetric containment",
        ),
    }
)


_WINNOW_W = 4


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint extraction (functions/dedup.
    winnow_fingerprints — Schleimer et al. 2003): per document, the
    distinct minima of every 4-window of 25-gram hashes, aggregated to
    (count, xor-checksum) per doc. The deterministic content-defined
    selection with the hard guarantee (any shared substring >= k+w-1
    shares a fingerprint); the xor checksum pins the exact fingerprint
    SET cross-engine without shipping every hash through the compare."""
    docs = _t(spark, sf_dir, "documents")
    fp = DD.winnow_fingerprints(
        docs, "doc_id", "text", k=_SPAN_K, w=_WINNOW_W
    )
    return fp.groupBy("doc_id").agg(
        F.count("*").alias("n_fp"),
        F.bit_xor("fp").alias("fp_xor"),
    )


ORACLE_WINNOW = f"""
WITH grams AS (
  SELECT doc_id, length(text) AS len, i AS pos,
         CAST(concat('0x', substr(md5(substr(text, i, {_SPAN_K})), 18, 15)) AS BIGINT) AS gh
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text) - {_SPAN_K - 1})) AS i)
  WHERE length(text) >= {_SPAN_K}
), sel AS (
  SELECT doc_id, len, pos,
         MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, fp FROM sel
  WHERE pos <= (len - {_SPAN_K - 1}) - {_WINNOW_W - 1}
)
SELECT doc_id, COUNT(*) AS n_fp, bit_xor(fp) AS fp_xor
FROM fps GROUP BY doc_id
"""


EXTRA_QUERIES.update(
    {
        "winnow_fingerprints": (
            q_winnow_fingerprints,
            ORACLE_WINNOW,
            "ext:winnowing fingerprint selection (MOSS)",
        ),
    }
)


def q_dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test split: documents are split by the
    md5 hash of their NEAR-DUP COMPONENT id (functions/dedup
    connected_components over exact-Jaccard pairs), not their own id —
    a plain per-doc hash split leaks near-duplicates across the
    train/test boundary (the classic contamination failure the
    decontamination gate can't see because the 'test set' here is our
    own holdout). Every member of a component lands in one split by
    construction; the query PROVES it by counting cross-split
    near-dup pairs (must be 0) alongside per-split sizes. Composition
    of three oracle-checked operators (jaccard pairs → components →
    portable hash split), value-checked end-to-end."""
    from yelp_etl_spark.functions.checkpoint import truncate_lineage
    from yelp_etl_spark.functions.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    # the near-dup pair set feeds BOTH the component build and the
    # cross-split leak join — truncate it once (pair-sized, tiny
    # relative to the corpus) so the shingle+Jaccard pipeline runs a
    # single time (r15 optimization round)
    pairs = truncate_lineage(
        DD.ngram_jaccard_pairs(docs, n=3, threshold=0.2).select(
            "id_a", "id_b"
        ),
        eager=False,
    )
    comp = connected_components(pairs)
    assigned = (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
        .withColumn(
            "__m",
            F.conv(
                F.substring(
                    F.md5(F.col("component").cast("string")), 18, 15
                ),
                16,
                10,
            ).cast("long")
            % 10,
        )
        .withColumn(
            "split",
            F.when(F.col("__m") < 8, "train")
            .when(F.col("__m") == 8, "val")
            .otherwise("test"),
        )
    )
    a = assigned.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    b = assigned.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    leak = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("sa") != F.col("sb"), 1)), F.lit(0)
            )
            .cast("long")
            .alias("leaked_pairs")
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("component").alias("n_components"),
        )
        .crossJoin(F.broadcast(leak))
    )

ORACLE_DEDUP_AWARE_SPLIT = (
    "WITH RECURSIVE " + _pos_ctes(0.2) + """,
pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM pos
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp0 AS MATERIALIZED (
  SELECT a AS id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
),
allc AS MATERIALIZED (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp0 c ON d.doc_id = c.id
),
splits AS MATERIALIZED (
  SELECT doc_id, component,
         CASE WHEN m < 8 THEN 'train' WHEN m = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, component,
           CAST(concat('0x', substr(md5(CAST(component AS VARCHAR)), 18, 15))
                AS BIGINT) % 10 AS m
    FROM allc
  )
),
leak AS MATERIALIZED (
  SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split THEN 1 END), 0)
              AS BIGINT) AS leaked_pairs
  FROM pairs p
  JOIN splits sa ON p.id_a = sa.doc_id
  JOIN splits sb ON p.id_b = sb.doc_id
)
SELECT split, COUNT(*) AS n_docs,
       COUNT(DISTINCT component) AS n_components, leaked_pairs
FROM splits, leak
GROUP BY split, leaked_pairs
"""
)


EXTRA_QUERIES.update(
    {
        "dedup_aware_split": (
            q_dedup_aware_split,
            ORACLE_DEDUP_AWARE_SPLIT,
            "ext:near-dup-component train/val/test split + leakage proof",
        ),
    }
)


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI bigram collocations (functions/text.pmi_collocations) over
    the documents table: top 25 adjacent-pair collocations with ≥5
    occurrences, PMI-ranked with the (a, b) pair as the total-order
    tiebreak. Position-specific marginals make the oracle an exact
    count-for-count rebuild; PMI's expression tree (double mul, div,
    ln) is pinned identically on both sides before the 6-decimal
    round."""
    from yelp_etl_spark.functions.text import pmi_collocations

    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(
        docs, id_column="doc_id", text_column="text", min_count=5, top_k=25
    )


ORACLE_PMI_COLLOCATIONS = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, u.tok,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY u.pos) AS pos
  FROM (
    SELECT doc_id,
           unnest(string_split(LOWER(text), ' ')) AS tok,
           generate_subscripts(string_split(LOWER(text), ' '), 1) AS pos
    FROM documents
  ) u
  WHERE u.tok <> ''
),
bigrams AS MATERIALIZED (
  SELECT t1.tok AS a, t2.tok AS b
  FROM toks t1
  JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
),
pair AS MATERIALIZED (
  SELECT a, b, COUNT(*) AS n_ab FROM bigrams GROUP BY a, b
),
lft AS MATERIALIZED (SELECT a, COUNT(*) AS n_a FROM bigrams GROUP BY a),
rgt AS MATERIALIZED (SELECT b, COUNT(*) AS n_b FROM bigrams GROUP BY b),
tot AS MATERIALIZED (SELECT COUNT(*) AS n_total FROM bigrams)
SELECT p.a, p.b, p.n_ab,
       ROUND(LN((CAST(p.n_ab AS DOUBLE) * t.n_total)
                / (CAST(l.n_a AS DOUBLE) * r.n_b)), 6) AS pmi
FROM pair p
JOIN lft l USING (a)
JOIN rgt r USING (b)
CROSS JOIN tot t
WHERE p.n_ab >= 5
ORDER BY pmi DESC, p.a, p.b
LIMIT 25
"""


EXTRA_QUERIES.update(
    {
        "pmi_collocations": (
            q_pmi_collocations,
            ORACLE_PMI_COLLOCATIONS,
            "ext:PMI bigram collocations (phrase mining)",
        ),
    }
)


def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² feature selection (functions/classify.chi2_terms) on the
    documents table: the 20 (term, lang) cells most dependent on the
    label, exact presence counts, the χ² value one pinned double
    expression tree. (tok, label) is the total-order tiebreak."""
    from yelp_etl_spark.functions.classify import chi2_terms

    return chi2_terms(_t(spark, sf_dir, "documents"), top_k=20)


ORACLE_CHI2_TERMS = """
WITH presence AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, u.tok, d.lang AS label
  FROM documents d,
       LATERAL unnest(string_split(LOWER(d.text), ' ')) AS u(tok)
  WHERE u.tok <> ''
),
a_tbl AS MATERIALIZED (
  SELECT tok, label, CAST(COUNT(*) AS BIGINT) AS a
  FROM presence GROUP BY tok, label
),
dft AS MATERIALIZED (
  SELECT tok, CAST(SUM(a) AS BIGINT) AS df_t FROM a_tbl GROUP BY tok
),
ncs AS MATERIALIZED (
  SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS n_c
  FROM documents GROUP BY lang
),
ntot AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
grid AS MATERIALIZED (
  SELECT d.tok, c.label,
         CAST(COALESCE(a.a, 0) AS BIGINT) AS a, d.df_t, c.n_c, t.n
  FROM dft d
  CROSS JOIN ncs c
  LEFT JOIN a_tbl a ON a.tok = d.tok AND a.label = c.label
  CROSS JOIN ntot t
)
SELECT tok, label, a AS n_docs_in_class,
       CASE WHEN df_t = n OR n_c = n THEN 0.0 ELSE
       ROUND(
         (CAST(n AS DOUBLE)
          * (CAST(a AS DOUBLE) * CAST(n - df_t - n_c + a AS DOUBLE)
             - CAST(df_t - a AS DOUBLE) * CAST(n_c - a AS DOUBLE))
          * (CAST(a AS DOUBLE) * CAST(n - df_t - n_c + a AS DOUBLE)
             - CAST(df_t - a AS DOUBLE) * CAST(n_c - a AS DOUBLE)))
         / ((CAST(a AS DOUBLE) + CAST(df_t - a AS DOUBLE))
            * (CAST(n_c - a AS DOUBLE) + CAST(n - df_t - n_c + a AS DOUBLE))
            * (CAST(a AS DOUBLE) + CAST(n_c - a AS DOUBLE))
            * (CAST(df_t - a AS DOUBLE) + CAST(n - df_t - n_c + a AS DOUBLE))),
         4) END AS chi2
FROM grid
ORDER BY chi2 DESC, tok, label
LIMIT 20
"""


EXTRA_QUERIES.update(
    {
        "chi2_terms": (
            q_chi2_terms,
            ORACLE_CHI2_TERMS,
            "ext:chi-squared term-class feature selection",
        ),
    }
)


def q_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality scoring (functions/text.
    bigram_nll) over the documents table: per-document average NLL in
    micro-nat-exact arithmetic. Second-order twin of unigram_nll."""
    from yelp_etl_spark.functions.text import bigram_nll

    return bigram_nll(_t(spark, sf_dir, "documents"))


ORACLE_BIGRAM_NLL = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, u.tok,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY u.pos) AS pos
  FROM (
    SELECT doc_id,
           unnest(string_split(LOWER(text), ' ')) AS tok,
           generate_subscripts(string_split(LOWER(text), ' '), 1) AS pos
    FROM documents
  ) u
  WHERE u.tok <> ''
),
bigrams AS MATERIALIZED (
  SELECT t1.doc_id, t1.tok AS a, t2.tok AS b
  FROM toks t1
  JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
),
pair AS MATERIALIZED (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM bigrams GROUP BY a, b
),
lft AS MATERIALIZED (
  SELECT a, CAST(SUM(cab) AS BIGINT) AS ca FROM pair GROUP BY a
),
uni AS MATERIALIZED (
  SELECT b, CAST(SUM(cab) AS BIGINT) AS cb FROM pair GROUP BY b
),
tot AS MATERIALIZED (SELECT CAST(SUM(cab) AS BIGINT) AS t FROM pair),
vsz AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
scored AS MATERIALIZED (
  SELECT g.doc_id,
         CAST(-ROUND(LN(0.75 * (CAST(p.cab AS DOUBLE) / l.ca)
                        + 0.25 * (CAST(u.cb + 1 AS DOUBLE) / (t.t + v.v)))
                     * 1000000) AS BIGINT) AS nll_q
  FROM bigrams g
  JOIN pair p ON p.a = g.a AND p.b = g.b
  JOIN lft l ON l.a = g.a
  JOIN uni u ON u.b = g.b
  CROSS JOIN tot t
  CROSS JOIN vsz v
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(CAST(CAST(SUM(nll_q) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS avg_nll
FROM scored
GROUP BY doc_id
"""


EXTRA_QUERIES.update(
    {
        "bigram_nll": (
            q_bigram_nll,
            ORACLE_BIGRAM_NLL,
            "ext:interpolated bigram-LM perplexity scoring",
        ),
    }
)


_RRF_TERMS = ("merge", "window", "query")  # same query as bm25_search


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-50 for the 3-term query
    fused with the dense cosine top-50 for the vec_id-0 embedding by
    reciprocal-rank fusion (functions/similarity.rrf_fuse, k=60). The
    fused score is a fixed 2-term expression tree over integer ranks,
    so the oracle rebuilds it exactly. Output: fused top-10 with both
    component ranks (NULL where a list missed the doc)."""
    from pyspark.sql import Window

    from yelp_etl_spark.functions import similarity as S
    from yelp_etl_spark.functions.text import bm25_rank
    from yelp_etl_spark.plans.catalog import _BM25_TERMS

    # enforced, not just asserted in a comment: the lexical leg IS the
    # bm25_search query (lazy import — catalog imports this module last)
    assert tuple(_BM25_TERMS) == _RRF_TERMS, "hybrid leg diverged from bm25_search"
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lexical = (
        bm25_rank(docs, list(_RRF_TERMS), top_k=50)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "rank")
    )
    dense = (
        S.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=50)
        .select(F.col("neighbor_id").alias("doc_id"), "rank")
    )
    return S.rrf_fuse([lexical, dense], id_column="doc_id", k=60, top_k=10)


ORACLE_HYBRID_RRF = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), doclen AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM doclen
), tf AS MATERIALIZED (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ('merge', 'window', 'query')
  GROUP BY doc_id, tok
), idf AS MATERIALIZED (
  SELECT tok,
         LN(((SELECT n_docs FROM stats) - COUNT(*) + 0.5)
            / (COUNT(*) + 0.5) + 1.0) AS idf
  FROM tf GROUP BY tok
), lexical AS MATERIALIZED (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT)
           AS rank_0
  FROM (
    SELECT doc_id,
           ROUND(SUM(idf * (tf * (1.2 + 1))
                     / (tf + 1.2 * (1 - 0.75
                                    + 0.75 * dl / (SELECT avgdl FROM stats)))),
                 4) AS bm25
    FROM tf JOIN idf USING (tok) JOIN doclen USING (doc_id)
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 50
  )
), v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), dense AS MATERIALIZED (
  SELECT neighbor_id AS doc_id, CAST(rank AS BIGINT) AS rank_1
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC,
                                              neighbor_id ASC) AS rank
        FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {COS} AS cosine_sim
              FROM v q JOIN v c ON c.vec_id <> q.vec_id
              WHERE q.vec_id = 0))
  WHERE rank <= 50
)
SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
       ROUND(COALESCE(1.0 / (60 + l.rank_0), 0.0)
             + COALESCE(1.0 / (60 + d.rank_1), 0.0), 6) AS rrf,
       l.rank_0, d.rank_1
FROM lexical l
FULL OUTER JOIN dense d ON d.doc_id = l.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT 10
"""


def _hybrid_rrf_oracle() -> str:
    from yelp_etl_spark.functions.similarity import cosine_sim_sql

    return ORACLE_HYBRID_RRF.replace("{COS}", cosine_sim_sql("q", "c"))


EXTRA_QUERIES.update(
    {
        "hybrid_search_rrf": (
            q_hybrid_search_rrf,
            _hybrid_rrf_oracle(),
            "ext:hybrid lexical+dense retrieval via reciprocal-rank fusion",
        ),
    }
)


# --------------------------------------------------------------------------
# Zipf's-law fit over the corpus frequency spectrum
# --------------------------------------------------------------------------


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf fit of the token frequency spectrum: OLS slope of
    ln(freq) on ln(rank) over the top-1000 terms — the standard
    corpus-health diagnostic (natural text ≈ −1; boilerplate or
    synthetic spam bends the tail). The top-k is a distributed
    sort-limit (never a global rank window over the vocabulary); the
    rank/log quantization is milli-nat integers so all five OLS sums
    are exact BIGINT (n·Σxy and Σx·Σy stay < 2⁵³ by construction at
    k=1000) and the slope is ONE final division. The closed form is
    computed manually — the engines' regr_slope implementations use
    different accumulation algorithms and are not bit-portable."""
    from yelp_etl_spark.functions.text import portable_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = portable_tokens(docs, "doc_id", "text").filter(F.col("tok") != "")
    freqs = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    top = (
        freqs.orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(1000)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("cnt"), F.asc("tok"))
            ),
        )
    )
    q = lambda c: F.round(F.log(c) * F.lit(1000.0)).cast("long")  # noqa: E731
    pts = top.select(q(F.col("rank")).alias("x"), q(F.col("cnt")).alias("y"))
    sums = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


ORACLE_ZIPF_SLOPE = """
WITH freqs AS MATERIALIZED (
  SELECT tok, COUNT(*) AS cnt FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
  ) WHERE tok <> '' GROUP BY tok
),
top AS MATERIALIZED (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rank
  FROM freqs ORDER BY cnt DESC, tok ASC LIMIT 1000
),
pts AS (
  SELECT CAST(ROUND(LN(rank) * 1000) AS BIGINT) AS x,
         CAST(ROUND(LN(cnt) * 1000) AS BIGINT) AS y
  FROM top
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts
)
SELECT n AS n_terms,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
FROM s
"""


EXTRA_QUERIES.update(
    {
        "zipf_slope": (
            q_zipf_slope,
            ORACLE_ZIPF_SLOPE,
            "ext:Zipf OLS fit (exact BIGINT moments, manual closed form)",
        ),
    }
)


# --------------------------------------------------------------------------
# Mutual-information feature selection (functions/classify.py)
# --------------------------------------------------------------------------


def q_mi_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 terms by mutual information with the document language
    (classify.mutual_info_terms) — the information-theoretic sibling
    of chi2_terms, counting BOTH presence and absence cells. Exact
    BIGINT counts, micro-nat cell quantization before the Σ, one
    final /N."""
    from yelp_etl_spark.functions.classify import mutual_info_terms

    docs = _t(spark, sf_dir, "documents")
    return mutual_info_terms(docs, "lang", "text", "doc_id", top_k=20)


ORACLE_MI_TERMS = """
WITH toks AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
pres AS MATERIALIZED (
  SELECT t.tok, d.lang AS label
  FROM toks t JOIN documents d USING (doc_id)
),
a_tbl AS MATERIALIZED (
  SELECT tok, label, CAST(COUNT(*) AS BIGINT) AS a FROM pres GROUP BY 1, 2
),
dft AS MATERIALIZED (
  SELECT tok, CAST(SUM(a) AS BIGINT) AS df_t FROM a_tbl GROUP BY 1
),
ncls AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS n_c
         FROM documents GROUP BY 1),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
grid AS MATERIALIZED (
  SELECT d.tok, COALESCE(a.a, 0) AS a, d.df_t, c.n_c, nt.n
  FROM dft d
  CROSS JOIN ncls c
  LEFT JOIN a_tbl a ON a.tok = d.tok AND a.label = c.label
  CROSS JOIN nt
),
terms AS MATERIALIZED (
  SELECT tok, df_t, n,
         (CASE WHEN a > 0
               THEN a * CAST(ROUND(LN(CAST(n AS DOUBLE) * a
                                      / (df_t * n_c)) * 1000000) AS BIGINT)
               ELSE 0 END
        + CASE WHEN n_c - a > 0
               THEN (n_c - a)
                    * CAST(ROUND(LN(CAST(n AS DOUBLE) * (n_c - a)
                                    / ((n - df_t) * n_c)) * 1000000)
                           AS BIGINT)
               ELSE 0 END) AS contrib
  FROM grid
)
SELECT tok, CAST(MIN(df_t) AS BIGINT) AS df_t,
       CAST(ROUND(SUM(contrib) / MIN(n)) AS BIGINT) AS mi_micro
FROM terms GROUP BY tok
ORDER BY mi_micro DESC, tok LIMIT 20
"""


EXTRA_QUERIES.update(
    {
        "mi_terms": (
            q_mi_terms,
            ORACLE_MI_TERMS,
            "ext:mutual-information feature selection (presence+absence cells)",
        ),
    }
)


# --------------------------------------------------------------------------
# Positional phrase search, trigram-index substring search, CUSUM
# --------------------------------------------------------------------------

_PHRASE = ("join", "column")


def q_phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search through a POSITIONAL posting intersection:
    token occurrences keep their array position, the phrase's terms
    self-join on (doc, pos+1 = pos) — the positional-inverted-index
    plan every search engine runs for quoted queries, vs
    keyword_search's bag-of-words conjunction. Per-language doc and
    occurrence counts. One keyed join on (doc_id, pos) — never a
    LIKE scan over the corpus."""
    from yelp_etl_spark.functions.text import portable_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = portable_tokens(docs, "doc_id", "text", with_position=True)
    t1 = toks.filter(F.col("tok") == _PHRASE[0]).select(
        "doc_id", F.col("pos").alias("p1")
    )
    t2 = toks.filter(F.col("tok") == _PHRASE[1]).select(
        "doc_id", F.col("pos").alias("p2")
    )
    occ = t1.join(
        t2, (t1["doc_id"] == t2["doc_id"]) & (F.col("p1") + 1 == F.col("p2"))
    ).select(t1["doc_id"])
    per_doc = occ.groupBy("doc_id").agg(F.count("*").alias("n_occ"))
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_occ").cast("long").alias("n_occurrences"),
        )
        .orderBy("lang")
    )


ORACLE_PHRASE_SEARCH = f"""
WITH t AS MATERIALIZED (
  SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents
),
occ AS MATERIALIZED (
  -- correlated unnest: positions derive from each row's own token
  -- count, so no document length can outrun a fixed bound (r6 ADVICE)
  SELECT doc_id, COUNT(*) AS n_occ
  FROM (SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i FROM t)
  WHERE i < len(a) AND a[i] = '{_PHRASE[0]}' AND a[i + 1] = '{_PHRASE[1]}'
  GROUP BY doc_id
)
SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(o.n_occ) AS BIGINT) AS n_occurrences
FROM occ o JOIN documents d USING (doc_id)
GROUP BY d.lang ORDER BY d.lang
"""


_TRGM_PATTERN = "fast key"


def q_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search through a trigram index (the pg_trgm plan):
    candidate docs must contain EVERY trigram of the pattern
    (character-level shingles, derived inline here — pre-materialized
    as an inverted index at scale), then the candidates alone are
    verified with the exact contains(). The final rows provably equal
    a full LIKE scan (the verify step guarantees no false positives;
    trigram containment guarantees no false negatives), but only the
    candidate set ever pays string matching — the point at 100 TB.
    Output includes the candidate count so the pruning is visible."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.lower(F.col("text")).alias("t")
    )
    n = len(_TRGM_PATTERN)
    pat_trgms = sorted({_TRGM_PATTERN[i : i + 3] for i in range(n - 2)})
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("t") - 2),
                    lambda i: F.col("t").substr(i, F.lit(3)),
                )
            )
        ).alias("g"),
    )
    from yelp_etl_spark.functions.checkpoint import truncate_lineage

    # cands feeds BOTH the candidate count and the verify join:
    # materialize once or the corpus-wide trigram explode runs twice
    cands = truncate_lineage(
        grams.filter(F.col("g").isin(pat_trgms))
        .groupBy("doc_id")
        .agg(F.count("*").alias("hits"))
        .filter(F.col("hits") == len(pat_trgms)),
        eager=True,
    )
    n_cand = cands.agg(F.count("*").cast("long").alias("n_candidates"))
    verified = cands.join(docs, "doc_id").filter(
        F.col("t").contains(_TRGM_PATTERN)
    )
    return (
        verified.groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(n_cand))
        .orderBy("lang")
    )


def _trgm_oracle(pattern: str) -> str:
    trgms = sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})
    lits = ", ".join(f"'{g}'" for g in trgms)
    return f"""
WITH t AS MATERIALIZED (
  SELECT doc_id, lang, lower(text) AS t FROM documents
),
grams AS MATERIALIZED (
  -- correlated unnest: per-row position grid, unbounded (r6 ADVICE)
  SELECT DISTINCT doc_id, substr(t, i, 3) AS g
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, length(t) - 2)) AS i
        FROM t)
),
cands AS MATERIALIZED (
  SELECT doc_id FROM grams WHERE g IN ({lits})
  GROUP BY doc_id HAVING COUNT(*) = {len(trgms)}
),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cands)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, nc.n_candidates
FROM cands JOIN t USING (doc_id), nc
WHERE t.t LIKE '%{pattern}%'
GROUP BY lang, nc.n_candidates ORDER BY lang
"""


ORACLE_TRIGRAM_SEARCH = _trgm_oracle(_TRGM_PATTERN)


def q_cusum_top_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection on daily revenue: S_t =
    prefix(x−k)_t − min_{u≤t} prefix(x−k)_u with drift k = the global
    floor-mean — the classical upward-shift detector, expressed as TWO
    running windows over the calendar-bounded distinct-date table
    (the recursive max(0, S+x−k) form un-rolls to exactly this prefix
    identity). Everything integer cents; output is the top-10 alarm
    days by S."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("v")
    )
    base = daily.select(
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("days"),
        "v",
    )
    k = base.agg(
        F.floor(F.sum("v") / F.count("*")).cast("long").alias("k")
    )
    w = Window.orderBy("days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = (
        base.crossJoin(F.broadcast(k))
        .withColumn("prefix", F.sum(F.col("v") - F.col("k")).over(w))
        # the running min must include the EMPTY prefix (0): without
        # the zero anchor, every day before the prefix first dips
        # negative under-reports S by min(prefix) — the recursion
        # max(0, S + x - k) starts at S_0 = 0, not at prefix_1
        .withColumn(
            "s",
            F.col("prefix")
            - F.least(F.lit(0).cast("long"), F.min("prefix").over(w)),
        )
    )
    return (
        stepped.select("days", F.col("s").cast("long").alias("cusum_cents"))
        .orderBy(F.desc("cusum_cents"), F.asc("days"))
        .limit(10)
    )


ORACLE_CUSUM = """
WITH daily AS MATERIALIZED (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1
),
base AS MATERIALIZED (
  SELECT DATE_DIFF('day', DATE '1970-01-01', d) AS days, v FROM daily
),
kk AS (SELECT CAST(FLOOR(SUM(v) / COUNT(*)) AS BIGINT) AS k FROM base),
pre AS MATERIALIZED (
  SELECT days,
         SUM(v - k) OVER (ORDER BY days ROWS UNBOUNDED PRECEDING) AS prefix
  FROM base, kk
),
stepped AS (
  SELECT days,
         prefix - LEAST(CAST(0 AS BIGINT),
                        MIN(prefix) OVER (ORDER BY days
                                          ROWS UNBOUNDED PRECEDING)) AS s
  FROM pre
)
SELECT days, CAST(s AS BIGINT) AS cusum_cents
FROM stepped ORDER BY s DESC, days ASC LIMIT 10
"""


EXTRA_QUERIES.update(
    {
        "phrase_search_positional": (
            q_phrase_search_positional,
            ORACLE_PHRASE_SEARCH,
            "ext:positional phrase search (pos+1 posting intersection)",
        ),
        "trigram_search": (
            q_trigram_search,
            ORACLE_TRIGRAM_SEARCH,
            "ext:trigram-index substring search (pg_trgm plan, verified)",
        ),
        "cusum_top_days": (
            q_cusum_top_days,
            ORACLE_CUSUM,
            "ext:CUSUM change detection (prefix-min identity, integer cents)",
        ),
    }
)


def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the document
    corpus — the phrase-level complement of tfidf_top_terms (unigrams)
    and pmi_collocations (bigram association): candidate phrases are
    maximal stopword-free word runs (stopword boundaries become
    delimiters via a \\b word-boundary regex — RE2 and Java agree on
    ASCII \\b), each word scores deg/freq where deg sums the lengths
    of every phrase occurrence containing it, and a phrase scores the
    sum of its words' ratios (with multiplicity). Ratios quantize to
    micro-units (integer div — both engines floor identically on the
    nonnegative domain) BEFORE the phrase sum, so the ranking is exact
    integer end to end. Scale: two explode→keyed-agg passes (phrase
    table, word table) + one words→ratios join — the flat
    post-generate projections that fuse into codegen (the
    duplicate_spans lesson: never score inside array lambdas). Top 12
    by (score, phrase) total order."""
    docs = _t(spark, sf_dir, "documents")
    phrases = (
        docs.select(
            F.explode(
                F.split(
                    F.regexp_replace(F.col("text"), r"\b(the|a)\b", "|"),
                    r"\|",
                )
            ).alias("raw")
        )
        .select(F.trim(F.col("raw")).alias("phrase"))
        .filter(F.col("phrase") != "")
        .select("phrase", F.split("phrase", " ").alias("words"))
        .filter(F.size("words") >= 2)
    )
    occ = phrases.select(
        "phrase", F.size("words").alias("plen"), F.explode("words").alias("w")
    )
    ratios = occ.groupBy("w").agg(
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * SUM(plen)) div COUNT(*)"
            " AS BIGINT)"
        ).alias("ratio_micro")
    )
    scored = (
        occ.join(ratios, "w")
        .groupBy("phrase", "plen")
        .agg(F.sum("ratio_micro").alias("sum_all"), F.count("*").alias("n_words"))
        # every occurrence of the same phrase text contributes an
        # identical word-ratio sum: normalize back to one occurrence
        .select(
            "phrase",
            F.col("plen").cast("long").alias("n_words"),
            F.expr("n_words div plen").cast("long").alias("occurrences"),
            F.expr("CAST(sum_all div (n_words div plen) AS BIGINT)")
            .alias("score_micro"),
        )
    )
    return scored.orderBy(F.desc("score_micro"), "phrase").limit(12)


ORACLE_RAKE_KEYPHRASES = """
WITH phr AS MATERIALIZED (
  SELECT trim(p) AS phrase,
         string_split(trim(p), ' ') AS words
  FROM (
    SELECT unnest(string_split(
             regexp_replace(text, '\\b(the|a)\\b', '|', 'g'), '|')) AS p
    FROM documents
  )
  WHERE trim(p) != '' AND len(string_split(trim(p), ' ')) >= 2
),
occ AS MATERIALIZED (
  SELECT phrase, len(words) AS plen, unnest(words) AS w FROM phr
),
ratios AS MATERIALIZED (
  SELECT w,
         CAST((CAST(1000000 AS HUGEINT) * SUM(plen)) // COUNT(*) AS BIGINT)
           AS ratio_micro
  FROM occ GROUP BY w
),
scored AS (
  SELECT o.phrase,
         CAST(o.plen AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) // o.plen AS occurrences,
         CAST(SUM(r.ratio_micro) // (COUNT(*) // o.plen) AS BIGINT)
           AS score_micro
  FROM occ o JOIN ratios r USING (w)
  GROUP BY o.phrase, o.plen
)
SELECT phrase, n_words, occurrences, score_micro
FROM scored ORDER BY score_micro DESC, phrase LIMIT 12
"""


EXTRA_QUERIES.update(
    {
        "rake_keyphrases": (
            q_rake_keyphrases,
            ORACLE_RAKE_KEYPHRASES,
            "ext:RAKE keyphrase extraction (integer deg/freq ratios)",
        ),
    }
)


# --------------------------------------------------------------------------
# Round-9 late additions: training-data curation text pack II
# --------------------------------------------------------------------------


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading-ease scoring rolled up by language —
    the classic text-quality gate beside length_quality_gate (lengths)
    and quality_score (ratio heuristics). Words come from the
    literal-space portable tokenization, syllables from vowel-group
    runs ([aeiouy]+ — the standard regex estimator), sentences from
    terminal-punctuation runs clamped to ≥1. Flesch = 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words) is computed per
    doc in double and immediately quantized to micro-units (one
    IEEE-deterministic expression per row — the qlog rationale), so
    every aggregate downstream is exact BIGINT math. Scale: pure
    per-row projection + one map-side-combinable rollup; no token
    explode at all (regexp_count over the row)."""
    docs = _t(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    words = F.size(
        F.filter(F.split(lower, " "), lambda x: x != F.lit(""))
    ).cast("long")
    syll = F.regexp_count(lower, F.lit("[aeiouy]+")).cast("long")
    sents = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(F.col("text"), F.lit("[.!?]+")).cast("long"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents)
        - F.lit(84.6) * (syll.cast("double") / words)
    )
    scored = docs.filter(F.length("text") > 0).select(
        "lang",
        words.alias("w"),
        syll.alias("s"),
        F.round(flesch * F.lit(1_000_000.0)).cast("long").alias("f_micro"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("total_words"),
            F.sum("s").cast("long").alias("total_syllables"),
            F.sum("f_micro").cast("long").alias("sum_flesch_micro"),
            F.min("f_micro").cast("long").alias("min_flesch_micro"),
            F.max("f_micro").cast("long").alias("max_flesch_micro"),
        )
        .select(
            "lang",
            "n_docs",
            "total_words",
            "total_syllables",
            F.expr("CAST(sum_flesch_micro DIV n_docs AS LONG)").alias(
                "avg_flesch_micro"
            ),
            "min_flesch_micro",
            "max_flesch_micro",
        )
        .orderBy("lang")
    )


ORACLE_READABILITY_SCORES = """
WITH scored AS MATERIALIZED (
  SELECT lang,
         CAST(len(list_filter(string_split(lower(text), ' '),
                              x -> x != '')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS BIGINT) AS s,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
           AS sents
  FROM documents WHERE length(text) > 0
),
q AS (
  SELECT lang, w, s,
         CAST(ROUND((206.835
                     - 1.015 * (CAST(w AS DOUBLE) / sents)
                     - 84.6 * (CAST(s AS DOUBLE) / w))
                    * 1000000) AS BIGINT) AS f_micro
  FROM scored
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS total_words,
       CAST(SUM(s) AS BIGINT) AS total_syllables,
       CAST(CAST(SUM(f_micro) AS BIGINT) // COUNT(*) AS BIGINT)
         AS avg_flesch_micro,
       CAST(MIN(f_micro) AS BIGINT) AS min_flesch_micro,
       CAST(MAX(f_micro) AS BIGINT) AS max_flesch_micro
FROM q GROUP BY lang ORDER BY lang
"""


# The entity dictionary for gazetteer tagging: term → type. A literal
# model frame (broadcast side), the operational shape of dictionary
# NER over a crawl: the dictionary is ~10⁵ rows in production, always
# the small side of the join.
_GAZETTEER: tuple[tuple[str, str], ...] = (
    ("spark", "ENGINE"),
    ("flink", "ENGINE"),
    ("trino", "ENGINE"),
    ("join", "OPERATOR"),
    ("filter", "OPERATOR"),
    ("scan", "OPERATOR"),
    ("merge", "OPERATOR"),
    ("sort", "OPERATOR"),
    ("window", "OPERATOR"),
    ("customer", "TABLE"),
    ("orders", "TABLE"),
    ("lineitem", "TABLE"),
)


def q_gazetteer_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary (gazetteer) entity tagging over the corpus: literal-
    space tokens hash-join a broadcast term→type dictionary; per entity
    type the rollup reports mention count, distinct matched terms, and
    document reach. The dictionary side is a literal model frame — at
    production scale it stays ≤10⁵ rows and broadcasts, so the only
    data-sized cost is the token explode (linear) and one keyed
    aggregate; no shuffle ever carries the corpus against itself.
    Complements keyword_search (single posting list) and rake
    keyphrases (unsupervised) with the supervised-dictionary pass."""
    from yelp_etl_spark.functions.text import portable_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = portable_tokens(docs, "doc_id", "text")
    gaz = F.broadcast(
        spark.createDataFrame(list(_GAZETTEER), ["term", "etype"])
    )
    hits = toks.join(gaz, toks["tok"] == gaz["term"])
    return (
        hits.groupBy("etype")
        .agg(
            F.count("*").cast("long").alias("n_mentions"),
            F.countDistinct("term").cast("long").alias("n_terms"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy("etype")
    )


def _gazetteer_values_sql() -> str:
    rows = ", ".join(f"('{t}', '{e}')" for t, e in _GAZETTEER)
    return f"(VALUES {rows}) AS gaz(term, etype)"


ORACLE_GAZETTEER_ENTITY_MATCH = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
)
SELECT etype,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM toks JOIN {_gazetteer_values_sql()} ON toks.tok = gaz.term
GROUP BY etype ORDER BY etype
"""


def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling" — public arXiv 2302.03169): score every document by how
    much more likely its tokens are under a TARGET unigram LM (here the
    'en' slice) than under the SOURCE LM (everything else), then count
    the target-like picks per language. Laplace-smoothed per-token
    log-ratios are quantized ONCE PER VOCAB TYPE to micro-nats (the
    qlog discipline — quantization sites scale with vocabulary, not
    corpus), so each document's weight is an exact BIGINT sum of its
    tokens' integer weights. Scale: token explode (linear) + one
    shuffle joining tokens to the vocab weight table on tok; corpus
    totals ride a broadcast 1-row frame; no unpartitioned windows."""
    from yelp_etl_spark.functions.text import portable_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = portable_tokens(docs, "doc_id", "text").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    is_t = F.col("lang") == "en"
    vocab = toks.groupBy("tok").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("ct"),
        F.sum(F.when(~is_t, 1).otherwise(0)).cast("long").alias("cs"),
    )
    totals = vocab.agg(
        F.sum("ct").cast("long").alias("nt"),
        F.sum("cs").cast("long").alias("ns"),
        F.count("*").cast("long").alias("v"),
    )
    w = vocab.crossJoin(F.broadcast(totals)).select(
        "tok",
        (
            F.round(
                F.log(
                    (F.col("ct") + 1).cast("double")
                    / (F.col("nt") + F.col("v"))
                )
                * F.lit(1_000_000.0)
            ).cast("long")
            - F.round(
                F.log(
                    (F.col("cs") + 1).cast("double")
                    / (F.col("ns") + F.col("v"))
                )
                * F.lit(1_000_000.0)
            ).cast("long")
        ).alias("w_micro"),
    )
    doc_w = (
        toks.join(w, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("w_micro").cast("long").alias("weight_micro"),
            F.count("*").cast("long").alias("n_tokens"),
        )
    )
    return (
        doc_w.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("weight_micro") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_target_like"),
            F.sum("weight_micro").cast("long").alias("sum_weight_micro"),
            F.max("weight_micro").cast("long").alias("max_weight_micro"),
        )
        .select(
            "lang",
            "n_docs",
            "n_target_like",
            F.expr("CAST(sum_weight_micro DIV n_docs AS LONG)").alias(
                "avg_weight_micro"
            ),
            "max_weight_micro",
        )
        .orderBy("lang")
    )


ORACLE_DSIR_IMPORTANCE_WEIGHTS = """
WITH toks AS MATERIALIZED (
  SELECT d.doc_id, d.lang, t.tok
  FROM documents d,
       LATERAL (SELECT unnest(string_split(lower(d.text), ' ')) AS tok) t
  WHERE t.tok != ''
),
vocab AS MATERIALIZED (
  SELECT tok,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN lang != 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cs
  FROM toks GROUP BY tok
),
totals AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt,
         CAST(SUM(cs) AS BIGINT) AS ns,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM vocab
),
w AS MATERIALIZED (
  SELECT tok,
         CAST(ROUND(LN(CAST(ct + 1 AS DOUBLE) / (nt + v)) * 1000000)
              AS BIGINT)
         - CAST(ROUND(LN(CAST(cs + 1 AS DOUBLE) / (ns + v)) * 1000000)
                AS BIGINT) AS w_micro
  FROM vocab, totals
),
doc_w AS (
  SELECT doc_id, lang,
         CAST(SUM(w_micro) AS BIGINT) AS weight_micro
  FROM toks JOIN w USING (tok)
  GROUP BY doc_id, lang
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN weight_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_target_like,
       CAST(CAST(SUM(weight_micro) AS BIGINT) // COUNT(*) AS BIGINT)
         AS avg_weight_micro,
       CAST(MAX(weight_micro) AS BIGINT) AS max_weight_micro
FROM doc_w GROUP BY lang ORDER BY lang
"""


EXTRA_QUERIES.update(
    {
        "readability_scores": (
            q_readability_scores,
            ORACLE_READABILITY_SCORES,
            "ext:Flesch readability quality gate (per-row regex counts,"
            " micro-quantized)",
        ),
        "gazetteer_entity_match": (
            q_gazetteer_entity_match,
            ORACLE_GAZETTEER_ENTITY_MATCH,
            "ext:dictionary (gazetteer) entity tagging via broadcast"
            " term join",
        ),
        "dsir_importance_weights": (
            q_dsir_importance_weights,
            ORACLE_DSIR_IMPORTANCE_WEIGHTS,
            "ext:DSIR importance weights for data selection (per-type"
            " micro-nat log-ratios, exact doc sums)",
        ),
    }
)


def q_url_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the first pass of every web-crawl
    curation pipeline (casing, default ports, tracking params, param
    order, trailing slashes, and fragments all fragment the same
    resource into distinct raw strings). Raw URLs are synthesized
    deterministically from event columns (the container-parse synth
    pattern: messy scheme/host casing, an optional :80, swapped query
    param order, utm_* noise, optional #fragment, optional trailing
    slash), then canonicalized by the same explicit algebra on both
    engines: lowercase scheme+host, strip :80, strip the trailing
    slash, drop utm_* params, sort surviving params, drop the
    fragment. Output: the top-20 canonical URLs by hit count with
    variant counts — the dedup win measured. Scale: pure per-row
    string projection, ONE keyed aggregate, top-k via
    TakeOrderedAndProject; regexes are single-char-class patterns
    identical under Java regex and RE2."""
    ev = _t(spark, sf_dir, "events")
    url = F.concat(
        F.elt(F.col("event_id") % 3 + 1, F.lit("HTTP"), F.lit("http"), F.lit("Http")),
        F.lit("://"),
        F.when(F.col("event_id") % 2 == 0, F.lit("WWW.Shop")).otherwise(
            F.lit("www.shop")
        ),
        (F.col("user_id") % 10).cast("string"),
        F.when(F.col("event_id") % 2 == 0, F.lit(".COM")).otherwise(
            F.lit(".com")
        ),
        F.when(F.col("event_id") % 4 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/item/"),
        (F.col("event_id") % 20).cast("string"),
        F.when(F.col("event_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?"),
        F.when(
            F.col("event_id") % 2 == 0,
            F.concat(
                F.lit("id="),
                (F.col("event_id") % 7).cast("string"),
                F.lit("&ref="),
                (F.col("user_id") % 3).cast("string"),
            ),
        ).otherwise(
            F.concat(
                F.lit("ref="),
                (F.col("user_id") % 3).cast("string"),
                F.lit("&id="),
                (F.col("event_id") % 7).cast("string"),
            ),
        ),
        F.when(F.col("event_id") % 3 == 0, F.lit("&utm_source=mail")).otherwise(
            F.lit("")
        ),
        F.when(F.col("event_id") % 6 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    raw = ev.select(url.alias("raw"))
    scheme = F.lower(F.regexp_extract("raw", r"^([A-Za-z]+)://", 1))
    hostport = F.lower(
        F.regexp_extract("raw", r"^[A-Za-z]+://([^/?#]+)", 1)
    )
    host = F.regexp_replace(hostport, ":80$", "")
    path = F.regexp_extract("raw", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    path_n = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        F.expr("substring(path_raw, 1, length(path_raw) - 1)"),
    ).otherwise(path)
    qstr = F.regexp_extract("raw", r"[?]([^#]*)", 1)
    q_n = F.array_join(
        F.array_sort(
            F.filter(
                F.split(qstr, "&"),
                lambda x: (x != F.lit("")) & (x.substr(1, 4) != F.lit("utm_")),
            )
        ),
        "&",
    )
    parts = raw.select(
        "raw",
        scheme.alias("scheme"),
        host.alias("host"),
        path.alias("path_raw"),
        qstr.alias("q_raw"),
        q_n.alias("q_norm"),
    ).select(
        "raw",
        F.concat(
            F.col("scheme"),
            F.lit("://"),
            F.col("host"),
            path_n,
            F.when(F.col("q_norm") != "", F.concat(F.lit("?"), F.col("q_norm"))).otherwise(
                F.lit("")
            ),
        ).alias("url"),
    )
    return (
        parts.groupBy("url")
        .agg(
            F.count("*").cast("long").alias("n_hits"),
            F.countDistinct("raw").cast("long").alias("n_raw_variants"),
        )
        .orderBy(F.desc("n_hits"), F.desc("n_raw_variants"), "url")
        .limit(20)
    )


ORACLE_URL_NORMALIZE_DEDUP = """
WITH raw AS MATERIALIZED (
  SELECT (CASE event_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'http'
          ELSE 'Http' END)
         || '://'
         || (CASE WHEN event_id % 2 = 0 THEN 'WWW.Shop'
             ELSE 'www.shop' END)
         || CAST(user_id % 10 AS VARCHAR)
         || (CASE WHEN event_id % 2 = 0 THEN '.COM' ELSE '.com' END)
         || (CASE WHEN event_id % 4 = 0 THEN ':80' ELSE '' END)
         || '/item/' || CAST(event_id % 20 AS VARCHAR)
         || (CASE WHEN event_id % 5 = 0 THEN '/' ELSE '' END)
         || '?'
         || (CASE WHEN event_id % 2 = 0
             THEN 'id=' || CAST(event_id % 7 AS VARCHAR)
                  || '&ref=' || CAST(user_id % 3 AS VARCHAR)
             ELSE 'ref=' || CAST(user_id % 3 AS VARCHAR)
                  || '&id=' || CAST(event_id % 7 AS VARCHAR) END)
         || (CASE WHEN event_id % 3 = 0 THEN '&utm_source=mail'
             ELSE '' END)
         || (CASE WHEN event_id % 6 = 0 THEN '#top' ELSE '' END) AS raw
  FROM events
),
parts AS (
  SELECT raw,
         lower(regexp_extract(raw, '^([A-Za-z]+)://', 1)) AS scheme,
         regexp_replace(
           lower(regexp_extract(raw, '^[A-Za-z]+://([^/?#]+)', 1)),
           ':80$', '') AS host,
         regexp_extract(raw, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path_raw,
         array_to_string(
           list_sort(list_filter(
             string_split(regexp_extract(raw, '\\?([^#]*)', 1), '&'),
             x -> x != '' AND substr(x, 1, 4) != 'utm_')),
           '&') AS q_norm
  FROM raw
),
norm AS (
  SELECT raw,
         scheme || '://' || host
         || (CASE WHEN length(path_raw) > 1 AND path_raw LIKE '%/'
             THEN substr(path_raw, 1, length(path_raw) - 1)
             ELSE path_raw END)
         || (CASE WHEN q_norm != '' THEN '?' || q_norm ELSE '' END) AS url
  FROM parts
)
SELECT url, CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_raw_variants
FROM norm GROUP BY url
ORDER BY n_hits DESC, n_raw_variants DESC, url
LIMIT 20
"""


EXTRA_QUERIES.update(
    {
        "url_normalize_dedup": (
            q_url_normalize_dedup,
            ORACLE_URL_NORMALIZE_DEDUP,
            "ext:URL canonicalization + dedup (casing/port/param-order/"
            "utm/fragment collapse, top-k canonical)",
        ),
    }
)


# --------------------------------------------------------------------------
# Round-9 late additions, wave 5
# --------------------------------------------------------------------------


def q_kneser_ney_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the state-of-the-art
    classical n-gram smoothing (absolute discount d=0.75 plus
    CONTINUATION unigram probabilities: a word's backoff mass counts
    how many distinct contexts it follows, not how often it occurs),
    beside bigram_nll's simple interpolation. All model counts
    (c(a,b), c(a·), N₁₊(a·), N₁₊(·b), N₁₊(··)) are exact BIGINTs from
    keyed aggregates; ln P is quantized to micro-nats ONCE PER BIGRAM
    TYPE (quantization sites scale with the model, never the corpus),
    so per-language NLL rollups are exact integer sums. Scale: bigrams
    come from the shared lead-window helper (functions/text.
    adjacent_bigrams — same pair multiset as the positional self-join
    it replaced, which re-shuffled the token table twice more), then
    ONE aggregate to per-(doc, a, b) counts feeds both the model and
    the score join."""
    from yelp_etl_spark.functions.text import adjacent_bigrams

    docs = _t(spark, sf_dir, "documents")
    # ONE token-scale aggregate to per-(doc, a, b) counts — the bigram
    # subtree is evaluated once; its doc-keyed exchange is the reuse
    # point for the model AND score consumers, and the score join runs over distinct triples, not every bigram
    # occurrence. sum(nab · nll_q) is exact integer algebra identical
    # to the per-occurrence sum (nll_q depends only on (a, b)).
    grouped = adjacent_bigrams(docs, "doc_id", "text").groupBy(
        "doc_id", "a", "b"
    ).agg(F.count("*").alias("nab"))
    pair = grouped.groupBy("a", "b").agg(
        F.sum("nab").cast("long").alias("cab")
    )
    lft = pair.groupBy("a").agg(
        F.sum("cab").cast("long").alias("ca"),
        F.count("*").cast("long").alias("n1p_a"),  # N1+(a·)
    )
    cont = pair.groupBy("b").agg(
        F.count("*").cast("long").alias("n1p_b")  # N1+(·b)
    )
    tot = pair.agg(F.count("*").cast("long").alias("n1p_all"))
    d = F.lit(0.75)
    model = (
        pair.join(lft, "a")
        .join(cont, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            (
                -F.round(
                    F.log(
                        F.greatest(
                            F.col("cab") - d, F.lit(0.0)
                        )
                        / F.col("ca")
                        + d
                        * F.col("n1p_a")
                        / F.col("ca")
                        * (
                            F.col("n1p_b").cast("double")
                            / F.col("n1p_all")
                        )
                    )
                    * F.lit(1_000_000.0)
                ).cast("long")
            ).alias("nll_q"),
        )
    )
    scored = (
        grouped.join(model, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.sum("nab").cast("long").alias("nb"),
            F.sum(F.col("nab") * F.col("nll_q")).cast("long").alias("nll_sum"),
        )
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nb").cast("long").alias("n_bigrams"),
            F.sum("nll_sum").cast("long").alias("nll_micro_sum"),
        )
        .select(
            "lang",
            "n_docs",
            "n_bigrams",
            F.expr("CAST(nll_micro_sum DIV n_bigrams AS LONG)").alias(
                "avg_nll_micro"
            ),
        )
        .orderBy("lang")
    )


ORACLE_KNESER_NEY_BIGRAM_NLL = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, u.tok,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY u.pos) AS p
  FROM (
    SELECT doc_id,
           unnest(string_split(LOWER(text), ' ')) AS tok,
           generate_subscripts(string_split(LOWER(text), ' '), 1) AS pos
    FROM documents
  ) u
  WHERE u.tok <> ''
),
bigrams AS MATERIALIZED (
  SELECT t1.doc_id, t1.tok AS a, t2.tok AS b
  FROM toks t1
  JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.p = t1.p + 1
),
pair AS MATERIALIZED (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM bigrams GROUP BY a, b
),
lft AS MATERIALIZED (
  SELECT a, CAST(SUM(cab) AS BIGINT) AS ca,
         CAST(COUNT(*) AS BIGINT) AS n1p_a
  FROM pair GROUP BY a
),
cont AS MATERIALIZED (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n1p_b FROM pair GROUP BY b
),
tot AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n1p_all FROM pair),
model AS MATERIALIZED (
  SELECT p.a, p.b,
         CAST(-ROUND(LN(GREATEST(p.cab - 0.75, 0.0) / l.ca
                        + 0.75 * l.n1p_a / l.ca
                          * (CAST(c.n1p_b AS DOUBLE) / t.n1p_all))
                     * 1000000) AS BIGINT) AS nll_q
  FROM pair p JOIN lft l ON l.a = p.a JOIN cont c ON c.b = p.b
  CROSS JOIN tot t
),
scored AS (
  SELECT g.doc_id,
         CAST(COUNT(*) AS BIGINT) AS nb,
         CAST(SUM(m.nll_q) AS BIGINT) AS nll_sum
  FROM bigrams g JOIN model m ON m.a = g.a AND m.b = g.b
  GROUP BY g.doc_id
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(s.nb) AS BIGINT) AS n_bigrams,
       CAST(CAST(SUM(s.nll_sum) AS BIGINT) // CAST(SUM(s.nb) AS BIGINT)
            AS BIGINT) AS avg_nll_micro
FROM scored s JOIN documents d USING (doc_id)
GROUP BY d.lang ORDER BY d.lang
"""


EXTRA_QUERIES.update(
    {
        "kneser_ney_bigram_nll": (
            q_kneser_ney_bigram_nll,
            ORACLE_KNESER_NEY_BIGRAM_NLL,
            "ext:interpolated Kneser-Ney bigram NLL (continuation"
            " counts, per-type micro-nat quantization)",
        ),
    }
)


# --------------------------------------------------------------------------
# Round-9 late additions, wave 9
# --------------------------------------------------------------------------


def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality rule gate (Rae et al. 2021,
    arXiv 2112.11446 Table A1 — the published rule set most curation
    stacks start from), as one per-row pass: word count in [3, 5000],
    mean word length in [1, 12] (micro-exact via integer cross-
    multiplication, no division), symbol-to-word ratio ≤ 0.1
    (#/… here the generic non-alnum class), and stopword evidence
    (≥2 hits from the shared literal list). Per language the rollup
    reports pass counts per rule and the full-gate pass rate in ppm —
    every number an exact integer. Scale: pure per-row regexp_count
    projection + ONE keyed rollup; no explode, no join."""
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    lower = F.lower(F.col("text"))
    words = F.size(F.filter(F.split(lower, " "), lambda x: x != F.lit("")))
    chars = F.length(F.regexp_replace(lower, " ", ""))
    symbols = F.regexp_count(lower, F.lit("[^a-z0-9 ]"))
    stop_hits = F.regexp_count(
        F.concat(F.lit(" "), lower, F.lit(" ")),
        F.lit(" (the|and|of|to|a|in|is|it|that|for) "),
    )
    r_words = (words >= 3) & (words <= 5000)
    # 1 ≤ chars/words ≤ 12, exactly: words ≤ chars AND chars ≤ 12·words
    r_mwl = (chars >= words) & (chars <= 12 * words)
    # symbols/words ≤ 0.1 exactly: 10·symbols ≤ words
    r_sym = (10 * symbols) <= words
    r_stop = stop_hits >= 2
    flags = docs.select(
        "lang",
        r_words.cast("long").alias("p_words"),
        r_mwl.cast("long").alias("p_mwl"),
        r_sym.cast("long").alias("p_sym"),
        r_stop.cast("long").alias("p_stop"),
        (r_words & r_mwl & r_sym & r_stop).cast("long").alias("p_all"),
    )
    return (
        flags.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("p_words").cast("long").alias("pass_wordcount"),
            F.sum("p_mwl").cast("long").alias("pass_meanwordlen"),
            F.sum("p_sym").cast("long").alias("pass_symbolratio"),
            F.sum("p_stop").cast("long").alias("pass_stopwords"),
            F.sum("p_all").cast("long").alias("pass_all"),
        )
        .select(
            "lang",
            "n_docs",
            "pass_wordcount",
            "pass_meanwordlen",
            "pass_symbolratio",
            "pass_stopwords",
            "pass_all",
            F.expr(
                "CAST((1000000 * pass_all) DIV n_docs AS LONG)"
            ).alias("pass_rate_ppm"),
        )
        .orderBy("lang")
    )


ORACLE_GOPHER_QUALITY_RULES = """
WITH scored AS MATERIALIZED (
  SELECT lang,
         CAST(len(list_filter(string_split(lower(text), ' '),
                              x -> x != '')) AS BIGINT) AS words,
         CAST(length(replace(lower(text), ' ', '')) AS BIGINT) AS chars,
         CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))
              AS BIGINT) AS symbols,
         CAST(len(regexp_extract_all(' ' || lower(text) || ' ',
              ' (the|and|of|to|a|in|is|it|that|for) ')) AS BIGINT)
           AS stop_hits
  FROM documents WHERE length(text) > 0
),
flags AS (
  SELECT lang,
         CASE WHEN words >= 3 AND words <= 5000 THEN 1 ELSE 0 END AS p_words,
         CASE WHEN chars >= words AND chars <= 12 * words THEN 1 ELSE 0 END
           AS p_mwl,
         CASE WHEN 10 * symbols <= words THEN 1 ELSE 0 END AS p_sym,
         CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS p_stop
  FROM scored
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p_words) AS BIGINT) AS pass_wordcount,
       CAST(SUM(p_mwl) AS BIGINT) AS pass_meanwordlen,
       CAST(SUM(p_sym) AS BIGINT) AS pass_symbolratio,
       CAST(SUM(p_stop) AS BIGINT) AS pass_stopwords,
       CAST(SUM(p_words * p_mwl * p_sym * p_stop) AS BIGINT) AS pass_all,
       CAST((1000000 * CAST(SUM(p_words * p_mwl * p_sym * p_stop)
             AS BIGINT)) // COUNT(*) AS BIGINT) AS pass_rate_ppm
FROM flags GROUP BY lang ORDER BY lang
"""


def q_cidr_block_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIDR-block enrichment join — the weblog/geo-IP routing pass: a
    synthesized client IPv4 per event (the url_normalize synth
    convention — fixtures carry no IPs; crawls do) joins a literal
    subnet table on longest-prefix containment expressed as pure
    integer arithmetic: ip DIV 2^(32−len) = net DIV 2^(32−len).
    Matching tries /24 then /16 then /8 via a rank over the bounded
    ≤3 candidate matches per event (the block table broadcasts —
    production routing tables are ~1e6 rows, still the small side).
    Exact PER-EVENT counts per block: the event_id key rides through
    the candidate join and the longest-prefix window partitions on it
    (many events share a synthesized IP — partitioning the window by
    ip alone would collapse them to one row and count distinct IPs,
    not events). Scale: per-row synth + broadcast joins, one keyed
    rollup; never a range scan."""
    ev = _t(spark, sf_dir, "events")
    ip = (
        (F.lit(10) * 16777216)
        + (F.col("user_id") % 32) * 65536
        + (F.col("event_id") % 256) * 256
        + (F.col("user_id") * 7 + F.col("event_id")) % 256
    ).cast("long")
    with_ip = ev.select(F.col("event_id"), ip.alias("ip"))
    blocks = spark.createDataFrame(
        [
            ("corp-a-24", 10 * 16777216 + 3 * 65536 + 0 * 256, 24),
            ("corp-b-24", 10 * 16777216 + 7 * 65536 + 128 * 256, 24),
            ("dc-east-16", 10 * 16777216 + 5 * 65536, 16),
            ("dc-west-16", 10 * 16777216 + 21 * 65536, 16),
            ("net-10-8", 10 * 16777216, 8),
        ],
        "block string, net long, plen int",
    )
    cand = with_ip.join(
        F.broadcast(blocks),
        F.expr("ip DIV CAST(pow(2, 32 - plen) AS LONG)"
               " = net DIV CAST(pow(2, 32 - plen) AS LONG)"),
    )
    w = Window.partitionBy("event_id").orderBy(F.desc("plen"), "block")
    # NOTE: per-event window is fine — candidates per event ≤ #blocks
    # (≤3 here); the longest-prefix pick is a bounded in-group sort
    best = cand.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    return (
        best.groupBy("block", "plen")
        .agg(F.count("*").cast("long").alias("n_events"))
        .orderBy("block")
    )


ORACLE_CIDR_BLOCK_JOIN = """
WITH with_ip AS MATERIALIZED (
  SELECT event_id,
         CAST(10 * 16777216
              + (user_id % 32) * 65536
              + (event_id % 256) * 256
              + (user_id * 7 + event_id) % 256 AS BIGINT) AS ip
  FROM events
),
blocks(block, net, plen) AS (
  VALUES ('corp-a-24', 10 * 16777216 + 3 * 65536 + 0 * 256, 24),
         ('corp-b-24', 10 * 16777216 + 7 * 65536 + 128 * 256, 24),
         ('dc-east-16', 10 * 16777216 + 5 * 65536, 16),
         ('dc-west-16', 10 * 16777216 + 21 * 65536, 16),
         ('net-10-8', 10 * 16777216, 8)
),
cand AS (
  SELECT i.event_id, i.ip, b.block, b.plen
  FROM with_ip i JOIN blocks b
    ON i.ip // CAST(pow(2, 32 - b.plen) AS BIGINT)
       = b.net // CAST(pow(2, 32 - b.plen) AS BIGINT)
),
best AS (
  SELECT block, plen
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                  ORDER BY plen DESC, block) AS rk FROM cand)
  WHERE rk = 1
)
SELECT block, plen, CAST(COUNT(*) AS BIGINT) AS n_events
FROM best GROUP BY 1, 2 ORDER BY block
"""


EXTRA_QUERIES.update(
    {
        "gopher_quality_rules": (
            q_gopher_quality_rules,
            ORACLE_GOPHER_QUALITY_RULES,
            "ext:Gopher-rule corpus quality gate (division-free"
            " thresholds, per-rule pass counts)",
        ),
        "cidr_block_join": (
            q_cidr_block_join,
            ORACLE_CIDR_BLOCK_JOIN,
            "ext:CIDR longest-prefix block join (integer mask"
            " containment, broadcast routing table)",
        ),
    }
)
