"""Text-analysis operators for large-scale training-data pipelines.

All Catalyst built-ins (JVM-side, whole-stage codegen) — no Python UDFs:
at 100 TB of documents these run as wide-only map stages with zero
shuffle, so they scale linearly with executors.

Capabilities: tokenization + token stats, quality scoring
(length / punctuation / stopword ratios), n-gram heuristic language ID,
document fingerprinting (normalized-text hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Tokens = maximal runs of word characters (BPE-ish pre-tokenization).
TOKEN_PATTERN = r"[^\W_]+"

# Tiny built-in stopword lists for the language-ID heuristic. Real
# pipelines would ship fastText/CLD3 via a Pandas UDF; the heuristic is
# the deterministic, dependency-free scale path.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "ich", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"],
}


def tokens(text: Column, lowercase: bool = True) -> Column:
    """Array of word tokens via regexp extraction."""
    src = F.lower(text) if lowercase else text
    return F.regexp_extract_all(src, F.lit(TOKEN_PATTERN), 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def avg_token_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return total / F.size(toks)


def punctuation_ratio(text: Column) -> Column:
    """Fraction of non-word, non-space characters."""
    stripped = F.regexp_replace(text, r"[\w\s]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    toks = tokens(text)
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, not punctuation
    soup, has common-word mass. Weights are arbitrary but deterministic."""
    length_term = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punctuation_ratio(text) * 4, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    return F.round((length_term + punct_term + stop_term) / 3.0, 6)


def language_scores(text: Column) -> Column:
    """Map lang → stopword-hit ratio, for argmax language ID."""
    return F.map_from_arrays(
        F.array(*[F.lit(k) for k in STOPWORDS]),
        F.array(*[stopword_ratio(text, k) for k in STOPWORDS]),
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 over normalized text
    (lowercased, punctuation stripped, whitespace collapsed). Stable
    across cluster sizes/partitionings — usable as a dedup key."""
    return F.md5(_normalize(text))


ROLLING_BASE = 31
ROLLING_MOD = 1_000_000_007


def _normalize(text: Column) -> Column:
    """Shared normalization: lowercase, strip punctuation, collapse
    whitespace. Output alphabet is [a-z0-9 ] so char codes stay ASCII."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", ""), r"\s+", " ")
    )


def rolling_hashes(text: Column, k: int = 8) -> Column:
    """Karp-Rabin rolling-hash fingerprints: the polynomial hash
    ``sum(code_i * BASE^(k-1-i)) mod MOD`` of every k-character window
    of the normalized text, as ``array<long>`` (empty when the text is
    shorter than k).

    Sequential Karp-Rabin derives window i+1 from window i in O(1);
    that recurrence is inherently serial, so here each window is
    computed independently (O(k) per window) — all windows evaluate
    inside one JVM higher-order expression with no Python, no shuffle,
    and no cross-row state, which is what actually scales on a
    1000-executor map stage. For k beyond ~64, switch to an Arrow
    `mapInPandas` that runs the O(1) recurrence per partition.
    """
    codes = F.transform(F.split(_normalize(text), ""), lambda c: F.ascii(c).cast("long"))
    n = F.size(codes)
    starts = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        starts,
        lambda i: F.aggregate(
            F.slice(codes, i + 1, k),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * ROLLING_BASE + c) % ROLLING_MOD,
        ),
    )


def rolling_fingerprint_stats(
    df: DataFrame, id_column: str = "doc_id", text_column: str = "text", k: int = 8
) -> DataFrame:
    """Per-document rolling-hash fingerprint summary as a DataFrame op:
    ``(id, n_windows, fp_min, fp_first)``.

    Normalization stays a Catalyst expression (same semantics as
    :func:`rolling_hashes`); the window hashing runs as a vectorized
    Arrow ``mapInPandas``: per document, numpy builds the k-wide
    sliding-window view over the ASCII codes and one matrix-vector
    product mod MOD yields every window hash (peak term ~3.5e12, well
    inside int64).

    Why not pure expressions: Catalyst re-inlines nested array lambdas
    per use (O(n^2) recompute) and ``substr`` at position i is O(i) on
    UTF8String (O(n^2) scan), so both built-in formulations degrade
    quadratically per document. The Pandas path is O(n*k) in C, stays
    a map-only stage — zero shuffle, scales linearly with executors —
    and is the pattern to swap in a real tokenizer/codec at 100 TB.
    """
    import numpy as np
    import pandas as pd

    pows = np.array([ROLLING_BASE ** (k - 1 - j) for j in range(k)], dtype=np.int64)
    id_field = df.schema[id_column]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("n_windows", T.LongType()),
            T.StructField("fp_min", T.LongType()),
            T.StructField("fp_first", T.LongType()),
        ]
    )

    def compute(batches):
        for pdf in batches:
            ids, n_windows, fp_min, fp_first = [], [], [], []
            for doc_id, s in zip(pdf[id_column], pdf["__norm"]):
                codes = np.frombuffer(
                    (s or "").encode("ascii", errors="ignore"), dtype=np.uint8
                ).astype(np.int64)
                ids.append(doc_id)
                if len(codes) >= k:
                    windows = np.lib.stride_tricks.sliding_window_view(codes, k)
                    hashes = (windows @ pows) % ROLLING_MOD
                    n_windows.append(len(hashes))
                    fp_min.append(int(hashes.min()))
                    fp_first.append(int(hashes[0]))
                else:
                    n_windows.append(0)
                    fp_min.append(None)
                    fp_first.append(None)
            yield pd.DataFrame(
                {
                    id_column: ids,
                    "n_windows": pd.array(n_windows, dtype="Int64"),
                    "fp_min": pd.array(fp_min, dtype="Int64"),
                    "fp_first": pd.array(fp_first, dtype="Int64"),
                }
            )

    norm = df.select(id_column, _normalize(F.col(text_column)).alias("__norm"))
    return norm.mapInPandas(compute, out_schema)


def tfidf_top_terms(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k terms by TF-IDF (tf * ln(N / df)).

    Plan shape, scale-first: one shuffle builds the (doc, term) term
    frequencies with a map-side partial count; document frequency and
    the corpus size N derive from that already-reduced table (vocabulary
    << corpus, so ``dfreq`` is broadcast back — no second shuffle of the
    token stream); the final per-doc top-k is a ranking window
    partitioned by the same doc key the tf shuffle produced, so it
    reuses that partitioning instead of exchanging again.

    Ranking is on TF-IDF rounded to 6 decimals with the term string as
    a tiebreaker, which keeps the top-k deterministic and
    cross-engine-stable (raw double ordering is not).

    Whitespace tokenization to stay oracle-portable; swap ``tokens()``
    in for regex tokens when parity isn't needed.
    """
    from yelp_etl_spark.sources.readers import fan_out

    toks = fan_out(df, id_column).select(
        id_column,
        F.explode(F.split(F.lower(F.col(text_column)), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_column, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    totals = tf.agg(F.count_distinct(F.col(id_column)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_column).orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= k)
        .select(id_column, "term", F.col("tf").cast("long").alias("tf"), "tfidf", "term_rank")
    )


# (pattern, replacement) applied in order; order matters — IPs are
# masked before the greedier phone pattern can eat their digits. All
# patterns restricted to syntax shared by Java regex and RE2 so SQL
# oracles can run the identical expressions.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[\w.+-]+@[\w.-]+\.\w+", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(text: Column) -> Column:
    """Mask emails / SSN-shaped ids / IPv4 addresses with typed tags.
    Chained JVM regexp_replace — map-only, no shuffle, no UDF; at
    corpus scale this runs at scan speed as part of whole-stage
    codegen. The standard pre-training privacy scrub primitive."""
    out = text
    for pattern, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, tag)
    return out


def build_vocabulary(
    df: DataFrame, text_column: str = "text", min_freq: int = 1
) -> DataFrame:
    """Corpus vocabulary with frequency-ranked integer ids (id 1 = most
    frequent; ties broken by term string so ids are deterministic).

    One shuffle reduces the token stream to (term, freq); the ranking
    window then runs over vocabulary-sized data only. The global
    (unpartitioned) window is deliberate: a vocabulary is several
    orders of magnitude smaller than its corpus, so single-partition
    ranking of it is cheap even at 100 TB of input text."""
    from yelp_etl_spark.sources.readers import fan_out

    toks = fan_out(df).select(
        F.explode(F.split(F.lower(F.col(text_column)), " ")).alias("term")
    ).filter(F.col("term") != "")
    freq = toks.groupBy("term").agg(F.count("*").alias("freq"))
    from pyspark.sql import Window

    w = Window.orderBy(F.col("freq").desc(), F.col("term"))
    return freq.filter(F.col("freq") >= min_freq).select(
        "term", "freq", F.row_number().over(w).cast("long").alias("term_id")
    )


def chunk_documents(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    chunk_tokens: int = 30,
    overlap: int = 10,
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    chunk_tokens-sized windows overlapping by ``overlap`` tokens — the
    standard context-window preparation step for LLM training corpora.

    Pure generator expressions (sequence → posexplode → slice →
    array_join): map-only, zero shuffle, whole-stage codegen; at 100 TB
    chunking runs at scan speed and the output is written partitioned
    without ever collecting a document. Chunk starts are
    1, 1+stride, … ≤ n_tokens, so every token lands in ≥1 chunk and
    the tail chunk is never empty.
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = F.split(F.col(text_column), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    return (
        df.select(
            id_column,
            toks.alias("__toks"),
            F.posexplode(starts).alias("chunk_pos", "start"),
        )
        .select(
            id_column,
            (F.col("chunk_pos") + 1).cast("long").alias("chunk_idx"),
            F.array_join(
                F.slice(F.col("__toks"), F.col("start"), chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens),
                F.size(F.col("__toks")) - F.col("start") + 1,
            )
            .cast("long")
            .alias("chunk_n_tokens"),
        )
    )


def unigram_nll(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus's
    own unigram model — the dependency-free stand-in for perplexity
    quality scoring (real pipelines swap in a KenLM/transformer scorer
    behind the same shape). Documents full of corpus-typical tokens
    score low; rare-token/noise-heavy documents score high and get
    culled by a threshold.

    Shape: one token explode; the unigram table reduces to (token,
    count) — vocabulary-sized, broadcast back onto the token stream —
    then one per-doc aggregate. Two keyed shuffles, no state. The
    corpus total is folded in at scoring time (ln(total) - ln(count)),
    so the model table stays mergeable across corpus shards.

    Whitespace tokenization keeps the score engine-portable (the
    DuckDB oracle reproduces it exactly).
    """
    import math

    from yelp_etl_spark.sources.readers import fan_out

    toks = fan_out(df, id_column).select(
        F.col(id_column),
        F.explode(F.split(F.lower(F.col(text_column)), " ")).alias("tok"),
    )
    model = toks.groupBy("tok").agg(F.count("*").alias("tf_corpus"))
    total = toks.count()  # one scalar job; at scale: a running metric
    scored = toks.join(F.broadcast(model), "tok")
    return (
        scored.groupBy(id_column)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(
                F.avg(F.lit(math.log(total)) - F.log("tf_corpus")), 4
            ).alias("avg_nll"),
        )
    )


def bm25_rank(
    df: DataFrame,
    terms: list[str],
    id_column: str = "doc_id",
    text_column: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 ranking of documents against a bag-of-terms query — the
    classic sparse-retrieval scorer (the lexical half of hybrid search
    next to the cosine/ANN operators in functions/similarity.py).

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgdl))
        idf(t)   = ln( (N − df + 0.5) / (df + 0.5) + 1 )

    Shape: the token stream filters to the query terms BEFORE any
    shuffle (posting-list pruning — the derived-inline form of an
    inverted index); doc lengths come from one map-side aggregate. N
    and avgdl stay IN the plan as a broadcast 1-row stats table (no
    driver collect — round 2's version ran the corpus-stats aggregate
    as a separate eager job, scanning the corpus once before the main
    plan; now the whole query is one lazy plan and the doclen shuffle
    is shared between the stats aggregate and the scoring join via
    exchange reuse). Per-term idf is a broadcast tiny table. Output is
    the rounded-score top-k with doc id as the deterministic tiebreak.
    """
    from yelp_etl_spark.sources.readers import fan_out

    toks = fan_out(df, id_column).select(
        F.col(id_column),
        F.explode(F.split(F.lower(F.col(text_column)), " ")).alias("tok"),
    )
    doclen = toks.groupBy(id_column).agg(F.count("*").alias("dl"))
    # 1-row corpus stats; broadcast-cross-joined wherever N/avgdl are
    # needed instead of collected to the driver
    stats = doclen.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    hits = toks.filter(F.col("tok").isin(*terms))
    tf = hits.groupBy(id_column, "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "tok",
        "avgdl",
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
    )
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .join(doclen, id_column)
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy(id_column)
        .agg(F.round(F.sum("contrib"), 4).alias("bm25"))
    )
    return (
        scored.orderBy(F.desc("bm25"), F.asc(id_column))
        .limit(top_k)
        .select(id_column, "bm25")
    )


def portable_tokens(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    with_position: bool = False,
) -> DataFrame:
    """(id, tok) rows by LITERAL-SPACE tokenization of the lowercased
    text — the engine-portable convention shared by every
    oracle-checked featurizer (regex ``\\s`` diverges between Java and
    RE2; ``tokens()`` above is the richer non-parity variant). Widens
    single-split scans first (fan_out) because explode amplifies rows.
    With ``with_position`` the original array position comes along as
    ``pos`` (gaps from the ''-filter are fine for adjacency work: any
    order-preserving consumer sees the surviving rows in text order).
    """
    from yelp_etl_spark.sources.readers import fan_out

    wide = fan_out(df, id_column)
    if with_position:
        exploded = wide.select(
            F.col(id_column),
            F.posexplode(F.split(F.lower(F.col(text_column)), " ")).alias(
                "pos", "tok"
            ),
        )
    else:
        exploded = wide.select(
            F.col(id_column),
            F.explode(F.split(F.lower(F.col(text_column)), " ")).alias("tok"),
        )
    return exploded.filter(F.col("tok") != "")


def hashed_features(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    n_features: int = 1024,
) -> DataFrame:
    """Signed feature hashing (the hashing trick, Weinberger et al.
    2009): tokens map to ``n_features`` buckets by hash and contribute
    ±1 by an independent hash bit, so collisions cancel in expectation
    and the featurizer needs NO vocabulary — the property that matters
    at 100 TB, where a vocabulary build is itself a corpus-wide
    shuffle and an ever-growing broadcast. Output is the sparse
    (id, feature, value) cell table (zero cells absent; a doc whose
    bucket sums cancel to 0 keeps the explicit 0 cell so downstream
    dot products see identical support cross-engine).

    Both hashes derive from the portable 60-bit md5 convention
    (sampling.py:134) — bucket = h % n_features, sign from the next
    hex digit's low bit — so any SQL engine reproduces every cell
    exactly. Plan: token explode (fan_out-widened) → one partial-
    aggregated shuffle keyed (id, feature). Whitespace tokenization to
    stay oracle-portable (the regex `tokens()` is the non-parity
    variant)."""
    toks = portable_tokens(df, id_column, text_column)
    h = F.conv(
        F.substring(F.md5(F.col("tok").cast("binary")), 18, 15), 16, 10
    ).cast("long")
    sgn = F.when(
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 17, 1), 16, 10)
        .cast("long")
        % 2
        == 1,
        1,
    ).otherwise(-1)
    return (
        toks.select(
            id_column,
            (h % n_features).alias("feature"),
            sgn.alias("s"),
        )
        .groupBy(id_column, "feature")
        .agg(F.sum("s").cast("long").alias("value"))
    )


def adjacent_bigrams(
    df: DataFrame, id_column: str = "doc_id", text_column: str = "text"
) -> DataFrame:
    """(id, a, b) adjacent token pairs per document — the shared
    construction under every second-order text statistic (PMI, the
    bigram LM): portable tokens with position, per-document `lead`
    window (one doc-keyed shuffle, per-doc sort bounded by document
    length; the ''-filter's position gaps are fine because `lead` runs
    over surviving rows in text order). That one exchange is also the
    REUSE point when a query consumes the pairs more than once.

    Measured and REJECTED (r16): an array-native zero-exchange form —
    filter the ''-gaps out of the split array, zip_with it against
    itself shifted by one, explode. Same pair multiset, no shuffle,
    but higher-order array functions are CodegenFallback (interpreted
    per row, with the struct array copying every token twice), and
    losing the exchange also loses subtree reuse for multi-consumer
    queries: interleaved A/B at sf0.1 read consistently SLOWER
    (bigram_nll 1.1→2.2 s, pmi 0.84→1.88 s on adjacent quiet rounds)."""
    from pyspark.sql import Window

    toks = portable_tokens(df, id_column, text_column, with_position=True)
    w = Window.partitionBy(id_column).orderBy("pos")
    return toks.select(
        F.col(id_column),
        F.col("tok").alias("a"),
        F.lead("tok").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())


def pmi_collocations(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    min_count: int = 5,
    top_k: int = 25,
) -> DataFrame:
    """Pointwise-mutual-information bigram collocations (Church &
    Hanks 1990): which adjacent word pairs co-occur far more often
    than their unigram frequencies predict. The classic phrase-mining
    pre-step for tokenizer and vocabulary construction over a training
    corpus.

    Plan: literal-space tokenize with position (posexplode; the ''
    filter re-closes gaps because `lead` runs over the surviving rows
    in position order) → per-document `lead` window for adjacent
    pairs (shuffle keyed on the doc id, per-doc sort — bounded by
    document length) → ONE partial-aggregated pair count; marginals
    and the total then reduce the vocab²-sized pair table, never the
    token-scale bigrams again → joins back (marginals are vocab-sized;
    AQE broadcasts when small) → one broadcast scalar for the corpus
    bigram total. Never all-pairs; every shuffle is keyed on an
    8-byte-hashable token. PMI is computed with one fixed expression
    tree — double multiply, divide, `ln` — so any engine reproduces
    it bit-for-bit before the 6-decimal rounding.

    Counting is position-specific (left marginal counts tokens in the
    first slot, right in the second): with that convention the four
    counts are exactly consistent (sum of n_ab over b = n_a) and PMI
    of a pair never needs the corpus vocabulary.

    Reference parity: generalizes the reference's token-frequency
    direction (yelp-etl gold-layer aggregations,
    run-all-pipelines.sh:239) to second-order statistics.
    """
    bigrams = adjacent_bigrams(df, id_column, text_column)
    pair = bigrams.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    # marginals + total derive EXACTLY from the reduced pair table
    # (sum of n_ab over b = n_a by construction), so the token-scale
    # bigram lineage is aggregated once, not four times
    left = pair.groupBy("a").agg(F.sum("n_ab").cast("long").alias("n_a"))
    right = pair.groupBy("b").agg(F.sum("n_ab").cast("long").alias("n_b"))
    total = pair.agg(F.sum("n_ab").cast("long").alias("n_total"))
    scored = (
        pair.join(left, "a")
        .join(right, "b")
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_ab") >= min_count)
        .select(
            "a",
            "b",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") * F.col("n_total"))
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "a", "b").limit(top_k)


def bigram_nll(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    lam: float = 0.75,
) -> DataFrame:
    """Per-document average negative log-likelihood under an
    interpolated BIGRAM model of the corpus itself — the second-order
    upgrade of ``unigram_nll`` for perplexity-style quality filtering
    (repetitive/templated text scores low; token-salad noise that
    sneaks past unigram statistics scores high because its
    TRANSITIONS are corpus-atypical).

        P(b | a) = λ·c(a,b)/c(a·) + (1−λ)·(c(·b)+1)/(T+V)

    with c(a,b) bigram counts, c(a·)/c(·b) the position-specific
    marginals, T total bigrams, V distinct second-slot tokens — the
    standard Jelinek-Mercer interpolation with add-one on the unigram
    back-off. λ = 0.75 is exactly representable so the mixture tree is
    engine-identical.

    Parity discipline: per-bigram NLL is QUANTIZED to integer
    micro-nats (classify.py's convention), so per-document sums are
    exact BIGINT under any partitioning; the final average is one
    exact division. Plan: per-doc `lead` window for bigrams (one doc-
    keyed shuffle), one pre-aggregation to per-(doc, a, b) counts that
    feeds both the model tables and the score join, three vocab-scale
    model tables reduced from the pair table and joined back (AQE
    broadcasts when small), one per-doc aggregate. Never all-pairs.
    """
    # ONE token-scale aggregate to per-(doc, a, b) counts: the bigram
    # subtree is evaluated once; its doc-keyed exchange is the reuse
    # point for every consumer below, and the
    # model join + per-doc score run over the smaller distinct-triple
    # table — sum(nab · nll_q) is exact integer algebra, identical to
    # summing the per-row nll_q it replaces (nll_q depends only on
    # (a, b)).
    grouped = adjacent_bigrams(df, id_column, text_column).groupBy(
        id_column, "a", "b"
    ).agg(F.count("*").alias("nab"))
    pair = grouped.groupBy("a", "b").agg(
        F.sum("nab").cast("long").alias("cab")
    )
    left = pair.groupBy("a").agg(F.sum("cab").cast("long").alias("ca"))
    uni = pair.groupBy("b").agg(F.sum("cab").cast("long").alias("cb"))
    tot = pair.agg(F.sum("cab").cast("long").alias("t"))
    vsz = uni.agg(F.count("*").alias("v"))
    p = (
        F.lit(lam) * (F.col("cab").cast("double") / F.col("ca"))
        + F.lit(1.0 - lam)
        * ((F.col("cb") + F.lit(1)).cast("double") / (F.col("t") + F.col("v")))
    )
    nll_q = (-F.round(F.log(p) * F.lit(1_000_000.0))).cast("long")
    scored = (
        grouped.join(pair, ["a", "b"])
        .join(left, "a")
        .join(uni, "b")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vsz))
        .select(id_column, "nab", nll_q.alias("nll_q"))
    )
    g = scored.groupBy(id_column).agg(
        F.sum("nab").cast("long").alias("n_bigrams"),
        F.sum(F.col("nab") * F.col("nll_q")).alias("s_q"),
    )
    return g.select(
        id_column,
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(
            F.col("s_q").cast("double")
            / F.col("n_bigrams").cast("double")
            / F.lit(1_000_000.0),
            6,
        ).alias("avg_nll"),
    )
