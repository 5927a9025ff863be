"""Corpus indexing / retrieval-oriented operators for training-data
pipelines: vocabulary building, TF-IDF, BM25 scoring, document chunking,
repetition filters, and deterministic stratified sampling.

Scale design notes (100 TB corpus, 1000 executors):
- Tokenize-and-explode is the classic inverted-index shuffle: one wide
  stage tokenizing at scan speed (pure JVM expressions, whole-stage
  codegen), then a shuffle keyed on term.  Partial aggregation (map-side
  combine) collapses per-split term counts before the exchange, so the
  shuffle carries ~|vocab| rows per split, not ~|tokens|.
- Term frequency is Zipfian — the head terms ("the", "of") would skew a
  naive reduce.  Counting is associative so AQE's skew-join splitting plus
  partial aggregation absorbs it.  For joins ON term: bm25's df side is
  pre-filtered to the query's terms (a handful of rows — broadcast), but
  tf_idf's df side is the FULL distinct-term table, which at web scale is
  1e8-1e9 rows (hundreds of GB of strings) — far past any broadcast cap.
  tf_idf therefore leaves the join strategy to the optimizer: AQE promotes
  it to broadcast at runtime when the measured size is small, and keeps a
  shuffle join when it is not.
- Chunking is embarrassingly parallel (per-row explode, no shuffle).
- Sampling / repetition metrics are pure per-row projections.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

from tabsdata_spark.llm.textual import hash_split


def clean_tokens(text: Column) -> Column:
    """Lowercased alphanumeric whitespace tokens (engine-portable: same
    regex semantics in Java regex and DuckDB/RE2).  Null-safe: null text
    -> empty array."""
    safe = F.coalesce(text, F.lit(""))
    cleaned = F.regexp_replace(F.lower(safe), r"[^a-z0-9\s]", "")
    return F.filter(F.split(F.trim(cleaned), r"\s+"), lambda t: t != "")


def term_doc_freq(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(term, doc_id, tf) posting list — the inverted-index core.  One
    explode + one groupBy(doc, term); partial agg collapses duplicates
    before the exchange."""
    return (
        docs.select(F.col(id_col), F.explode(clean_tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def vocabulary(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", top: int | None = None) -> DataFrame:
    """Corpus vocabulary: (term, n_docs, n_occurrences), optionally top-N
    by occurrences.  The full aggregate is one shuffle on term; the top-N
    is a TakeOrderedAndProject (no global sort materialization)."""
    tdf = term_doc_freq(docs, id_col, text_col)
    vocab = tdf.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tf").alias("n_occurrences"),
    )
    if top is not None:
        # orderBy().limit() compiles to TakeOrderedAndProject — each task
        # keeps a local top-N heap and only N rows per partition reach the
        # driver-side merge.  A global row_number window would funnel the
        # whole vocabulary through ONE task; oracle-identical, strictly
        # worse.  rank recomputed after the take (tiny: `top` rows).
        vocab = (vocab
                 .orderBy(F.col("n_occurrences").desc(), F.col("term"))
                 .limit(top)
                 .withColumn("rank", F.row_number().over(
                     Window.orderBy(F.col("n_occurrences").desc(),
                                    F.col("term")))))
    return vocab


def tf_idf(docs: DataFrame, id_col: str = "doc_id",
           text_col: str = "text", top_per_doc: int | None = None) -> DataFrame:
    """TF-IDF per (doc, term): tf * ln(N / df).  df is the FULL
    distinct-term aggregate — |vocab| grows with the corpus (1e8-1e9 terms
    at web scale), so it must NOT be force-broadcast: the join strategy is
    left to the optimizer (AQE broadcasts at runtime iff the measured size
    clears spark.sql.autoBroadcastJoinThreshold; above it, both sides are
    already hash-partitioned on term from their parent aggregates, so the
    shuffle join is exchange-reuse cheap).  N is a genuine 1-row broadcast.
    `top_per_doc` keeps the k best terms per document (window partitioned
    on doc — shuffles once on doc_id)."""
    tdf = term_doc_freq(docs, id_col, text_col)
    df_counts = tdf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_total"))
    scored = (
        tdf.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(
            F.col("tf") * F.log(F.col("n_total").cast("double") / F.col("df")), 6))
        .select(id_col, "term", "tf", "df", "tfidf")
    )
    if top_per_doc is not None:
        w = Window.partitionBy(id_col).orderBy(
            F.col("tfidf").desc(), F.col("term"))
        scored = (scored.withColumn("term_rank", F.row_number().over(w))
                  .filter(F.col("term_rank") <= top_per_doc))
    return scored


def bm25(docs: DataFrame, query_terms: list[str], id_col: str = "doc_id",
         text_col: str = "text", k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 relevance of every document against a bag of query terms
    (Robertson/Sparck Jones, public formula):

        idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)
        score   = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Only postings for the query terms survive the first filter, so the
    join fan-in is |query| * df rows regardless of corpus size; df/avgdl/N
    are broadcast scalars.  Returns (doc_id, bm25) for docs matching any
    term."""
    tdf = term_doc_freq(docs, id_col, text_col).filter(
        F.col("term").isin(query_terms))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.avg(F.size(clean_tokens(F.col(text_col)))).alias("avgdl"),
    )
    df_counts = tdf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = docs.select(F.col(id_col),
                     F.size(clean_tokens(F.col(text_col))).alias("dl"))
    idf = F.log((F.col("n_total") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    return (
        tdf.join(F.broadcast(df_counts), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats.select("n_total", "avgdl")))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * tf_part), 6).alias("bm25"))
    )


def chunk_documents(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", size: int = 200,
                    stride: int = 150) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap
    (stride < size), the standard pre-embedding step.  Pure per-row
    posexplode over an offset sequence — no shuffle, no UDF; empty text
    still yields one (empty) chunk so no document is silently dropped.
    Returns (doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    last_start = F.greatest(F.length(t) - 1, F.lit(0))
    offsets = F.sequence(F.lit(0), last_start, F.lit(stride))
    chunk = F.substring(t, F.col("chunk_start") + 1, size)
    return (
        docs.select(F.col(id_col), t.alias("__t"),
                    F.posexplode(offsets).alias("chunk_idx", "chunk_start"))
        .select(
            id_col, "chunk_idx", "chunk_start",
            F.length(F.substring(F.col("__t"), F.col("chunk_start") + 1, size))
             .alias("chunk_len"),
            F.md5(F.substring(F.col("__t"), F.col("chunk_start") + 1, size))
             .alias("chunk_md5"),
        )
    )


def duplicate_ngram_fraction(text: Column, n: int = 3) -> Column:
    """Fraction of repeated word n-grams (Gopher-style repetition filter):
    1 - distinct/total over the document's n-gram multiset; 0.0 when the
    document has fewer than n tokens.  Array expressions only — runs at
    scan speed inside codegen."""
    toks = clean_tokens(text)
    cnt = F.size(toks)
    # n-grams as a fold of zip_with over n SHIFTED COPIES of the token
    # array — n O(len) slices total.  The obvious transform(sequence(...),
    # i -> array_join(slice(toks, i, n))) evaluates an interpreted Slice
    # per position (O(len^2) work + object churn) — measured 10x slower at
    # sf0.1.  Clamp len >= 1 so short docs still evaluate safely (their
    # result is discarded by the `when` guard).
    m = F.greatest(cnt - (n - 1), F.lit(1))
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, j + 1, m),
                           lambda g, t: F.concat_ws(" ", g, t))
    frac = 1.0 - F.size(F.array_distinct(grams)) / F.size(grams).cast("double")
    return F.when(cnt >= n, F.round(frac, 6)).otherwise(F.lit(0.0))


def stratified_sample(df: DataFrame, key_col: str, rate_pct: int,
                      strata_col: str | None = None) -> DataFrame:
    """Deterministic hash sample: keep rows whose md5 bucket of `key_col`
    falls below `rate_pct`.  Membership depends only on the key — stable
    under re-runs, repartitioning, and engine swaps (same md5 rule works
    in DuckDB et al.), unlike `df.sample()` whose outcome shifts with
    partitioning.  Within every stratum the expected rate is `rate_pct`%
    because buckets are independent of `strata_col`."""
    return df.filter(hash_split(F.col(key_col), 100) < rate_pct)


def weighted_sample(df: DataFrame, weight_col: str, key_col: str, k: int,
                    strata_col: str | None = None) -> DataFrame:
    """Weighted sampling WITHOUT replacement, probability ∝ weight
    (Efraimidis & Spirakis A-ES, Inf. Process. Lett. 97(5), 2006): each
    row gets key ln(u)/w with u = hash-uniform in (0,1); the k largest
    keys are a weight-proportional sample.  The data-mixing primitive the
    rate/quota samplers can't express — "oversample long/high-quality
    docs" with one weight column.

    Determinism: u comes from the portable 60-bit md5 hash of `key_col`,
    so membership is a pure function of the data — identical across
    re-runs, partitionings, and engines (the oracle replays the exact
    arithmetic).  Rows with weight <= 0 or null are excluded (zero mass).

    Scale shape: with `strata_col`, one shuffle on the stratum and a
    per-stratum window.  Without, orderBy(key).limit(k) lowers to
    TakeOrderedAndProject — per-partition top-k then a k-row reduce, no
    global sort."""
    from tabsdata_spark.llm.textual import portable_hash60

    u = (portable_hash60(F.col(key_col).cast("string")) + 1) \
        / F.lit(float(2 ** 60))
    es_key = F.log(u) / F.col(weight_col).cast("double")
    base = df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)) \
             .withColumn("__es", es_key)
    if strata_col is None:
        return base.orderBy(F.col("__es").desc(), F.col(key_col).asc()) \
                   .limit(k).drop("__es")
    w = Window.partitionBy(strata_col).orderBy(
        F.col("__es").desc(), F.col(key_col).asc())
    return (base.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__es", "__rn"))


def cap_per_stratum(df: DataFrame, strata_col: str, order_col: str,
                    cap: int, tie_col: str,
                    descending: bool = True) -> DataFrame:
    """Per-stratum cap: keep at most `cap` rows per stratum, preferring
    the highest `order_col` (ties broken by `tie_col` ascending).

    The domain-cap step of crawl curation (RefinedWeb/CCNet style: no
    single domain may dominate the corpus; keep its best N documents).
    One shuffle on the stratum, per-partition top-N via row_number — no
    global sort, no driver state.  Skewed strata (one domain = 10% of the
    crawl) are the known weak spot of any partitioned window; cap is
    usually small, so pre-aggregating a per-(stratum, salt) local top-cap
    before the window bounds the hot partition at salt*cap rows.
    """
    from pyspark.sql.window import Window

    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(strata_col).orderBy(oc, F.col(tie_col).asc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap)
            .withColumnRenamed("__rn", "stratum_rank"))


def mixture_sample(df: DataFrame, strata_col: str, key_col: str,
                   fraction: float,
                   overrides: dict[str, float] | None = None) -> DataFrame:
    """Deterministic data-mixture sampler: within every stratum (source,
    domain, language, ...) keep exactly ceil(frac * count) rows, chosen by
    md5 order of the key — the quota form of mixture weighting used to
    re-balance training corpora.

    Unlike rate-based `stratified_sample`, quotas are EXACT per stratum
    (a mixture spec says "make src_a 10% of the corpus", not "keep each
    row w.p. 0.1").  md5-ordering makes membership a pure function of the
    data, so re-runs, repartitions, and other engines agree row-for-row.

    Scale shape: one shuffle on the stratum for the per-stratum window;
    both row_number and the stratum count come from the SAME window frame,
    so there is no second aggregate or join."""
    from pyspark.sql.window import Window

    frac_col = F.lit(float(fraction))
    for stratum, f in (overrides or {}).items():
        frac_col = F.when(F.col(strata_col) == stratum, F.lit(float(f))) \
            .otherwise(frac_col)
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col))
    wc = Window.partitionBy(strata_col)
    # materialize both window columns before filtering — Spark disallows
    # window expressions directly inside WHERE
    return (df.withColumn("__rn", F.row_number().over(w))
            .withColumn("__quota",
                        F.ceil(frac_col * F.count(F.lit(1)).over(wc)))
            .filter(F.col("__rn") <= F.col("__quota"))
            .drop("__rn", "__quota"))


def source_vocab_overlap(docs: DataFrame, strata_col: str = "source",
                         text_col: str = "text") -> DataFrame:
    """(src_a, src_b, n_shared, jaccard) — vocabulary overlap between every
    pair of strata that share at least one word.  The distinct (stratum,
    word) table is the only big intermediate; the pair join keys on the
    word, so each word contributes |strata-containing-it|^2 pair rows —
    bounded by the stratum count, not the corpus size."""
    v = (docs.select(F.col(strata_col).alias("src"),
                     F.explode(clean_tokens(F.col(text_col))).alias("w"))
         .distinct())
    sizes = v.groupBy("src").agg(F.count(F.lit(1)).alias("nv"))
    shared = (
        v.select(F.col("src").alias("src_a"), "w")
        .join(v.select(F.col("src").alias("src_b"), "w"), "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared
        .join(F.broadcast(sizes.select(F.col("src").alias("src_a"),
                                       F.col("nv").alias("nv_a"))), "src_a")
        .join(F.broadcast(sizes.select(F.col("src").alias("src_b"),
                                       F.col("nv").alias("nv_b"))), "src_b")
        .select(
            "src_a", "src_b", "n_shared",
            F.round(F.col("n_shared")
                    / (F.col("nv_a") + F.col("nv_b") - F.col("n_shared")), 6)
             .alias("jaccard"),
        )
    )


def js_divergence_sources(docs: DataFrame, strata_col: str = "source",
                          text_col: str = "text") -> DataFrame:
    """(src_a, src_b, jsd) — Jensen-Shannon divergence (base 2, in [0,1])
    between the unigram distributions of every stratum pair: the standard
    "how different are these corpus slices" diagnostic for mixture design
    (Lin, IEEE Trans. IT 37(1), 1991).

    Decomposition that avoids a per-pair full-outer join: for terms BOTH
    strata contain, sum 0.5*(p*log2(2p/(p+q)) + q*log2(2q/(p+q))); terms
    exclusive to one side contribute 0.5*log2(2) = 0.5 of their mass, added
    as 0.5*(1 - common_p) + 0.5*(1 - common_q).  One inner join on term.

    Scale shape: the (stratum, term) count table is the only corpus-sized
    intermediate (one partial-agg shuffle); the pair join keys on term
    (each term fans out |strata-containing-it|^2 <= |strata|^2 rows);
    per-pair totals are a tiny aggregation.  Contributions are summed
    through DECIMAL(28,14) — exact, order-free addition, so the result is
    independent of partitioning and engine (the p/m terms themselves are
    integer-count divisions + log2: bit-identical everywhere)."""
    tc = (docs.select(F.col(strata_col).alias("src"),
                      F.explode(clean_tokens(F.col(text_col))).alias("term"))
          .groupBy("src", "term").agg(F.count(F.lit(1)).alias("c")))
    tot = tc.groupBy("src").agg(F.sum("c").alias("n"))
    p = (tc.join(F.broadcast(tot), "src")
         .select("src", "term",
                 (F.col("c").cast("double") / F.col("n").cast("double"))
                 .alias("p")))
    a = p.select(F.col("src").alias("src_a"), "term", F.col("p").alias("pa"))
    b = p.select(F.col("src").alias("src_b"), "term", F.col("p").alias("pb"))
    joined = (a.join(b, "term")
              .filter(F.col("src_a") < F.col("src_b")))
    contrib = (
        F.lit(0.5) * (F.col("pa") * F.log2(F.lit(2.0) * F.col("pa")
                                           / (F.col("pa") + F.col("pb")))
                      + F.col("pb") * F.log2(F.lit(2.0) * F.col("pb")
                                             / (F.col("pa") + F.col("pb"))))
    ).cast("decimal(28,14)")
    agg = (joined.groupBy("src_a", "src_b")
           .agg(F.sum(contrib).alias("common_contrib"),
                F.sum(F.col("pa").cast("decimal(28,14)")).alias("common_pa"),
                F.sum(F.col("pb").cast("decimal(28,14)")).alias("common_pb")))
    # every stratum pair appears in the output — pairs with NO shared
    # terms (the inner join drops them) are fully disjoint: jsd = 1.0,
    # which the coalesce-to-zero sums produce naturally
    srcs = tot.select("src")
    all_pairs = (srcs.select(F.col("src").alias("src_a"))
                 .crossJoin(srcs.select(F.col("src").alias("src_b")))
                 .filter(F.col("src_a") < F.col("src_b")))
    full = all_pairs.join(agg, ["src_a", "src_b"], "left")
    zero = F.lit(0).cast("decimal(28,14)")
    jsd = (F.coalesce(F.col("common_contrib"), zero).cast("double")
           + F.lit(0.5) * (F.lit(1.0)
                           - F.coalesce(F.col("common_pa"), zero).cast("double"))
           + F.lit(0.5) * (F.lit(1.0)
                           - F.coalesce(F.col("common_pb"), zero).cast("double")))
    return full.select("src_a", "src_b", F.round(jsd, 6).alias("jsd"))


def unigram_surprisal(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """CCNet-style perplexity proxy from a corpus-trained unigram LM:
    (doc_id, n_tokens, avg_surprisal) where avg_surprisal is the
    token-weighted mean of -log2 p(token), p estimated from the corpus
    itself.  High scores flag gibberish / rare-token soup; low scores flag
    repetitive boilerplate — both tails are filter candidates.

    Scale shape: per-(doc, term) counts (one partial-agg shuffle), term
    frequency table derived from THOSE counts (second, |vocab|-sized
    shuffle), then a term-keyed join back.  The corpus total is a 1-row
    broadcast cross join, never a driver collect."""
    # NOTE (r11): persisting tdf here was measured a LOSS (0.9 -> 1.5s
    # interleaved) — unlike bigram_lm_score's deeper c2/c1/V chain, AQE
    # stage reuse DOES fire for this two-consumer shape, so the cache
    # materialization is pure overhead.  Keep the plain lineage.
    tdf = term_doc_freq(docs, id_col, text_col)
    freq = tdf.groupBy("term").agg(F.sum("tf").alias("cf"))
    total = freq.agg(F.sum("cf").alias("total"))
    scored = (tdf.join(freq, "term")
              .crossJoin(F.broadcast(total))
              .withColumn("surprisal", -F.log2(F.col("cf") / F.col("total"))))
    return (scored.groupBy(id_col)
            .agg(F.sum("tf").alias("n_tokens"),
                 F.round(F.sum(F.col("tf") * F.col("surprisal"))
                         / F.sum("tf"), 6).alias("avg_surprisal")))


def zipf_slope(docs: DataFrame, strata_col: str = "source",
               text_col: str = "text") -> DataFrame:
    """Per-stratum Zipf fit: slope of log(freq) over log(rank) for the
    term rank-frequency curve (natural text ~ -1; templated/generated text
    drifts).  (stratum, n_terms, slope) via the closed-form least-squares
    ratio covar_pop/var_pop — pure aggregates, no iteration.

    Scale shape: term counts shuffle on (stratum, term); ranking is a
    window partitioned BY STRATUM (parallel across strata — never a global
    sort); the regression is one more partial-agg shuffle on stratum."""
    freq = (docs.select(F.col(strata_col).alias("stratum"),
                        F.explode(clean_tokens(F.col(text_col))).alias("term"))
            .groupBy("stratum", "term").agg(F.count(F.lit(1)).alias("cf")))
    w = Window.partitionBy("stratum").orderBy(F.col("cf").desc(), F.col("term"))
    ranked = freq.withColumn("lr", F.log(F.row_number().over(w).cast("double"))) \
                 .withColumn("lf", F.log(F.col("cf").cast("double")))
    return (ranked.groupBy("stratum")
            .agg(F.count(F.lit(1)).alias("n_terms"),
                 F.round(F.covar_pop("lr", "lf") / F.var_pop("lr"), 6)
                  .alias("slope")))


def bigram_lm_score(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: float = 0.5,
                    train_docs: DataFrame | None = None) -> DataFrame:
    """Bigram-LM cross-entropy per document (the CCNet/WebText perplexity
    filter, one order up from `unigram_surprisal`): train add-k-smoothed
    conditional probabilities p(w2|w1) = (c(w1 w2) + k) / (c(w1 .) + k*V)
    on the corpus itself — or on `train_docs` for HELD-OUT scoring — then
    score every document by the token-weighted mean of -log2 p over its
    bigrams.  Both tails are filter candidates: high cross-entropy flags
    gibberish, low flags templated boilerplate.

    With a separate training corpus, bigrams unseen in training back off
    through the same add-k formula (c2 -> 0; c1 -> 0 when the prefix
    itself is unseen, giving p = 1/V), so every scored bigram has a
    defined probability and the held-out plan adds one left join on the
    prefix — the self-trained path keeps its single pre-joined probs
    table.

    Returns (doc_id, n_bigrams, cross_entropy, perplexity); documents with
    fewer than two tokens produce no bigrams and are absent (callers
    left-join if they need every id).

    Scale shape (100 TB corpus): per-(doc, bigram) counts are one
    partial-agg shuffle; the corpus bigram table derives from THOSE counts
    (second, |bigram-vocab|-sized shuffle); the prefix-count table derives
    from the bigram table (shuffle on w1 — strictly smaller).  Both LM
    joins key on bigram/w1 with no broadcast hint: the bigram vocabulary
    grows with the corpus (far past any broadcast cap at web scale), so
    the strategy is left to AQE exactly as in `tf_idf`.  V (the
    conditioning-vocabulary size) is a genuine 1-row broadcast."""
    from tabsdata_spark.llm.textual import word_ngrams
    from tabsdata_spark.scale import fan_out, reuse

    toks = clean_tokens(F.col(text_col))
    grams = F.when(F.size(toks) >= 2, word_ngrams(toks, 2)) \
        .otherwise(F.array().cast("array<string>"))
    # tokenize+explode is compute-bound: widen narrow scans (single parquet
    # split at small sf) so the regex/n-gram work runs cluster-wide;
    # fan_out is a no-op when the scan already has enough splits
    def _doc_bi(d: DataFrame) -> DataFrame:
        return (fan_out(d)
                .select(F.col(id_col), F.explode(grams).alias("bigram"))
                .groupBy(id_col, "bigram")
                .agg(F.count(F.lit(1)).alias("tf")))

    doc_bi = _doc_bi(docs)
    train_bi = doc_bi if train_docs is None else _doc_bi(train_docs)
    # The LM-count lineages (c2, c1, V) and the scoring join each re-derive
    # train_bi, and Spark re-executes the expensive tokenize+explode+count
    # subtree per consumer (AQE stage reuse does not fire across these
    # branches — measured 3x the doc_bi cost at sf0.1, and persisting cut
    # the query 2.57s -> 1.72-1.97s interleaved with identical values).
    # Lazy within-invocation persist: materialized inside the caller's
    # first action (guide §5 — reuse beats recompute when the reused
    # stage is the expensive one).  At scale this trades one spill-backed
    # cache of the (doc, bigram) counts for two full re-tokenizations.
    train_bi = reuse(train_bi)
    if train_docs is None:
        doc_bi = train_bi
    c2 = (train_bi.groupBy("bigram").agg(F.sum("tf").alias("c2"))
          .withColumn("w1", F.substring_index(F.col("bigram"), " ", 1)))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vsize = c1.agg(F.count(F.lit(1)).alias("v"))
    if train_docs is None:
        probs = (c2.join(c1, "w1")
                 .crossJoin(F.broadcast(vsize))
                 .select("bigram",
                         F.log2((F.col("c2") + F.lit(float(k)))
                                / (F.col("c1") + F.lit(float(k)) * F.col("v")))
                          .alias("logp")))
        joined = doc_bi.join(probs, "bigram")
    else:
        # held-out: unseen bigrams/prefixes back off via coalesce-to-zero
        # counts inside the SAME smoothing formula
        joined = (doc_bi
                  .withColumn("w1", F.substring_index(F.col("bigram"), " ", 1))
                  .join(c2.select("bigram", "c2"), "bigram", "left")
                  .join(c1, "w1", "left")
                  .crossJoin(F.broadcast(vsize))
                  .withColumn(
                      "logp",
                      F.log2((F.coalesce(F.col("c2"), F.lit(0)) + F.lit(float(k)))
                             / (F.coalesce(F.col("c1"), F.lit(0))
                                + F.lit(float(k)) * F.col("v")))))
    scored = (joined
              .groupBy(id_col)
              .agg(F.sum("tf").alias("n_bigrams"),
                   F.round(-F.sum(F.col("tf") * F.col("logp"))
                           / F.sum("tf"), 6).alias("cross_entropy")))
    return scored.withColumn(
        "perplexity", F.round(F.pow(F.lit(2.0), F.col("cross_entropy")), 4))


def token_budget_select(docs: DataFrame, budget_tokens: int,
                        id_col: str = "doc_id", text_col: str = "text",
                        bins: int = 100) -> DataFrame:
    """Quality-thresholded corpus selection under a token budget: find the
    highest quality cutoff whose selected documents still fit inside
    `budget_tokens`, and return those documents with their scores.  The
    standard "we can afford N tokens of training data — take the best"
    step of a data-curation pipeline.

    A greedy exact answer needs a global sort by quality with a running
    token sum — a single-task window at scale.  This instead quantizes
    quality into `bins` buckets: one partial-agg shuffle builds the
    per-bin token histogram (<= `bins` rows), the cumulative sum runs on
    that tiny aggregate (global window over <= `bins` rows — bounded by
    construction, not by data size), and the cutoff joins back as a 1-row
    broadcast.  Selection is therefore bin-granular: the result is the
    largest bin-aligned prefix of the quality ordering that fits.  Returns
    (doc_id, n_tokens, quality, qbin); empty when even the best bin
    overflows the budget."""
    from tabsdata_spark.llm.textual import quality_score, token_count

    scored = docs.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("n_tokens"),
        quality_score(F.col(text_col)).alias("quality"))
    binned = scored.withColumn(
        "qbin",
        F.least(F.lit(bins - 1),
                F.floor(F.col("quality") * bins)).cast("int"))
    hist = binned.groupBy("qbin").agg(F.sum("n_tokens").alias("bin_tokens"))
    w = (Window.orderBy(F.col("qbin").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = hist.withColumn("cum_tokens", F.sum("bin_tokens").over(w))
    cutoff = (cum.filter(F.col("cum_tokens") <= budget_tokens)
              .agg(F.min("qbin").alias("cut")))
    return (binned.crossJoin(F.broadcast(cutoff))
            .filter(F.col("qbin") >= F.col("cut"))
            .select(id_col, "n_tokens", "quality", "qbin"))


def feature_hash_embedding(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", dim: int = 16,
                           hash_fn=None) -> DataFrame:
    """Dense document vectors WITHOUT a model: the hashing trick
    (Weinberger et al., "Feature Hashing for Large Scale Multitask
    Learning", ICML 2009).  Each term lands in bucket hash(term) % dim
    with sign ±1 from an independent hash bit; the doc vector is the
    signed tf sum per bucket.  Gives every downstream embedding consumer
    (k-means, ANN, semantic dedup) a text-only on-ramp.

    Scale shape: one posting-list shuffle (partial-agg on (doc, bucket) —
    at most `dim` rows per doc survive), then one per-doc assembly
    aggregate; the dense array is built by map lookup over a
    sequence(0, dim-1) — no pivot, no per-dim columns.  Default hash is
    xxhash64; pass `hash_fn=portable_hash60` (as the registry query does)
    when the values must reproduce outside Spark."""
    from tabsdata_spark.llm.textual import portable_hash60  # noqa: F401

    hf = hash_fn or F.xxhash64
    tdf = term_doc_freq(docs, id_col, text_col)
    bucket = (hf(F.col("term")) % dim + dim) % dim
    sign = (hf(F.concat(F.lit("s|"), F.col("term"))) % 2 + 2) % 2 * 2 - 1
    sums = (tdf.select(F.col(id_col),
                       bucket.cast("int").alias("bucket"),
                       (F.col("tf") * sign).alias("val"))
            .groupBy(id_col, "bucket")
            .agg(F.sum("val").alias("val")))
    assembled = (sums.groupBy(id_col)
                 .agg(F.map_from_entries(
                     F.collect_list(F.struct("bucket", "val"))).alias("__m"))
                 .select(
                     F.col(id_col),
                     F.transform(
                         F.sequence(F.lit(0), F.lit(dim - 1)),
                         lambda d: F.coalesce(
                             F.element_at(F.col("__m"), d),
                             F.lit(0).cast("long")).cast("double"))
                     .alias("embedding")))
    return assembled


def sparse_cosine_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", min_sim: float = 0.5,
                        max_df: int | None = 100) -> DataFrame:
    """Document pairs by TF-IDF cosine similarity through the inverted
    index — the cosine complement to minhash's Jaccard: exact sparse dot
    products, no signatures, no candidate misses above the threshold
    (pruned terms aside).

    Scale shape: weights and norms are two partial-agg shuffles; the pair
    generation joins postings ON TERM, so each term contributes df^2 pair
    rows — `max_df` prunes ubiquitous terms first (the classic bound:
    stopword-grade terms carry ~zero idf weight but quadratic join cost;
    same role as the LSH bucket cap).  Returns (id_a, id_b, cosine) with
    id_a < id_b."""
    tdf = term_doc_freq(docs, id_col, text_col)
    dfc = tdf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        dfc = dfc.filter(F.col("df") <= max_df)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_total"))
    w = (tdf.join(dfc, "term")
         .crossJoin(F.broadcast(n_docs))
         .select(F.col(id_col).alias("__id"), "term",
                 (F.col("tf")
                  * F.log(F.col("n_total").cast("double") / F.col("df")))
                 .alias("w")))
    norms = w.groupBy("__id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("term"), F.col("__id").alias("id_a"),
                 F.col("w").alias("wa"))
    b = w.select(F.col("term"), F.col("__id").alias("id_b"),
                 F.col("w").alias("wb"))
    dots = (a.join(b, "term")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot")))
    return (dots
            .join(norms.select(F.col("__id").alias("id_a"),
                               F.col("nrm").alias("na")), "id_a")
            .join(norms.select(F.col("__id").alias("id_b"),
                               F.col("nrm").alias("nb")), "id_b")
            .select("id_a", "id_b",
                    F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
                    .alias("cosine"))
            .filter(F.col("cosine") >= min_sim))


def collocations(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", min_count: int = 5,
                 top: int | None = None) -> DataFrame:
    """Corpus collocations by pointwise mutual information — the
    phrase-mining step of corpus prep (Church & Hanks 1990):
    PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) over adjacent token pairs, with
    `min_count` filtering the unstable long tail (rare pairs score
    spuriously high).

    Scale shape: bigram and unigram counts are two partial-agg shuffles
    (the unigram table derives from the bigram prefixes — no second pass
    over text); totals are 1-row broadcasts; the final join keys on the
    constituent words with no broadcast hint (vocab-sized at web scale —
    AQE decides).  Returns (bigram, n_pair, pmi), optionally top-N by PMI
    via TakeOrderedAndProject."""
    from tabsdata_spark.llm.textual import word_ngrams

    toks = clean_tokens(F.col(text_col))
    grams = F.when(F.size(toks) >= 2, word_ngrams(toks, 2)) \
        .otherwise(F.array().cast("array<string>"))
    pairs = (docs.select(F.explode(grams).alias("bigram"))
             .groupBy("bigram").agg(F.count(F.lit(1)).alias("n_pair"))
             .filter(F.col("n_pair") >= min_count)
             .withColumn("w1", F.substring_index(F.col("bigram"), " ", 1))
             .withColumn("w2", F.substring_index(F.col("bigram"), " ", -1)))
    uni = (docs.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("n_w")))
    n_tok = uni.agg(F.sum("n_w").alias("n_tokens"))
    n_big = (docs.select(F.size(grams).alias("k"))
             .agg(F.sum("k").alias("n_bigrams")))
    scored = (pairs
              .join(uni.select(F.col("w").alias("w1"),
                               F.col("n_w").alias("c1")), "w1")
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("n_w").alias("c2")), "w2")
              .crossJoin(F.broadcast(n_tok))
              .crossJoin(F.broadcast(n_big))
              .select(
                  "bigram", "n_pair",
                  F.round(F.log(
                      (F.col("n_pair") / F.col("n_bigrams"))
                      / ((F.col("c1") / F.col("n_tokens"))
                         * (F.col("c2") / F.col("n_tokens")))), 6)
                  .alias("pmi")))
    if top is not None:
        scored = scored.orderBy(F.col("pmi").desc(),
                                F.col("bigram").asc()).limit(top)
    return scored


def rrf_fuse(rankings: list[DataFrame], id_col: str = "doc_id",
             score_col: str = "score", k: int = 60,
             top_n: int = 100) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009, public
    formula) of N retrieval signals over the same id space:

        rrf(d) = sum_i 1 / (k + rank_i(d))     (absent from list i -> 0)

    Each input is cut to its top `top_n` by (score desc, id asc) — a
    TakeOrderedAndProject, the distributed top-k — BEFORE ranks are
    assigned, so the only unpartitioned window in the plan runs over an
    already-bounded candidate list (<= top_n rows), never the corpus.
    The per-signal contributions are added in fixed left-to-right order
    (coalesce(1/(k+r_i), 0) + ...), keeping the fused score bit-stable
    regardless of join output order.

    Scale shape: per-signal scoring is whatever the caller built; fusion
    itself is top-k + tiny-window + (N-1) outer joins over <= N*top_n rows
    — driver-light, broadcastable, corpus-size independent."""
    ranked = []
    for i, r in enumerate(rankings):
        top = (r.select(F.col(id_col), F.col(score_col))
               .orderBy(F.col(score_col).desc(), F.col(id_col))
               .limit(top_n))
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
        ranked.append(top.select(
            F.col(id_col),
            F.row_number().over(w).alias(f"rank_{i}")))
    fused = ranked[0]
    for nxt in ranked[1:]:
        fused = fused.join(nxt, id_col, "full")
    contrib = [F.coalesce(1.0 / (F.lit(float(k)) + F.col(f"rank_{i}")),
                          F.lit(0.0))
               for i in range(len(ranked))]
    total = contrib[0]
    for c in contrib[1:]:
        total = total + c
    return fused.select(
        id_col, *[f"rank_{i}" for i in range(len(ranked))],
        F.round(total, 9).alias("rrf"),
    )


def padding_waste(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  bucket_bounds: list[int] | None = None) -> DataFrame:
    """Padding overhead of length-bucketed batching: assign each document
    to the smallest bucket whose capacity holds its token count, then
    report per-bucket docs, real tokens, padded tokens (n_docs * capacity)
    and waste fraction — the metric that decides a training pipeline's
    bucket boundaries.  Documents longer than the largest bucket are
    truncated to it (standard practice), so waste can only come from
    padding, never exceed capacity.

    One projection + one partial-agg shuffle over <= len(bounds) groups;
    token counting is the same whitespace tokenizer as the corpus suite
    (clean_tokens), all JVM-side."""
    bounds = sorted(bucket_bounds or [64, 128, 256, 512, 1024])
    n_tok = F.size(clean_tokens(F.col(text_col)))
    cap = F.lit(bounds[-1])
    for b in reversed(bounds[:-1]):
        cap = F.when(n_tok <= b, b).otherwise(cap)
    used = F.least(n_tok, F.lit(bounds[-1]))
    agg = (docs.select(cap.alias("bucket"), used.alias("__used"))
           .groupBy("bucket")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("__used").alias("real_tokens")))
    padded = F.col("n_docs") * F.col("bucket")
    return agg.select(
        "bucket", "n_docs", "real_tokens",
        padded.alias("padded_tokens"),
        F.round((padded - F.col("real_tokens")) / padded.cast("double"), 6)
        .alias("waste_frac"),
    )


def vocab_coverage(docs: DataFrame, ks: list[int] | None = None,
                   text_col: str = "text") -> DataFrame:
    """Cumulative corpus coverage of the top-k vocabulary for a few fixed
    k values — the curve that sizes a tokenizer/vocab: (k, covered_tokens,
    total_tokens, coverage).  Ties at the frequency boundary break to the
    lexicographically smaller term, so the cut is total-ordered.

    Scale shape: ONE term-count shuffle (map-side combined) feeds every k;
    each k is a TakeOrderedAndProject top-k plus a scalar sum — no global
    window over the vocabulary, no second corpus scan (AQE reuses the
    count exchange across the per-k branches)."""
    ks = sorted(ks or [100, 1000, 5000])
    counts = (docs.select(F.explode(clean_tokens(F.col(text_col)))
                          .alias("term"))
              .groupBy("term").agg(F.count(F.lit(1)).alias("c")))
    total = counts.agg(F.sum("c").alias("total_tokens"))
    out = None
    for k in ks:
        topk = (counts.orderBy(F.col("c").desc(), "term").limit(k)
                .agg(F.sum("c").alias("covered_tokens")))
        row = (topk.crossJoin(F.broadcast(total))
               .select(F.lit(k).alias("k"), "covered_tokens", "total_tokens",
                       F.round(F.col("covered_tokens").cast("double")
                               / F.col("total_tokens").cast("double"), 6)
                       .alias("coverage")))
        out = row if out is None else out.unionByName(row)
    return out


def temperature_sample(docs: DataFrame, strata_col: str = "source",
                       id_col: str = "doc_id", alpha: float = 0.5,
                       hash_fn=None, salt: str = "t|") -> DataFrame:
    """Temperature-scaled source resampling (the multilingual/source
    rebalancing recipe of XLM-R / mT5: sample stratum s with probability
    proportional to share_s^alpha, alpha<1 upweighting the tail): keep
    each row independently with a per-stratum probability chosen so the
    KEPT corpus approaches the alpha-tempered mixture without upsampling
    (keep_p proportional to share^(alpha-1), scaled so the largest ratio
    is exactly 1 — no stratum needs duplication).

    Determinism contract: the keep decision is `hash(salt||id) < floor(
    keep_p * 2^60)` — a pure function of the row, reproducible across
    engines, runs, and partitionings.  keep_p derives from integer
    stratum counts; with alpha=0.5 the tempering uses SQRT (IEEE-exact in
    every engine), so the kept row SET is bit-stable cross-engine.  Other
    alphas go through pow(), which is not correctly-rounded in general —
    fine in production, not for a bit-exact oracle.

    Scale shape: one dimension-sized count agg, a broadcast join of the
    per-stratum threshold onto the corpus, and a hash filter — the corpus
    is scanned once and never shuffled."""
    hf = hash_fn or F.xxhash64
    if alpha == 0.5:
        tempered = F.sqrt(F.col("__c").cast("double"))
    else:
        tempered = F.pow(F.col("__c").cast("double"), F.lit(float(alpha)))
    counts = (docs.groupBy(strata_col)
              .agg(F.count(F.lit(1)).alias("__c"))
              .withColumn("__q", tempered / F.col("__c").cast("double")))
    maxq = counts.agg(F.max("__q").alias("__maxq"))
    thr = (counts.crossJoin(F.broadcast(maxq))
           .withColumn("__thr",
                       F.floor((F.col("__q") / F.col("__maxq"))
                               * F.lit(float(1 << 60)) + F.lit(0.5))
                       .cast("long"))
           .select(strata_col, "__thr"))
    h = hf(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    kept = (docs.join(F.broadcast(thr), strata_col)
            .filter(((h % F.lit(1 << 60)) + F.lit(1 << 60)) % F.lit(1 << 60)
                    < F.col("__thr")))
    return kept.select(id_col, strata_col)


def chi2_feature_selection(docs: DataFrame, label: Column,
                           id_col: str = "doc_id", text_col: str = "text",
                           min_df: int = 5, k: int = 30) -> DataFrame:
    """Per-token chi-squared feature selection against a binary document
    label (the classic text-classification feature ranker): for each
    token, the 2x2 presence/label contingency (a = positive docs
    containing it, b = negative docs containing it, c/d = the
    complements) scores chi2 = N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d));
    the top-k most label-discriminative tokens come back.

    Exactness contract: every input to the statistic is an exact
    integer count (distinct doc-term presence), (ad-bc) is exact 64-bit
    integer arithmetic (|ad| <= (N/2)^2 stays far under 2^63 up to
    ~3e9 docs), and the final division is one fixed-structure IEEE op —
    bit-identical across engines.  Degenerate margins (token in every
    doc, single-class corpus) score 0 instead of dividing by zero.

    Scale shape: one explode + distinct-presence shuffle on (doc,
    term), one count shuffle on term, a two-number broadcast of the
    class totals, TakeOrderedAndProject for the top-k — the vocabulary
    never collects."""
    lab = docs.select(F.col(id_col), label.cast("int").alias("__y"))
    presence = (docs.select(F.col(id_col),
                            F.explode(clean_tokens(F.col(text_col)))
                            .alias("term"))
                .distinct()
                .join(lab, id_col))
    per_term = presence.groupBy("term").agg(
        F.sum("__y").alias("a"),
        F.sum(F.lit(1) - F.col("__y")).alias("b"))
    totals = lab.agg(F.sum("__y").alias("__pos"),
                     F.sum(F.lit(1) - F.col("__y")).alias("__neg"))
    j = per_term.crossJoin(F.broadcast(totals))   # 1-row scalar combine
    a, b = F.col("a"), F.col("b")
    c, d = F.col("__pos") - a, F.col("__neg") - b
    n = F.col("__pos") + F.col("__neg")
    det = a * d - b * c
    den = (a + b) * (c + d) * (a + c) * (b + d)
    chi2 = F.when(den > 0,
                  F.round((n * det * det).cast("double")
                          / den.cast("double"), 6)).otherwise(F.lit(0.0))
    return (j.filter((a + b) >= min_df)
            .select("term", (a + b).alias("n_docs"), chi2.alias("chi2"))
            .orderBy(F.col("chi2").desc(), F.col("term").asc())
            .limit(k))


def distinctive_terms(docs: DataFrame, group_col: str = "source",
                      id_col: str = "doc_id", text_col: str = "text",
                      min_count: int = 5, k: int = 3,
                      alpha: float = 0.01) -> DataFrame:
    """Distinctive terms per group by log-odds ratio with a Dirichlet
    prior and z-scoring (Monroe, Colaresi & Quinn 2008, "Fightin'
    Words") — what vocabulary distinguishes each source/domain/language
    from the rest of the corpus; the curation lens that surfaces
    boilerplate, spam, and topical skew per source.

    delta = ln((y_gw+a)/(n_g+a*V-y_gw-a)) - ln((y_w-y_gw+a)/(N-n_g+a*V-(y_w-y_gw)-a))
    var   = 1/(y_gw+a) + 1/(y_w-y_gw+a);     z = delta / sqrt(var)

    Exactness contract: every input is an exact integer token count and
    the statistic is a fixed-structure IEEE expression over them (ln on
    identical doubles), so the per-group top-k ranking reproduces
    bit-for-bit.

    Scale shape: one token-count shuffle on (group, term), one on term
    for the global margin, broadcast group totals + the 1-row (V, N)
    scalar, a per-group window over count-filtered candidates only."""
    toks = docs.select(F.col(group_col).alias("grp"),
                       F.explode(clean_tokens(F.col(text_col)))
                       .alias("term"))
    ygw = toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("ygw"))
    yw = ygw.groupBy("term").agg(F.sum("ygw").alias("yw"))
    ng = ygw.groupBy("grp").agg(F.sum("ygw").alias("ng"))
    scal = ygw.agg(F.count_distinct("term").alias("v"),
                   F.sum("ygw").alias("nn"))
    a = F.lit(float(alpha))
    j = (ygw.join(yw, "term")
         .join(F.broadcast(ng), "grp")
         .crossJoin(F.broadcast(scal)))      # 1-row scalar combine
    a0 = a * F.col("v").cast("double")
    ygwd = F.col("ygw").cast("double")
    ywd = F.col("yw").cast("double")
    ngd = F.col("ng").cast("double")
    nd = F.col("nn").cast("double")
    rest = ywd - ygwd
    delta = (F.log((ygwd + a) / (ngd + a0 - ygwd - a))
             - F.log((rest + a) / (nd - ngd + a0 - rest - a)))
    var = F.lit(1.0) / (ygwd + a) + F.lit(1.0) / (rest + a)
    z = delta / F.sqrt(var)
    w = Window.partitionBy("grp").orderBy(F.col("__z").desc(),
                                          F.col("term").asc())
    return (j.filter(F.col("ygw") >= min_count)
            .select("grp", "term", F.col("ygw").alias("n_in_group"),
                    F.round(z, 6).alias("__z"))
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .select(F.col("grp").alias(group_col), "term", "n_in_group",
                    F.col("__z").alias("z_logodds"),
                    F.col("__rk").cast("int").alias("rank")))


def deterministic_shuffle(df: DataFrame, key_col: str, seed: int = 0,
                          n_shards: int = 16,
                          hash_fn=None) -> DataFrame:
    """Reproducible corpus shuffle for training-data ordering: every
    row gets (shard, rank_in_shard) from a keyed hash — rerunnable,
    engine-portable (with a portable hash_fn), and free of the global
    sort a naive ORDER BY rand() would need.

    Scale shape: shard = hash % n_shards spreads rows uniformly;
    ranking happens INSIDE each shard partition (a partitioned window,
    never a single-partition global sort).  Readers consume shards in
    index order for a deterministic epoch; n_shards should be >= the
    cluster's write parallelism.

    Exactness: the hash and both outputs are exact integers."""
    hf = hash_fn or (lambda c: F.xxhash64(c))
    h = hf(F.concat_ws(":", F.col(key_col).cast("string"),
                       F.lit(str(seed))))
    shard = F.pmod(h, F.lit(n_shards)).cast("int")
    out = df.withColumn("__h", h).withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy("__h", key_col)
    return (out.withColumn("rank_in_shard",
                           F.row_number().over(w).cast("bigint"))
            .drop("__h"))


def corpus_summary(docs: DataFrame, text_col: str = "text",
                   lang_col: str = "lang",
                   source_col: str = "source") -> DataFrame:
    """One-row corpus datasheet: document/token/byte totals, language
    and source cardinalities, exact-duplicate rate, and mean quality
    proxies — the single-call summary a dataset card starts from.

    Exactness: counts/bytes/tokens are exact integers; the duplicate
    rate counts rows minus distinct md5(text); ratio columns are one
    IEEE division each (round 6).

    Scale shape: ONE pass computes every per-row statistic, one
    partial aggregate collapses to a single row (count_distincts
    expand map-side); no joins."""
    from .textual import tokens

    toks = F.size(tokens(F.lower(F.col(text_col))))
    agg = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col(text_col))).alias("__uniq"),
        F.countDistinct(F.col(lang_col)).alias("n_langs"),
        F.countDistinct(F.col(source_col)).alias("n_sources"),
        F.sum(F.octet_length(F.col(text_col)).cast("bigint"))
        .alias("total_bytes"),
        F.sum(toks.cast("bigint")).alias("total_tokens"),
        F.sum(F.when(toks == 0, 1).otherwise(0)).alias("n_empty"))
    n = F.col("n_docs").cast("double")
    return agg.select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_langs").cast("bigint").alias("n_langs"),
        F.col("n_sources").cast("bigint").alias("n_sources"),
        "total_bytes", "total_tokens",
        F.col("n_empty").cast("bigint").alias("n_empty"),
        F.round((F.col("n_docs") - F.col("__uniq")).cast("double") / n, 6)
        .alias("dup_rate"),
        F.round(F.col("total_tokens").cast("double") / n, 6)
        .alias("mean_tokens"),
        F.round(F.col("total_bytes").cast("double")
                / F.col("total_tokens").cast("double"), 6)
        .alias("bytes_per_token"))


def heaps_law(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", buckets: int = 32) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: documents are split into
    `buckets` equal-width id ranges (a deterministic corpus ordering),
    and for each bucket the report gives new tokens seen, cumulative
    tokens, and cumulative distinct vocabulary — the curve whose
    log-log slope (~0.4-0.6 for natural text) drops when a corpus is
    template-heavy or duplicated, and the sizing input for tokenizer
    vocab budgets.

    Exact integers end-to-end: a token's first bucket is
    min(bucket(doc)) over its occurrences; cumulative vocabulary at
    bucket b counts tokens whose first bucket <= b.  The cumulative
    window runs over the <= `buckets`-row grid (the growth_curve
    bounded-window contract).

    Scale shape: one explode + (token -> min bucket, count) partial
    aggs, a 1-row min/max id broadcast, and a bounded-grid window."""
    bounds = docs.agg(F.min(F.col(id_col)).alias("__lo"),
                      F.max(F.col(id_col)).alias("__hi"))
    d = docs.crossJoin(F.broadcast(bounds))
    # integer `div`, never double-divide-then-cast: Spark truncates a
    # double->bigint cast while DuckDB rounds it
    bucket = F.least(
        F.expr(f"(({id_col} - __lo) * {int(buckets)})"
               f" div (__hi - __lo + 1)"),
        F.lit(buckets - 1))
    toks = d.select(bucket.alias("__b"),
                    F.explode(clean_tokens(F.col(text_col))).alias("__t"))
    per_tok = toks.groupBy("__t").agg(F.min("__b").alias("__fb"),
                                      F.count(F.lit(1)).alias("__c"))
    new_vocab = per_tok.groupBy(F.col("__fb").alias("__b")).agg(
        F.count(F.lit(1)).alias("__nv"))
    tok_counts = toks.groupBy("__b").agg(F.count(F.lit(1)).alias("__nt"))
    grid = tok_counts.join(new_vocab, "__b", "full").select(
        "__b",
        F.coalesce(F.col("__nt"), F.lit(0)).alias("__nt"),
        F.coalesce(F.col("__nv"), F.lit(0)).alias("__nv"))
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return grid.select(
        F.col("__b").cast("bigint").alias("bucket"),
        F.col("__nt").cast("bigint").alias("n_tokens"),
        F.col("__nv").cast("bigint").alias("new_vocab"),
        F.sum("__nt").over(w).cast("bigint").alias("cum_tokens"),
        F.sum("__nv").over(w).cast("bigint").alias("cum_vocab"))


def doc_keywords(docs: DataFrame, k: int = 3, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-document keyword extraction: the top-k terms by TF-IDF
    (tf * ln(N/df)) with corpus-wide document frequencies — the cheap
    labeler for clustering summaries and dedup-cluster naming.

    Determinism contract: the idf factor quantizes to 1e12 integers,
    so the ranking score tf * idf_q is an exact integer and the
    per-doc ordering (score desc, term asc) can never flip on a float
    ulp between engines or partitionings.

    Scale shape: one explode + (doc, term) partial agg, one term-df
    partial agg joined back (AQE decides the join side — a web-scale
    vocab must not be force-broadcast), a 1-row N broadcast, and a
    per-doc window."""
    tf = term_doc_freq(docs, id_col=id_col, text_col=text_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    n = docs.agg(F.count(F.lit(1)).alias("__nd"))
    j = tf.join(dfreq, "term").crossJoin(F.broadcast(n))
    idfq = F.floor(F.log(F.col("__nd").cast("double")
                         / F.col("__df").cast("double"))
                   * F.lit(1e12) + F.lit(0.5)).cast("bigint")
    scored = j.select(F.col(id_col), "term", "tf",
                      (F.col("tf").cast("decimal(38,0)")
                       * idfq.cast("decimal(38,0)")).cast("decimal(38,0)")
                      .alias("__q"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("__q").desc(), F.col("term").asc())
    top = scored.withColumn("__r", F.row_number().over(w)) \
        .filter(F.col("__r") <= k)
    return top.select(
        F.col(id_col), F.col("__r").cast("bigint").alias("rank"),
        "term", F.col("tf").cast("bigint").alias("tf"),
        F.round(F.col("__q").cast("double") / F.lit(1e12), 6)
        .alias("tfidf"))


def negative_sampling_table(docs: DataFrame, top: int = 1000,
                            power: float = 0.75,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """word2vec-style negative-sampling table: the `top` most frequent
    tokens with sampling weight proportional to count^power (0.75
    flattens the Zipf head so 'the' doesn't dominate every draw), as
    normalized probabilities plus cumulative ranges for inverse-CDF
    sampling.

    Determinism: count^power evaluates as exp(power * ln(count)) and
    quantizes to 1e6 integers BEFORE normalization, so weights, the
    normalizing total, and the cumulative ranges are exact integers;
    displayed probabilities are IEEE divisions (round 6).

    Scale shape: one token count shuffle, a TakeOrderedAndProject
    top-N cut, then a <= `top`-row cumulative window."""
    toks = docs.select(F.explode(clean_tokens(F.col(text_col)))
                       .alias("__t"))
    counts = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    head = counts.orderBy(F.col("__c").desc(), F.col("__t")).limit(top)
    wq = F.floor(F.exp(F.lit(power)
                       * F.log(F.col("__c").cast("double")))
                 * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    scored = head.select(F.col("__t").alias("token"),
                         F.col("__c").cast("bigint").alias("n"),
                         wq.alias("__wq"))
    w = Window.orderBy(F.col("n").desc(), F.col("token")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wt = Window.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    cum = scored.select(
        "token", "n", "__wq",
        F.sum("__wq").over(w).alias("__cw"),
        F.sum("__wq").over(wt).alias("__tw"))
    return cum.select(
        "token", "n",
        F.round(F.col("__wq").cast("double")
                / F.col("__tw").cast("double"), 6).alias("p_sample"),
        (F.col("__cw") - F.col("__wq")).cast("bigint")
        .alias("range_start"),
        F.col("__cw").cast("bigint").alias("range_end"))
