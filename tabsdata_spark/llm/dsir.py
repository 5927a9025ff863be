"""DSIR-style data selection: hashed n-gram importance resampling.

Public method (Xie et al., "Data Selection for Language Models via
Importance Resampling", NeurIPS 2023): featurize every document into
hashed n-gram buckets, fit two bag-of-buckets unigram models — one on a
small *target* corpus (the distribution you want) and one on the *raw*
pool — and weight each raw document by its log likelihood ratio
log p_target(doc) - log p_raw(doc).  Selecting the top-weighted (or
Gumbel-top-k resampled) documents shifts the pool toward the target
domain.

Spark shape (scale-first):
- bucket counts are two map-side-combined groupBys over exploded
  features — output is `buckets` rows, tiny by construction;
- the per-bucket log-ratio table broadcasts (<= buckets rows) and joins
  the exploded raw features map-side — no shuffle on the corpus side
  until the final per-doc sum (one shuffle on id_col);
- bucket hashing uses the engine-portable md5 bucket (textual.hash_split
  form), so the whole pipeline — including selection membership — is
  reproducible in DuckDB/any engine, not an artifact of xxhash64
  internals.

At 100 TB: the raw explode is the only big intermediate; it never joins
anything larger than the broadcast ratio table, and the per-doc weight agg
is a single combine-friendly sum.  No driver-side state beyond
`buckets` floats.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..scale import reuse
from .corpus import clean_tokens


def _bucketed_features(docs: DataFrame, id_col: str, text_col: str,
                       n: int, buckets: int) -> DataFrame:
    """(id, bucket) with multiplicity: word n-grams (unigrams when n=1)
    hashed into [0, buckets) via the portable md5 bucket.

    Tokens are PROJECTED into a column before the gram transform: an
    expression used inside a lambda is inlined into the lambda body, so
    referencing `clean_tokens(text)` per gram re-runs the regex tokenizer
    per gram — O(len^2) per document (measured 43s -> 1.6s for the raw
    bucket counts at sf0.1)."""
    from .textual import word_ngrams

    toked = docs.select(F.col(id_col).alias("__id"),
                        clean_tokens(F.col(text_col)).alias("__t"))
    t = F.col("__t")
    if n == 1:
        grams = t
    else:
        grams = F.when(F.size(t) >= n, word_ngrams(t, n)) \
            .otherwise(F.array(F.array_join(t, " ")))
    bucket = (F.conv(F.substring(F.md5(F.col("__g")), 1, 6), 16, 10)
              .cast("long") % buckets).cast("int")
    return (toked.select("__id", F.explode(grams).alias("__g"))
            .filter(F.col("__g") != "")
            .select("__id", bucket.alias("bucket")))


def bucket_distribution(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 2,
                        buckets: int = 10_000) -> DataFrame:
    """(bucket, cnt) hashed n-gram counts — the bag-of-buckets 'model'."""
    return (_bucketed_features(docs, id_col, text_col, n, buckets)
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")))


def importance_weights(raw: DataFrame, target: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       n: int = 2, buckets: int = 10_000,
                       alpha: float = 1.0) -> DataFrame:
    """Per-raw-document DSIR weight: mean over the doc's hashed n-gram
    features of log( p_target(bucket) / p_raw(bucket) ), both models
    Laplace-smoothed with `alpha`.  Mean (not sum) keeps the score
    length-invariant, so selection doesn't systematically prefer short
    documents.  Returns (id_col, n_features, weight) — weight rounded for
    engine-portable comparison."""
    # the raw featurization (tokenize + n-grams + md5 bucket + explode) is
    # consumed by the raw model AND the scoring pass, and each bucket-count
    # table feeds both its total and the ratio join — without persists the
    # expensive feature subtree re-executes per consumer (AQE stage reuse
    # does not fire across these branches; the bigram_lm_score lesson).
    # Lazy within-invocation persists: features once, and the two
    # <= `buckets`-row models once each.
    raw_feats = reuse(_bucketed_features(raw, id_col, text_col, n, buckets))
    t_counts = reuse(bucket_distribution(target, id_col, text_col, n, buckets))
    r_counts = reuse(raw_feats.groupBy("bucket")
                     .agg(F.count(F.lit(1)).alias("cnt")))
    t_total = t_counts.agg(F.sum("cnt").alias("t_total"))
    r_total = r_counts.agg(F.sum("cnt").alias("r_total"))
    # log-ratio per bucket; buckets unseen in either model fall back to the
    # smoothing mass.  <= `buckets` rows joined cross with the two 1-row
    # totals -> broadcast all of it.
    ratio = (
        t_counts.withColumnRenamed("cnt", "t_cnt")
        .join(r_counts.withColumnRenamed("cnt", "r_cnt"), "bucket", "full")
        .crossJoin(t_total).crossJoin(r_total)
        .select(
            "bucket",
            (F.log((F.coalesce(F.col("t_cnt"), F.lit(0)) + alpha)
                   / (F.col("t_total") + alpha * buckets))
             - F.log((F.coalesce(F.col("r_cnt"), F.lit(0)) + alpha)
                     / (F.col("r_total") + alpha * buckets))
             ).alias("log_ratio"),
            (F.log(alpha / (F.col("t_total") + alpha * buckets))
             - F.log(alpha / (F.col("r_total") + alpha * buckets))
             ).alias("unseen_log_ratio"),
        )
    )
    feats = raw_feats
    return (
        feats.join(F.broadcast(ratio.drop("unseen_log_ratio")), "bucket", "left")
        # a raw-corpus bucket always exists in r_counts, so log_ratio is
        # only null if AQE-pruned — coalesce defensively to 0
        .groupBy(F.col("__id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_features"),
             F.round(F.avg(F.coalesce(F.col("log_ratio"), F.lit(0.0))), 6)
             .alias("weight"))
    )


def dsir_select(raw: DataFrame, target: DataFrame, k: int,
                id_col: str = "doc_id", text_col: str = "text",
                n: int = 2, buckets: int = 10_000,
                alpha: float = 1.0) -> DataFrame:
    """Top-k raw documents by DSIR weight (deterministic tie-break on id).
    orderBy().limit() compiles to TakeOrderedAndProject — per-partition
    top-k heaps, no global sort materialization."""
    w = importance_weights(raw, target, id_col, text_col, n, buckets, alpha)
    return (w.orderBy(F.col("weight").desc(), F.col(id_col))
            .limit(k)
            .select(id_col, "n_features", "weight"))


__all__ = ["bucket_distribution", "importance_weights", "dsir_select"]
