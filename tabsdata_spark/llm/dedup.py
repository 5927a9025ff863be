"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the point of this module):
- Exact dedup = hash-groupBy: one shuffle on the dedup key, map-side
  partial dedup first.  At 100 TB this is the canonical pattern.
- MinHash+LSH: shingle -> k minhashes -> b bands; candidate generation is a
  *bucket join* (shuffle by band signature), never an all-pairs product.
  Everything up to the bucket join is built-in array expressions (JVM).
- Bucket-size cap guards against degenerate buckets (empty/boilerplate
  docs), the classic LSH skew killer.
- SimHash: token hashes computed JVM-side (xxhash64), bit-folding in one
  Arrow-vectorized pandas_udf (numpy), then banded matching on 16-bit
  chunks (Hamming-distance blocking).
- n-gram Jaccard: exact verification on LSH candidates only (array
  intersect/union, JVM) — the verify step of the standard pipeline.
"""

from __future__ import annotations

import contextlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

from ..graph import _edges, _symmetric
from ..scale import reuse, small_input
from .textual import tokens, word_ngrams


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def dedup_exact(df: DataFrame, key_cols: list[str] | None = None,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative row per duplicate group (min id — a
    deterministic, order-free choice).  One shuffle on the key hash."""
    keys = key_cols or [text_col]
    w_keys = [F.col(k) for k in keys]
    kept = (
        df.groupBy(*w_keys).agg(F.min(F.col(id_col)).alias(id_col))
    )
    return df.join(kept, on=keys + [id_col], how="left_semi")


def duplicate_groups(df: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Groups with >1 member under `key` (e.g. fingerprint())."""
    return (
        df.select(key.alias("dedup_key"), F.col(id_col))
        .groupBy("dedup_key")
        .agg(F.count(F.lit(1)).alias("group_size"),
             F.min(id_col).alias("representative"))
        .filter(F.col("group_size") > 1)
    )


# ---------------------------------------------------------------------------
# shingles + minhash
# ---------------------------------------------------------------------------
def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct), built entirely with array
    expressions (textual.word_ngrams: n shifted zips, O(len) — not the
    O(len^2) per-position slice form)."""
    toks = tokens(F.lower(text))
    cnt = F.size(toks)
    grams = word_ngrams(toks, n)
    return F.array_distinct(F.when(cnt >= n, grams).otherwise(F.array(F.array_join(toks, " "))))


def minhash_signature(shingle_arr: Column, num_hashes: int = 32) -> Column:
    """k-minwise signature via hash-once + k rehashes: each shingle hashed
    ONCE with xxhash64, then k independent permutations derived as
    xxhash64(h, i) with array_min.  All-JVM, and — unlike the earlier
    wrapping affine maps (h*a_i + b_i) — overflow-free on ANSI-on sessions
    (ANSI long arithmetic throws ARITHMETIC_OVERFLOW; xxhash64 never
    overflows).  Still k*n cheap JVM ops, same minwise-family quality."""
    base = F.transform(shingle_arr, lambda s: F.xxhash64(s))
    # ONE nested higher-order expression, not k separate
    # array_min(transform(...)) columns: the unrolled form generates k
    # copies of the inner loop and codegen/compile time dominates small
    # runs (measured 4.6s -> 1.3s for k=32 at sf0.01; same rows).  The
    # permutation index arrives as the outer lambda variable, so the
    # two-parameter-transform pitfall (element, array_index) is moot.
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(base, lambda h: F.xxhash64(h, i))),
    )


def band_signature_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    widen: bool = True,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(__id, __sig, band, bsig [, keep_cols...]) — one row per (doc, band):
    the shared minhash front half of batch LSH (`minhash_lsh_candidates`)
    and the streaming near-dup flagger (`streaming.bus.stream_near_dup_flag`,
    which passes widen=False: fan_out and persist are batch-only).  No
    bucket cap here — capping needs a count over the bucket, which batch
    does with a window and streams must do on the static side."""
    rows_per_band = num_hashes // bands
    # Cheap shingle hashing: hash each token once (xxhash64), then derive
    # each n-gram's hash from its n consecutive token hashes — no string
    # concatenation, no O(n^2) array_distinct (min over a multiset equals
    # min over its set, so distinct is unnecessary for minwise).
    from ..scale import fan_out

    toks = tokens(F.lower(F.col(text_col)))
    tok_hashed = (fan_out(df) if widen else df).select(
        F.col(id_col).alias("__id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("__th"),
        *[F.col(c) for c in keep_cols],
    )
    n = F.size(F.col("__th"))
    idx = F.sequence(F.lit(1), F.greatest(n - (shingle_size - 1), F.lit(1)))
    gram_cols = lambda i: [
        F.element_at(F.col("__th"), F.greatest(F.least(i + j, n), F.lit(1)))
        for j in range(shingle_size)
    ]
    empty = F.array().cast("array<bigint>")
    hashed = tok_hashed.select(
        "__id",
        F.when(n >= 1, F.transform(idx, lambda i: F.xxhash64(*gram_cols(i))))
        .otherwise(empty).alias("__h"),
        *[F.col(c) for c in keep_cols],
    )

    # Permutation i = xxhash64(h, i): independent min-wise hashes without
    # wrapping 64-bit arithmetic (ANSI-on sessions throw on long overflow).
    # Single nested transform over the permutation index — k unrolled
    # array_min columns would k-plicate the codegen (see minhash_signature).
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(F.col("__h"),
                                          lambda h: F.xxhash64(h, i))),
    )
    with_sig = hashed.select("__id", sig.alias("__sig"),
                             *[F.col(c) for c in keep_cols])

    # One nested expression over the band index (codegen stays O(1) in
    # `bands`, matching the signature rewrite above).
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(F.col("__sig"), b * rows_per_band + 1,
                                F.lit(rows_per_band)),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("bsig"),
        ),
    )
    return (
        with_sig.select("__id", "__sig", F.explode(band_structs).alias("bd"),
                        *[F.col(c) for c in keep_cols])
        .select("__id", "__sig", F.col("bd.band").alias("band"),
                F.col("bd.bsig").alias("bsig"), *[F.col(c) for c in keep_cols])
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    max_bucket: int = 50,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows*bands exploded rows -> shuffle on (band, signature) -> within-bucket
    self-join.  `max_bucket` drops degenerate buckets (boilerplate text)
    before the quadratic within-bucket step — essential at scale.
    Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduped across bands.
    """
    # persist: the exploded signature table is read from both join sides;
    # at cluster scale this would be a checkpoint to parquet instead
    exploded = reuse(band_signature_rows(
        df, id_col, text_col, num_hashes, bands, shingle_size))
    # Cap bucket size with a count-over-window: ONE shuffle on (band, bsig)
    # that also co-locates rows for the self-join below, vs the former
    # groupBy + join-back (two shuffles + a join).
    bucket_w = Window.partitionBy("band", "bsig")
    exploded = (
        exploded.withColumn("sz", F.count(F.lit(1)).over(bucket_w))
        .filter((F.col("sz") > 1) & (F.col("sz") <= max_bucket))
        .drop("sz")
    )
    a = exploded.select(
        F.col("band"), F.col("bsig"),
        F.col("__id").alias("id_a"), F.col("__sig").alias("sig_a"),
    )
    b = exploded.select(
        F.col("band"), F.col("bsig"),
        F.col("__id").alias("id_b"), F.col("__sig").alias("sig_b"),
    )
    pairs = (
        a.join(b, on=["band", "bsig"], how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(float(len(range(num_hashes))))
    )
    return pairs.select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    **lsh_kwargs,
) -> DataFrame:
    """Drop near-duplicates: keep the min-id representative of each
    candidate pair above `threshold` (greedy single-link light: every doc
    that appears as the larger id of a dup pair is removed)."""
    cands = minhash_lsh_candidates(df, id_col, text_col, **lsh_kwargs)
    losers = (
        cands.filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verify)
# ---------------------------------------------------------------------------
def _shingle_pair_members(df, pairs, id_col, text_col, n, prune_to_pairs):
    """Hashed shingle sets for the docs referenced by `pairs`.  One column
    (`__id`, `__sh`), consumed twice by the a/b joins.

    With `prune_to_pairs` the corpus is semi-joined to the pair ids (a
    TINY set relative to the corpus — it's LSH's candidate output) BEFORE
    tokenizing, so the 99% of a 100 TB corpus no candidate touches is
    never shingled.  The id projection re-evaluates the `pairs` lineage
    once (single explode, not a two-select union), which is free when
    candidates are materialized — the production shape — but callers whose
    `pairs` is still an unmaterialized heavy pipeline (candidate
    generation fused into the same plan) should pass
    prune_to_pairs=False: recomputing LSH to save a shingle pass is a net
    loss there."""
    from ..scale import fan_out

    members = df
    if prune_to_pairs:
        wanted = pairs.select(F.explode(F.array(
            F.col("id_a"), F.col("id_b"))).alias(id_col))
        members = df.join(wanted, id_col, "left_semi")
    hashed = F.transform(shingles(F.col(text_col), n),
                         lambda g: F.xxhash64(g))
    return fan_out(members).select(F.col(id_col).alias("__id"),
                                   hashed.alias("__sh"))


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    prune_to_pairs: bool = True,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets for given (id_a, id_b) pairs —
    two hash-joins against the shingled docs, then array set ops (JVM).

    The shingle SETS travel as xxhash64 longs, not strings: an 8-byte
    element vs a ~25-byte string shrinks the pair-join shuffle ~3x and
    makes the set intersection integer-compare cheap.  Set cardinalities
    are preserved (distinct strings -> distinct hashes; a 64-bit collision
    inside one document's ~10^2-gram set is ~1e-17).  |A ∪ B| is derived
    as |A|+|B|-|A ∩ B| — one array op per pair instead of two.

    With `prune_to_pairs` (default) only docs that appear in `pairs` are
    shingled: the candidate set out of LSH is orders of magnitude smaller
    than the corpus, so a semi-join on the pair ids first (broadcast when
    small) avoids tokenizing the 99% of a 100 TB corpus that no candidate
    pair touches.  Pass False when `pairs` is an unmaterialized heavy
    pipeline fused into this plan (see _shingle_pair_members)."""
    sh = _shingle_pair_members(df, pairs, id_col, text_col, n,
                               prune_to_pairs)
    out = (
        pairs.join(sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return out.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


def containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    prune_to_pairs: bool = True,
) -> DataFrame:
    """One-sided containment C(A,B) = |A ∩ B| / |A| over word n-gram sets
    for given (id_a, id_b) pairs — the partial-duplication signal symmetric
    Jaccard misses: a short document quoted wholesale inside a long one has
    containment ~1.0 but Jaccard near |A|/|B| (tiny).  The standard verify
    step for quote/boilerplate extraction in web-corpus curation
    (RealNews/C4-style "contained in a longer page" dedup).

    Same scale shape as ngram_jaccard_pairs: only pair members are
    shingled (semi-join first), shingle sets travel as xxhash64 longs
    (8-byte elements shrink the pair-join shuffle ~3x), two hash-joins
    against the shingled docs, set ops JVM-side.  Emits both directions
    (containment is asymmetric) so callers can pick max/directional
    policies downstream.
    """
    sh = _shingle_pair_members(df, pairs, id_col, text_col, n,
                               prune_to_pairs)
    out = (
        pairs.join(sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    c_ab = F.when(F.size("sh_a") > 0, inter / F.size("sh_a")).otherwise(F.lit(0.0))
    c_ba = F.when(F.size("sh_b") > 0, inter / F.size("sh_b")).otherwise(F.lit(0.0))
    return out.select(
        "id_a", "id_b",
        F.round(c_ab, 6).alias("containment_ab"),
        F.round(c_ba, 6).alias("containment_ba"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            hash_fn=F.xxhash64) -> DataFrame:
    """64-bit SimHash per doc.  Token hashes via `hash_fn` (default
    xxhash64, JVM), bit folding via one Arrow-batched pandas_udf (numpy bit
    tricks — vectorized).  Pass `hash_fn=textual.portable_hash60` for
    signatures reproducible outside Spark (60 effective bits)."""
    tok_hashes = F.transform(tokens(F.lower(F.col(text_col))), lambda t: hash_fn(t))

    @F.pandas_udf(T.LongType())
    def fold(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), dtype=np.int64)
        for row_i, hs in enumerate(hashes):
            if hs is None or len(hs) == 0:
                continue
            arr = np.asarray(hs, dtype=np.int64).view(np.uint64)
            bits = ((arr[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int32)
            votes = bits.sum(axis=0) * 2 - len(arr)  # +1/-1 votes per bit
            sig = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                sig |= np.uint64(1) << np.uint64(b)
            out[row_i] = np.int64(sig.astype(np.uint64).view(np.int64))
        return pd.Series(out)

    from ..scale import fan_out

    return fan_out(df).withColumn("simhash", fold(tok_hashes))


def simhash_candidates(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3,
                       bands: int = 4) -> DataFrame:
    """Near-dup candidates by band blocking over the 64-bit simhash
    (`bands` equal-width chunks; pairs within Hamming distance <= bands-1
    must share at least one band — pigeonhole).  Exact Hamming check via
    bit_count(xor) afterwards.  More bands = higher guaranteed recall,
    bigger buckets; 4x16 for tight dups, 8x8 when edits spread bits."""
    width = 64 // bands
    mask = (1 << width) - 1
    sh = simhash(df, id_col, text_col).select(F.col(id_col).alias("__id"), "simhash")
    band_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("chunk"))
        for b in range(bands)
    ])
    ex = sh.select("__id", "simhash", F.explode(band_arr).alias("bd")).select(
        "__id", "simhash", F.col("bd.band").alias("band"), F.col("bd.chunk").alias("chunk")
    )
    a = ex.select("band", "chunk", F.col("__id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = ex.select("band", "chunk", F.col("__id").alias("id_b"), F.col("simhash").alias("sh_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # hamming filter BEFORE the pair dedup: the band join's collision pairs
    # (quadratic in bucket size) die on a cheap bit_count inside the join
    # stage, so the dropDuplicates exchange only carries pairs that can
    # survive — at coarse band widths that is a 10-100x shuffle reduction
    return (
        a.join(b, ["band", "chunk"]).filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------
def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Near-dup pairs by cosine similarity.  With `block_col` the join is
    blocked (shuffle by block, quadratic only within block); without it the
    caller accepts an all-pairs product — fine for sampled audits, not for
    100 TB (use LSH bucketing from similarity.py there)."""
    from .similarity import cosine
    from ..scale import fan_out

    left = fan_out(df).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        *([F.col(block_col)] if block_col else []))
    right = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                      *([F.col(block_col)] if block_col else []))
    on = [block_col] if block_col else []
    pairs = (left.crossJoin(right) if not on else left.join(right, on=on))
    pairs = pairs.filter(F.col("id_a") < F.col("id_b"))
    sim = cosine(F.col("va"), F.col("vb"))
    # threshold on the UNROUNDED cosine: rounding first admits pairs in
    # [threshold - 5e-7, threshold) that an exact-similarity oracle (or a
    # downstream exact verify) excludes — measured as an off-by-one-edge
    # triangle-count divergence at sf0.1.  The rounded value is display-only.
    return (
        pairs.filter(sim >= threshold)
        .withColumn("cosine", F.round(sim, 6))
        .select("id_a", "id_b", "cosine")
    )


#: below this edge count the whole graph fits in driver memory many times
#: over (16 bytes/edge -> ~3 MB at the threshold) and iterative-round
#: latency dominates data cost, so CC switches to a driver union-find —
#: the same measured-size adaptivity as AQE's broadcast-join demotion.
SMALL_GRAPH_EDGES = 200_000


def _driver_union_find(e: DataFrame, us, vs) -> DataFrame:
    """Small-graph CC fast path: union-find with path compression +
    union-by-label (component = min node id, matching the distributed
    contract exactly) over the (bounded, see SMALL_GRAPH_EDGES) edge
    arrays of `e`, returned as a (node, component) DataFrame.

    O(E α(E)) sequential beats O(log n) distributed *rounds* whenever the
    edge list is a few MB: each Spark round costs several scheduled jobs +
    a checkpoint, which on small graphs is pure latency.  The distributed
    star/min-label paths remain the >threshold route."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:                       # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(us.tolist(), vs.tolist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by label: smaller id becomes the root, so the final
            # root of every tree IS the component minimum
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    out = [(n, find(n)) for n in parent]
    id_type = e.schema.fields[0].dataType.simpleString()
    return e.sparkSession.createDataFrame(
        out, f"node {id_type}, component {id_type}")


@contextlib.contextmanager
def _round_width(spark, n_rows: int, rows_per_part: int = 100_000):
    """Size iterative-round shuffles from the MEASURED graph size.

    CC rounds inherit `spark.sql.shuffle.partitions` (cluster-width, e.g.
    200-2000), but the candidate-pair graph is usually orders of magnitude
    smaller than the corpus that produced it — scheduling 2000 tasks per
    round over a few thousand edges makes round latency, not data, the
    cost.  Width = clamp(edges / rows_per_part, 2, configured), so a
    billion-edge graph keeps full cluster width (no-op at scale) while a
    small one runs 2-wide.  The conf is save/restored around the loop;
    checkpointed intermediates keep the narrow width afterwards either way.
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    target = max(2, min(int(old), n_rows // rows_per_part + 1))
    try:
        spark.conf.set(key, str(target))
        yield target
    finally:
        spark.conf.set(key, old)


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 20,
                         small_graph_threshold: int = SMALL_GRAPH_EDGES
                         ) -> DataFrame:
    """Connected components by min-label propagation: each node repeatedly
    adopts the smallest label among itself and its neighbors until a fixed
    point.  Converges in O(component diameter) rounds; near-dup graphs are
    overwhelmingly tiny star/chain clusters, so 3-5 rounds in practice.

    Scale notes: every round is one shuffle-join on node id;
    `localCheckpoint` truncates the growing lineage each round (the classic
    iterative-Spark trap); convergence is detected with a count of changed
    labels.  For billion-edge graphs swap in the large-star/small-star
    variant — the API stays (edges in, (node, component) out).

    Returns (node, component) where component = min node id reachable.
    """
    sym = _symmetric(edges, src, dst).localCheckpoint(eager=True)
    n_edges, arrs = small_input(sym, small_graph_threshold, "u", "v")
    if arrs is not None:
        return _driver_union_find(sym, *arrs)
    with _round_width(sym.sparkSession, n_edges):
        labels = (sym.select(F.col("u").alias("node"))
                  .union(sym.select(F.col("v").alias("node"))).distinct()
                  .withColumn("label", F.col("node")))
        labels = labels.localCheckpoint(eager=True)
        # Labels are per-node non-increasing, so sum(label) strictly
        # decreases until the fixed point: an exact decimal sum is a
        # convergence witness costing one narrow agg — no old-vs-new join,
        # no second shuffle.
        prev_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

        for _ in range(max_iter):
            neigh = (sym.join(labels, sym.u == labels.node)
                     .groupBy(sym.v.alias("node"))
                     .agg(F.min("label").alias("nmin")))
            new_labels = (labels.join(neigh, "node", "left")
                          .select("node",
                                  F.least("label", F.coalesce("nmin", "label"))
                                   .alias("label")))
            # pointer jumping: label := label[label] — composes the two
            # hops found so far, so effective propagation depth doubles per
            # round (O(log d) rounds on chains instead of O(d))
            parent = new_labels.select(F.col("node").alias("p_node"),
                                       F.col("label").alias("p_label"))
            new_labels = (new_labels
                          .join(parent, new_labels.label == parent.p_node,
                                "left")
                          .select("node",
                                  F.least("label",
                                          F.coalesce("p_label", "label"))
                                   .alias("label")))
            new_labels = new_labels.localCheckpoint(eager=True)
            cur_sum = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
            labels = new_labels
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(edges: DataFrame, src: str = "id_a",
                              dst: str = "id_b",
                              max_iter: int = 30,
                              check_every: int = 2,
                              small_graph_threshold: int = SMALL_GRAPH_EDGES
                              ) -> DataFrame:
    """Connected components by alternating large-star / small-star edge
    rewrites (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014).  Converges in O(log^2 n) rounds *independent of
    component diameter* — the billion-edge / long-chain scale path that
    `connected_components`' O(diameter) min-label propagation cannot walk.
    Same contract: edges in, (node, component=min reachable id) out.

    Each half-round is one groupBy-min shuffle + one join on node id;
    lineage is truncated per round with localCheckpoint; convergence =
    directed-edge multiset fingerprint (count + hash sum) stable across a
    full round.  At the fixed point the edge set is a forest of stars,
    every non-root pointing straight at its component minimum.
    """
    e = (_edges(edges, src, dst).filter(F.col("u") != F.col("v"))
         .distinct().localCheckpoint(eager=True))
    n_edges, arrs = small_input(e, small_graph_threshold, "u", "v")
    if arrs is not None:
        return _driver_union_find(e, *arrs)
    with _round_width(e.sparkSession, n_edges):
        return _star_rounds(e, n_edges, max_iter, check_every)


def _star_rounds(e: DataFrame, n_edges: int, max_iter: int,
                 check_every: int) -> DataFrame:
    nodes = (e.select(F.col("u").alias("node"))
             .union(e.select(F.col("v").alias("node"))).distinct()
             .localCheckpoint(eager=True))

    def _fingerprint(df: DataFrame):
        # bit_xor, not sum: xor of 64-bit hashes is an order-insensitive
        # set fingerprint (edges are distinct) that can never overflow —
        # summing longs throws ARITHMETIC_OVERFLOW on ANSI-on sessions.
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).first()
        return (r["n"], r["h"])

    def _large_star(e: DataFrame) -> DataFrame:
        # for each u: m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m")))
        return (sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct())

    def _small_star(e: DataFrame) -> DataFrame:
        # direct big->small; for each u: m = min(N⁻(u) ∪ {u});
        # emit (v, m) for v ∈ N⁻(u) \ {m} plus (u, m)
        d = (e.select(F.greatest("u", "v").alias("u"),
                      F.least("u", "v").alias("v")).distinct())
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        moved = (d.join(mins, "u")
                 .filter(F.col("v") != F.col("m"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v")))
        kept = mins.select("u", F.col("m").alias("v"))
        return (moved.union(kept)
                .filter(F.col("u") != F.col("v"))
                .distinct())

    prev = None
    for i in range(max_iter):
        # two checkpoints per round on purpose: each star pass joins its
        # own groupBy-min back against its input (the input is consumed
        # twice), so an unmaterialized intermediate would recompute the
        # whole prior pass — measured slower than the extra checkpoint
        e = _large_star(e).localCheckpoint(eager=True)
        e = _small_star(e).localCheckpoint(eager=True)
        # fingerprint only every `check_every` rounds: the check is its own
        # Spark job, and on converged-early graphs round latency (not data)
        # dominates — worst case trades <=check_every-1 cheap extra rounds
        # for half the convergence scans
        if (i + 1) % check_every == 0 or i == max_iter - 1:
            fp = _fingerprint(e)
            if fp == prev:
                break
            prev = fp

    parent = e.groupBy("u").agg(F.min("v").alias("p"))
    return (nodes.join(parent, nodes.node == parent.u, "left")
            .select("node", F.coalesce("p", "node").alias("component")))


def dedup_by_components(df: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id",
                        algorithm: str = "star") -> DataFrame:
    """Transitive near-dup removal: keep the min-id representative of every
    connected component of the candidate-pair graph (the correct semantics
    when A~B and B~C but A!~C).  `algorithm="star"` (default) is the
    diameter-independent large/small-star contraction — the billion-edge
    path; `"minlabel"` propagates min labels (fewer jobs per round, fine
    for low-diameter graphs)."""
    cc = connected_components_star if algorithm == "star" \
        else connected_components
    comp = cc(pairs)
    losers = comp.filter(F.col("node") != F.col("component")) \
        .select(F.col("node").alias(id_col))
    return df.join(losers, on=id_col, how="left_anti")


def incremental_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest exact dedup: drop new rows whose normalized
    content already exists in the ingested corpus, then dedup within the
    batch itself (keep the min-id row per fingerprint).

    The plan is two hash-joins on a 16-byte md5 digest, never on full
    text: an anti-join against the corpus fingerprint set, then a
    min-id-per-fingerprint semi-join inside the batch.  At 100 TB the
    corpus side reduces to its distinct fingerprint column (pruned scan);
    a daily batch is typically small enough that AQE broadcast-upgrades
    the anti-join probe side.
    """
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    fp_new = new_batch.withColumn("__fp", F.md5(norm))
    fp_old = corpus.select(F.md5(norm).alias("__fp")).distinct()
    fresh = fp_new.join(fp_old, "__fp", "left_anti")
    keep = (fresh.groupBy("__fp")
            .agg(F.min(F.col(id_col)).alias(id_col)))
    return (fresh.join(keep, [id_col, "__fp"], "left_semi")
            .drop("__fp"))


def triangle_count(edges: DataFrame, src: str = "id_a",
                   dst: str = "id_b") -> DataFrame:
    """Per-node triangle counts of an undirected graph.

    Degree-ordered orientation (Suri & Vassilvitskii, WWW 2011 "Counting
    triangles and the curse of the last reducer"): each undirected edge is
    directed from the lower-degree endpoint to the higher (ties by id), so
    every triangle is counted exactly once and the join fan-out per node is
    bounded by its *oriented* out-degree — O(sqrt(m)) even for celebrity
    nodes, instead of the d^2 wedge explosion on the natural orientation.
    Two shuffle joins total; returns (node, triangles) for nodes in >=1
    triangle.
    """
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .filter(F.col("u") != F.col("v"))
         .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
         .distinct())
    # the canonical edge set is consumed five times (degrees, two wedge
    # sides, closing-edge probe) — materialize once or the upstream
    # candidate-pair join (often an O(n^2/blocks) similarity join) re-runs
    # per consumer
    e = e.localCheckpoint(eager=True)
    deg = (e.select(F.col("u").alias("n")).union(e.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    # orient: lower (degree, id) -> higher
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    oriented = (e.join(du, "u").join(dv, "v")
                .select(
                    F.when((F.col("du") < F.col("dv"))
                           | ((F.col("du") == F.col("dv"))
                              & (F.col("u") < F.col("v"))),
                           F.struct(F.col("u").alias("a"), F.col("v").alias("b")))
                     .otherwise(
                           F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
                     .alias("e"))
                .select("e.a", "e.b"))
    # wedges a->b, a->c (b<c in oriented id order not required: dedup via b!=c
    # and closing edge existence in canonical form)
    w1 = oriented.select(F.col("a"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a"), F.col("b").alias("y"))
    wedges = (w1.join(w2, "a").filter(F.col("x") < F.col("y")))
    closed = wedges.join(
        e.select(F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")),
        ["x", "y"], "left_semi")
    per_node = (closed.select(F.col("a").alias("node"))
                .union(closed.select(F.col("x").alias("node")))
                .union(closed.select(F.col("y").alias("node")))
                .groupBy("node").agg(F.count(F.lit(1)).alias("triangles")))
    return per_node


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: connect embeddings whose
    cosine similarity >= threshold (blocked pairwise), take connected
    components, keep the min-id representative of each semantic cluster.

    Composition of scale-shaped pieces: blocked pair generation (quadratic
    only within block), min-label components (localCheckpoint per round),
    one anti-join.  Returns the surviving rows of `emb`.
    """
    pairs = embedding_near_dup_pairs(
        emb, id_col=id_col, vec_col=vec_col,
        block_col=block_col, threshold=threshold,
    ).select("id_a", "id_b")
    return dedup_by_components(emb, pairs, id_col=id_col)


# ---------------------------------------------------------------------------
# Cross-document repeated substrings (ExactSubstr-lite)
# ---------------------------------------------------------------------------
def repeated_span_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 8, p: int = 4,
                        min_shared: int = 1, max_docs_per_span: int = 100,
                        hash_fn=None) -> DataFrame:
    """Document pairs sharing long verbatim token spans — the substring-
    level duplication signal of Lee et al., "Deduplicating Training Data
    Makes Language Models Better" (2022), at document-pair granularity.

    Method (public: Manber 1994 / Broder "mod p" fingerprint selection):
    hash every token n-gram, KEEP only hashes ≡ 0 (mod p) — a
    position-independent 1/p sample, so two documents sharing a verbatim
    span of >= n+p tokens share a selected fingerprint with high
    probability.  Selected (doc, hash) rows join through an inverted index;
    pair score = number of distinct shared selected spans.

    Scale shape: the explode is corpus-sized but the selection cuts it by
    p before the only shuffle; `max_docs_per_span` drops boilerplate spans
    (appearing in >max docs) before the quadratic within-span pair step —
    the same bucket-cap trick as the LSH join.  With the default xxhash64
    everything stays JVM-side; pass `hash_fn=portable_hash60` for an
    engine-portable (oracle-able) variant.
    """
    hf = hash_fn or F.xxhash64
    # materialize tokens before the gram transform: expressions referenced
    # inside word_ngrams' slices are inlined per slice, re-running the
    # tokenizer n times per row (see dsir._bucketed_features)
    toked = df.select(F.col(id_col).alias("__id"),
                      tokens(F.lower(F.col(text_col))).alias("__t"))
    t = F.col("__t")
    hashed = toked.select(
        "__id",
        F.explode(F.when(F.size(t) >= n, word_ngrams(t, n))
                  .otherwise(F.array(F.array_join(t, " ")))).alias("__g"),
    ).select("__id", hf(F.col("__g")).alias("__h"))
    sel = (hashed.filter(F.col("__h") % p == 0)
           .select("__id", "__h").distinct())
    # boilerplate cap: spans present in too many docs are corpus-level
    # boilerplate (tracked by boilerplate_ngrams), not pairwise duplication
    span_w = Window.partitionBy("__h")
    sel = (sel.withColumn("__nd", F.count(F.lit(1)).over(span_w))
           .filter((F.col("__nd") > 1) & (F.col("__nd") <= max_docs_per_span))
           .drop("__nd"))
    a = sel.select(F.col("__h").alias("h"), F.col("__id").alias("id_a"))
    b = sel.select(F.col("__h").alias("h"), F.col("__id").alias("id_b"))
    return (a.join(b, "h")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared_spans"))
            .filter(F.col("n_shared_spans") >= min_shared))


def segment_dedup(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", seg_words: int = 20) -> DataFrame:
    """Paragraph/line-level EXACT dedup (the C4 / RefinedWeb corpus-
    hygiene step: drop every repeated line, keep its first occurrence),
    over fixed `seg_words`-word segments since the corpus has no
    structural line breaks.  Returns one row per document:
    (id, segs_total, segs_kept, text_dedup) where text_dedup is the
    document rebuilt from its surviving segments in order — documents
    made entirely of already-seen segments survive with empty text.

    Keep-first is deterministic: the occurrence with the smallest
    (id, seg_idx) wins.

    100 TB design: segmentation is a per-row projection (the word array
    is bound once — naive slicing would inline the tokenizer per
    segment); the ONLY data-sized shuffle keys on the segment string for
    the keep-first window (same key a groupBy-dedup would use; hot
    boilerplate segments are exactly the skew AQE's skew-join/window
    handling splits); the rebuild groups by doc id, whose fan-in is
    bounded by segments-per-doc.  No driver-side state.
    """
    k = seg_words

    def segs_of(w: Column) -> Column:
        nseg = F.greatest(F.ceil(F.size(w) / k).cast("int"), F.lit(1))
        return F.transform(
            F.sequence(F.lit(0), nseg - F.lit(1)),
            lambda i: F.array_join(F.slice(w, i * k + 1, k), " "))

    words = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    # bind the split ONCE (element_at/transform/array trick, see
    # word_ngrams): referencing `words` inside the lambda would re-split
    # the text once per segment — the O(len^2) inlining trap.
    segments = F.element_at(F.transform(F.array(words), segs_of), 1)

    seg_rows = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(segments).alias("seg_idx", "seg"))
    first_w = Window.partitionBy("seg").orderBy("__id", "seg_idx")
    kept = (seg_rows
            .withColumn("__rn", F.row_number().over(first_w))
            .filter(F.col("__rn") == 1))
    rebuilt = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("segs_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"]),
            " ").alias("text_dedup"))
    totals = df.select(F.col(id_col).alias("__id"),
                       F.size(segments).alias("segs_total"))
    return (totals.join(rebuilt, "__id", "left")
            .select(F.col("__id").alias(id_col), "segs_total",
                    F.coalesce("segs_kept", F.lit(0)).alias("segs_kept"),
                    F.coalesce("text_dedup", F.lit("")).alias("text_dedup")))


def dedup_keep_best(df: DataFrame, pairs: DataFrame, order_col: str,
                    id_col: str = "doc_id",
                    algorithm: str = "star") -> DataFrame:
    """Transitive near-dup removal keeping the BEST row of every duplicate
    cluster instead of the min-id one: within each connected component of
    the candidate-pair graph, the surviving representative maximizes
    `order_col` (ties broken by min id, so the choice is deterministic).
    The curation form of `dedup_by_components` — "of these near-identical
    pages, keep the highest-quality copy".

    Plan shape: components as usual, then one join from the component
    assignment to the scored rows, one per-component max-struct aggregate
    (partial-agg shuffle on component — never a window over the full
    table), and a semi-join of winners back to `df`.  Unclustered rows
    never enter the component table and survive untouched."""
    cc = connected_components_star if algorithm == "star" \
        else connected_components
    comp = cc(pairs)
    scored = comp.join(
        df.select(F.col(id_col).alias("node"), F.col(order_col)), "node")
    winners = (scored.groupBy("component")
               .agg(F.max(F.struct(F.col(order_col),
                                   (-F.col("node")).alias("neg_id")))
                    .alias("best"))
               .select((-F.col("best.neg_id")).alias(id_col)))
    clustered = comp.select(F.col("node").alias(id_col))
    return df.join(clustered, id_col, "left_anti") \
        .unionByName(df.join(winners, id_col, "left_semi"))


def incremental_near_dup(
    new_batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
    **lsh_kwargs,
) -> DataFrame:
    """Incremental-ingest NEAR dedup (the minhash sibling of
    `incremental_dedup`'s exact digests): flag new-batch documents that are
    near-duplicates of the already-ingested corpus.  Returns
    (doc_id, match_id, jaccard) — the new doc, its best corpus match
    (highest exact n-gram jaccard, ties -> min match id), and that jaccard.

    Pipeline: ONE banded-LSH pass over the tagged union (signatures are
    computed once, not once per side), candidates cut to new-vs-corpus
    pairs, then exact n-gram Jaccard verification on the surviving
    candidates only.  Scale shape: the corpus side never all-pairs — the
    quadratic step stays inside capped LSH buckets exactly as in
    `minhash_lsh_candidates`; the verify join touches candidate pairs
    only.  Ids must be disjoint across the two tables (they share one id
    space by contract, as in any versioned ingest)."""
    # consumed by the LSH pass, the flag projections, and the exact
    # jaccard verify — lazy within-invocation persist reads the source
    # once (the bigram_lm_score lesson)
    tagged = reuse(
        new_batch.select(F.col(id_col), F.col(text_col),
                         F.lit(True).alias("__new"))
        .unionByName(corpus.select(F.col(id_col), F.col(text_col),
                                   F.lit(False).alias("__new")))
    )
    cand = minhash_lsh_candidates(tagged, id_col, text_col, **lsh_kwargs)
    flags = tagged.select(F.col(id_col), F.col("__new"))
    sided = (
        cand.join(flags.select(F.col(id_col).alias("id_a"),
                               F.col("__new").alias("new_a")), "id_a")
        .join(flags.select(F.col(id_col).alias("id_b"),
                           F.col("__new").alias("new_b")), "id_b")
        .filter(F.col("new_a") != F.col("new_b"))   # one new, one corpus
    )
    # orient: doc_id = the new side, match_id = the corpus side.  The
    # candidate pair set is consumed twice (the verify's pairs lineage
    # and the final hits join) and is tiny (capped LSH buckets), while
    # its lineage — the full signature + band self-join — is the
    # expensive part: persist so candidate generation runs once.
    oriented = reuse(sided.select(
        F.when(F.col("new_a"), F.col("id_a")).otherwise(F.col("id_b"))
         .alias("doc_id_n"),
        F.when(F.col("new_a"), F.col("id_b")).otherwise(F.col("id_a"))
         .alias("match_id_n"),
        "id_a", "id_b",
    ))
    # pairs lineage here IS the band join (unmaterialized): pruning
    # would re-run candidate generation to save a shingle pass — net loss
    verified = ngram_jaccard_pairs(
        tagged, oriented.select("id_a", "id_b"), id_col, text_col, n,
        prune_to_pairs=False)
    hits = (oriented.join(verified, ["id_a", "id_b"])
            .filter(F.col("jaccard") >= threshold)
            .select(F.col("doc_id_n").alias(id_col),
                    F.col("match_id_n").alias("match_id"), "jaccard"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("jaccard").desc(), F.col("match_id").asc())
    return (hits.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def corpus_band_index(corpus: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_bucket: int = 50,
                      **lsh_kwargs) -> DataFrame:
    """Persistable LSH band index of a corpus: (band, bsig, doc_id) rows,
    boilerplate buckets (> max_bucket members) dropped at build time.
    Build ONCE per corpus version and store it (e.g. TableStore.write);
    every later ingest batch joins its own signatures against the stored
    index instead of re-hashing the corpus — at 100 TB that converts a
    full-corpus tokenize+minhash per batch into a scan of a ~24-byte/row
    index table."""
    rows = band_signature_rows(corpus, id_col, text_col, **lsh_kwargs)
    w = Window.partitionBy("band", "bsig")
    return (rows.withColumn("__n", F.count(F.lit(1)).over(w))
            .filter(F.col("__n") <= max_bucket)
            .select("band", "bsig", F.col("__id").alias(id_col)))


def incremental_near_dup_indexed(
    new_batch: DataFrame,
    corpus: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
    **lsh_kwargs,
) -> DataFrame:
    """`incremental_near_dup` against a PRECOMPUTED `corpus_band_index`:
    same contract — (doc_id, match_id, jaccard), best corpus match per
    flagged new doc — but the corpus is never re-tokenized: only the new
    batch computes signatures; candidates come from a join against the
    stored index; exact verification reads corpus text for candidate
    partners only (a semi-joined sliver at real scale)."""
    bb = band_signature_rows(new_batch, id_col, text_col, **lsh_kwargs)
    cand = (bb.select("band", "bsig", F.col("__id").alias("doc_id_n"))
            .join(corpus_bands.select("band", "bsig",
                                      F.col(id_col).alias("match_id_n")),
                  ["band", "bsig"])
            .select("doc_id_n", "match_id_n").distinct())
    texts = (new_batch.select(F.col(id_col), F.col(text_col))
             .unionByName(corpus.select(F.col(id_col), F.col(text_col))))
    verified = ngram_jaccard_pairs(
        texts,
        cand.select(F.col("doc_id_n").alias("id_a"),
                    F.col("match_id_n").alias("id_b")),
        id_col, text_col, n, prune_to_pairs=False)
    hits = (verified.filter(F.col("jaccard") >= threshold)
            .select(F.col("id_a").alias(id_col),
                    F.col("id_b").alias("match_id"), "jaccard"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("jaccard").desc(), F.col("match_id").asc())
    return (hits.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def dedup_within_window(df: DataFrame, keys: list[str], ts_col: str,
                        window: str) -> DataFrame:
    """Batch twin of streaming dropDuplicatesWithinWatermark: keep the
    FIRST row (by `ts_col`, ties broken by the full key) of each key per
    tumbling `window` — the log-pipeline dedup where the same logical
    event may repeat within a bounded horizon.

    One shuffle on (window, keys) for the per-window min; semantics align
    with the streaming operator so a backfill job and the live stream
    produce the same survivors on the same data."""
    w = F.window(F.col(ts_col), window)
    keep = (df.groupBy(w.alias("__w"), *[F.col(k) for k in keys])
            .agg(F.min(F.col(ts_col)).alias(ts_col)))
    return df.join(keep.select(*keys, ts_col), keys + [ts_col], "left_semi") \
        .dropDuplicates(keys + [ts_col])


def edit_distance_pairs(df: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        max_len: int = 1000) -> DataFrame:
    """Exact Levenshtein verification for candidate pairs — the
    character-level complement to `ngram_jaccard_pairs` (token-level) for
    short fields (titles, names, URLs).  JVM levenshtein on truncated
    text (`max_len` caps the O(len^2) DP per pair; candidates only, never
    all-pairs).  Returns (id_a, id_b, edit_distance, edit_similarity)
    with similarity = 1 - dist / max(len_a, len_b)."""
    t = F.substring(F.col(text_col), 1, max_len)
    sub = df.select(F.col(id_col).alias("__id"), t.alias("__t"))
    out = (pairs
           .join(sub.select(F.col("__id").alias("id_a"),
                            F.col("__t").alias("ta")), "id_a")
           .join(sub.select(F.col("__id").alias("id_b"),
                            F.col("__t").alias("tb")), "id_b"))
    dist = F.levenshtein(F.col("ta"), F.col("tb"))
    mx = F.greatest(F.length("ta"), F.length("tb"))
    sim = F.when(mx > 0, 1.0 - dist / mx).otherwise(F.lit(1.0))
    return out.select("id_a", "id_b", dist.alias("edit_distance"),
                      F.round(sim, 6).alias("edit_similarity"))


def duplicate_size_histogram(df: DataFrame, key: Column,
                             id_col: str = "doc_id") -> DataFrame:
    """Distribution of duplicate-cluster sizes under `key` — the dedup
    audit report (how much of the corpus is singleton vs 2x vs heavy
    template families): (cluster_size, n_clusters, n_docs, doc_share).

    Two partial-agg shuffles: one to the per-key sizes, one over the
    (at most max-cluster-size) distinct sizes; the total is a 1-row
    broadcast."""
    sizes = (df.select(key.alias("__k"), F.col(id_col))
             .groupBy("__k")
             .agg(F.count(F.lit(1)).alias("cluster_size")))
    hist = (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters")))
    total = df.agg(F.count(F.lit(1)).alias("__t"))
    docs_in = F.col("cluster_size") * F.col("n_clusters")
    return (hist.crossJoin(F.broadcast(total))
            .select("cluster_size", "n_clusters",
                    docs_in.alias("n_docs"),
                    F.round(docs_in.cast("double")
                            / F.col("__t").cast("double"), 6)
                    .alias("doc_share")))


def clustering_coefficient(edges: DataFrame, src: str = "id_a",
                           dst: str = "id_b") -> DataFrame:
    """Per-node local clustering coefficient of an undirected graph:
    coeff = 2 * triangles(v) / (deg(v) * (deg(v) - 1)) — how close each
    node's neighborhood is to a clique.  On a similarity graph this
    separates tight duplicate clusters (coeff ~ 1) from hub nodes that
    merely bridge many loose neighbors (coeff ~ 0) — the diagnostic for
    whether a connected component is one dup cluster or a chain of
    borderline pairs.

    Scale shape: reuses triangle_count's degree-ordered orientation (the
    curse-of-the-last-reducer fix bounds wedge fan-out by the oriented
    out-degree), plus one degree agg and one left join — nodes without
    triangles keep coeff 0.  Nodes with deg < 2 are excluded (the
    coefficient is undefined there)."""
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .filter(F.col("u") != F.col("v"))
         .select(F.least("u", "v").alias("u"),
                 F.greatest("u", "v").alias("v"))
         .distinct())
    e = e.localCheckpoint(eager=True)
    deg = (e.select(F.col("u").alias("node"))
           .union(e.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    tri = triangle_count(e, "u", "v")
    d = F.col("degree").cast("double")
    coeff = (F.lit(2.0) * F.coalesce(F.col("triangles"), F.lit(0))
             .cast("double")) / (d * (d - 1.0))
    return (deg.filter(F.col("degree") >= 2)
            .join(tri, "node", "left")
            .select("node", "degree",
                    F.coalesce(F.col("triangles"), F.lit(0))
                    .alias("triangles"),
                    F.round(coeff, 6).alias("clustering_coeff")))


def cross_source_dup_matrix(df: DataFrame, source_col: str = "source",
                            text_col: str = "text") -> DataFrame:
    """Cross-source duplication matrix: for every pair of sources, how
    many distinct normalized-content fingerprints they SHARE, and the
    Jaccard of their fingerprint sets — the curation diagnostic that
    locates mirror sites / syndicated feeds before near-dedup spends
    compute on them (per-source dup rates live in dedup_report; this is
    the between-source picture).

    Scale shape: one distinct shuffle on (source, fingerprint), an
    equi-join ON THE FINGERPRINT (co-located; matching-pair count is
    bounded by the duplicated slice, never |A|x|B|), one count shuffle
    onto the bounded |sources|^2 pair grid — which is also the output:
    the FULL matrix, zero-shared pairs included (a clean corpus reports
    a grid of zeros, not an empty frame).  The digest is the same
    whitespace-normalized md5 the exact-dedup operators key on —
    engine-portable."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    fp = (df.select(F.col(source_col).alias("src"),
                    F.md5(norm).alias("fp"))
          .distinct())
    sizes = fp.groupBy("src").agg(F.count(F.lit(1)).alias("n_fp"))
    hits = (fp.alias("x")
            .join(fp.alias("y"), (F.col("x.fp") == F.col("y.fp"))
                  & (F.col("x.src") < F.col("y.src")))
            .groupBy(F.col("x.src").alias("source_a"),
                     F.col("y.src").alias("source_b"))
            .agg(F.count(F.lit(1)).alias("__shared")))
    grid = (sizes.select(F.col("src").alias("source_a"),
                         F.col("n_fp").alias("__na"))
            .join(F.broadcast(
                sizes.select(F.col("src").alias("source_b"),
                             F.col("n_fp").alias("__nb"))),
                F.col("source_a") < F.col("source_b")))
    return (grid.join(hits, ["source_a", "source_b"], "left")
            .select("source_a", "source_b",
                    F.coalesce(F.col("__shared"), F.lit(0))
                    .cast("bigint").alias("shared"),
                    F.round(F.coalesce(F.col("__shared"), F.lit(0))
                            .cast("double")
                            / (F.col("__na") + F.col("__nb")
                               - F.coalesce(F.col("__shared"), F.lit(0)))
                            .cast("double"), 6)
                    .alias("jaccard")))


def minhash_jaccard_calibration(docs: DataFrame, id_col: str = "doc_id",
                                text_col: str = "text",
                                num_hashes: int = 16,
                                shingle_size: int = 3,
                                hash_fn=None,
                                xor_consts: list[int] | None = None
                                ) -> DataFrame:
    """Sketch-accuracy measurement: for every document pair in the
    input, the MinHash Jaccard ESTIMATE (matching-signature-position
    fraction) next to the EXACT shingle Jaccard — the calibration
    report that tells you whether `num_hashes` is enough before you
    trust LSH at corpus scale.

    Permutations are XOR bijections of one base hash per shingle
    (h ^ c_i, a true permutation of the hash space — one hash per
    gram, k cheap XORs, no affine-mod overflow).  `xor_consts` pins
    the permutation constants for engine-portable replays (pass
    md5-derived ints + hash_fn=portable_hash60 for oracle checks);
    default is xxhash64-derived constants, Spark-internal.

    Exactness contract: signatures are exact integer mins; the
    estimate is (#equal positions)/k and the exact Jaccard is integer
    set sizes — both one IEEE division (round 6).

    Scale shape: calibration runs on the BOUNDED sample the caller
    passes (pairs grow quadratically — sample first, e.g. LSH
    candidates or an id slice); per-doc signatures are one narrow
    pass, the pair grid is a broadcast self-join on the sample."""
    hf = hash_fn or (lambda c: F.xxhash64(c))
    if xor_consts is not None:
        consts = F.array(*[F.lit(int(c))
                           for c in xor_consts[:num_hashes]])
    else:
        consts = F.array(*[F.xxhash64(F.lit(i))
                           for i in range(num_hashes)])
    # staged selects: __sh then __hv materialize as real columns so the
    # nested signature lambda never inlines the tokenizer / hash per
    # element (the word_ngrams / int8_quantize lesson)
    base = (docs.select(F.col(id_col).alias("__id"),
                        shingles(F.col(text_col), shingle_size)
                        .alias("__sh"))
            .select("__id", "__sh",
                    F.transform(F.col("__sh"), hf).alias("__hv")))
    sig = base.select(
        "__id", "__sh",
        F.transform(consts,
                    lambda c: F.array_min(
                        F.transform(F.col("__hv"),
                                    lambda h: h.bitwiseXOR(c))))
        .alias("__sig"))
    a = sig.select(F.col("__id").alias("a_id"),
                   F.col("__sh").alias("__sha"),
                   F.col("__sig").alias("__siga"))
    b = sig.select(F.col("__id").alias("b_id"),
                   F.col("__sh").alias("__shb"),
                   F.col("__sig").alias("__sigb"))
    pairs = a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
    eq = F.size(F.filter(
        F.zip_with(F.col("__siga"), F.col("__sigb"),
                   lambda x, y: x == y), lambda m: m))
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    uni = (F.size(F.col("__sha")) + F.size(F.col("__shb")) - inter)
    est = F.round(eq.cast("double") / F.lit(float(num_hashes)), 6)
    exact = F.round(inter.cast("double") / uni.cast("double"), 6)
    return pairs.select(
        "a_id", "b_id", est.alias("est_jaccard"),
        exact.alias("exact_jaccard"),
        F.round(F.abs(est - exact), 6).alias("abs_err"))
