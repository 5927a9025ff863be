"""Skew- and scale-management utilities.

AQE (enabled in session.py) already handles the common cases: runtime
broadcast upgrades, post-shuffle coalescing, and sort-merge skew-join
splitting.  The helpers here cover the cases AQE cannot fix:

- `salted_join`: a shuffled join where one key dominates (AQE's skew split
  only works for sort-merge; shuffled-hash builds on the skewed side still
  OOM).  Salting fans the hot key out over `salt` sub-partitions by
  replicating the SMALL side `salt` times — total shuffle grows by
  |small| * (salt-1), but no single task sees the whole hot key.
- `two_phase_count_distinct`: COUNT(DISTINCT x) per key shuffles every
  (key, x) pair to one task per key; a skewed key concentrates its whole
  distinct set on one task.  Phase 1 dedups on (key, x) — Spark plans a
  partial (map-side) dedup — phase 2 counts per key; the hot key's work is
  spread across as many tasks as it has distinct values.

Both are semantics-preserving rewrites: results are identical to the
direct form (tests assert equality on the synthetic tables).

This module also owns the lifetime of persisted intermediates:

- `reuse`: an operator that reads one intermediate frame more than once
  persists it here instead of calling `df.persist()` itself.
- `invocation`: the caller that owns a run (a pub/sub function run, one
  bench or oracle-check query) opens a scope; on exit every frame reused
  inside it is unpersisted.  Nothing else unpersists.

and the one small-input driver gate:

- `small_input`: an iterative operator asks it whether its input is small
  enough to run the recursion on numpy arrays in the driver instead of as
  per-round Spark jobs.
"""

from __future__ import annotations

import contextvars
from contextlib import contextmanager

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

_scopes: contextvars.ContextVar[tuple[list[DataFrame], ...]] = \
    contextvars.ContextVar("tabsdata_spark_invocation_scopes", default=())


def reuse(df: DataFrame) -> DataFrame:
    """Persist `df` (lazily: blocks materialize inside the caller's first
    action) and register it with the innermost active `invocation`
    scope, which unpersists it on exit.  Outside any scope this is a bare
    `df.persist()` and the frame lives until the caller unpersists it."""
    scopes = _scopes.get()
    if scopes:
        scopes[-1].append(df)
    return df.persist()


@contextmanager
def invocation():
    """Scope that owns the frames `reuse`d inside it: on exit, normal or
    by exception, each is unpersisted (non-blocking, newest first, so no
    still-cached frame is re-planned over one being dropped).

    The scope is per thread/task (a `contextvars` stack), so concurrent
    runs each release only their own frames.  Caches are keyed by plan,
    though: a concurrent run whose identical plan hit the same cache entry
    loses it when this scope exits, and then recomputes from lineage —
    never stale data."""
    frames: list[DataFrame] = []
    token = _scopes.set(_scopes.get() + (frames,))
    try:
        yield
    finally:
        _scopes.reset(token)
        for df in reversed(frames):
            df.unpersist(blocking=False)


def small_input(df: DataFrame, threshold: int, *cols: str):
    """The small-input driver gate: one `count()`, returned as `n`, and —
    only when `n <= threshold` — the `cols` as numpy arrays collected in
    one Arrow job (zero-copy for numeric columns); otherwise `None`.

    Below the threshold an iterative operator's rounds cost scheduled
    jobs, not data, so it runs the identical recursion on the arrays.
    Threshold 0 forces the distributed path for any non-empty frame; an
    empty frame yields empty arrays without a collect.  A failed collect
    raises: there is no silent fallback to the distributed path."""
    n = df.count()
    if n > threshold:
        return n, None
    if n == 0:
        return 0, [np.empty(0, dtype=object) for _ in cols]
    tbl = df.select(*cols).toArrow()
    return n, [c.to_numpy(zero_copy_only=False) for c in tbl.columns]


def fan_out(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Repartition a narrow input up to cluster width before a compute-bound
    stage.

    Spark sizes scan partitions from *bytes* (maxPartitionBytes), and a
    parquet row group is unsplittable — so a small-but-expensive input
    (embedding vectors, documents feeding O(dim)/O(len) projections) often
    arrives as ONE partition and serializes the whole stage on one core.
    When compute per row dwarfs scan cost, one extra round-robin shuffle
    of the small input buys full-cluster parallelism.  No-op when the
    input is already at least that wide.
    """
    spark = df.sparkSession
    try:
        target = parallelism or spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext; fall back to conf
        target = parallelism or int(
            spark.conf.get("spark.sql.shuffle.partitions"))
    # Width probe WITHOUT df.rdd: materializing .rdd forces (and with AQE
    # can partially execute) the physical plan, and breaks on Spark
    # Connect.  inputFiles() only lists the scan's files — a conservative
    # lower bound on scan tasks (files also split by maxPartitionBytes).
    # At real scale a 100 TB table has thousands of files >= target and
    # fan_out becomes a no-op instead of a full-table reshuffle; the
    # repartition only fires for genuinely narrow inputs (few files, or
    # non-file-backed frames where listing is empty).
    try:
        if len(df.inputFiles()) >= target:
            return df
    except Exception:
        pass
    return df.repartition(target)


def salted_join(big: DataFrame, small: DataFrame, on: list[str] | str,
                how: str = "inner", salt: int = 16) -> DataFrame:
    """Equi-join robust to heavy key skew on `big`.

    `big` rows get a uniform random salt in [0, salt); `small` is exploded
    to all `salt` values, so every (key, salt) bucket can join locally.
    Use when one key holds >~1% of `big` and the join must shuffle (small
    side too large to broadcast).  `how` is restricted to inner/left —
    right/full would need the salt on the other side.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (salt the big side)")
    keys = [on] if isinstance(on, str) else list(on)
    bs = big.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    ss = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = bs.join(ss, keys + ["__salt"], how)
    return joined.drop("__salt")


def bloom_prefilter_join(big: DataFrame, small: DataFrame, on: str,
                         how: str = "inner", m_bits: int | None = None,
                         k_hashes: int = 3) -> DataFrame:
    """Runtime-filter join (the Bloom side-channel every warehouse engine
    applies to star joins): build a Bloom bitset over the SMALL side's
    join keys driver-side (m_bits/8 bytes; sized to ~16 bits/key by
    default — ~0.5% false positives at k=3), probe it on the BIG side as
    pure scan-speed expressions
    (element_at on a literal array + bit_get, no join, no shuffle), then
    run the exact equi-join on the survivors.

    False positives only admit extra rows into the exact join, so results
    are IDENTICAL to a plain join — the filter just shrinks the big
    side's shuffle by the join selectivity (at 100 TB a 1% selective dim
    join moves 1% of the fact shuffle).  Spark's own runtime row-group
    filter needs DPP-eligible layouts; this works on any column.  `how`
    is restricted to inner/left_semi — outer joins must keep unmatched
    big-side rows, which the prefilter would drop.

    The driver collect is bounded by the small side's distinct-key count
    mapped to <= k * |keys| bit positions (the same smallness assumption
    any broadcast join already makes)."""
    if how not in ("inner", "left_semi", "semi"):
        raise ValueError("bloom_prefilter_join supports inner/left_semi "
                         "(outer joins must keep unmatched big rows)")
    kc = F.col(on).cast("string")
    if m_bits is None:
        # ~16 bits per distinct key, floor 2^13 (1 KiB), power of two for
        # cheap modulo; the literal array is embedded k times in codegen,
        # so oversizing it bloats every generated stage
        n_keys = small.select(on).distinct().count()
        m_bits = 1 << max(13, (16 * max(n_keys, 1) - 1).bit_length())
    pos = [
        ((F.xxhash64(F.concat(F.lit(f"{j}|"), kc)) % m_bits + m_bits)
         % m_bits).alias(f"p{j}")
        for j in range(k_hashes)
    ]
    rows = (small.select(F.explode(F.array(*pos)).alias("pos"))
            .distinct().collect())
    words = [0] * ((m_bits + 63) // 64)
    for r in rows:
        p = int(r["pos"])
        words[p // 64] |= 1 << (p % 64)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]

    arr = F.lit(words)
    cond = F.lit(True)
    for j in range(k_hashes):
        p = (F.xxhash64(F.concat(F.lit(f"{j}|"), kc)) % m_bits + m_bits) % m_bits
        word = F.element_at(arr, (p / F.lit(64)).cast("int") + 1)
        cond = cond & (F.bit_get(word, (p % 64).cast("int")) == 1)
    return big.filter(cond).join(small, on, how)


def two_phase_count_distinct(df: DataFrame, keys: list[str] | str,
                             col: str, out_name: str = "n_distinct") -> DataFrame:
    """COUNT(DISTINCT col) GROUP BY keys, skew-proof.

    Phase 1 (dedup on keys+col) gets map-side partial aggregation, so a hot
    key's distinct set is reduced in parallel before any single-task step;
    phase 2 is a cheap count of already-unique rows.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    return (
        df.select(*keys, col).dropDuplicates(keys + [col])
        .groupBy(*keys).agg(F.count(F.lit(1)).alias(out_name))
    )


def repartition_for_join(df: DataFrame, keys: list[str] | str,
                         num_partitions: int | None = None) -> DataFrame:
    """Pre-partition on the join keys so repeated joins against the same
    keys reuse one exchange (Catalyst recognizes the co-partitioning and
    elides the second shuffle)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    cols = [F.col(k) for k in keys]
    return df.repartition(num_partitions, *cols) if num_partitions \
        else df.repartition(*cols)


def write_bucketed(df: DataFrame, table_name: str, keys: list[str] | str,
                   num_buckets: int = 32, sort_by: list[str] | str | None = None,
                   mode: str = "overwrite") -> None:
    """Persist as a bucketed (+ optionally sorted) catalog table.

    Bucketing is the durable form of co-partitioning: two tables bucketed
    on the same keys with the same bucket count join with NO exchange (and
    with sort_by, no sort) — the win for fact tables joined repeatedly on
    the same key at 100 TB.  Requires saveAsTable (bucket metadata lives in
    the catalog, not in the parquet files)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    sort_by = ([sort_by] if isinstance(sort_by, str) else list(sort_by)) \
        if sort_by else keys
    (df.write.mode(mode)
       .bucketBy(num_buckets, *keys)
       .sortBy(*sort_by)
       .format("parquet")
       .saveAsTable(table_name))


def zorder_value(cols: list[F.Column], bounds: list[tuple[float, float]],
                 bits: int = 16) -> F.Column:
    """Z-order (Morton) curve value over `cols`: each column is normalized
    to a `bits`-bit integer grid using the caller-supplied [lo, hi] bounds
    (clamped), then the grids are bit-interleaved into one long.  Sorting /
    range-partitioning by this value clusters rows that are close in EVERY
    dimension into the same file ranges, so min/max data skipping prunes
    multi-column range predicates — the layout trick behind Delta/Iceberg
    OPTIMIZE ZORDER, built from plain expressions.

    bits * len(cols) must stay <= 62 (the interleaved value must fit a
    signed long).  Every shift amount is a plan-time constant, so the whole
    interleave compiles to integer shift/and/or inside whole-stage codegen,
    and the identical `(q >> b) & 1` arithmetic is available in any engine
    for oracle checks.
    """
    ndim = len(cols)
    if bits * ndim > 62:
        raise ValueError(f"bits*ndim = {bits * ndim} > 62 (signed-long cap)")
    scale_max = (1 << bits) - 1
    quantized = []
    for c, (lo, hi) in zip(cols, bounds):
        span = float(hi) - float(lo)
        q = F.floor((F.least(F.greatest(c.cast("double"), F.lit(float(lo))),
                             F.lit(float(hi))) - F.lit(float(lo)))
                    / F.lit(span) * F.lit(float(scale_max)))
        quantized.append(q.cast("long"))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for d, qcol in enumerate(quantized):
            # bit b of dim d lands at position b*ndim + d; b is a python
            # int, so shiftright/shiftleft take literal shift amounts
            bit = F.shiftright(qcol, b).bitwiseAND(F.lit(1).cast("long"))
            z = z + F.shiftleft(bit, b * ndim + d)
    return z


def zorder_repartition(df: DataFrame, cols: list[str],
                       bounds: list[tuple[float, float]],
                       num_partitions: int, bits: int = 16) -> DataFrame:
    """Range-partition `df` by its Z-order value (one range-exchange; the
    sampled range boundaries give balanced output files), sorted within
    partitions so every written file covers a compact Z-range — maximal
    min/max pruning for readers filtering on any subset of `cols`."""
    zcol = zorder_value([F.col(c) for c in cols], bounds, bits)
    return (df.withColumn("__z", zcol)
            .repartitionByRange(num_partitions, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z"))


def partition_stats(df: DataFrame) -> DataFrame:
    """Per-partition row counts — the skew diagnostic: one pass, one tiny
    collect-side aggregate keyed on spark_partition_id.  Returns
    (partition_id, n_rows) plus overall skew ratio columns (max/mean) so a
    dashboard can alert on a hot partition before it OOMs a task."""
    per = (df.select(F.spark_partition_id().alias("partition_id"))
           .groupBy("partition_id").agg(F.count(F.lit(1)).alias("n_rows")))
    tot = per.agg(
        F.max("n_rows").alias("__max"),
        F.avg("n_rows").alias("__mean"))
    return (per.crossJoin(F.broadcast(tot))
            .select("partition_id", "n_rows",
                    F.round(F.col("__max") / F.col("__mean"), 4)
                     .alias("skew_ratio")))


def compact_to_target_size(df: DataFrame, path: str,
                           target_bytes: int = 128 * 1024 * 1024,
                           format: str = "parquet",
                           mode: str = "overwrite") -> int:
    """Write `df` aiming for ~`target_bytes` per output file — the
    small-files compaction every long-lived 100 TB table needs (a million
    1 MB files kill both the driver's listing and the scan's task count).

    Size is estimated from the plan's own statistics (Catalyst's sizeInBytes
    — filescan-based, no extra job); the file count is
    ceil(estimate / target).  repartition(n) (round-robin) gives uniform
    file sizes; for sorted layouts compose with zorder_repartition first
    and skip this helper's repartition.  Returns the file count used."""
    import math as _math

    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    n = max(1, _math.ceil(int(est) / target_bytes))
    df.repartition(n).write.mode(mode).format(format).save(path)
    return n


def key_skew_report(df: DataFrame, key_cols: list[str] | str) -> DataFrame:
    """One-row skew diagnostic for a prospective join/groupBy key: row and
    key counts, the heaviest key's share, max/mean ratio, and exact
    p50/p99 of the per-key row counts — the numbers that decide between a
    plain shuffle join, AQE skew splitting, or salting (`salted_join`).

    Scale shape: one partial-agg shuffle to the per-key count table, then
    a scalar aggregate over |keys| rows.  All ratios are IEEE divisions of
    exact integer counts; percentiles are exact interpolated (matches
    quantile_cont)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    agg = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("__n").alias("n_rows"),
        F.max("__n").alias("max_per_key"),
        F.expr("percentile(__n, 0.5d)").alias("p50_per_key"),
        F.expr("percentile(__n, 0.99d)").alias("p99_per_key"),
    )
    nr, nk = F.col("n_rows").cast("double"), F.col("n_keys").cast("double")
    mx = F.col("max_per_key").cast("double")
    return agg.select(
        "n_keys", "n_rows", "max_per_key",
        F.round(F.col("p50_per_key"), 6).alias("p50_per_key"),
        F.round(F.col("p99_per_key"), 6).alias("p99_per_key"),
        F.round(mx / nr, 6).alias("top_key_share"),
        F.round(mx / (nr / nk), 6).alias("skew_ratio"),
    )


def shard_assign(df: DataFrame, id_col: str, n_shards: int = 16,
                 weight_col: str | None = None,
                 hash_fn=None, salt: str = "sh|") -> DataFrame:
    """Deterministic training-shard assignment + balance report: shard =
    hash(salt||id) mod n_shards, then per-shard row counts, total weight
    (e.g. chars/tokens — the quantity that actually bounds a trainer's
    step time), and the skew ratio vs the perfectly-balanced mean.  The
    write-side twin of key_skew_report: run BEFORE materializing shards
    to know whether hash sharding suffices or a bin-packing pass is
    needed.

    Determinism: assignment is a pure row function — stable across runs,
    engines, and cluster sizes, so shard membership can be recomputed
    instead of stored.  Scale shape: one projection + one n_shards-group
    partial agg; the corpus is never shuffled (the agg exchanges
    n_shards * partitions partial rows)."""
    if int(n_shards) < 1:
        # pmod by 0 silently yields NULL shards; negative counts yield
        # garbage balance ratios
        raise ValueError(f"shard_assign: n_shards must be >= 1, got {n_shards}")
    hf = hash_fn or F.xxhash64
    h = hf(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    nmod = F.lit(int(n_shards))
    shard = ((h % nmod) + nmod) % nmod
    w = (F.col(weight_col).cast("decimal(38,0)") if weight_col
         else F.lit(1).cast("decimal(38,0)"))
    per = (df.withColumn("__shard", shard.cast("int"))
           .groupBy("__shard")
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.sum(w).alias("__w")))
    tot = per.agg(F.sum("__w").alias("__wt"))
    return (per.crossJoin(F.broadcast(tot))
            .select(F.col("__shard").alias("shard"),
                    "n_rows",
                    F.col("__w").cast("double").alias("total_weight"),
                    F.round(F.col("__w").cast("double")
                            / (F.col("__wt").cast("double")
                               / F.lit(float(n_shards))), 6)
                    .alias("balance_ratio")))


def profile_table(df: DataFrame) -> DataFrame:
    """Per-column profiling report: (column, dtype, n_nulls, n_distinct,
    min_num, max_num) — numeric columns carry min/max, others NULL.  All
    statistics for all columns compute in ONE aggregation over a single
    scan (Spark expands the count_distincts via expand/partial-agg
    planning); the result unpivots driver-side from one collected row,
    so output size is the column count."""
    # exact dtype names except decimal, which carries (p,s) in the name.
    # A prefix match on "int" would also catch "interval day to second"
    # etc., building a MIN(interval) CAST AS DOUBLE that kills the whole
    # single-pass aggregation with AnalysisException.
    exact_num = {"int", "bigint", "double", "float", "smallint", "tinyint"}

    def _is_numeric(t: str) -> bool:
        return t in exact_num or t.startswith("decimal")

    aggs = [F.count(F.lit(1)).alias("__n")]
    # report the LOGICAL dtype: timestamp_ntz vs timestamp is a session
    # config artifact (spark.sql.timestampType), not a table property
    dts = {c: t.replace("timestamp_ntz", "timestamp")
           for c, t in df.dtypes}
    for c in df.columns:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
        if _is_numeric(dts[c]):
            aggs.append(F.min(F.col(c)).cast("double").alias(f"__mn_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"__mx_{c}"))
    row = df.agg(*aggs).collect()[0]
    out = []
    for c in df.columns:
        numeric = _is_numeric(dts[c])
        out.append((c, dts[c],
                    int(row["__n"]) - int(row[f"__nn_{c}"]),
                    int(row[f"__nd_{c}"]),
                    float(row[f"__mn_{c}"]) if numeric
                    and row[f"__mn_{c}"] is not None else None,
                    float(row[f"__mx_{c}"]) if numeric
                    and row[f"__mx_{c}"] is not None else None))
    spark = df.sparkSession
    return spark.createDataFrame(
        out, "column string, dtype string, n_nulls long, n_distinct long, "
             "min_num double, max_num double")


def record_linkage(a: DataFrame, b: DataFrame, id_a: str, id_b: str,
                   block_cols: list[str], fields: list[tuple],
                   threshold: float = 0.0,
                   best_per_left: bool = True) -> DataFrame:
    """Entity resolution by blocked pairwise scoring (the Fellegi-Sunter
    shape): candidate pairs come ONLY from equality on `block_cols`
    (never all-pairs), each field contributes its agreement weight or
    disagreement penalty, and pairs below `threshold` drop.

    `fields` entries are (col, agree_w, disagree_w) for exact equality
    or (col, agree_w, disagree_w, tol) for numeric agreement within
    |a-b| <= tol.  Weights are caller-supplied log-odds (the m/u
    probabilities of the classic model are estimated offline); keeping
    them as plain literals also keeps the score an exact IEEE sum,
    reproducible across engines.

    Scale shape: ONE equi-join shuffle on the blocking keys (pair count
    = sum of block-size products — the caller controls it via blocking),
    a projection for the score, and, with best_per_left, one window over
    each left id's candidates.  NULL fields score the disagreement
    weight (conservative)."""
    bb = b.select(F.col(id_b).alias("__idb"),
                  *[F.col(c).alias(f"__b_{c}") for c in block_cols],
                  *[F.col(f[0]).alias(f"__bf_{f[0]}") for f in fields])
    cond = [a[c] == bb[f"__b_{c}"] for c in block_cols]
    j = a.join(bb, cond)
    score = F.lit(0.0)
    for f in fields:
        col, agree_w, disagree_w = f[0], float(f[1]), float(f[2])
        av, bv = F.col(col), F.col(f"__bf_{col}")
        if len(f) > 3:
            hit = F.abs(av.cast("double") - bv.cast("double")) <= float(f[3])
        else:
            hit = av == bv
        score = score + F.when(hit.isNotNull() & hit,
                               F.lit(agree_w)).otherwise(F.lit(disagree_w))
    # threshold (and rank) on the UNROUNDED score — rounding first could
    # flip inclusion for pairs within rounding distance of the threshold
    # vs an exact-sum oracle; round() is display-only in the projection
    scored = (j.select(F.col(id_a).alias("a_id"),
                       F.col("__idb").alias("b_id"),
                       score.alias("__score"))
              .filter(F.col("__score") >= threshold))
    if not best_per_left:
        return scored.select("a_id", "b_id",
                             F.round(F.col("__score"), 6).alias("score"))
    w = Window.partitionBy("a_id").orderBy(F.col("__score").desc(),
                                           F.col("b_id").asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("a_id", "b_id",
                    F.round(F.col("__score"), 6).alias("score")))


def auto_salted_agg(df: DataFrame, key_cols: list[str] | str, aggs: dict,
                    skew_threshold: float = 0.2,
                    salt: int = 16) -> DataFrame:
    """Skew-adaptive aggregation — the "measure, don't guess" loop as an
    operator: probe the key distribution first (one partial-agg pass +
    a 1-row collect of the heaviest key's share), then aggregate PLAIN
    when the keys are balanced or TWO-PHASE SALTED (partial agg on
    (key, salt), final combine on key) when one key exceeds
    `skew_threshold` of all rows — the groupBy sibling of salted_join.

    `aggs` maps output name -> (kind, column) with kind in
    'count' | 'sum_decimal' (exact decimal(18,2) money sums; both kinds
    re-aggregate losslessly, which is what makes the two-phase plan
    exactly equal to the plain one).  Result values are identical on
    either path — the probe only changes row routing, never content.

    Scale shape: the probe shares the aggregation's shuffle key, costs
    one count pass; the salted path bounds any reducer at
    ~|hot key| / salt rows.  At 100 TB this is the difference between a
    straggling final reducer and an even fan-in."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    for name, spec in aggs.items():
        if not (isinstance(spec, (tuple, list)) and len(spec) == 2):
            raise ValueError(
                f"auto_salted_agg: aggs[{name!r}] must be a (kind, column)"
                f" pair, got {spec!r}")
    per = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    probe = per.agg(F.max("__n").alias("__mx"),
                    F.sum("__n").alias("__tot")).first()
    share = (probe["__mx"] / probe["__tot"]) if probe["__tot"] else 0.0

    def partial_exprs():
        out = []
        for name, (kind, col) in aggs.items():
            if kind == "count":
                out.append(F.count(F.lit(1)).alias(f"__p_{name}"))
            elif kind == "sum_decimal":
                out.append(F.sum(F.col(col).cast("decimal(18,2)"))
                           .alias(f"__p_{name}"))
            else:
                raise ValueError(f"unknown agg kind: {kind}")
        return out

    def final_exprs():
        out = []
        for name, (kind, _col) in aggs.items():
            src = F.sum(F.col(f"__p_{name}"))
            if kind == "count":
                out.append(src.cast("bigint").alias(name))
            else:
                out.append(src.cast("double").alias(name))
        return out

    if share < skew_threshold:
        plain = df.groupBy(*keys).agg(*partial_exprs())
        return plain.groupBy(*keys).agg(*final_exprs())
    salted = (df.withColumn("__salt",
                            F.pmod(F.xxhash64(*[F.col(k) for k in keys],
                                              F.monotonically_increasing_id()),
                                   F.lit(salt)))
              .groupBy(*keys, "__salt").agg(*partial_exprs()))
    return salted.groupBy(*keys).agg(*final_exprs())


def fd_violation_report(df: DataFrame,
                        pairs: list[tuple[str, str]]) -> DataFrame:
    """Approximate-functional-dependency profiler: for each candidate
    dependency A -> B, the minimum number of rows that would have to
    change for the FD to hold exactly (the g3 error of Kivinen &
    Mannila) — n minus the sum over A-groups of the largest B-count.
    The data-quality probe that finds 'almost keys' and denormalization
    drift before they poison joins or dedup keys.

    Exactness: everything is integer counts; violation_rate is one
    double division (round 6 display).

    Scale shape per pair: one (A, B) partial-agg shuffle, one A-keyed
    agg, one 1-row combine — candidate pairs are enumerated by the
    caller and bounded, and each pair's plan is independent (the union
    is of single-row frames)."""
    outs = []
    for det, dep in pairs:
        cells = (df.groupBy(F.col(det).alias("__a"),
                            F.col(dep).alias("__b"))
                 .agg(F.count(F.lit(1)).alias("__c")))
        per_a = cells.groupBy("__a").agg(
            F.max("__c").alias("__keep"), F.sum("__c").alias("__tot"))
        tot = per_a.agg(
            F.count(F.lit(1)).alias("n_det_groups"),
            F.sum("__tot").alias("n"),
            (F.sum("__tot") - F.sum("__keep")).alias("n_violations"))
        outs.append(tot.select(
            F.lit(det).alias("determinant"),
            F.lit(dep).alias("dependent"),
            F.col("n").cast("bigint").alias("n"),
            F.col("n_det_groups").cast("bigint").alias("n_det_groups"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
            F.round(F.col("n_violations").cast("double")
                    / F.col("n").cast("double"), 6)
            .alias("violation_rate")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def referential_orphans(child: DataFrame, child_key: str,
                        parent: DataFrame, parent_key: str,
                        relation: str) -> DataFrame:
    """Referential-integrity report for one FK relationship: total
    child rows, child rows whose key has no parent (orphans), and the
    orphan rate — the ingest-gate check that catches a broken join
    key BEFORE a silent inner join drops the rows downstream.

    NULL child keys count as orphans (they can never join).  Exact
    integer counts; the rate is one IEEE division (round 6).

    Scale shape: one left-anti join (AQE broadcasts a small parent,
    shuffles otherwise) + two scalar counts folded into one pass via
    a tagged union-free aggregate."""
    keys = child.select(F.col(child_key).alias("__k"))
    par = parent.select(F.col(parent_key).alias("__k")).distinct()
    orphan = keys.join(par, "__k", "left_anti").agg(
        F.count(F.lit(1)).alias("n_orphans"))
    total = keys.agg(F.count(F.lit(1)).alias("n_child"))
    one = total.crossJoin(F.broadcast(orphan))
    return one.select(
        F.lit(relation).alias("relation"),
        F.col("n_child").cast("bigint").alias("n_child"),
        F.col("n_orphans").cast("bigint").alias("n_orphans"),
        F.when(F.col("n_child") > 0,
               F.round(F.col("n_orphans").cast("double")
                       / F.col("n_child").cast("double"), 6))
        .alias("orphan_rate"))


def primary_key_report(df: DataFrame, key_cols: list[str] | str,
                       relation: str) -> DataFrame:
    """Primary-key integrity report: row count, distinct key count,
    and the number of EXCESS rows carrying an already-seen key — the
    companion gate to referential_orphans (a duplicated key silently
    fans out every downstream join).

    NULL keys group like any value (a repeated NULL key is still a
    violation).  Exact integer counts; the dup rate is one IEEE
    division (round 6).

    Scale shape: one partial-agg shuffle onto the key, then a scalar
    merge — the same cost as the count-distinct it replaces, but with
    the violation count for free."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    per_key = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("__c"))
    agg = per_key.agg(
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("__c") - 1).alias("dup_rows"))
    return agg.select(
        F.lit(relation).alias("relation"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_keys").cast("bigint").alias("n_keys"),
        F.col("dup_rows").cast("bigint").alias("dup_rows"),
        F.when(F.col("n_rows") > 0,
               F.round(F.col("dup_rows").cast("double")
                       / F.col("n_rows").cast("double"), 6))
        .alias("dup_rate"))


def shard_rebalance_report(df: DataFrame, key_col: str,
                           n_from: int = 16, n_to: int = 17) -> DataFrame:
    """How many keys MOVE when the shard count changes from `n_from`
    to `n_to`, under (a) modulo hashing and (b) rendezvous (highest-
    random-weight) hashing — the report that justifies consistent
    hashing before a resharding: modulo moves ~(1 - 1/n_to) of all
    keys, rendezvous moves ~1/n_to.

    Hashes are the engine-portable md5 path (textual.hash_split
    idiom), so the assignment — and therefore this report — is
    identical in any engine.  Rendezvous ties (24-bit scores) break
    to the LOWER node id on both sides.

    Scale shape: one distinct on the key, a bounded x-node explode
    (max(n_from, n_to) rows per key), one per-key window over
    <= max(n_from, n_to) rows, one scalar aggregate."""
    n_all = max(n_from, n_to)
    keys = df.select(F.col(key_col).cast("string").alias("__k")).distinct()
    h = F.conv(F.substring(F.md5(F.col("__k")), 1, 6), 16, 10) \
        .cast("long")
    base = keys.select("__k", (h % n_from).alias("__mf"),
                       (h % n_to).alias("__mt"))
    nodes = F.explode(F.sequence(F.lit(0), F.lit(n_all - 1))).alias("__n")
    scored = base.select("__k", "__mf", "__mt", nodes).select(
        "__k", "__mf", "__mt", "__n",
        F.conv(F.substring(F.md5(F.concat_ws("#", F.col("__k"),
                                             F.col("__n"))), 1, 6),
               16, 10).cast("long").alias("__s"))
    # Both ranks restrict to their own node range (covers scale-down,
    # n_from > n_to, as well as scale-up): rank 1 = highest score among
    # the nodes that actually exist on that side.
    ranked = scored.select(
        "__k", "__mf", "__mt", "__n",
        F.row_number().over(
            Window.partitionBy("__k").orderBy(
                F.when(F.col("__n") < n_to, 0).otherwise(1),
                F.col("__s").desc(), F.col("__n").asc())).alias("__rt"),
        F.row_number().over(
            Window.partitionBy("__k").orderBy(
                F.when(F.col("__n") < n_from, 0).otherwise(1),
                F.col("__s").desc(), F.col("__n").asc())).alias("__rf"))
    per_key = ranked.groupBy("__k").agg(
        F.max("__mf").alias("__amf"), F.max("__mt").alias("__amt"),
        F.min(F.when(F.col("__rf") == 1, F.col("__n"))).alias("__af"),
        F.min(F.when(F.col("__rt") == 1, F.col("__n"))).alias("__at"))
    agg = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(F.col("__amf") != F.col("__amt"), 1).otherwise(0))
        .alias("mod_moved"),
        F.sum(F.when(F.col("__af") != F.col("__at"), 1).otherwise(0))
        .alias("rdv_moved"))
    nk = F.col("n_keys").cast("double")
    return agg.select(
        F.col("n_keys").cast("bigint").alias("n_keys"),
        F.col("mod_moved").cast("bigint").alias("mod_moved"),
        F.round(F.col("mod_moved").cast("double") / nk, 6)
        .alias("mod_moved_rate"),
        F.col("rdv_moved").cast("bigint").alias("rdv_moved"),
        F.round(F.col("rdv_moved").cast("double") / nk, 6)
        .alias("rdv_moved_rate"))


def delta_merge_agg(base: DataFrame, delta: DataFrame,
                    keys: list[str], sum_cols: dict) -> DataFrame:
    """Incremental-view-maintenance merge for SUM/COUNT aggregates:
    aggregate the base snapshot and the delta INDEPENDENTLY, union the
    partial results, and re-sum — the refresh never rescans the
    snapshot's raw rows (the batch form of a streaming incremental
    rollup, and the join-IVM building block: join each side with its
    dimensions before passing it in).

    `sum_cols` maps output name -> column expression to sum; sums
    should be exact types (decimal, bigint) so base+delta merge is
    associative and engine-stable.

    Scale shape: two independent partial-agg shuffles + one
    re-aggregation over 2x|keys| rows."""
    def part(df):
        return df.groupBy(*keys).agg(
            *[F.sum(expr).alias(name) for name, expr in sum_cols.items()])

    u = part(base).unionAll(part(delta))
    return u.groupBy(*keys).agg(
        *[F.sum(name).alias(name) for name in sum_cols])


def pruning_report(df: DataFrame, arrival_col: str, value_col: str,
                   lo, hi, buckets: int = 32) -> DataFrame:
    """Min-max data-skipping simulation: bucket the table two ways —
    by ARRIVAL order (equal-width ranges of `arrival_col`, e.g. an
    ingest key) and by the QUERY column's own value ranges (what a
    sort/Z-order layout achieves) — record each bucket's min/max of
    the query column, and count how many buckets a range predicate
    [lo, hi] could skip.  The report that quantifies, before any
    rewrite, how much a re-layout would cut a 100 TB scan.

    `value_col` must be integer-valued (epoch days, keys).  Exact
    integer bucket stats; the skip decision is pure comparison.

    Scale shape: two 1-row min/max broadcasts + two bounded
    partial aggs (<= `buckets` rows each); nothing sorts."""
    bounds = df.agg(
        F.min(F.col(arrival_col)).alias("__alo"),
        F.max(F.col(arrival_col)).alias("__ahi"),
        F.min(F.col(value_col)).alias("__vlo"),
        F.max(F.col(value_col)).alias("__vhi"))
    d = df.crossJoin(F.broadcast(bounds))
    b_arr = F.least(
        F.expr(f"(({arrival_col} - __alo) * {int(buckets)})"
               f" div (__ahi - __alo + 1)"), F.lit(buckets - 1))
    b_val = F.least(
        F.expr(f"(({value_col} - __vlo) * {int(buckets)})"
               f" div (__vhi - __vlo + 1)"), F.lit(buckets - 1))

    def layout(bucket, name):
        per = d.groupBy(bucket.alias("__b")).agg(
            F.min(F.col(value_col)).alias("__mn"),
            F.max(F.col(value_col)).alias("__mx"))
        skipped = F.when((F.col("__mx") < F.lit(lo))
                         | (F.col("__mn") > F.lit(hi)), 1).otherwise(0)
        return per.agg(
            F.lit(name).alias("layout"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(skipped).cast("bigint").alias("n_skipped"),
            F.round(F.sum(skipped).cast("double")
                    / F.count(F.lit(1)).cast("double"), 6)
            .alias("skip_rate"))

    return layout(b_arr, "arrival").unionAll(layout(b_val, "sorted"))
