"""Operators beyond the reference surface.

The reference deliberately blocks `join_asof` (SURVEY §2.2,
_utils/tableframe/_constants.py:52-82) — its single-process Polars engine
would handle it, but the API never exposed it.  Pipelines need it, so it is
provided here as an *extension*, built Spark-first.

`asof_join` uses the union + forward-fill formulation instead of a pandas
merge_asof per group: both sides are tagged and unioned, one shuffle
partitions by the `by` keys, and a running `last(value, ignorenulls=True)`
window carries each right row onto the left rows that follow it in event
order.  Cost at scale: ONE shuffle + ONE sort, all JVM-side, no Python
boundary, no per-group pandas materialization — the standard way to make
as-of joins survive 100 TB inputs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from .scale import reuse


def asof_join(left: DataFrame, right: DataFrame, on: str,
              by: list[str] | str | None = None,
              strategy: str = "backward", suffix: str = "_right") -> DataFrame:
    """For every left row, attach the right row with the largest `on` value
    <= left's (`strategy='backward'`, inclusive) or the smallest >= left's
    (`'forward'`).  Unmatched left rows keep nulls (left-join semantics).

    `by` keys partition the match (and the shuffle).  Right columns that
    clash with left names get `suffix`.
    """
    if strategy not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof strategy: {strategy}")
    by = [by] if isinstance(by, str) else list(by or [])

    rval_cols = [c for c in right.columns if c != on and c not in by]
    out_names = {c: (c + suffix if c in left.columns else c) for c in rval_cols}
    ron = on + suffix if on in left.columns else on

    packed = F.struct(F.col(on).alias(ron),
                      *[F.col(c).alias(out_names[c]) for c in rval_cols])
    r2 = right.select(*by, F.col(on).alias("__ts"), F.lit(0).alias("__side"),
                      packed.alias("__rv"))
    l2 = left.select("*", F.col(on).alias("__ts"), F.lit(1).alias("__side"),
                     F.lit(None).cast(r2.schema["__rv"].dataType).alias("__rv"))
    unioned = l2.unionByName(r2, allowMissingColumns=True)

    part = [F.col(k) for k in by]
    # trailing `__rv desc` makes ties among equal-`on` right rows
    # deterministic: the fill's last() lands on the MINIMUM packed struct
    # (struct order: match ts, then value columns), independent of
    # partitioning or input order
    wb = (Window.partitionBy(*part)
          .orderBy(F.col("__ts").asc(), F.col("__side").asc(),
                   F.col("__rv").desc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wf = (Window.partitionBy(*part)
          .orderBy(F.col("__ts").desc(), F.col("__side").asc(),
                   F.col("__rv").desc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    if strategy == "backward":
        # right (side 0) sorts before left at equal ts -> inclusive match
        filled = unioned.withColumn(
            "__m", F.last("__rv", ignorenulls=True).over(wb))
    elif strategy == "forward":
        filled = unioned.withColumn(
            "__m", F.last("__rv", ignorenulls=True).over(wf))
    else:
        # nearest: both directional fills (same partitioning -> one shuffle,
        # two sorts), then pick the closer match; ties go backward, matching
        # pandas merge_asof.  Distances compared as doubles so the same
        # code serves timestamp and numeric `on` columns.
        mb = F.last("__rv", ignorenulls=True).over(wb)
        mf = F.last("__rv", ignorenulls=True).over(wf)
        dist = lambda m: F.abs(F.col("__ts").cast("double")
                               - m[ron].cast("double"))
        filled = (unioned.withColumn("__mb", mb).withColumn("__mf", mf)
                  .withColumn(
                      "__m",
                      F.when(F.col("__mb").isNull(), F.col("__mf"))
                       .when(F.col("__mf").isNull(), F.col("__mb"))
                       .when(dist(F.col("__mb")) <= dist(F.col("__mf")),
                             F.col("__mb"))
                       .otherwise(F.col("__mf"))))
    out = filled.filter(F.col("__side") == 1)
    keep = [c for c in left.columns]
    proj = [F.col(c) for c in keep]
    proj.append(F.col(f"__m.{ron}").alias(ron))
    proj += [F.col(f"__m.{out_names[c]}").alias(out_names[c]) for c in rval_cols]
    return out.select(*proj)


def range_join(left: DataFrame, right: DataFrame, left_on: str,
               right_start: str, right_end: str,
               by: list[str] | str | None = None,
               bucket: str = "1 day", how: str = "inner") -> DataFrame:
    """Interval-containment join: left rows where
    `right_start <= left_on <= right_end`.

    Spark has no native range join; the naive form is a cross join +
    filter.  This bucketizes time into fixed windows: each right interval
    explodes into the buckets it covers, each left row lands in exactly one
    bucket, and the match becomes an equi-join on (by, bucket) + a residual
    BETWEEN filter.  Shuffle volume is |left| + |right| * avg_buckets, not
    |left| * |right|; no duplicate pairs arise because a left row has one
    bucket.  `bucket` should approximate the typical interval length.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    width_us = _interval_micros(bucket)

    lb = (F.unix_micros(F.col(left_on).cast("timestamp")) / width_us).cast("long")
    l2 = left.withColumn("__b", lb)
    rs = (F.unix_micros(F.col(right_start).cast("timestamp")) / width_us).cast("long")
    re_ = (F.unix_micros(F.col(right_end).cast("timestamp")) / width_us).cast("long")
    r2 = right.withColumn("__b", F.explode(F.sequence(rs, re_)))

    cond = [l2["__b"] == r2["__b"]] + [l2[k] == r2[k] for k in by]
    joined = l2.join(r2, cond, how)
    joined = joined.filter(
        F.col(left_on).between(F.col(right_start), F.col(right_end))
        if how == "inner" else
        (F.col(right_start).isNull()
         | F.col(left_on).between(F.col(right_start), F.col(right_end))))
    keep = [l2[c] for c in left.columns] + \
           [r2[c] for c in right.columns if c not in by and c != "__b"]
    return joined.select(*keep)


def _interval_micros(s: str) -> int:
    n, unit = s.split()
    mult = {"second": 1_000_000, "minute": 60_000_000, "hour": 3_600_000_000,
            "day": 86_400_000_000}[unit.rstrip("s")]
    return int(n) * mult


def hierarchical_rollup(df: DataFrame, ts_col: str, value_col: str,
                        levels: tuple[str, ...] = ("hour", "day", "month"),
                        by: list[str] | str | None = None) -> DataFrame:
    """Multi-resolution time rollup (the hypertable-rollup pattern): the
    finest level aggregates the raw rows ONCE; every coarser level
    re-aggregates the previous level's (already tiny) output.  At 100 TB
    the raw table is scanned exactly once regardless of how many
    resolutions are materialized.

    Sums run in DECIMAL so re-aggregating partial sums is exact.  Returns
    one frame with a `resolution` tag, bucket start, count and sum.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    finest, *coarser = levels
    cur = (
        df.groupBy(*by, F.date_trunc(finest, F.col(ts_col)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col(value_col).cast("decimal(18,4)")).alias("__s"))
    )
    # materialize the finest rollup: the union references it once per level
    # and Spark does not re-use the exchange across union branches — without
    # this the raw table would be scanned len(levels) times.  The cached
    # set is the *aggregated* output (tiny), never the raw input.
    cur = reuse(cur)
    out = cur.select(*by, F.lit(finest).alias("resolution"), "bucket",
                     "n", F.col("__s").cast("double").alias("total"))
    for lvl in coarser:
        cur = (
            cur.groupBy(*by, F.date_trunc(lvl, F.col("bucket")).alias("bucket"))
            .agg(F.sum("n").alias("n"), F.sum("__s").alias("__s"))
        )
        out = out.unionByName(
            cur.select(*by, F.lit(lvl).alias("resolution"), "bucket",
                       "n", F.col("__s").cast("double").alias("total")))
    return out


def funnel(events: DataFrame, user_col: str, ts_col: str, type_col: str,
           steps: list[str], within: str | None = None,
           step_within: str | None = None) -> DataFrame:
    """Ordered event-funnel analysis: for each user, the earliest strictly
    increasing timestamp chain through `steps` (classic product-analytics
    A→B→C), optionally requiring the whole chain inside `within` (an
    INTERVAL string) of step 1, and/or each step inside `step_within` of
    the PREVIOUS step (the engagement-decay form: a purchase a month
    after the click is not a conversion).  Returns one row per user who
    completed step 1, with t_1..t_k (null once the chain breaks) and
    reached_steps.

    Plan shape: k-1 self-joins, each keyed on the user — after the first
    shuffle every join reuses the same hash partitioning (exchange reuse),
    and each stage's input is only the users still alive in the funnel.
    min-aggregates keep one row per user per stage, so no stage is ever
    bigger than the user count; k is small by nature.  No windows over the
    full event table, no driver state.  Semantics note: the chain is the
    GREEDY-EARLIEST one (first admissible event per step — the standard
    product-analytics definition, e.g. first-occurrence funnels).  With
    step_within this is not reach-MAXIMIZING: a later step-2 choice
    could keep a window open for a step 3 the earliest choice misses;
    callers needing maximal reach should widen step_within or use the
    chain-of-asof composition."""
    def stage(i: int) -> DataFrame:
        return (events.filter(F.col(type_col) == steps[i])
                .select(F.col(user_col).alias("__u"),
                        F.col(ts_col).alias("__ts")))

    step_iv = (F.expr(f"INTERVAL {step_within}")
               if step_within is not None else None)
    cur = stage(0).groupBy("__u").agg(F.min("__ts").alias("t_1"))
    for i in range(1, len(steps)):
        cond = F.col("__ts") > F.col(f"t_{i}")
        if step_iv is not None:
            cond = cond & (F.col("__ts") <= F.col(f"t_{i}") + step_iv)
        nxt = (stage(i).join(cur, "__u")
               .filter(cond)
               .groupBy("__u").agg(F.min("__ts").alias(f"t_{i + 1}")))
        cur = cur.join(nxt.select("__u", f"t_{i + 1}"), "__u", "left")
    if within is not None:
        # timestamps increase along the chain, so nulling every stage past
        # the window (not just the last) keeps reached_steps consistent:
        # a user converts only within `within` of their step-1 time
        deadline = F.col("t_1") + F.expr(f"INTERVAL {within}")
        for i in range(2, len(steps) + 1):
            cur = cur.withColumn(
                f"t_{i}",
                F.when(F.col(f"t_{i}") <= deadline, F.col(f"t_{i}")))
    cols = [F.col(f"t_{i + 1}") for i in range(len(steps))]
    # reached_steps = length of the consecutive non-null stage prefix
    reached = F.lit(len(steps))
    for i in range(len(steps) - 1, 0, -1):
        reached = F.when(F.col(f"t_{i + 1}").isNull(), F.lit(i)) \
            .otherwise(reached)
    return cur.select(F.col("__u").alias(user_col), *cols,
                      reached.alias("reached_steps"))


def retention_cohorts(events: DataFrame, user_col: str, ts_col: str,
                      granularity: str = "week",
                      max_offset: int | None = None) -> DataFrame:
    """Cohort retention matrix: users bucketed by their FIRST activity
    period (the cohort), counted in every later period they return —
    the standard growth-analytics triangle.

    Plan shape: first-activity is one partial-agg shuffle on user; the
    (cohort, offset) matrix is one more partial-agg over the distinct
    (user, period) activity pairs — dropDuplicates gets map-side combine,
    so a power user's thousand events collapse before the exchange.  No
    windows over the event table.  Returns (cohort, offset, n_users,
    retention) with retention = n_users / cohort size, offset 0 = the
    cohort period itself."""
    period = F.date_trunc(granularity, F.col(ts_col))
    acts = (events.select(F.col(user_col).alias("__u"),
                          period.alias("__p")).dropDuplicates())
    first = acts.groupBy("__u").agg(F.min("__p").alias("__cohort"))
    diff_unit = {"week": 7 * 86400, "day": 86400}.get(granularity)
    if diff_unit is None:
        raise ValueError("granularity must be 'week' or 'day'")
    joined = (acts.join(first, "__u")
              .withColumn("period_offset",
                          ((F.unix_timestamp("__p")
                            - F.unix_timestamp("__cohort"))
                           / diff_unit).cast("int")))
    if max_offset is not None:
        joined = joined.filter(F.col("period_offset") <= max_offset)
    sizes = first.groupBy("__cohort").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    mat = joined.groupBy("__cohort", "period_offset").agg(
        F.count(F.lit(1)).alias("n_users"))
    return (mat.join(F.broadcast(sizes), "__cohort")
            .select(F.col("__cohort").alias("cohort"), "period_offset",
                    "n_users",
                    F.round(F.col("n_users") / F.col("cohort_size"), 6)
                    .alias("retention")))


def rolling_zscore(df: DataFrame, key_cols: list[str] | str, ts_col: str,
                   value_col: str, window: int = 20, min_periods: int = 8,
                   threshold: float = 2.5,
                   tie_cols: list[str] | None = None) -> DataFrame:
    """Per-key rolling-window anomaly detection: flag rows whose value sits
    more than `threshold` sample standard deviations from the mean of the
    PRECEDING `window` observations (the trailing frame excludes the row
    itself, so an anomaly cannot mask itself).

    Exactness contract: the rolling moments are integer sums of
    micros-quantized values (m = floor(v*1e6 + 0.5) as bigint), so mean and
    stddev are identical IEEE expressions over identical integers in any
    engine and any partitioning — no float accumulation-order drift, no
    double->decimal cast-rounding divergence (see NOTES oracle rules).

    Scale shape: ONE shuffle on the key columns, one sort per partition,
    two integer window sums over a rows-based frame — all JVM window
    codegen, state bounded by `window`.  Per-key ordering is total via
    (ts, *tie_cols), so results are stable under repartitioning."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.col(ts_col)] + [F.col(c) for c in (tie_cols or [])]
    m = F.floor(F.col(value_col) * 1e6 + F.lit(0.5)).cast("bigint")
    # moments summed in decimal(38,0) (Spark's exact 128-bit path): a
    # bigint m*m wraps silently (non-ANSI) or throws (ANSI) once
    # |value| > ~3037, and the window sum itself can cross 2^63
    base = (df.withColumn("__m", m)
            .withColumn("__md", F.col("__m").cast("decimal(38,0)")))
    # The trailing frame's moments come from CUMULATIVE sums differenced
    # at row offsets (frame [-w,-1] = cum[-1] - cum[-w-1]) instead of a
    # sliding-frame aggregate: Spark evaluates a sliding decimal SUM by
    # re-adding the whole frame per row (O(window) each, ~2x wall on
    # window=20), while a cumulative sum is O(1)/row and lag() is free on
    # the already-sorted partition.  Decimal sums are EXACT, so the
    # difference equals the frame sum bit-for-bit — this is a plan
    # change, not a semantics change.
    wsort = Window.partitionBy(*keys).orderBy(*order)
    wcum = wsort.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    zero = F.lit(0).cast("decimal(38,0)")
    base = (base
            .withColumn("__ccnt", F.count("__m").over(wcum))
            .withColumn("__cs1", F.sum("__md").over(wcum))
            .withColumn("__cs2",
                        F.sum(F.col("__md") * F.col("__md")).over(wcum)))
    n = (F.lag("__ccnt", 1).over(wsort)
         - F.coalesce(F.lag("__ccnt", window + 1).over(wsort), F.lit(0)))
    s1 = (F.coalesce(F.lag("__cs1", 1).over(wsort), zero)
          - F.coalesce(F.lag("__cs1", window + 1).over(wsort), zero))
    s2 = (F.coalesce(F.lag("__cs2", 1).over(wsort), zero)
          - F.coalesce(F.lag("__cs2", window + 1).over(wsort), zero))
    nd = n.cast("double")
    mean = F.when(nd > 0.0, (s1.cast("double") / 1e6) / nd)
    # sample variance over the micros integers, de-scaled once at the end.
    # Degenerate windows are guarded with lazy CASE branches (ANSI double
    # division by zero RAISES, killing the whole job on one bad key):
    # n <= 1 -> var NULL; var <= 0 (constant window, or float rounding
    # pushing it a hair negative) -> std NULL -> z NULL -> row dropped by
    # the threshold filter, same as the non-ANSI NULL-propagation path.
    var = F.when(nd > 1.0,
                 ((s2.cast("double") - s1.cast("double") * s1.cast("double")
                   / nd) / (nd - 1)) / 1e12)
    std = F.when(var > 0.0, F.sqrt(var))
    # materialize the window expressions before filtering on them (window
    # functions are not allowed inside WHERE); the unrounded z drives the
    # threshold, round is display-only
    scored = (base.withColumn("__n", n)
              .withColumn("__mean", mean)
              .withColumn("__std", std)
              .withColumn("__z", (F.col(value_col) - F.col("__mean"))
                          / F.col("__std")))
    return (scored
            .filter(F.col("__n") >= min_periods)
            .filter(F.abs(F.col("__z")) > threshold)
            .withColumn("roll_mean", F.round(F.col("__mean"), 6))
            .withColumn("roll_std", F.round(F.col("__std"), 6))
            .withColumn("zscore", F.round(F.col("__z"), 6))
            .drop("__m", "__md", "__ccnt", "__cs1", "__cs2",
                  "__n", "__mean", "__std", "__z"))


def cooccurrence_lift(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Market-basket association strength for every item pair:

        support(a,b) = n_ab / N          (baskets containing both)
        confidence   = n_ab / n_a        (directional, a -> b kept a < b)
        lift         = n_ab * N / (n_a * n_b)

    counts are exact integers; the ratios are identical IEEE divisions in
    any engine.  Pairs are emitted once with item_a < item_b.

    Scale shape: dropDuplicates collapses each basket's repeats with
    map-side combine BEFORE any join; the pair generation self-joins the
    (basket, item) table keyed on the BASKET id, so fan-out per basket is
    (distinct items)^2 — bounded by catalog size per basket, never
    corpus x corpus; item marginals broadcast (|items| rows)."""
    bi = (df.select(F.col(basket_col).alias("__b"),
                    F.col(item_col).alias("__i"))
          .dropDuplicates())
    n_total = bi.select("__b").dropDuplicates().agg(
        F.count(F.lit(1)).alias("n_baskets"))
    marg = bi.groupBy("__i").agg(F.count(F.lit(1)).alias("n_item"))
    a = bi.select("__b", F.col("__i").alias("item_a"))
    b = bi.select("__b", F.col("__i").alias("item_b"))
    pairs = (a.join(b, "__b")
             .filter(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.count(F.lit(1)).alias("n_ab")))
    out = (pairs
           .join(F.broadcast(marg.select(F.col("__i").alias("item_a"),
                                         F.col("n_item").alias("n_a"))),
                 "item_a")
           .join(F.broadcast(marg.select(F.col("__i").alias("item_b"),
                                         F.col("n_item").alias("n_b"))),
                 "item_b")
           .crossJoin(F.broadcast(n_total)))
    nd = F.col("n_ab").cast("double")
    return out.select(
        "item_a", "item_b", "n_ab",
        F.round(nd / F.col("n_baskets").cast("double"), 6).alias("support"),
        F.round(nd / F.col("n_a").cast("double"), 6).alias("confidence"),
        F.round(nd * F.col("n_baskets").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6).alias("lift"),
    )


def resample_ffill(df: DataFrame, key_cols: list[str] | str, ts_col: str,
                   value_col: str, step: str = "1 hour") -> DataFrame:
    """Per-key regular time grid with forward-filled values (timeseries
    resampling): the grid spans floor(min ts) .. floor(max ts) of EACH key
    at `step` resolution; each grid point carries the latest observed
    value at-or-before it (nulls until the first observation; within a
    bucket the LAST observation by (ts, value) wins deterministically).

    Scale shape: grid bounds are one partial-agg shuffle per key; the grid
    explodes sequence(min, max, step) per key (rows = span/step, data-size
    independent); observations union the grid and ONE per-key window
    (last-ignorenulls over event order) carries values forward — the same
    union + forward-fill formulation as asof_join, no per-key pandas."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    bounds = df.groupBy(*keys).agg(
        F.date_trunc("hour", F.min(ts_col)).alias("__lo") if step == "1 hour"
        else F.min(ts_col).alias("__lo"),
        F.date_trunc("hour", F.max(ts_col)).alias("__hi") if step == "1 hour"
        else F.max(ts_col).alias("__hi"),
    )
    grid = bounds.select(
        *keys,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"),
                             F.expr(f"INTERVAL {step}"))).alias("grid_ts"))
    # order observations before grid points at the same instant is wrong —
    # a grid point AT an observation must see it: tag obs 0, grid 1
    obs = df.select(
        *keys, F.col(ts_col).alias("grid_ts"), F.lit(0).alias("__tag"),
        F.col(value_col).alias("__v"))
    g = grid.select(*keys, "grid_ts", F.lit(1).alias("__tag"),
                    F.lit(None).cast(dict(df.dtypes)[value_col]).alias("__v"))
    unioned = obs.unionByName(g)
    w = (Window.partitionBy(*keys)
         .orderBy(F.col("grid_ts"), F.col("__tag"), F.col("__v"))
         .rowsBetween(Window.unboundedPreceding, 0))
    filled = unioned.withColumn(
        "value_ffill", F.last("__v", ignorenulls=True).over(w))
    return (filled.filter(F.col("__tag") == 1)
            .select(*keys, "grid_ts", "value_ffill"))


def markov_transitions(df: DataFrame, key_cols: list[str] | str,
                       ts_col: str, state_col: str,
                       tie_cols: list[str] | None = None) -> DataFrame:
    """First-order Markov transition estimates over per-key event
    sequences: count consecutive (state -> next_state) pairs in (ts, tie)
    order and divide by the out-degree of the source state:

        p = n_ab / n_a        (exact integer counts, IEEE division)

    Scale shape: ONE shuffle on the keys + one per-key lead() window, then
    a partial-agg count over at most |states|^2 groups; out-degrees are a
    re-aggregation of the pair table (broadcast back).  Sequence ends
    (lead null) drop out of both numerator and denominator."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.col(ts_col)] + [F.col(c) for c in (tie_cols or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    nxt = F.lead(state_col).over(w)
    pairs = (df.select(F.col(state_col).alias("state"),
                       nxt.alias("next_state"))
             .filter(F.col("next_state").isNotNull())
             .groupBy("state", "next_state")
             .agg(F.count(F.lit(1)).alias("n_ab")))
    out_deg = pairs.groupBy("state").agg(F.sum("n_ab").alias("n_a"))
    return (pairs.join(F.broadcast(out_deg), "state")
            .select("state", "next_state", "n_ab",
                    F.round(F.col("n_ab").cast("double")
                            / F.col("n_a").cast("double"), 6).alias("p")))


def session_paths(df: DataFrame, key_cols: list[str] | str, ts_col: str,
                  type_col: str, gap_seconds: int = 1800,
                  tie_cols: list[str] | None = None,
                  top: int = 20) -> DataFrame:
    """Clickstream path mining: gap-based sessionization (new session when
    the inter-event gap exceeds `gap_seconds`), then the ordered event-type
    sequence of each session becomes a '>'-joined path string, counted and
    ranked — (path, n_sessions) for the `top` most frequent paths, ties to
    the lexicographically smaller path.

    Scale shape: ONE shuffle on the keys serves both session windows
    (lag-gap flag + running sum); per-session sequences come from a
    partial-agg collect_list of (ts, tie, type) structs SORTED AFTER
    aggregation (array_sort gives a total order, so the path is
    deterministic under any partitioning); the path count is a second
    partial-agg shuffle bounded by distinct-path cardinality; the final
    top-k is TakeOrderedAndProject, never a global window."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    ties = tie_cols or []
    order = [F.col(ts_col)] + [F.col(c) for c in ties]
    w = Window.partitionBy(*keys).orderBy(*order)
    gap = (F.unix_micros(F.col(ts_col))
           - F.unix_micros(F.lag(ts_col).over(w)))
    is_new = F.when(F.lag(ts_col).over(w).isNull()
                    | (gap > gap_seconds * 1_000_000), 1).otherwise(0)
    cum = (Window.partitionBy(*keys).orderBy(*order)
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sess = (df.withColumn("__new", is_new)
            .withColumn("__sess", F.sum("__new").over(cum)))
    step = F.struct(F.col(ts_col).alias("t"),
                    *[F.col(c).alias(f"k{i}") for i, c in enumerate(ties)],
                    F.col(type_col).alias("e"))
    paths = (sess.groupBy(*keys, "__sess")
             .agg(F.array_sort(F.collect_list(step)).alias("__steps"))
             .select(F.concat_ws(
                 ">", F.transform(F.col("__steps"), lambda s: s["e"]))
                 .alias("path")))
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"))
    return counted.orderBy(F.col("n_sessions").desc(), "path").limit(top)


def growth_curve(df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """Daily acquisition curve: per calendar day, how many keys appeared
    for the FIRST time, plus the running cumulative total — the growth
    metric behind every "users over time" chart.

    Scale shape: first-seen is one partial-agg shuffle on the key; daily
    counts re-aggregate that (≤ one row per day); the cumulative sum is an
    unpartitioned window over the DAY-level aggregate — bounded by the
    calendar span, never data-sized, the same bounded-aggregate exception
    as token_budget_select's histogram."""
    first = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.min(F.to_date(F.col(ts_col))).alias("first_day"))
    daily = first.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_keys"))
    w = (Window.orderBy("first_day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return daily.select(
        "first_day", "new_keys",
        F.sum("new_keys").over(w).alias("cum_keys")).orderBy("first_day")


def rolling_active(df: DataFrame, key_col: str, ts_col: str,
                   window_days: int = 7) -> DataFrame:
    """Trailing-N-day active-key counts per day (the DAU/WAU/MAU metric):
    for each calendar day in the data, how many distinct keys were active
    at least once in the `window_days` ending that day (inclusive).

    Scale shape: the classic explode-forward formulation — (day, key)
    distinct pairs (map-side combined), each pair emitted into the N
    window-end days it supports (bounded fan-out = window_days), then one
    dedup + count per day.  No self-join, no range join, no per-day
    distinct-state; shuffle volume is N * |active-pairs|.  Days with no
    active window are absent (they'd count 0)."""
    pairs = (df.select(F.to_date(F.col(ts_col)).alias("__d"),
                       F.col(key_col).alias("__k"))
             .dropDuplicates())
    ends = pairs.select(
        F.explode(F.sequence(
            F.col("__d"),
            F.date_add(F.col("__d"), window_days - 1))).alias("day"),
        "__k")
    last_day = df.agg(F.max(F.to_date(F.col(ts_col))).alias("__max"))
    return (ends.crossJoin(F.broadcast(last_day))
            .filter(F.col("day") <= F.col("__max"))
            .dropDuplicates(["day", "__k"])
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("active_keys")))


def gini_by_group(df: DataFrame, group_col: str, key_col: str,
                  value_col: str) -> DataFrame:
    """Within-group Gini coefficient of per-key value totals (revenue
    concentration — textbook formula over sorted totals):

        G = (2 * sum_i i*x_(i) / (n * sum x)) - (n + 1) / n

    with x_(i) ascending and ties broken by key for a total order.  Totals
    are decimal sums (exact); the rank-weighted sum is decimal-summed too
    (i*x in micros-free decimal), so G is identical IEEE arithmetic in any
    engine.

    Scale shape: per-key totals are one partial-agg shuffle; the rank
    window partitions BY GROUP (never global); the weighted-sum agg is a
    second keyed shuffle of |keys| rows."""
    dec = "decimal(28,6)"
    totals = (df.groupBy(F.col(group_col).alias("g"),
                         F.col(key_col).alias("k"))
              .agg(F.sum(F.col(value_col).cast(dec)).alias("x")))
    w = Window.partitionBy("g").orderBy(F.col("x"), F.col("k"))
    ranked = totals.withColumn("i", F.row_number().over(w))
    agg = (ranked.groupBy("g")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("x").alias("_sx"),
                F.sum((F.col("i").cast(dec) * F.col("x"))
                      .cast("decimal(38,6)")).alias("_six")))
    n = F.col("n").cast("double")
    gini = (2.0 * F.col("_six").cast("double")
            / (n * F.col("_sx").cast("double"))) - (n + 1.0) / n
    return agg.select(F.col("g").alias(group_col), "n",
                      F.round(F.col("_sx").cast("double"), 2)
                      .alias("total_value"),
                      F.round(gini, 6).alias("gini"))


def rfm_segments(orders: DataFrame, key_col: str, ts_col: str,
                 value_col: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation: per key
    compute days-since-last-order (vs the dataset's max date), order
    count, and decimal-summed spend; split each metric at its exact
    quartile thresholds; label keys with a 3-digit segment (1 = bottom
    quartile ... 4 = top).  Returns per-segment (segment, n_keys,
    total_value).

    Scale note: buckets come from comparing each key's metrics to three
    BROADCAST scalar thresholds — not from a partitionless ntile window
    (which would funnel every key through one task).  Ties sit on the
    threshold side given by the <= comparison, deterministically.

    Scale shape: one key shuffle for the per-key profile, one scalar
    quantile aggregate, one broadcast, one |segments|-group agg."""
    dec = "decimal(28,2)"
    prof = (orders.groupBy(F.col(key_col).alias("k"))
            .agg(F.max(F.to_date(F.col(ts_col))).alias("_last"),
                 F.count(F.lit(1)).alias("frequency"),
                 F.sum(F.col(value_col).cast(dec)).alias("_m")))
    maxd = orders.agg(F.max(F.to_date(F.col(ts_col))).alias("_maxd"))
    prof = (prof.crossJoin(F.broadcast(maxd))
            .withColumn("recency_days",
                        F.datediff(F.col("_maxd"), F.col("_last")))
            .withColumn("monetary", F.col("_m").cast("double")))
    qs = prof.agg(*[
        F.expr(f"percentile({c}, array(0.25d, 0.5d, 0.75d))").alias(f"q_{c}")
        for c in ("recency_days", "frequency", "monetary")])

    def bucket(c, q, invert=False):
        b = (F.when(F.col(c) <= q[0], 1)
             .when(F.col(c) <= q[1], 2)
             .when(F.col(c) <= q[2], 3).otherwise(4))
        return (5 - b) if invert else b

    scored = prof.crossJoin(F.broadcast(qs))
    # low recency is GOOD: invert so 4 always means "best quartile"
    r = bucket("recency_days", [F.col("q_recency_days")[i] for i in range(3)],
               invert=True)
    f = bucket("frequency", [F.col("q_frequency")[i] for i in range(3)])
    m = bucket("monetary", [F.col("q_monetary")[i] for i in range(3)])
    seg = F.concat(r.cast("string"), f.cast("string"), m.cast("string"))
    return (scored.select(seg.alias("segment"), "_m")
            .groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n_keys"),
                 F.sum("_m").cast("double").alias("total_value")))


def weekly_seasonality(df: DataFrame, group_col: str, ts_col: str,
                       value_col: str) -> DataFrame:
    """Day-of-week seasonality profile per group: event count, exact mean
    value (micros-integer sums), and each weekday's share of the group's
    weekly volume — the load-shaping / staffing curve.

    Weekday is ISO (0 = Monday) to stay engine-portable (Spark weekday()
    == DuckDB isodow()-1; the default dayofweek anchors differ).  One
    partial-agg shuffle over |groups|*7 cells plus a broadcast of the
    per-group totals."""
    m = F.floor(F.col(value_col) * 1e6 + F.lit(0.5)).cast("bigint")
    cells = (df.select(F.col(group_col).alias("g"),
                       F.weekday(F.col(ts_col)).alias("weekday"),
                       m.alias("__m"))
             .groupBy("g", "weekday")
             .agg(F.count("__m").alias("n"),
                  F.sum(F.col("__m").cast("decimal(38,0)")).alias("_s")))
    tot = cells.groupBy("g").agg(F.sum("n").alias("_tn"))
    return (cells.join(F.broadcast(tot), "g")
            .select(F.col("g").alias(group_col), "weekday", "n",
                    F.round((F.col("_s").cast("double") / 1e6)
                            / F.col("n").cast("double"), 6)
                    .alias("mean_value"),
                    F.round(F.col("n").cast("double")
                            / F.col("_tn").cast("double"), 6)
                    .alias("share")))


def changepoint_detect(df: DataFrame, key_cols: list[str] | str,
                       ts_col: str, value_col: str) -> DataFrame:
    """Single change-point detection per key (binary segmentation, depth
    1) on the DAILY mean of `value_col`: for every candidate split day t,
    score the two-sample contrast

        stat(t) = |mean(days <= t) - mean(days > t)| * sqrt(nl*nr/n)

    (the CUSUM-at-maximum statistic for a level shift) and return the
    argmax split with a deterministic tie-break (earliest day).  The
    level-shift monitor behind "did this metric move when we shipped X".

    Exactness contract: daily sums are micros-quantized decimal(38,0)
    integers; prefix sums over ordered days are exact; means and the stat
    are identical IEEE derivations in any engine (NOTES oracle rule 1).

    Scale shape: one partial agg onto (key, day) — the only row-count
    shuffle — then windows over the DAYS of each key (state bounded by
    the calendar, not rows) and one row_number to pick the argmax.  Keys
    with < 2 days yield no row."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    big = "decimal(38,0)"
    m = F.floor(F.col(value_col) * 1e6 + F.lit(0.5)).cast(big)
    daily = (df.filter(F.col(value_col).isNotNull())
             .groupBy(*keys, F.to_date(F.col(ts_col)).alias("__day"))
             .agg(F.count(F.lit(1)).alias("__c"), F.sum(m).alias("__s")))
    wcum = (Window.partitionBy(*keys).orderBy("__day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = (Window.partitionBy(*keys)
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    scored = (daily
              .withColumn("__cl", F.sum("__c").over(wcum))
              .withColumn("__sl", F.sum("__s").over(wcum))
              .withColumn("__cn", F.sum("__c").over(wall))
              .withColumn("__sn", F.sum("__s").over(wall)))
    nl = F.col("__cl").cast("double")
    nn = F.col("__cn").cast("double")
    nr = nn - nl
    sl = F.col("__sl").cast("double")
    sr = (F.col("__sn") - F.col("__sl")).cast("double")
    ml = F.when(nl > 0.0, (sl / 1e6) / nl)
    mr = F.when(nr > 0.0, (sr / 1e6) / nr)
    stat = F.when((nl > 0.0) & (nr > 0.0),
                  F.abs(ml - mr) * F.sqrt(nl * nr / nn))
    cand = (scored.withColumn("__stat", stat)
            .filter(F.col("__stat").isNotNull()))
    pick = Window.partitionBy(*keys).orderBy(
        F.col("__stat").desc(), F.col("__day").asc())
    return (cand.withColumn("__rn", F.row_number().over(pick))
            .filter(F.col("__rn") == 1)
            .select(*keys,
                    F.col("__day").alias("change_day"),
                    F.col("__cl").alias("n_before"),
                    (F.col("__cn") - F.col("__cl")).alias("n_after"),
                    F.round(ml, 6).alias("mean_before"),
                    F.round(mr, 6).alias("mean_after"),
                    F.round(F.col("__stat"), 6).alias("stat")))


def disorder_report(df: DataFrame, key_cols: list[str] | str,
                    seq_col: str, ts_col: str) -> DataFrame:
    """Per-key event-time disorder audit: in arrival order (`seq_col` —
    an ingest sequence / offset), how many events carry a timestamp
    EARLIER than one already seen, and by how much?  This is the
    measurement that sizes a streaming watermark: max_lateness bounds the
    delay needed for completeness, disorder_frac says how much state a
    too-short watermark would drop.

    Scale shape: one shuffle on the key columns, one per-partition sort,
    one running-max window (prefix max EXCLUDES the current row so a
    row never compares to itself), one partial agg.  All JVM window
    codegen over bigint micros — no floats until the final ratio."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    us = F.unix_micros(F.col(ts_col))
    w = (Window.partitionBy(*keys).orderBy(seq_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    prev_max = F.max(us).over(w)
    late_us = F.when(prev_max > us, prev_max - us)
    base = df.withColumn("__late", late_us)
    return (base.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count("__late").alias("n_out_of_order"),
                 F.round(F.count("__late")
                         / F.count(F.lit(1)).cast("double"), 6)
                 .alias("disorder_frac"),
                 F.coalesce(F.max("__late"), F.lit(0)).cast("bigint")
                 .alias("max_lateness_us")))


def autocorrelation(df: DataFrame, key_cols: list[str] | str, ts_col: str,
                    value_col: str, max_lag: int = 7) -> DataFrame:
    """Lag-1..max_lag autocorrelation of the DAILY mean of `value_col`
    per key — the seasonality/memory diagnostic (a weekly cycle shows as
    a lag-7 peak; a level shift shows slow decay; white noise hugs 0):

        acf(k) = sum_t (x_t - mean)(x_{t+k} - mean) / sum_t (x_t - mean)^2

    with the standard full-series mean and variance denominator.

    Exactness contract: daily means derive from micros-quantized integer
    sums; deviation products are nanos-quantized and summed as
    decimal(38,0), so acf is independent of partial-agg order (the
    float-sum-order trap); identical IEEE derivation in any engine.

    Scale shape: one partial agg onto (key, day), then ONE window sort
    per key producing all max_lag shifted columns (state bounded by the
    calendar), an unpivot, and a (key x lag)-sized final agg."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    big = "decimal(38,0)"
    m = F.floor(F.col(value_col) * 1e6 + F.lit(0.5)).cast(big)
    daily = (df.filter(F.col(value_col).isNotNull())
             .groupBy(*keys, F.to_date(F.col(ts_col)).alias("__day"))
             .agg(F.count(F.lit(1)).alias("__c"), F.sum(m).alias("__s")))
    x = (F.col("__s").cast("double") / 1e6) / F.col("__c").cast("double")
    wall = (Window.partitionBy(*keys)
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    worder = Window.partitionBy(*keys).orderBy("__day")
    base = (daily.withColumn("__x", x)
            .withColumn("__sn", F.sum("__s").over(wall))
            .withColumn("__cn", F.sum("__c").over(wall))
            .withColumn("__nd", F.count(F.lit(1)).over(wall)))
    mean = (F.col("__sn").cast("double") / 1e6) / F.col("__cn").cast("double")
    lags = base.withColumn("__mean", mean).select(
        *keys, "__day", "__x", "__mean", "__nd",
        *[F.lag("__x", k).over(worder).alias(f"__l{k}")
          for k in range(1, max_lag + 1)])
    dev = F.col("__x") - F.col("__mean")
    den_m = F.floor(dev * dev * 1e9 + F.lit(0.5)).cast("bigint").cast(big)
    pairs = lags.select(
        *keys, "__nd", den_m.alias("__d2"),
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("lag"),
                     F.floor((F.col(f"__l{k}") - F.col("__mean")) * dev
                             * 1e9 + F.lit(0.5))
                     .cast("bigint").cast(big).alias("num_m"))
            for k in range(1, max_lag + 1)])).alias("__p"))
    agg = (pairs.groupBy(*keys, F.col("__p.lag").alias("lag"))
           .agg(F.sum("__d2").alias("_den"),
                F.sum("__p.num_m").alias("_num"),
                F.count(F.col("__p.num_m")).alias("n_pairs"),
                F.max("__nd").alias("_nd")))
    acf = F.when(F.col("_den").cast("double") > 0.0,
                 F.col("_num").cast("double")
                 / F.col("_den").cast("double"))
    return (agg.filter(F.col("lag") < F.col("_nd"))
            .select(*keys, "lag", "n_pairs",
                    F.round(acf, 6).alias("acf")))


def seasonal_adjusted_anomalies(df: DataFrame, key_cols: list[str] | str,
                                ts_col: str, value_col: str,
                                threshold: float = 1.5) -> DataFrame:
    """Seasonality-adjusted daily anomalies (STL-lite): remove each key's
    day-of-week profile from the daily mean, then z-score the residuals —
    a Monday dip stops masking a real incident and a weekend spike stops
    crying wolf.  The decomposition ladder between plain rolling_zscore
    (no seasonality) and a full STL fit.

    Exactness contract: daily and day-of-week means come from exact
    micros-integer sums; residuals are re-quantized to micros before the
    z-moments, so mean/std/z are identical IEEE derivations in any
    engine or partitioning, immune to float-sum order.

    Scale shape: one (key, day) partial agg over the rows — the only
    row-count shuffle — then a (key, dow) agg and per-key moment windows
    over the (tiny) daily series.  Degenerate cases (single day, zero
    residual variance) drop via lazy CASE guards, never divide-by-zero
    under ANSI."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    big = "decimal(38,0)"
    m = F.floor(F.col(value_col) * 1e6 + F.lit(0.5)).cast(big)
    daily = (df.filter(F.col(value_col).isNotNull())
             .groupBy(*keys, F.to_date(F.col(ts_col)).alias("day"))
             .agg(F.count(F.lit(1)).alias("__c"), F.sum(m).alias("__s")))
    daily = daily.withColumn("__dow", F.dayofweek(F.col("day")))
    x = (F.col("__s").cast("double") / 1e6) / F.col("__c").cast("double")
    wd = Window.partitionBy(*keys, "__dow")
    dow_mean = ((F.sum("__s").over(wd).cast("double") / 1e6)
                / F.sum("__c").over(wd).cast("double"))
    resid = x - dow_mean
    rm = F.floor(resid * 1e6 + F.lit(0.5)).cast("bigint").cast(big)
    base = (daily.withColumn("__x", x)
            .withColumn("__resid", resid)
            .withColumn("__rm", rm))
    wk = Window.partitionBy(*keys)
    n = F.count(F.lit(1)).over(wk)
    s1 = F.sum("__rm").over(wk)
    s2 = F.sum(F.col("__rm") * F.col("__rm")).over(wk)
    nd = n.cast("double")
    mean_r = F.when(nd > 0.0, (s1.cast("double") / 1e6) / nd)
    var_r = F.when(nd > 1.0,
                   ((s2.cast("double") - s1.cast("double")
                     * s1.cast("double") / nd) / (nd - 1)) / 1e12)
    std_r = F.when(var_r > 0.0, F.sqrt(var_r))
    z = (F.col("__resid") - mean_r) / std_r
    scored = (base.withColumn("__z", z)
              .filter(F.col("__z").isNotNull())
              .filter(F.abs(F.col("__z")) > threshold))
    return scored.select(
        *keys, "day",
        F.col("__c").alias("n_events"),
        F.round(F.col("__x"), 6).alias("day_mean"),
        F.round(F.col("__resid"), 6).alias("residual"),
        F.round(F.col("__z"), 6).alias("zscore"))


def ewma(df: DataFrame, part_cols: list[str] | str, order_cols: list[str],
         value_col: str, alpha: float = 0.5, terms: int = 8) -> DataFrame:
    """Exponentially weighted moving average per key (pandas
    `ewm(adjust=True)` semantics, truncated to the trailing `terms`
    observations): ewma_t = sum_j w^j * x_{t-j} / sum_j w^j with
    w = 1 - alpha, the smoothing primitive for metric dashboards and
    drift monitors.

    Exactness contract: the default alpha=0.5 makes every weight an
    exact power of two, each weighted term is one IEEE multiply, and
    BOTH the numerator and denominator fold left in fixed j order — the
    whole statistic is a fixed-structure IEEE expression over the
    trailing lags, bit-identical in any engine and any partitioning.
    Missing lags (series head) drop out of both sums (adjust=True
    renormalization); NULL values contribute nothing.

    Scale shape: ONE shuffle on the key columns, one sort per
    partition, then `terms` lag expressions inside a single projection
    (whole-stage codegen; no per-row loop, no state)."""
    parts = [part_cols] if isinstance(part_cols, str) else list(part_cols)
    w = Window.partitionBy(*parts).orderBy(*order_cols)
    decay = 1.0 - alpha
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(terms):
        lag_j = F.col(value_col) if j == 0 else F.lag(value_col, j).over(w)
        coef = F.lit(decay ** j)
        num = num + F.coalesce(lag_j * coef, F.lit(0.0))
        den = den + F.when(lag_j.isNotNull(), coef).otherwise(F.lit(0.0))
    out = F.when(den > 0, F.round(num / den, 6))
    return df.select("*", out.alias("ewma"))


def max_concurrency(df: DataFrame, ts_col: str, duration: str = "30 minutes",
                    id_col: str | None = None) -> DataFrame:
    """Peak concurrency per day by sweep line: each row opens a
    half-open interval [ts, ts + duration); the answer is, per day, the
    maximum number of simultaneously open intervals — the capacity-
    planning statistic (peak concurrent sessions/connections/streams).

    Sweep construction: every interval emits a +1 point at its start
    and a -1 point at its end; points sort by (time, delta, id) so an
    interval ending exactly when another starts never overlaps it
    (half-open semantics: -1 processes first), and a running sum +
    per-day max finishes the job.

    Scale shape: the global sweep is PARTITIONED BY DAY — legal because
    `duration` is bounded (< 1 day), so an interval crosses at most one
    midnight.  Each day's baseline (intervals opened the previous day
    and still open at midnight) is a per-day COUNT of boundary-crossing
    intervals, computed in the same shuffle; nothing ever needs a
    single-partition global sort.  End points landing exactly on
    midnight attach to the previous day (the interval is open for zero
    time in the new day)."""
    iv = F.expr(f"INTERVAL {duration}")
    idc = F.col(id_col) if id_col else F.monotonically_increasing_id()
    base = df.select(F.col(ts_col).alias("__s"),
                     (F.col(ts_col) + iv).alias("__e"),
                     idc.alias("__id"))
    starts = base.select(F.date_trunc("day", "__s").alias("day"),
                         F.col("__s").alias("__t"), F.lit(1).alias("__d"),
                         "__id")
    # end exactly at midnight -> previous day (zero open time in new day)
    endday = F.date_trunc("day", F.col("__e") - F.expr("INTERVAL 1 microsecond"))
    ends = base.select(endday.alias("day"), F.col("__e").alias("__t"),
                       F.lit(-1).alias("__d"), "__id")
    points = starts.unionByName(ends)
    # baseline: intervals opened before this day's midnight, still open
    crossing = base.filter(
        (F.date_trunc("day", "__s") < F.date_trunc("day", "__e"))
        & (F.col("__e") > F.date_trunc("day", "__e")))
    baseline = (crossing.groupBy(F.date_trunc("day", "__e").alias("day"))
                .agg(F.count(F.lit(1)).alias("__base")))
    wsweep = (Window.partitionBy("day")
              .orderBy(F.col("__t"), F.col("__d"), F.col("__id"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    running = points.withColumn("__run", F.sum("__d").over(wsweep))
    per_day = (running.groupBy("day")
               .agg(F.max("__run").alias("__peak"),
                    F.sum(F.when(F.col("__d") == 1, 1).otherwise(0))
                    .alias("n_started")))
    # the day's true peak is max(baseline, baseline + running peak): the
    # concurrency AT midnight (carried intervals, before any point) counts
    return (per_day.join(baseline, "day", "left")
            .select("day",
                    (F.greatest(F.col("__peak"), F.lit(0))
                     + F.coalesce(F.col("__base"), F.lit(0)))
                    .cast("bigint").alias("max_concurrent"),
                    F.col("n_started").cast("bigint").alias("n_started")))


def time_to_convert(df: DataFrame, user_col: str, ts_col: str,
                    type_col: str, from_type: str, to_type: str,
                    tie_col: str | None = None) -> DataFrame:
    """Per-user conversion latency: for each user's FIRST `from_type`
    event, the time to the NEXT `to_type` event at or after it — the
    funnel-latency statistic (signup->purchase, view->click).  Returns
    one row per converting user: (user, first_from_ts, convert_ts,
    latency_seconds); users who never convert are absent (callers
    left-join back for conversion-rate denominators).

    Scale shape: ONE shuffle on the user key; both the first-from and
    next-to steps are min-aggregations inside the same partitioning —
    no window over the full event stream, no self-join on time
    ranges."""
    frm = (df.filter(F.col(type_col) == from_type)
           .groupBy(user_col)
           .agg(F.min(ts_col).alias("first_from_ts")))
    to = df.filter(F.col(type_col) == to_type).select(
        F.col(user_col), F.col(ts_col).alias("__to_ts"))
    conv = (to.join(frm, user_col)
            .filter(F.col("__to_ts") >= F.col("first_from_ts"))
            .groupBy(user_col, "first_from_ts")
            .agg(F.min("__to_ts").alias("convert_ts")))
    lat = (F.unix_micros(F.col("convert_ts"))
           - F.unix_micros(F.col("first_from_ts")))
    return conv.select(
        F.col(user_col), "first_from_ts", "convert_ts",
        F.round(lat / F.lit(1_000_000.0), 6).alias("latency_seconds"))


def quantile_normalize(df: DataFrame, group_col: str, value_col: str,
                       id_col: str, knots: int = 100) -> DataFrame:
    """Quantile normalization across groups: each row's value maps to
    the GLOBAL distribution's value at the row's within-group quantile —
    the feature-prep transform that removes per-source calibration
    differences (microarray-style quantile normalization, batched).

    Approximation contract: the global reference is a `knots`+1-point
    exact interpolated quantile grid (micros-quantized integers, so the
    grid is engine-exact), broadcast to every row; within-group ranks
    interpolate linearly between grid knots.  Exact order statistics of
    the global distribution would need a full sort — the fixed grid is
    the 100 TB shape and the knot count bounds the error.

    Determinism: ranks order by (value, id) — total order; every
    arithmetic step is a fixed-structure IEEE expression over exact
    integers, identical in any engine/partitioning.  Single-member
    groups map to the grid's low end (p = 0).  Rank-based BY CONTRACT:
    value-tied rows in a group occupy consecutive ranks and so can map
    to different grid points (classic sort-based quantile
    normalization; tie-averaging would be a different estimator and a
    second window).

    Scale shape: one shuffle on the group column for ranks, ONE global
    aggregation for the grid (partial-agg percentile over quantized
    integers), a broadcast of the knots+1 array — no global sort, no
    per-row join against the reference."""
    vq = F.floor(F.col(value_col) * 1e6 + F.lit(0.5)).cast("bigint")
    base = (df.filter(F.col(value_col).isNotNull())
            .select(F.col(id_col), F.col(group_col), F.col(value_col),
                    vq.alias("__vq")))
    fracs = ", ".join(f"{i}D / {knots}D" for i in range(knots + 1))
    grid = base.agg(F.expr(f"percentile(__vq, array({fracs}))")
                    .alias("__grid"))
    wg = Window.partitionBy(group_col)
    wr = Window.partitionBy(group_col).orderBy(F.col(value_col),
                                               F.col(id_col))
    ranked = (base
              .withColumn("__n", F.count(F.lit(1)).over(wg))
              .withColumn("__r", F.row_number().over(wr)))
    p = F.when(F.col("__n") > 1,
               (F.col("__r") - 1).cast("double")
               / (F.col("__n") - 1).cast("double")).otherwise(F.lit(0.0))
    pos = p * F.lit(float(knots))
    k = F.least(F.floor(pos).cast("int"), F.lit(knots - 1))
    frac = pos - k.cast("double")
    lo = F.element_at(F.col("__grid"), k + 1)
    hi = F.element_at(F.col("__grid"), k + 2)
    norm = (lo * (F.lit(1.0) - frac) + hi * frac) / F.lit(1e6)
    return (ranked.crossJoin(F.broadcast(grid))   # 1-row scalar combine
            .select(F.col(id_col), F.col(group_col), F.col(value_col),
                    F.round(norm, 6).alias("value_norm")))


def activity_islands(df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """Gaps-and-islands streak analysis per key: collapse activity to
    distinct active DAYS, find maximal runs of consecutive days (the
    islands), and report per key the island count, the longest streak,
    and total active days — the engagement statistic behind "7-day
    streak" features and churn-risk rules.

    The island identifier is the classic date - row_number trick:
    consecutive days share (day - rank) exactly, any gap shifts it —
    one expression, no self-join, no recursive CTE.

    Scale shape: one distinct shuffle on (key, day), one window sort
    per key partition, two partial aggs — nothing global."""
    days = (df.select(F.col(key_col), F.to_date(F.col(ts_col)).alias("__d"))
            .distinct())
    w = Window.partitionBy(key_col).orderBy("__d")
    isl = days.withColumn(
        "__isl", F.date_sub(F.col("__d"), F.row_number().over(w)))
    runs = (isl.groupBy(key_col, "__isl")
            .agg(F.count(F.lit(1)).alias("__len")))
    return (runs.groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_islands"),
                 F.max("__len").cast("bigint").alias("longest_streak"),
                 F.sum("__len").cast("bigint").alias("total_active_days")))


def cohort_ltv(df: DataFrame, key_col: str, ts_col: str, value_col: str,
               value_filter=None) -> DataFrame:
    """Cohort lifetime-value curves: users cohort by first-seen week;
    each cohort's revenue accumulates by week-age, normalized per cohort
    member — the (cohort_week, age_weeks) LTV matrix behind payback-
    period and retention-revenue analysis.

    Exactness contract: revenue sums in DECIMAL(18,2) (exact in any
    partitioning), week-age is integer arithmetic on week-truncated
    timestamps, and the cumulative window runs over the bounded
    (cohort x age) grid — so every cell reproduces bit-for-bit.

    Scale shape: one first-seen shuffle on the key, one join carrying
    the cohort week back (key-partitioned), one partial agg onto the
    bounded (cohort_week, age) grid; the cumulative window and the
    per-user division run on grid rows only."""
    first = (df.groupBy(key_col)
             .agg(F.date_trunc("week", F.min(ts_col)).alias("__cw")))
    sizes = first.groupBy("__cw").agg(
        F.count(F.lit(1)).alias("__n_users"))
    rev = df if value_filter is None else df.filter(value_filter)
    aged = (rev.filter(F.col(value_col).isNotNull())
            .join(first, key_col)
            .select("__cw",
                    ((F.unix_micros(F.date_trunc("week", F.col(ts_col)))
                      - F.unix_micros(F.col("__cw")))
                     / F.lit(604800000000).cast("bigint"))
                    .cast("bigint").alias("age_weeks"),
                    F.col(value_col).cast("decimal(18,2)").alias("__v")))
    grid = (aged.groupBy("__cw", "age_weeks")
            .agg(F.sum("__v").alias("__rev")))
    w = (Window.partitionBy("__cw").orderBy("age_weeks")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (grid.join(F.broadcast(sizes), "__cw")
            .select(F.col("__cw").alias("cohort_week"), "age_weeks",
                    F.col("__n_users").cast("bigint").alias("n_users"),
                    F.col("__rev").cast("double").alias("revenue"),
                    F.round(F.sum("__rev").over(w).cast("double")
                            / F.col("__n_users"), 6)
                    .alias("cum_ltv_per_user")))


def linear_attribution(events: DataFrame, user_col: str, ts_col: str,
                       type_col: str, value_col: str, conversion_type: str,
                       touch_types: list[str],
                       lookback: str = "7 days") -> DataFrame:
    """Multi-touch linear attribution: each conversion's value splits
    equally across every touch event (types in `touch_types`) by the same
    user inside the lookback window before it; conversions with no touch
    in window credit a synthetic 'direct' channel.  The marketing-mix
    complement to last-touch attribution (attribution_events).

    Exactness contract: the equal split runs in micros integers —
    base = value_micros div n per touch, with the division remainder
    assigned to the EARLIEST touch (ties broken by event id), so credits
    sum to the conversion value exactly and every engine reproduces the
    same integers.  'direct' revenue is total minus credited — also
    exact.

    Scale shape: one user-keyed range join (touch cardinality per user is
    bounded by the lookback window), one window over per-conversion
    partitions, one partial agg onto |touch_types| rows, and a 1-row
    broadcast combine for the direct row.  No driver loop, no UDF."""
    lb = _interval_micros(lookback)
    u, ts = F.col(user_col), F.col(ts_col)
    conv = (events.filter((F.col(type_col) == conversion_type)
                          & F.col(value_col).isNotNull())
            .select(u.alias("__u"), F.unix_micros(ts).alias("__pts"),
                    F.col("event_id").alias("__pid"),
                    F.floor(F.col(value_col) * 1e6 + F.lit(0.5))
                    .cast("bigint").alias("__vm")))
    touch = (events.filter(F.col(type_col).isin(touch_types))
             .select(u.alias("__u"), F.unix_micros(ts).alias("__tts"),
                     F.col("event_id").alias("__tid"),
                     F.col(type_col).alias("touch_type")))
    pairs = touch.join(
        conv, (touch["__u"] == conv["__u"])
        & (F.col("__tts") <= F.col("__pts"))
        & (F.col("__tts") > F.col("__pts") - F.lit(lb))).drop(conv["__u"])
    wp = Window.partitionBy("__pid")
    wo = wp.orderBy("__tts", "__tid")
    pairs = pairs.select(
        "touch_type", "__vm",
        F.count(F.lit(1)).over(wp).alias("__n"),
        F.row_number().over(wo).alias("__rn"))
    base = F.expr("__vm div __n")
    credit = base + F.when(F.col("__rn") == 1,
                           F.col("__vm") - base * F.col("__n")).otherwise(0)
    per_type = pairs.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum(credit.cast("decimal(38,0)")).alias("__cm"),
        F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0)).alias("__nf"))
    totals = conv.agg(
        F.count(F.lit(1)).alias("__np"),
        F.sum(F.col("__vm").cast("decimal(38,0)")).alias("__tm"))
    credited = per_type.agg(
        F.sum("__cm").alias("__csum"), F.sum("__nf").alias("__fsum"))
    direct = (totals.crossJoin(F.broadcast(credited)).select(
        F.lit("direct").alias("touch_type"),
        (F.col("__np") - F.coalesce(F.col("__fsum"), F.lit(0)))
        .cast("bigint").alias("n_credits"),
        ((F.col("__tm") - F.coalesce(F.col("__csum"), F.lit(0)))
         .cast("double") / 1e6).alias("revenue")))
    out = per_type.select(
        "touch_type", F.col("n_credits").cast("bigint").alias("n_credits"),
        (F.col("__cm").cast("double") / 1e6).alias("revenue"))
    return out.unionByName(direct)


def holt_linear(df: DataFrame, key_cols: list[str] | str, order_col: str,
                value_col: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per series
    (alpha = beta = 1/2): level l_t = (y_t + l_{t-1} + b_{t-1}) / 2,
    trend b_t = ((l_t - l_{t-1}) + b_{t-1}) / 2, forecast l + b — the
    classic short-horizon forecaster for capacity planning and load
    prediction.

    Exactness contract: state runs in micros INTEGERS with explicit
    floor((..)/2.0) halving — every step is exact integer arithmetic
    (the /2.0 is an IEEE-exact division for |state| < 2^53), so the
    sequential recursion replays bit-identically in a SQL recursive CTE.
    Smoothing is inherently sequential IN TIME; the Spark shape is
    applyInPandas per series — series are the parallelism unit, and
    state is O(1) per series regardless of length.

    Input must be one row per (key, order) — pre-aggregate first."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    import pandas as pd

    in_fields = df.select(*keys, order_col, value_col).schema
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in in_fields]
        + ["level double", "trend double", "forecast_next double"])

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        levels, trends = [], []
        l = b = 0
        for i, y in enumerate(pdf[value_col]):
            ym = int(y) * 1_000_000
            if i == 0:
                l, b = ym, 0
            else:
                # floor(x / 2.0) — NOT // — to mirror the oracle's
                # FLOOR(x / 2.0): exact for |x| < 2^53 and floors
                # negative trends identically in both engines
                l_new = math.floor((ym + l + b) / 2.0)
                b = math.floor(((l_new - l) + b) / 2.0)
                l = l_new
            levels.append(l)
            trends.append(b)
        pdf = pdf.copy()
        pdf["level"] = [x / 1e6 for x in levels]
        pdf["trend"] = [x / 1e6 for x in trends]
        pdf["forecast_next"] = [(x + y) / 1e6
                                for x, y in zip(levels, trends)]
        return pdf

    return (df.select(*keys, order_col, value_col)
            .groupBy(*keys).applyInPandas(smooth, out_schema))


def position_attribution(events: DataFrame, user_col: str, ts_col: str,
                         type_col: str, value_col: str,
                         conversion_type: str, touch_types: list[str],
                         lookback: str = "7 days") -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: 40% of each
    conversion's value to the FIRST touch in the lookback window, 40%
    to the LAST, and the remaining 20% split equally across the middle
    touches — the standard position-based model between linear_
    attribution (equal split) and attribution_events (last touch).

    Exactness contract (all integer micros; credits sum to the
    conversion value EXACTLY):
      n = 1: the single touch takes everything;
      n = 2: each endpoint takes vm div 2, remainder to the first;
      n >= 3: endpoints take end = (vm*2) div 5 each; the middle pool
              vm - 2*end splits as pool div (n-2) per middle touch with
              the division remainder assigned to the EARLIEST middle
              touch (position 2).  Ties in touch order break by event
              id.  'direct' (no touch in window) = total minus credited.

    Scale shape: identical to linear_attribution — one user-keyed range
    join bounded by the lookback window, two windows over
    per-conversion partitions, one partial agg onto |touch_types| rows,
    one 1-row broadcast combine."""
    lb = _interval_micros(lookback)
    u, ts = F.col(user_col), F.col(ts_col)
    conv = (events.filter((F.col(type_col) == conversion_type)
                          & F.col(value_col).isNotNull())
            .select(u.alias("__u"), F.unix_micros(ts).alias("__pts"),
                    F.col("event_id").alias("__pid"),
                    F.floor(F.col(value_col) * 1e6 + F.lit(0.5))
                    .cast("bigint").alias("__vm")))
    touch = (events.filter(F.col(type_col).isin(touch_types))
             .select(u.alias("__u"), F.unix_micros(ts).alias("__tts"),
                     F.col("event_id").alias("__tid"),
                     F.col(type_col).alias("touch_type")))
    pairs = touch.join(
        conv, (touch["__u"] == conv["__u"])
        & (F.col("__tts") <= F.col("__pts"))
        & (F.col("__tts") > F.col("__pts") - F.lit(lb))).drop(conv["__u"])
    wp = Window.partitionBy("__pid")
    wo = wp.orderBy("__tts", "__tid")
    pairs = pairs.select(
        "touch_type", "__vm",
        F.count(F.lit(1)).over(wp).alias("__n"),
        F.row_number().over(wo).alias("__rn"))
    vm, n, rn = F.col("__vm"), F.col("__n"), F.col("__rn")
    half = F.expr("__vm div 2")
    end = F.expr("(__vm * 2) div 5")
    pool = vm - F.lit(2) * end
    mid_each = F.expr("((__vm - 2 * ((__vm * 2) div 5))) div (__n - 2)")
    credit = (
        F.when(n == 1, vm)
        .when(n == 2, half + F.when(rn == 1, vm - F.lit(2) * half)
              .otherwise(0))
        .otherwise(
            F.when((rn == 1) | (rn == n), end)
            .otherwise(mid_each
                       + F.when(rn == 2,
                                pool - mid_each * (n - F.lit(2)))
                       .otherwise(0))))
    per_type = pairs.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum(credit.cast("decimal(38,0)")).alias("__cm"),
        F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0)).alias("__nf"))
    totals = conv.agg(
        F.count(F.lit(1)).alias("__np"),
        F.sum(F.col("__vm").cast("decimal(38,0)")).alias("__tm"))
    credited = per_type.agg(
        F.sum("__cm").alias("__csum"), F.sum("__nf").alias("__fsum"))
    direct = (totals.crossJoin(F.broadcast(credited)).select(
        F.lit("direct").alias("touch_type"),
        (F.col("__np") - F.coalesce(F.col("__fsum"), F.lit(0)))
        .cast("bigint").alias("n_credits"),
        ((F.col("__tm") - F.coalesce(F.col("__csum"), F.lit(0)))
         .cast("double") / 1e6).alias("revenue")))
    out = per_type.select(
        "touch_type", F.col("n_credits").cast("bigint").alias("n_credits"),
        (F.col("__cm").cast("double") / 1e6).alias("revenue"))
    return out.unionByName(direct)


def holt_winters(df: DataFrame, key_cols: list[str] | str, order_col: str,
                 value_col: str, period: int = 7) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing per series
    (alpha = beta = gamma = 1/2, season length `period`):

        l_t = (y_t - s_{t-m} + l_{t-1} + b_{t-1}) / 2
        b_t = ((l_t - l_{t-1}) + b_{t-1}) / 2
        s_t = ((y_t - l_t) + s_{t-m}) / 2

    the seasonal extension of holt_linear for daily/weekly-cycled
    series.  Seasonals initialize to 0 (the first cycle learns them);
    forecast_next = l + b + the seasonal that applies next step.

    Exactness contract: identical to holt_linear — all state runs in
    micros INTEGERS with explicit floor((..)/2.0) halving, so the
    recursion replays bit-identically in a SQL recursive CTE that
    carries the m-slot seasonal ring as a LIST column.

    Scale shape: applyInPandas per series; state is O(period) per
    series regardless of length.  Input must be one row per
    (key, order) — pre-aggregate first."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    import pandas as pd

    in_fields = df.select(*keys, order_col, value_col).schema
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in in_fields]
        + ["level double", "trend double", "seasonal double",
           "forecast_next double"])

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        sl = [0] * period
        levels, trends, seas, fc = [], [], [], []
        l = b = 0
        for i, y in enumerate(pdf[value_col]):
            ym = int(y) * 1_000_000
            s_used = sl[0]
            if i == 0:
                l, b = ym, 0
                s_new = 0
            else:
                l_new = math.floor((ym - s_used + l + b) / 2.0)
                b = math.floor(((l_new - l) + b) / 2.0)
                s_new = math.floor(((ym - l_new) + s_used) / 2.0)
                l = l_new
            sl = sl[1:] + [s_new]
            levels.append(l)
            trends.append(b)
            seas.append(s_new)
            fc.append(l + b + sl[0])
        pdf = pdf.copy()
        pdf["level"] = [x / 1e6 for x in levels]
        pdf["trend"] = [x / 1e6 for x in trends]
        pdf["seasonal"] = [x / 1e6 for x in seas]
        pdf["forecast_next"] = [x / 1e6 for x in fc]
        return pdf

    return (df.select(*keys, order_col, value_col)
            .groupBy(*keys).applyInPandas(smooth, out_schema))


def time_decay_attribution(events: DataFrame, user_col: str, ts_col: str,
                           type_col: str, value_col: str,
                           conversion_type: str, touch_types: list[str],
                           lookback: str = "7 days",
                           half_life: str = "1 day") -> DataFrame:
    """Time-decay multi-touch attribution: each conversion's value
    splits across the user's touches in the lookback window with
    weight 2^(-age/half_life) — recency-weighted credit, the third
    member of the attribution family (linear, U-shaped, decay).

    Exactness contract (all integer): ages quantize to WHOLE half-life
    units k = age div half_life, so weights are the exact integers
    2^(K_max - k); credit_i = vm * w_i div W with the division
    remainder pinned to the MOST RECENT touch (ties by event id) —
    credits sum to the conversion value exactly.  'direct' = total
    minus credited, also exact.

    Scale shape: identical to linear_attribution — one user-keyed
    range join bounded by the lookback, windows per conversion, one
    partial agg onto |touch_types| rows, a 1-row broadcast combine."""
    lb = _interval_micros(lookback)
    hl = _interval_micros(half_life)
    k_max = (lb - 1) // hl
    u, ts = F.col(user_col), F.col(ts_col)
    conv = (events.filter((F.col(type_col) == conversion_type)
                          & F.col(value_col).isNotNull())
            .select(u.alias("__u"), F.unix_micros(ts).alias("__pts"),
                    F.col("event_id").alias("__pid"),
                    F.floor(F.col(value_col) * 1e6 + F.lit(0.5))
                    .cast("bigint").alias("__vm")))
    touch = (events.filter(F.col(type_col).isin(touch_types))
             .select(u.alias("__u"), F.unix_micros(ts).alias("__tts"),
                     F.col("event_id").alias("__tid"),
                     F.col(type_col).alias("touch_type")))
    pairs = touch.join(
        conv, (touch["__u"] == conv["__u"])
        & (F.col("__tts") <= F.col("__pts"))
        & (F.col("__tts") > F.col("__pts") - F.lit(lb))).drop(conv["__u"])
    # exact integer division + power-of-two weight (shiftleft needs a
    # literal bit count in the python API -> spell it as one SQL expr)
    wgt = F.expr(
        f"cast(shiftleft(1L, cast({k_max} - ((__pts - __tts) div {hl})"
        f" as int)) as bigint)")
    wp = Window.partitionBy("__pid")
    # remainder goes to the MOST RECENT touch: order ts desc, id desc
    wo = wp.orderBy(F.col("__tts").desc(), F.col("__tid").desc())
    pairs = pairs.select(
        "touch_type", "__pid", "__vm", wgt.alias("__w"),
        F.row_number().over(wo).alias("__rn"))
    # NOT "__W": Spark column names are case-insensitive by default, so
    # withColumn("__W", ...) would silently REPLACE "__w"
    pairs = pairs.withColumn("__wsum", F.sum("__w").over(wp))
    base = F.expr("(__vm * __w) div __wsum")
    # total base-credit per conversion is sum over touches; remainder
    # = vm - sum(base) assigned to rn 1.  sum(base) is a second window
    # pass over the same partition (no extra shuffle).
    pairs = pairs.withColumn("__bsum", F.sum(base).over(wp))
    credit = base + F.when(F.col("__rn") == 1,
                           F.col("__vm") - F.col("__bsum")).otherwise(0)
    per_type = pairs.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum(credit.cast("decimal(38,0)")).alias("__cm"),
        F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0)).alias("__nf"))
    totals = conv.agg(
        F.count(F.lit(1)).alias("__np"),
        F.sum(F.col("__vm").cast("decimal(38,0)")).alias("__tm"))
    credited = per_type.agg(
        F.sum("__cm").alias("__csum"), F.sum("__nf").alias("__fsum"))
    direct = (totals.crossJoin(F.broadcast(credited)).select(
        F.lit("direct").alias("touch_type"),
        (F.col("__np") - F.coalesce(F.col("__fsum"), F.lit(0)))
        .cast("bigint").alias("n_credits"),
        ((F.col("__tm") - F.coalesce(F.col("__csum"), F.lit(0)))
         .cast("double") / 1e6).alias("revenue")))
    out = per_type.select(
        "touch_type", F.col("n_credits").cast("bigint").alias("n_credits"),
        (F.col("__cm").cast("double") / 1e6).alias("revenue"))
    return out.unionByName(direct)


def abc_analysis(df: DataFrame, group_col: str, key_col: str,
                 value_col: str, a_share: float = 0.5,
                 b_share: float = 0.8) -> DataFrame:
    """Pareto / ABC classification within each group: rank keys by
    total value, classify A while the cumulative share is <= a_share,
    B while <= b_share, C after — the inventory/revenue-concentration
    workhorse (which customers are the head, which parts are the long
    tail).

    Exactness contract: values sum as DECIMAL(18,2) per key; the class
    boundaries compare cumulative and total decimals via INTEGER cross
    products (cum * 10 <= tot * a_share*10 — no decimal division), so
    assignment is exact; rank ties break on the key.  Shares in the
    output are one IEEE division (round 6).

    Scale shape: one partial-agg shuffle onto (group, key), then
    group-partitioned windows (sort is within group partitions) and a
    final bounded agg onto (group, class)."""
    a10 = int(round(a_share * 10))
    b10 = int(round(b_share * 10))
    dec = "decimal(18,2)"
    per = (df.groupBy(F.col(group_col).alias("__g"),
                      F.col(key_col).alias("__k"))
           .agg(F.sum(F.col(value_col).cast(dec)).alias("__v")))
    w = (Window.partitionBy("__g")
         .orderBy(F.col("__v").desc(), F.col("__k"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = Window.partitionBy("__g")
    per = per.select(
        "__g", "__k", "__v",
        F.sum("__v").over(w).alias("__cum"),
        F.sum("__v").over(tot).alias("__tot"))
    big = "decimal(38,2)"
    cum10 = (F.col("__cum").cast(big) * 10).cast(big)
    cls = (F.when(cum10 <= (F.col("__tot").cast(big) * a10).cast(big),
                  "A")
           .when(cum10 <= (F.col("__tot").cast(big) * b10).cast(big),
                 "B")
           .otherwise("C"))
    out = (per.withColumn("__cls", cls)
           .groupBy(F.col("__g").alias(group_col),
                    F.col("__cls").alias("abc_class"))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.sum("__v").alias("__rev"),
                F.max(F.col("__tot")).alias("__t")))
    return out.select(
        group_col, "abc_class", "n_keys",
        F.col("__rev").cast("double").alias("revenue"),
        F.round(F.col("__rev").cast("double")
                / F.col("__t").cast("double"), 6).alias("revenue_share"))


def resample_interpolate(df: DataFrame, key_cols: list[str] | str,
                         bucket_col: str, value_col: str) -> DataFrame:
    """Gap-filling with LINEAR interpolation on an integer bucket grid
    (daily/hourly indexes): between consecutive observed buckets, the
    value interpolates linearly; the fill companion to resample_ffill
    when held-flat is the wrong prior (sensor readings, rates).

    Exactness contract: observed values quantize to micros; each
    interpolated bucket is
    floor(v_prev + (v_next - v_prev) * step / gap + 0.5) evaluated
    with exact integer inputs and one IEEE multiply/divide —
    deterministic in any engine.  Leading/trailing gaps (no bracket on
    one side) stay absent, matching SQL semantics exactly.

    Scale shape: one lead() window per key, one bounded sequence
    explode per gap (fan-out = gap length), no joins."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = Window.partitionBy(*keys).orderBy(bucket_col)
    vm = F.floor(F.col(value_col) * 1e6 + F.lit(0.5)).cast("bigint")
    base = (df.select(*keys, F.col(bucket_col).alias("__b"),
                      vm.alias("__vm"))
            .withColumn("__nb", F.lead("__b").over(
                Window.partitionBy(*keys).orderBy("__b")))
            .withColumn("__nv", F.lead("__vm").over(
                Window.partitionBy(*keys).orderBy("__b"))))
    steps = F.when(
        F.col("__nb").isNotNull(),
        F.sequence(F.lit(0), (F.col("__nb") - F.col("__b") - 1)
                   .cast("int"))).otherwise(F.array(F.lit(0)))
    exploded = base.select(*keys, "__b", "__vm", "__nb", "__nv",
                           F.explode(steps).alias("__s"))
    gap = (F.col("__nb") - F.col("__b")).cast("double")
    interp = F.when(
        F.col("__s") == 0, F.col("__vm")).otherwise(
        F.floor(F.col("__vm")
                + (F.col("__nv") - F.col("__vm")).cast("double")
                * F.col("__s").cast("double") / gap + F.lit(0.5))
        .cast("bigint"))
    return exploded.select(
        *keys, (F.col("__b") + F.col("__s")).alias(bucket_col),
        (F.col("__s") > 0).alias("interpolated"),
        (interp.cast("double") / 1e6).alias(value_col))


def markov_entropy(df: DataFrame, key_cols: list[str] | str, ts_col: str,
                   state_col: str,
                   tie_cols: list[str] | None = None) -> DataFrame:
    """Per-state entropy report of the first-order Markov chain over
    per-key event sequences: for each state a, the Shannon entropy of
    its outgoing transition distribution, its empirical occupancy
    pi_a = n_a/N, and the contribution pi_a * H_a to the chain's
    entropy rate — the sequence-predictability readout (a near-zero
    rate means journeys are deterministic; log2|states| means noise).

    Exactness: transition counts are exact integers
    (markov_transitions shapes); each entropy term
    (n_ab/n_a) * log2(n_a/n_ab) is quantized to 1e12 integers BEFORE
    the per-state sum, so H_a is bit-stable in any partitioning; pi
    and the contribution are fixed IEEE expressions (round 6).

    Scale shape: markov_transitions' one key shuffle + lead window,
    then partial aggs over at most |states|^2 rows."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.col(ts_col)] + [F.col(c) for c in (tie_cols or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    nxt = F.lead(state_col).over(w)
    pairs = (df.select(F.col(state_col).alias("state"),
                       nxt.alias("next_state"))
             .filter(F.col("next_state").isNotNull())
             .groupBy("state", "next_state")
             .agg(F.count(F.lit(1)).alias("n_ab")))
    deg = pairs.groupBy("state").agg(F.sum("n_ab").alias("n_a"))
    j = pairs.join(F.broadcast(deg), "state")
    term = (F.col("n_ab").cast("double") / F.col("n_a").cast("double")
            * (F.log(F.col("n_a").cast("double")
                     / F.col("n_ab").cast("double"))
               / F.log(F.lit(2.0))))
    per_state = j.groupBy("state").agg(
        F.max("n_a").alias("n_a"),
        F.sum(F.floor(term * F.lit(1e12) + F.lit(0.5)).cast("bigint"))
        .alias("__hq"))
    tot = per_state.agg(F.sum("n_a").alias("__nt"))
    one = per_state.crossJoin(F.broadcast(tot))
    h = F.col("__hq").cast("double") / F.lit(1e12)
    pi = F.col("n_a").cast("double") / F.col("__nt").cast("double")
    return one.select(
        "state", F.col("n_a").cast("bigint").alias("n_a"),
        F.round(pi, 6).alias("pi"),
        F.round(h, 6).alias("h_bits"),
        F.round(pi * h, 6).alias("rate_contrib"))


def growth_accounting(df: DataFrame, key_col: str,
                      ts_col: str) -> DataFrame:
    """Weekly growth accounting: per week, the count of active users
    split into NEW (first week ever), RETAINED (also active the
    previous week), and RESURRECTED (active before, but not last
    week), plus CHURNED (active last week, gone this week) — the
    decomposition behind every 'is growth real or churn-masked'
    readout.

    All flags derive from the per-user distinct-week grid with
    per-user lag/lead windows (exact integers; week = epoch days div
    7); churn at week w counts users whose last activity week is
    w-1.  An interior week with ZERO actives still surfaces its churn
    row (active/new/retained/resurrected coalesced to 0) via a full
    outer join; only weeks past the last observed activity week are
    dropped.

    Scale shape: one distinct partial-agg onto (user, week), one
    per-user window over that user's weeks, two bounded per-week
    aggregates full-outer-joined on the week grid plus a 1-row
    max-week broadcast."""
    wk = F.expr(f"(unix_micros(cast({ts_col} as timestamp))"
                f" div 86400000000) div 7")
    grid = (df.select(F.col(key_col).alias("__u"), wk.alias("__w"))
            .distinct())
    uw = Window.partitionBy("__u").orderBy("__w")
    flags = grid.select(
        "__u", "__w",
        F.lag("__w").over(uw).alias("__pw"),
        F.lead("__w").over(uw).alias("__nw"))
    per_week = flags.groupBy(F.col("__w").alias("week")).agg(
        F.count(F.lit(1)).alias("active"),
        F.sum(F.when(F.col("__pw").isNull(), 1).otherwise(0))
        .alias("new_users"),
        F.sum(F.when(F.col("__pw") == F.col("__w") - 1, 1).otherwise(0))
        .alias("retained"),
        F.sum(F.when(F.col("__pw") < F.col("__w") - 1, 1).otherwise(0))
        .alias("resurrected"))
    churn = (flags.filter(F.col("__nw").isNull()
                          | (F.col("__nw") > F.col("__w") + 1))
             .groupBy((F.col("__w") + 1).alias("week"))
             .agg(F.count(F.lit(1)).alias("churned")))
    maxw = per_week.agg(F.max("week").alias("__mw"))
    out = (per_week.join(churn, "week", "full")
           .crossJoin(F.broadcast(maxw))
           .filter(F.col("week") <= F.col("__mw")))
    return out.select(
        F.col("week").cast("bigint").alias("week"),
        F.coalesce(F.col("active"), F.lit(0)).cast("bigint")
        .alias("active"),
        F.coalesce(F.col("new_users"), F.lit(0)).cast("bigint")
        .alias("new_users"),
        F.coalesce(F.col("retained"), F.lit(0)).cast("bigint")
        .alias("retained"),
        F.coalesce(F.col("resurrected"), F.lit(0)).cast("bigint")
        .alias("resurrected"),
        F.coalesce(F.col("churned"), F.lit(0)).cast("bigint")
        .alias("churned"))


def cusum(df: DataFrame, t_col: str, xq_col: str, k_micros: int,
          h_micros: int) -> DataFrame:
    """One-sided upper CUSUM drift detector over a BOUNDED,
    pre-aggregated time grid: S_t = max(0, S_{t-1} + x_t - k),
    flagged when S_t >= h — the sequential monitor that catches a
    small persistent shift long before a per-point z-score fires.

    The recursion is evaluated in closed form as
    S_t = C_t - min(0, min_{j<=t} C_j) with C the prefix sum of
    (x - k): pure cumulative windows, no iterative loop.  Inputs are
    caller-quantized integer micros (the rolling_zscore contract), so
    C, the running minimum, and S are exact integers; only the
    display value divides.

    Scale shape: the window runs over the aggregate grid (calendar
    days), never raw rows — the growth_curve bounded-window
    contract."""
    wc = Window.orderBy(t_col).rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    c = F.sum(F.col(xq_col) - F.lit(k_micros)).over(wc)
    base = df.select(F.col(t_col).alias("t"), F.col(xq_col).alias("__x"),
                     c.alias("__c"))
    wm = Window.orderBy("t").rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)
    s = F.col("__c") - F.least(F.min("__c").over(wm),
                               F.lit(0).cast("bigint"))
    return base.select(
        F.col("t").cast("bigint").alias("t"),
        F.round(F.col("__x").cast("double") / 1e6, 6).alias("x"),
        F.round(s.cast("double") / 1e6, 6).alias("cusum"),
        (s >= F.lit(h_micros)).alias("breach"))


def bounce_rate(df: DataFrame, key_cols: list[str] | str, ts_col: str,
                gap_seconds: int = 1800,
                tie_cols: list[str] | None = None) -> DataFrame:
    """Daily bounce rate: gap-based sessionization (epoch-micros
    subtraction, never calendar date_diff), then per session-start
    day the share of single-event sessions — the engagement-quality
    readout on top of raw session counts.

    Exact integer session/bounce counts; the rate is one IEEE
    division (round 6).

    Scale shape: ONE shuffle on the keys serves the lag flag and the
    cumulative session number; session collapse and the daily rollup
    are partial aggs."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.col(ts_col)] + [F.col(c) for c in (tie_cols or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    mic = F.expr(f"unix_micros(cast({ts_col} as timestamp))")
    gap = mic - F.lag(mic).over(w)
    is_new = F.when(gap.isNull()
                    | (gap > F.lit(gap_seconds) * F.lit(1000000)),
                    1).otherwise(0)
    marked = df.select(*keys, F.col(ts_col).alias("__ts"),
                       *[F.col(c) for c in (tie_cols or [])],
                       is_new.alias("__new"))
    w2 = Window.partitionBy(*keys).orderBy(
        F.col("__ts"), *[F.col(c) for c in (tie_cols or [])])
    sess = marked.select(
        *keys, "__ts",
        F.sum("__new").over(
            w2.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("__sno"))
    per_sess = sess.groupBy(*keys, "__sno").agg(
        F.count(F.lit(1)).alias("__n"), F.min("__ts").alias("__start"))
    day = F.expr("unix_micros(cast(__start as timestamp))"
                 " div 86400000000")
    out = per_sess.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("__n") == 1, 1).otherwise(0))
        .alias("n_bounces"))
    return out.select(
        F.col("day").cast("bigint").alias("day"),
        F.col("n_sessions").cast("bigint").alias("n_sessions"),
        F.col("n_bounces").cast("bigint").alias("n_bounces"),
        F.round(F.col("n_bounces").cast("double")
                / F.col("n_sessions").cast("double"), 6)
        .alias("bounce_rate"))


def numeric_near_dup(df: DataFrame, key_col: str, id_col: str,
                     cents_col: str, tolerance: int) -> DataFrame:
    """Banded numeric near-duplicate pairs: within each blocking key,
    all row pairs whose integer-quantized values differ by at most
    `tolerance` — duplicate-payment / double-entry detection done as
    an EQUI join on value bands, never an all-pairs product.

    Each right row probes bands {b-1, b, b+1} (b = value div
    tolerance); a left row's own band equals exactly one probe, so
    every qualifying pair surfaces exactly once (no distinct needed).
    All values are exact integers by contract (cents, micros).

    Scale shape: one 3x explode + one shuffle equi-join on
    (key, band) + the |diff| filter — candidate volume is bounded by
    true near-dup density, not corpus size squared."""
    base = df.select(F.col(key_col).alias("__k"),
                     F.col(id_col).alias("__id"),
                     F.col(cents_col).alias("__c"))
    band = F.expr(f"__c div {int(tolerance)}")
    left = base.select("__k", F.col("__id").alias("id_a"),
                       F.col("__c").alias("__ca"), band.alias("__band"))
    right = base.select(
        "__k", F.col("__id").alias("id_b"), F.col("__c").alias("__cb"),
        F.explode(F.array(band - 1, band, band + 1)).alias("__band"))
    pairs = (left.join(right, ["__k", "__band"])
             .filter((F.col("id_a") < F.col("id_b"))
                     & (F.abs(F.col("__ca") - F.col("__cb"))
                        <= F.lit(tolerance))))
    return pairs.select(
        F.col("__k").alias(key_col),
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.abs(F.col("__ca") - F.col("__cb")).cast("bigint")
        .alias("diff_cents"))


def mase_backtest(df: DataFrame, t_col: str, y_col: str,
                  season: int = 7) -> DataFrame:
    """Seasonal-naive forecast backtest over a BOUNDED time grid:
    MASE = sum|y_t - y_{t-season}| / sum|y_t - y_{t-1}|, both sums
    restricted to rows where the seasonal lag exists — below 1 the
    seasonal-naive model beats the random-walk baseline, i.e. the
    series is genuinely seasonal and worth a real forecaster.

    Exact integer absolute-error sums (y must be integer-valued by
    contract — counts, micros); the ratio is one IEEE division
    (round 6).  A flat series (zero naive error) surfaces NULL.

    Scale shape: lag windows over the aggregate grid (calendar
    days), never raw rows — the growth_curve bounded-window
    contract."""
    w = Window.orderBy(t_col)
    base = df.select(
        F.col(t_col).alias("t"), F.col(y_col).alias("__y"),
        F.lag(y_col, 1).over(w).alias("__l1"),
        F.lag(y_col, season).over(w).alias("__ls"))
    scored = base.filter(F.col("__ls").isNotNull())
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.abs(F.col("__y") - F.col("__ls"))).alias("__es"),
        F.sum(F.abs(F.col("__y") - F.col("__l1"))).alias("__e1"))
    ok = F.col("__e1") > 0
    return agg.select(
        F.col("n_points").cast("bigint").alias("n_points"),
        F.col("__es").cast("bigint").alias("seasonal_abs_err"),
        F.col("__e1").cast("bigint").alias("naive_abs_err"),
        F.when(ok, F.round(F.col("__es").cast("double")
                           / F.col("__e1").cast("double"), 6))
        .alias("mase"))


def dwell_time(df: DataFrame, key_cols: list[str] | str, ts_col: str,
               state_col: str, gap_seconds: int = 1800,
               tie_cols: list[str] | None = None) -> DataFrame:
    """Per-state dwell time: for each event, the seconds until the
    SAME user's next event, attributed to the current event's state
    and kept only when the gap stays inside one session — 'how long
    do users sit on each step', the timing companion to
    markov_transitions.

    Exact integer micros sums; the mean is one IEEE division
    (round 6).  Session-final events (gap > gap_seconds or none)
    contribute nothing.

    Scale shape: ONE shuffle on the keys + a lead window, then a
    partial agg over |states| groups."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.col(ts_col)] + [F.col(c) for c in (tie_cols or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    mic = F.expr(f"unix_micros(cast({ts_col} as timestamp))")
    gap = F.lead(mic).over(w) - mic
    base = df.select(F.col(state_col).alias("state"), gap.alias("__g")) \
        .filter(F.col("__g").isNotNull()
                & (F.col("__g") <= F.lit(gap_seconds) * F.lit(1000000)))
    agg = base.groupBy("state").agg(
        F.count(F.lit(1)).alias("n_dwells"),
        F.sum("__g").alias("__sg"))
    return agg.select(
        "state", F.col("n_dwells").cast("bigint").alias("n_dwells"),
        F.round(F.col("__sg").cast("double") / 1e6
                / F.col("n_dwells").cast("double"), 6)
        .alias("mean_dwell_sec"))


def rolling_distinct(df: DataFrame, key_col: str, ts_col: str,
                     window_days: int = 7) -> DataFrame:
    """Exact trailing-N-day distinct actives per day (rolling WAU):
    the (key, day) grid fans out to its next `window_days` target
    days, a second distinct collapses (key, target), and a count per
    target gives the EXACT sliding distinct — the scalable form of a
    metric a naive COUNT(DISTINCT) OVER a row window cannot express
    (distinct doesn't decompose over sliding frames).

    Exact integers only.  Days with no activity of their own are not
    emitted (trailing windows are reported for observed days).

    Scale shape: one (key, day) distinct, a bounded x`window_days`
    explode, one more distinct partial agg, one count — no windows,
    no global sort."""
    day = F.expr(f"unix_micros(cast({ts_col} as timestamp))"
                 f" div 86400000000")
    grid = df.select(F.col(key_col).alias("__u"), day.alias("__d")) \
        .distinct()
    tgt = (grid.select("__u", F.explode(
        F.sequence(F.col("__d"), F.col("__d") + (window_days - 1)))
        .alias("__t"))
        .distinct())
    wau = tgt.groupBy(F.col("__t").alias("day")).agg(
        F.count(F.lit(1)).alias("trailing_actives"))
    dau = grid.groupBy(F.col("__d").alias("day")).agg(
        F.count(F.lit(1)).alias("dau"))
    out = dau.join(wau, "day")
    return out.select(
        F.col("day").cast("bigint").alias("day"),
        F.col("dau").cast("bigint").alias("dau"),
        F.col("trailing_actives").cast("bigint")
        .alias("trailing_actives"))


def skyline2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """2-D Pareto skyline (minimize both axes): the set of points no
    other point beats on both dimensions — the cost/latency frontier,
    price/quality efficient set.

    The caller pre-buckets continuous axes to BOUNDED integer grids
    (the roc_auc/ks_test quantize-upstream contract): per distinct x
    the minimal y survives, then a strict running minimum over x
    ascending keeps exactly the frontier (ties on both axes keep the
    shared point once, with its member count).

    Exact integers only.  Scale shape: one (x) partial agg onto the
    bucket grid, one x-cardinality-bounded cumulative window."""
    cells = df.groupBy(F.col(x_col).alias("x"),
                       F.col(y_col).alias("y")).agg(
        F.count(F.lit(1)).alias("__n"))
    per_x = cells.groupBy("x").agg(F.min("y").alias("y"))
    g = per_x.join(cells, ["x", "y"])
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    flagged = g.select(
        "x", "y", "__n", F.min("y").over(w).alias("__prior"))
    sky = flagged.filter(F.col("__prior").isNull()
                         | (F.col("y") < F.col("__prior")))
    return sky.select(F.col("x").cast("bigint").alias("x"),
                      F.col("y").cast("bigint").alias("y"),
                      F.col("__n").cast("bigint").alias("n_points"))


def tenure_hazard(df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """Discrete-time churn hazard by tenure: for each tenure week t,
    the share of still-active users who churn exactly then —
    hazard(t) = churned(t) / at_risk(t) — the curve that tells you
    WHEN users leave (week-1 cliff vs slow decay), where a single
    churn rate can't.

    A user's final tenure is last_week - first_week; users whose last
    activity falls in the dataset's final observed week are CENSORED
    (still alive), contributing to at_risk but never to churn.
    at_risk(t) derives from a reverse cumulative count over the
    bounded tenure grid.  Exact integers; hazard is one IEEE division
    (round 6).

    Scale shape: one per-user partial agg, one 1-row max-week
    broadcast, a bounded-grid window."""
    wk = F.expr(f"(unix_micros(cast({ts_col} as timestamp))"
                f" div 86400000000) div 7")
    per_user = df.groupBy(F.col(key_col).alias("__u")).agg(
        F.min(wk).alias("__fw"), F.max(wk).alias("__lw"))
    maxw = per_user.agg(F.max("__lw").alias("__W"))
    u = per_user.crossJoin(F.broadcast(maxw)).select(
        (F.col("__lw") - F.col("__fw")).alias("__t"),
        (F.col("__lw") == F.col("__W")).alias("__cens"))
    per_t = u.groupBy(F.col("__t").alias("tenure_weeks")).agg(
        F.count(F.lit(1)).alias("__ended"),
        F.sum(F.when(~F.col("__cens"), 1).otherwise(0)).alias("churned"))
    wrev = Window.orderBy(F.col("tenure_weeks").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    out = per_t.select(
        "tenure_weeks", "churned",
        F.sum("__ended").over(wrev).alias("at_risk"))
    return out.select(
        F.col("tenure_weeks").cast("bigint").alias("tenure_weeks"),
        F.col("at_risk").cast("bigint").alias("at_risk"),
        F.col("churned").cast("bigint").alias("churned"),
        F.round(F.col("churned").cast("double")
                / F.col("at_risk").cast("double"), 6).alias("hazard"))


def contribution_tree(df: DataFrame, parent_col: str, child_col: str,
                      value_col) -> DataFrame:
    """Two-level contribution report: per (parent, child), the exact
    decimal value total plus the child's share of its parent and of
    the grand total — the percent-of-parent readout a plain rollup
    doesn't give directly.

    Exact decimal(18,2) sums at every level (child totals re-sum to
    parent/grand totals exactly); shares are IEEE divisions
    (round 6).

    Scale shape: one partial agg onto (parent, child), one bounded
    parent re-agg joined back (broadcast), one 1-row grand total."""
    vdec = value_col if not isinstance(value_col, str) \
        else F.col(value_col).cast("decimal(18,2)")
    child = df.groupBy(F.col(parent_col).alias("parent"),
                       F.col(child_col).alias("child")).agg(
        F.sum(vdec).alias("__v"))
    par = child.groupBy("parent").agg(F.sum("__v").alias("__pv"))
    tot = child.agg(F.sum("__v").alias("__gv"))
    j = child.join(F.broadcast(par), "parent").crossJoin(F.broadcast(tot))
    return j.select(
        "parent", "child",
        F.col("__v").cast("double").alias("value"),
        F.round(F.col("__v").cast("double")
                / F.col("__pv").cast("double"), 6)
        .alias("share_of_parent"),
        F.round(F.col("__v").cast("double")
                / F.col("__gv").cast("double"), 6)
        .alias("share_of_total"))


def daily_percentile_bands(df: DataFrame, ts_col: str, xq_col: str,
                           qs: tuple = (10, 50, 90)) -> DataFrame:
    """Exact daily percentile bands (p10/p50/p90 by default) of an
    integer-valued measure: per (day, value) counts, a per-day
    cumulative scan over the bounded value grid, and the smallest
    value reaching ceil(q% * n) — the monitoring band chart computed
    EXACTLY (no sketch) at one shuffle.

    The value column must be low-cardinality by contract (whole
    units, buckets).  All integers; no float surfaces.

    Scale shape: one partial agg onto (day, value), per-day windows
    over <= value-cardinality rows, one pivot-style final agg."""
    day = F.expr(f"unix_micros(cast({ts_col} as timestamp))"
                 f" div 86400000000")
    cells = df.groupBy(day.alias("day"),
                       F.col(xq_col).alias("__v")).agg(
        F.count(F.lit(1)).alias("__c"))
    wc = Window.partitionBy("day").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    cum = cells.select("day", "__v",
                       F.sum("__c").over(wc).alias("__cum"),
                       F.sum("__c").over(wt).alias("__n"))
    aggs = [F.max("__n").cast("bigint").alias("n")]
    for q in qs:
        # smallest v with cum*100 >= q*n (ceil semantics in integers)
        hit = F.when(F.col("__cum") * 100 >= F.lit(q) * F.col("__n"),
                     F.col("__v"))
        aggs.append(F.min(hit).cast("bigint").alias(f"p{q}"))
    return (cum.groupBy("day").agg(*aggs)
            .select(F.col("day").cast("bigint").alias("day"), "n",
                    *[f"p{q}" for q in qs]))


def freshness_report(df: DataFrame, group_col: str,
                     ts_col: str) -> DataFrame:
    """Per-group data-freshness report: each group's last event time,
    its lag in seconds behind the table's global watermark, and the
    row count inside the final global hour — the ingest-health gate
    that catches one stalled source while the table as a whole looks
    current.

    Exact epoch-micros integers; lag is an integer difference.

    Scale shape: one partial agg per group + a 1-row global max
    broadcast + one filtered re-count folded into the same agg."""
    mic = F.expr(f"unix_micros(cast({ts_col} as timestamp))")
    per = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.max(mic).alias("__last"))
    glob = per.agg(F.max("__last").alias("__gmax"))
    wide = df.select(F.col(group_col).alias("grp"), mic.alias("__m")) \
        .crossJoin(F.broadcast(glob))
    counts = wide.groupBy("grp").agg(
        F.max("__gmax").alias("__gmax"),
        F.sum(F.when(F.col("__m") >= F.col("__gmax")
                     - F.lit(3600000000), 1).otherwise(0))
        .alias("n_last_hour"))
    out = per.join(counts, "grp")
    return out.select(
        F.col("grp").alias(group_col),
        F.expr("timestamp_micros(__last)").alias("last_ts"),
        F.expr("(__gmax - __last) div 1000000").alias("lag_seconds"),
        F.col("n_last_hour").cast("bigint").alias("n_last_hour"))
