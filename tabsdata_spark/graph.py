"""Graph algorithms as DataFrame iterations (Pregel-style, no RDDs).

Here: PageRank (`pagerank`, directed and weighted, by unrolled power
iteration), its bit-exact undirected and personalized siblings
(`pagerank_exact`, `ppr_exact`), HITS (`hits_exact`), bounded-round
k-core peeling (`kcore_peel`), degree assortativity and Markov
removal-effect attribution.  Connected components live in `llm.dedup`
(min-label propagation and large-star/small-star).

Scale notes: each iteration is one shuffle-join of the rank vector against
the edge list keyed on src plus one groupBy on dst — the same shape GraphX
uses.  The rank vector is |V| rows (thin); the edge list dominates and is
scan-partitioned.  For long iteration counts, localCheckpoint every few
rounds truncates lineage (same trap as connected components); for the
typical 3-20 iterations the unrolled plan is fine and lets Catalyst
pipeline scans.

Small graphs: the iterative operators ask `scale.small_input` for their
edge arrays and, below `driver_threshold` edges, replay the identical
recursion on numpy in the driver (`_*_driver`).  Both paths read one edge
projection (`_edges` / `_symmetric`), where an edge with a null endpoint
is dropped: as in a SQL join, a null id connects nothing.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from .scale import reuse, small_input

#: Below this many (directed) edge rows the exact iterative operators run
#: their recursion in the driver on numpy arrays instead of scheduling
#: per-iteration Spark jobs.  Iterative rounds on small graphs cost JOBS,
#: not data (the kcore_peel/connected-components precedent): each round is
#: a join + partial agg whose scheduling floor dominates below ~1M edges.
#: The arithmetic is the identical exact contract — integer counts plus
#: picos-quantized int64 sums and elementwise IEEE-double updates, all of
#: which numpy reproduces bit-for-bit — so results are unchanged.  At
#: cluster scale the edge count blows past the threshold and the
#: distributed path runs; 4M rows is ~64 MB of driver arrays, and int64
#: contribution sums stay below 2^63 (<= edges * 1e12 <= 4e18).
DRIVER_EDGE_THRESHOLD = 4_000_000


def _edges(edges: DataFrame, src: str, dst: str, a: str = "u",
           b: str = "v", *extra: Column) -> DataFrame:
    """The (a, b, *extra) edge projection every graph operator reads.  An
    edge with a null endpoint is dropped — as in a SQL join, a null id
    connects nothing — so the driver and distributed paths see one graph."""
    return (edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
            .select(F.col(src).alias(a), F.col(dst).alias(b), *extra))


# NOTE (r11, measured and REJECTED): building the symmetric closure as
# distinct(least,greatest) THEN union-both-orientations halves the dedup
# exchange input, but the canonical subtree feeds BOTH union branches and
# re-executes (no stage reuse) — within-session interleaved A/B read the
# old shape FASTER (1.161 vs 1.246 med over 6 alternations, identical
# 1,173,742-edge sets).  Keep distinct-after-union.

def _symmetric(edges: DataFrame, src: str, dst: str, a: str = "u",
               b: str = "v") -> DataFrame:
    """The undirected edge set: every edge in both orientations, deduped."""
    e = _edges(edges, src, dst, a, b)
    return e.unionAll(e.select(F.col(b).alias(a), F.col(a).alias(b))) \
        .distinct()


def _node_frame(e: DataFrame, node_col: str, fields: list[StructField],
                columns) -> DataFrame:
    """A driver path's result: `node` keeps the dtype of `e[node_col]`
    (the caller's id type), then `fields`, filled row-wise from the
    equal-length numpy `columns` (none for an empty result)."""
    rows = list(zip(*(c.tolist() for c in columns)))
    if not rows:  # an empty projection of e collects without a Spark job,
        # unlike a parallelized empty list
        return e.select(F.col(node_col).alias("node"),
                        *[F.lit(None).cast(f.dataType).alias(f.name)
                          for f in fields]).limit(0)
    schema = StructType([StructField("node", e.schema[node_col].dataType),
                         *fields])
    return e.sparkSession.createDataFrame(rows, schema)


def _index_nodes(nodes, *cols):
    """Map id arrays onto positions in the sorted unique `nodes` array."""
    return [np.searchsorted(nodes, c) for c in cols]


def _pagerank_driver(e: DataFrame, s, d, w, iterations: int,
                     damping: float) -> DataFrame:
    """Driver-side replay of `pagerank`'s float recursion over the
    (src, dst, w) edge arrays — for BOUNDED transition graphs
    (label/event-type chains) where each iteration's joins cost
    scheduled jobs, not data (the markov_attribution bounded-collect
    precedent).  Same elementwise IEEE arithmetic; float contribution
    sums accumulate in edge order (np.add.at), which — like the
    distributed partial aggs — is one of the orderings `pagerank`'s
    round-6 output contract already tolerates."""
    w = w.astype(np.float64)
    nodes = np.unique(np.concatenate([s, d]))
    si, di = _index_nodes(nodes, s, d)
    n = len(nodes)
    out_w = np.zeros(n, dtype=np.float64)
    np.add.at(out_w, si, w)
    p = w / out_w[si]
    # max(n, 1): an empty graph has no nodes, so no rank is ever read
    rank = np.full(n, 1.0 / np.float64(max(n, 1)))
    base = (1.0 - damping) / np.float64(max(n, 1))
    for _ in range(iterations):
        mass = np.zeros(n, dtype=np.float64)
        np.add.at(mass, di, rank[si] * p)
        rank = base + damping * mass
    res = _node_frame(e, "src", [StructField("rank", DoubleType())],
                      (nodes, rank))
    return res.select("node", F.round("rank", 6).alias("rank"))


def pagerank(edges: DataFrame, iterations: int = 3, damping: float = 0.85,
             src: str = "src", dst: str = "dst",
             weight: str | None = None,
             checkpoint_every: int = 8,
             driver_threshold: int = 0) -> DataFrame:
    """Weighted PageRank over a directed edge list.

    rank_0(v)   = 1/N
    rank_i+1(v) = (1-d)/N + d * sum_u rank_i(u) * w(u,v)/out(u)

    Dangling nodes (no out-edges) leak their mass — acceptable for the
    transition-graph use cases here; add a dangling-mass term if exactness
    of the distribution sum matters.  Returns (node, rank) rounded to 6.

    `driver_threshold` > 0 opts into a driver fast path when the edge
    table has at most that many rows (one count; below it, the whole
    recursion runs on collected arrays instead of per-iteration Spark
    jobs).  Off by default because the float contribution sums are
    order-sensitive in the last ulp and `pagerank` makes no bit-exact
    cross-engine promise — callers with a bounded, rounding-robust graph
    (event-type transitions) opt in explicitly.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = _edges(edges, src, dst, "src", "dst", w.alias("w"))
    if driver_threshold:
        _, arrs = small_input(e, driver_threshold, "src", "dst", "w")
        if arrs is not None:
            return _pagerank_driver(e, *arrs, iterations, damping)
    out = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # transition probability per edge; broadcast-sized for label graphs,
    # co-partitioned shuffle join for billion-edge graphs
    trans = (e.join(out, "src")
             .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p")))

    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct())
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n_total"))
    ranks = (nodes.crossJoin(F.broadcast(n_nodes))
             .select("node", (F.lit(1.0) / F.col("n_total")).alias("rank"),
                     "n_total"))

    for i in range(iterations):
        contrib = (trans.join(ranks, trans.src == ranks.node)
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.sum(F.col("rank") * F.col("p")).alias("in_mass")))
        ranks = (ranks.select("node", "n_total")
                 .join(contrib, "node", "left")
                 .select(
                     "node",
                     ((1.0 - damping) / F.col("n_total")
                      + damping * F.coalesce("in_mass", F.lit(0.0))).alias("rank"),
                     "n_total"))
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)

    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _pagerank_exact_driver(und: DataFrame, u, v, iters: int,
                           damping: float) -> DataFrame:
    """Driver-side replay of pagerank_exact's recursion over the edge
    arrays.  Bit-exact vs the distributed path: degrees are exact
    integer bincounts; per-edge contributions floor((pr/deg)*1e12+0.5)
    are elementwise IEEE doubles quantized to int64 and summed as exact
    integers (partitioning- and order-independent, same as the
    decimal(38,0) sums); the damping update is the same fixed IEEE
    expression.  An empty graph yields no nodes and no ranks."""
    # und is symmetric, so every node appears on the u side
    nodes = np.unique(u)
    ui, vi = _index_nodes(nodes, u, v)
    deg = np.bincount(ui, minlength=len(nodes)).astype(np.float64)
    n = len(nodes)
    # max(n, 1): an empty graph has no nodes, so no rank is ever read
    base = (1.0 - damping) / float(max(n, 1))
    pr = np.full(n, 1.0 / float(max(n, 1)))
    for _ in range(iters):
        m = np.floor(pr / deg * 1e12 + 0.5).astype(np.int64)
        s = np.zeros(n, dtype=np.int64)
        np.add.at(s, vi, m[ui])
        pr = base + damping * (s.astype(np.float64) / 1e12)
    out = _node_frame(und, "u", [StructField("pr", DoubleType())],
                      (nodes, pr))
    # final rounding stays a Spark expression so display semantics are
    # identical to the distributed path (Java HALF_UP on doubles)
    return out.select("node", F.round("pr", 6).alias("pagerank"))


def pagerank_exact(edges: DataFrame, src_col: str, dst_col: str,
                   iters: int = 3, damping: float = 0.85,
                   driver_threshold: int = DRIVER_EDGE_THRESHOLD) -> DataFrame:
    """PageRank over an UNDIRECTED graph with a bit-exact cross-engine
    contract — the oracle-checkable sibling of `pagerank` (which is
    directed/weighted but float-sums its mass, so partial-agg order can
    wiggle the last ulp at scale).

    Exactness contract (drives the DuckDB oracle): pr starts at the
    exact double 1/N; each neighbor contribution pr(u)/deg(u) is
    quantized to picos (1e12) and summed as decimal(38,0) — exact
    integers in any partitioning — and the damping update is a
    fixed-structure IEEE expression, so every iteration reproduces
    bit-for-bit.  Output pr is round(·, 6) display-only.

    Scale shape: per iteration, ONE join of the edge list with the
    (node, deg, pr) table on the source endpoint and ONE partial-agg
    shuffle onto the destination; N is the only driver collect (1
    number).  The degree table is persisted: it re-enters every
    iteration, and recomputing it would rescan the edge list `iters`
    times.  Undirected-with-an-edge means every node has degree >= 1,
    so there is no dangling mass."""
    # persist the adjacency: it re-enters EVERY iteration (plus the degree
    # build), and recomputing the upstream edge derivation per round is
    # the dominant cost on join-derived edge lists.  At cluster scale this
    # would be a checkpoint to parquet instead.
    und = reuse(_symmetric(edges, src_col, dst_col))
    # small graph, and always an empty one (the distributed path divides
    # by N): iterative rounds cost scheduled jobs, not data — run the
    # identical exact recursion in the driver (see DRIVER_EDGE_THRESHOLD)
    _, arrs = small_input(und, driver_threshold, "u", "v")
    if arrs is not None:
        return _pagerank_exact_driver(und, *arrs, iters, damping)
    deg = reuse(und.groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
    n = deg.count()
    base = (1.0 - damping) / float(n)
    pr = deg.select(F.col("u").alias("node"), "deg",
                    (F.lit(1.0) / F.lit(float(n))).alias("pr"))

    def quant(c):
        return (F.floor(c * 1e12 + F.lit(0.5))
                .cast("bigint").cast("decimal(38,0)"))

    for _ in range(iters):
        contrib = (und.join(pr, und["u"] == pr["node"])
                   .select(F.col("v"),
                           quant(F.col("pr") / F.col("deg")).alias("m")))
        sums = contrib.groupBy("v").agg(F.sum("m").alias("s"))
        pr = (deg.join(sums, deg["u"] == sums["v"])
              .select(F.col("u").alias("node"), "deg",
                      (F.lit(base) + F.lit(damping)
                       * (F.col("s").cast("double") / F.lit(1e12)))
                      .alias("pr")))
    return pr.select("node", F.round("pr", 6).alias("pagerank"))


def _hits_exact_driver(e: DataFrame, u, v, iters: int) -> DataFrame:
    """Driver-side replay of hits_exact's half-step ladder over the edge
    arrays.  Same exactness contract as the distributed modes: picos
    quantization is elementwise IEEE, contribution and L1 totals are
    exact int64 sums (bounded by edges * 1e12 under
    DRIVER_EDGE_THRESHOLD), and each normalization is one IEEE division
    per node.  An empty graph yields no scores."""
    u_nodes = np.unique(u)
    v_nodes = np.unique(v)
    ui = np.searchsorted(u_nodes, u)
    vi = np.searchsorted(v_nodes, v)
    n_u = len(u_nodes)
    hub = np.full(n_u, 1.0) / n_u
    auth = np.zeros(len(v_nodes))
    for _ in range(iters):
        qh = np.floor(hub * 1e12 + 0.5).astype(np.int64)
        s = np.zeros(len(v_nodes), dtype=np.int64)
        np.add.at(s, vi, qh[ui])
        auth = s.astype(np.float64) / 1e12
        qa = np.floor(auth * 1e12 + 0.5).astype(np.int64)
        auth = qa.astype(np.float64) / np.float64(qa.sum())
        qa2 = np.floor(auth * 1e12 + 0.5).astype(np.int64)
        s2 = np.zeros(n_u, dtype=np.int64)
        np.add.at(s2, ui, qa2[vi])
        hub = s2.astype(np.float64) / 1e12
        qh2 = np.floor(hub * 1e12 + 0.5).astype(np.int64)
        hub = qh2.astype(np.float64) / np.float64(qh2.sum())
    out = _node_frame(
        e, "u", [StructField("role", StringType(), nullable=False),
                 StructField("score", DoubleType())],
        (np.concatenate([u_nodes, v_nodes]),
         np.repeat(np.array(["hub", "authority"]), [n_u, len(v_nodes)]),
         np.concatenate([hub, auth])))
    return out.select("node", "role", F.round("score", 9).alias("score"))


def hits_exact(edges: DataFrame, src_col: str, dst_col: str,
               iters: int = 2,
               score_partitions: int | None = None,
               driver_threshold: int = DRIVER_EDGE_THRESHOLD) -> DataFrame:
    """HITS hubs-and-authorities over a DIRECTED (typically bipartite)
    edge list, with the same bit-exact cross-engine contract as
    pagerank_exact: authority(v) = sum of hub scores over in-edges,
    hub(u) = sum of authority scores over out-edges, L1-normalized
    after every half-step.

    Exactness contract: hub scores start at the exact double 1/|U|
    (|U| = distinct sources); every contribution is quantized to picos
    (1e12) and summed as decimal(38,0) — exact integers in any
    partitioning; each L1 normalization divides by the exact integer
    total (one IEEE division per node), so every half-step replays
    bit-for-bit in the oracle's unrolled CTEs.  Output rounds to 9
    (display-only).  Both modes below evaluate the identical
    arithmetic — only the physical shape differs.

    Scale shape (cluster mode, score_partitions=None): per half-step,
    ONE join of the score vector with the deduped edge list and ONE
    partial-agg shuffle onto the other side, plus a 1-row broadcast
    combine for the L1 total; score vectors persist because the
    total-aggregate and the next join each consume them (without it,
    every total re-evaluates the whole iteration lineage —
    2^half-steps full replays; the pagerank_exact persist lesson,
    compounded by normalization).  AQE sizes every shuffle.

    Small mode (score_partitions=N): thin score vectors pay more in
    fixed per-job scheduling than in compute — persist pins the
    200-partition default, AQE cannot coalesce it, and each L1
    broadcast is its own job.  Instead the L1 total comes from a
    bounded GLOBAL window over the |V|-sized vector (same exact
    integer sum), the whole recursion collapses into ONE linear plan
    with zero intermediate jobs, and every shuffle is capped at N.
    Measured on the oracle corpus: ~8x wall-clock."""
    from pyspark.sql.window import Window

    sp = score_partitions

    def keyed(df, *cols):
        return df.repartition(sp, *cols) if sp else df

    # hash by u alone: HashPartitioning(u) still satisfies the (u, v)
    # dedup clustering, and leaves e co-partitioned for the hub joins
    e = reuse(keyed(_edges(edges, src_col, dst_col), "u").distinct())
    # small graph: half-steps cost scheduled jobs/shuffles, not data — run
    # the identical exact ladder in the driver (see DRIVER_EDGE_THRESHOLD).
    # Endpoints of different dtypes stay distributed: the union of hub and
    # authority nodes would need the engine's type coercion.
    if e.schema["u"].dataType == e.schema["v"].dataType:
        _, arrs = small_input(e, driver_threshold, "u", "v")
        if arrs is not None:
            return _hits_exact_driver(e, *arrs, iters)

    def quant(c):
        return (F.floor(c * 1e12 + F.lit(0.5))
                .cast("bigint").cast("decimal(38,0)"))

    if sp:
        # bounded global window over the score vector (|V| rows)
        inv_n = (F.lit(1.0)
                 / F.count(F.lit(1)).over(Window.partitionBy())
                 .cast("double"))
        hub = keyed(e.select("u"), "u").distinct().select(
            F.col("u").alias("node"), inv_n.alias("h"))
    else:
        n_u = e.select("u").distinct().count()
        hub = e.select("u").distinct().select(
            F.col("u").alias("node"),
            (F.lit(1.0) / F.lit(float(n_u))).alias("h"))

    def l1_normalize(scores, col):
        if sp:
            tot = F.sum(quant(F.col(col))).over(Window.partitionBy())
            return scores.select(
                "node", (quant(F.col(col)).cast("double")
                         / tot.cast("double")).alias(col))
        scores = reuse(scores)
        tot = scores.agg(F.sum(quant(F.col(col))).alias("__t"))
        return reuse(scores.crossJoin(F.broadcast(tot))
                     .select(scores["*"],
                             (quant(F.col(col)).cast("double")
                              / F.col("__t").cast("double")).alias("__nn"))
                     .drop(col).withColumnRenamed("__nn", col))

    auth = None
    for _ in range(iters):
        a_sum = (keyed(e.join(hub, e["u"] == hub["node"]), "v")
                 .groupBy("v").agg(F.sum(quant(F.col("h"))).alias("__s")))
        auth = a_sum.select(F.col("v").alias("node"),
                            (F.col("__s").cast("double") / F.lit(1e12))
                            .alias("a"))
        auth = l1_normalize(auth, "a")
        h_sum = (keyed(e.join(auth, e["v"] == auth["node"]), "u")
                 .groupBy("u").agg(F.sum(quant(F.col("a"))).alias("__s")))
        hub = h_sum.select(F.col("u").alias("node"),
                           (F.col("__s").cast("double") / F.lit(1e12))
                           .alias("h"))
        hub = l1_normalize(hub, "h")
    hubs = hub.select("node", F.lit("hub").alias("role"),
                      F.round("h", 9).alias("score"))
    auths = auth.select("node", F.lit("authority").alias("role"),
                        F.round("a", 9).alias("score"))
    return hubs.unionByName(auths)


def _ppr_exact_driver(und: DataFrame, u, v, seeds: DataFrame,
                      seed_col: str, iters: int,
                      damping: float) -> DataFrame:
    """Driver-side replay of ppr_exact's recursion (see
    _pagerank_exact_driver for the exactness argument; the only deltas
    are the seed-restricted teleport vector and the left-join/COALESCE(0)
    default, which the dense s-array reproduces)."""
    seed_tbl = seeds.select(F.col(seed_col)).distinct().toArrow()
    seed_arr = seed_tbl.column(0).to_numpy(zero_copy_only=False)
    nodes = np.unique(u)
    ui, vi = _index_nodes(nodes, u, v)
    is_seed = np.isin(nodes, seed_arr)
    n_s = int(is_seed.sum())
    if n_s == 0:  # no seed in the graph: teleport undefined
        return _node_frame(und, "u",
                           [StructField("ppr", DoubleType())], ())
    deg = np.bincount(ui, minlength=len(nodes)).astype(np.float64)
    n = len(nodes)
    base = (1.0 - damping) / float(n_s)
    pr = np.where(is_seed, 1.0 / float(n_s), 0.0)
    tele = np.where(is_seed, base, 0.0)
    for _ in range(iters):
        m = np.floor(pr / deg * 1e12 + 0.5).astype(np.int64)
        s = np.zeros(n, dtype=np.int64)
        np.add.at(s, vi, m[ui])
        pr = tele + damping * (s.astype(np.float64) / 1e12)
    out = _node_frame(und, "u", [StructField("pr", DoubleType())],
                      (nodes, pr))
    return out.select("node", F.round("pr", 9).alias("ppr"))


def ppr_exact(edges: DataFrame, src_col: str, dst_col: str,
              seeds: DataFrame, seed_col: str,
              iters: int = 2, damping: float = 0.85,
              driver_threshold: int = DRIVER_EDGE_THRESHOLD) -> DataFrame:
    """Personalized PageRank over the UNDIRECTED graph with the
    pagerank_exact bit-exact contract: teleport mass restarts at the
    SEED set instead of uniformly — 'influence relative to these
    nodes', the standard recommendation / related-entity primitive.

    Exactness contract: pr starts at the exact double 1/|S| on seeds
    (0 elsewhere); neighbor contributions pr/deg quantize to picos and
    sum as decimal(38,0); the update
    (1-d)*tele + d*sum is a fixed IEEE expression per node.  Output
    pr rounds to 9 (display-only).

    Scale shape: identical to pagerank_exact — per iteration ONE edge
    join + ONE partial-agg shuffle; the degree/seed node table is
    persisted (it re-enters every iteration); |S| is the only driver
    collect."""
    und = reuse(_symmetric(edges, src_col, dst_col))
    # small graph: run the identical exact recursion in the driver (see
    # DRIVER_EDGE_THRESHOLD)
    _, arrs = small_input(und, driver_threshold, "u", "v")
    if arrs is not None:
        return _ppr_exact_driver(und, *arrs, seeds, seed_col, iters, damping)
    sd = seeds.select(F.col(seed_col).alias("u")).distinct()
    deg = reuse(und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
                .join(sd.withColumn("__seed", F.lit(True)), "u", "left")
                .withColumn("__seed", F.coalesce("__seed", F.lit(False))))
    n_s = deg.filter(F.col("__seed")).count()
    if n_s == 0:  # no seed appears in the graph: teleport distribution
        # is undefined, so no node carries mass — empty result with the
        # caller's node dtype preserved (the pagerank_exact contract)
        return _node_frame(und, "u",
                           [StructField("ppr", DoubleType())], ())
    base = (1.0 - damping) / float(n_s)
    tele = F.when(F.col("__seed"), F.lit(base)).otherwise(F.lit(0.0))
    pr = deg.select(
        F.col("u").alias("node"), "deg", "__seed",
        F.when(F.col("__seed"), F.lit(1.0) / F.lit(float(n_s)))
        .otherwise(F.lit(0.0)).alias("pr"))

    def quant(c):
        return (F.floor(c * 1e12 + F.lit(0.5))
                .cast("bigint").cast("decimal(38,0)"))

    for _ in range(iters):
        contrib = (und.join(pr, und["u"] == pr["node"])
                   .select(F.col("v"),
                           quant(F.col("pr") / F.col("deg")).alias("m")))
        sums = contrib.groupBy("v").agg(F.sum("m").alias("s"))
        pr = (deg.join(sums, deg["u"] == sums["v"], "left")
              .select(F.col("u").alias("node"), "deg", "__seed",
                      (tele + F.lit(damping)
                       * (F.coalesce(F.col("s"), F.lit(0).cast("decimal(38,0)"))
                          .cast("double") / F.lit(1e12))).alias("pr")))
    return pr.select("node", F.round("pr", 9).alias("ppr"))


def degree_assortativity(edges: DataFrame, src_col: str,
                         dst_col: str) -> DataFrame:
    """Degree assortativity of a (directed/bipartite) edge list: the
    Pearson correlation, over edges, between the source endpoint's
    out-degree and the destination endpoint's in-degree — positive
    means hubs connect to hubs (a skew-amplifying topology for joins
    and graph iterations), negative means hub-to-leaf.

    Exactness: degrees are exact integer counts; the five cross
    moments accumulate as exact decimal(38,0); r is one fixed IEEE
    expression over the exact sums (round 6).

    Scale shape: two partial-agg shuffles for the degree tables, two
    equi-joins back onto the edge list (AQE broadcasts the smaller
    degree side), one final scalar aggregate."""
    big = "decimal(38,0)"
    # e is consumed three times (both degree tables + the join probe) and
    # AQE stage reuse does not fire across the branches when the edge list
    # is join-derived — lazy within-invocation persist computes it once
    # (the bigram_lm_score lesson)
    e = reuse(edges.select(F.col(src_col).alias("__s"),
                           F.col(dst_col).alias("__d")))
    ds = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__ks"))
    dd = e.groupBy("__d").agg(F.count(F.lit(1)).alias("__kd"))
    j = e.join(ds, "__s").join(dd, "__d")
    x, y = F.col("__ks").cast(big), F.col("__kd").cast(big)
    agg = j.agg(F.count(F.lit(1)).alias("n_edges"),
                F.sum(x).alias("__sx"), F.sum(y).alias("__sy"),
                F.sum((x * y).cast(big)).alias("__sxy"),
                F.sum((x * x).cast(big)).alias("__sxx"),
                F.sum((y * y).cast(big)).alias("__syy"))
    n = F.col("n_edges").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    ok = (F.col("n_edges") >= 3) & (vx > F.lit(0.0)) & (vy > F.lit(0.0))
    return agg.select(
        F.col("n_edges").cast("bigint").alias("n_edges"),
        F.when(ok, F.round((n * sxy - sx * sy) / F.sqrt(vx * vy), 6))
        .alias("assortativity"))


def _kcore_peel_driver(und: DataFrame, a, b, k: int,
                       rounds: int) -> DataFrame:
    """Vectorized driver-side peel over the edge arrays — the same exact
    integer recursion as the distributed rounds (degrees are bincounts;
    a round keeps edges whose BOTH endpoints had degree >= k), just on
    numpy masks."""
    nodes = np.unique(a)  # symmetric: every node appears on the a side
    ai, bi = _index_nodes(nodes, a, b)
    alive = np.ones(len(ai), dtype=bool)
    for _ in range(rounds):
        deg = np.bincount(ai[alive], minlength=len(nodes))
        keep = deg >= k
        alive &= keep[ai] & keep[bi]
    deg = np.bincount(ai[alive], minlength=len(nodes))
    mask = deg > 0
    return _node_frame(und, "a", [StructField("degree", LongType())],
                       (nodes[mask], deg[mask]))


def kcore_peel(edges: DataFrame, src_col: str, dst_col: str,
               k: int = 3, rounds: int = 4,
               driver_threshold: int = DRIVER_EDGE_THRESHOLD) -> DataFrame:
    """Bounded-round k-core peeling on the undirected graph: each
    round drops every node with degree < k and every edge touching a
    dropped node — the density filter behind spam-ring and
    collusion-cluster mining.  `rounds` is an explicit upper bound BY
    CONTRACT (the oracle unrolls the same rounds); survivors of round
    R are a superset of the true k-core, converging as R grows.

    Exact integer degrees; output is each surviving node with its
    degree inside the surviving subgraph.

    Scale shape: per round, one degree partial-agg + two semi joins
    (AQE broadcasts the shrinking node set); the edge frame is
    persisted once up front so iterations don't replay the
    distinct-union lineage (the pagerank_exact lesson).  Below
    `driver_threshold` directed edges the peel runs in the driver
    (the connected-components small-graph precedent) — iterative
    rounds cost JOBS, not data, on small graphs, and the numpy peel
    is the identical exact integer recursion."""
    und = reuse(_symmetric(edges, src_col, dst_col, "a", "b"))
    _, arrs = small_input(und, driver_threshold, "a", "b")
    if arrs is not None:
        return _kcore_peel_driver(und, *arrs, k, rounds)
    cur = und
    for _ in range(rounds):
        deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("__d"))
        keep = deg.filter(F.col("__d") >= k).select("a")
        cur = (cur.join(keep, "a", "semi")
               .join(keep.select(F.col("a").alias("b")), "b", "semi"))
        # each round's keep derives from cur, so the next round would
        # otherwise REPLAY this round's joins twice per reference —
        # 2^rounds lineage blowup (the pagerank_exact/hits lesson);
        # persist truncates the replay, count() materializes now
        cur = reuse(cur)
        cur.count()
    out = (cur.groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
           .select(F.col("a").alias("node"),
                   F.col("degree").cast("bigint").alias("degree")))
    return out


def markov_attribution(df: DataFrame, key_col: str, ts_col: str,
                       state_col: str, conv_value: str,
                       tie_cols: list[str] | None = None,
                       steps: int = 12) -> DataFrame:
    """Markov removal-effect attribution: build the first-order journey
    chain (start -> touchpoints -> conv on the converting event, ->
    null at journey end), estimate the chain's conversion probability,
    re-estimate it with each channel REMOVED (its inbound mass
    diverted to null), and credit each channel by its normalized
    removal effect — the data-driven multi-touch model that last-touch
    / position heuristics approximate.

    Journeys truncate at the FIRST conversion.  The absorption
    probability is evaluated over a fixed `steps`-step horizon BY
    CONTRACT (the oracle unrolls the same horizon) as a PURE-INTEGER
    recursion: start mass 1e12; each step moves floor(m * n_ij / n_i)
    along every edge (64-bit-safe via exact big-int arithmetic), so
    base and removal masses are bit-identical in any engine.  Removal
    merges redirected edges BEFORE dividing (one canonical form).

    Scale shape: one key shuffle + lead windows build the transition
    counts; the |states|^2 table (bounded category grid) is collected
    and the recursion runs driver-side — the CC/BPE bounded-collect
    precedent.  Output: one row per non-converting channel."""
    from pyspark.sql.window import Window

    keys = [key_col]
    order = [F.col(ts_col)] + [F.col(c) for c in (tie_cols or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    st = F.when(F.col(state_col) == conv_value, F.lit("conv")) \
        .otherwise(F.col(state_col))
    base = df.select(F.col(key_col).alias("__u"), st.alias("__st"),
                     F.row_number().over(w).alias("__rn"))
    fp = base.filter(F.col("__st") == "conv").groupBy("__u").agg(
        F.min("__rn").alias("__rp"))
    kept = (base.join(fp, "__u", "left")
            .filter(F.col("__rp").isNull()
                    | (F.col("__rn") <= F.col("__rp"))))
    w2 = Window.partitionBy("__u").orderBy("__rn")
    seq = kept.select("__u", "__st", "__rn",
                      F.lead("__st").over(w2).alias("__nxt"))
    start_e = seq.filter(F.col("__rn") == 1).select(
        F.lit("start").alias("src"), F.col("__st").alias("dst"))
    mid_e = seq.filter(F.col("__nxt").isNotNull()).select(
        F.col("__st").alias("src"), F.col("__nxt").alias("dst"))
    end_e = seq.filter(F.col("__nxt").isNull()
                       & (F.col("__st") != "conv")).select(
        F.col("__st").alias("src"), F.lit("null").alias("dst"))
    trans = (start_e.unionAll(mid_e).unionAll(end_e)
             .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n")))
    rows = [(r["src"], r["dst"], int(r["n"])) for r in trans.collect()]

    ni: dict = {}
    for s, _d, n in rows:
        ni[s] = ni.get(s, 0) + n
    channels = sorted({s for s, _d, _n in rows
                       if s not in ("start", "conv", "null")}
                      | {d for _s, d, _n in rows
                         if d not in ("start", "conv", "null")})

    def conv_mass(removed: str | None) -> int:
        edges: dict = {}
        for s, d, n in rows:
            if removed is not None and s == removed:
                continue
            dd = "null" if (removed is not None and d == removed) else d
            edges[(s, dd)] = edges.get((s, dd), 0) + n
        mass = {"start": 10 ** 12}
        for _ in range(steps):
            nxt: dict = {}
            for s, m in mass.items():
                if s in ("conv", "null"):
                    nxt[s] = nxt.get(s, 0) + m  # absorbing self-loop
                    continue
                for (es, ed), n in edges.items():
                    if es != s:
                        continue
                    nxt[ed] = nxt.get(ed, 0) + (m * n) // ni[s]
            mass = nxt
        return mass.get("conv", 0)

    bq = conv_mass(None)
    out = []
    res = []
    for c in channels:
        rq = conv_mass(c)
        re_u = (bq - rq) / bq if bq > 0 else None
        res.append((c, rq, re_u))
    denom = sum(max(r, 0.0) for _c, _q, r in res if r is not None)
    for c, rq, re_u in res:
        att = (round(max(re_u, 0.0) / denom, 6)
               if re_u is not None and denom > 0 else None)
        out.append((c, bq, rq,
                    round(re_u, 6) if re_u is not None else None, att))
    spark = df.sparkSession
    return spark.createDataFrame(
        out, "channel string, base_conv_q long, removal_conv_q long,"
             " removal_effect double, attribution double")
