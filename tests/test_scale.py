"""Skew utilities: semantics-preserving vs the direct forms."""

from __future__ import annotations

from datetime import datetime, timedelta

import pyspark.sql.functions as F
import pytest

from tabsdata_spark import scale


def test_salted_join_matches_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .select("l_orderkey", "l_partkey", "l_quantity")
    pt = spark.read.parquet(f"{sf_dir}/part.parquet") \
        .select("p_partkey", "p_brand").withColumnRenamed("p_partkey", "l_partkey")

    plain = li.join(pt, "l_partkey").groupBy("p_brand") \
        .agg(F.sum("l_quantity").alias("q")).collect()
    salted = scale.salted_join(li, pt, "l_partkey", salt=8) \
        .groupBy("p_brand").agg(F.sum("l_quantity").alias("q")).collect()
    assert sorted((r.p_brand, r.q) for r in plain) == \
           sorted((r.p_brand, r.q) for r in salted)


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (2, "b"), (99, "z")], ["k", "v"])
    small = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "w"])
    out = scale.salted_join(big, small, "k", how="left", salt=4).collect()
    got = sorted((r.k, r.v, r.w) for r in out)
    assert got == [(1, "a", "x"), (2, "b", "y"), (99, "z", None)]


def test_two_phase_count_distinct_matches(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    direct = li.groupBy("l_returnflag") \
        .agg(F.countDistinct("l_partkey").alias("n_distinct")).collect()
    two = scale.two_phase_count_distinct(li, "l_returnflag", "l_partkey").collect()
    assert sorted((r.l_returnflag, r.n_distinct) for r in direct) == \
           sorted((r.l_returnflag, r.n_distinct) for r in two)


def test_repartition_reuses_exchange(spark, sf_dir):
    li = scale.repartition_for_join(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"), "l_orderkey", 8)
    od = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .withColumnRenamed("o_orderkey", "l_orderkey")
    j = li.join(od, "l_orderkey")
    # the pre-partitioned side must not be re-shuffled for the join
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(l_orderkey") <= 2


def test_bucketed_join_no_exchange(spark, sf_dir, tmp_path):
    """Tables bucketed on the join key must join without any shuffle."""
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    # force the shuffle path (broadcast would win on this small data and
    # bypass bucketing — at 100 TB neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .select("l_orderkey", "l_quantity")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    scale.write_bucketed(li, "b_li", "l_orderkey", 8)
    scale.write_bucketed(od, "b_od", "l_orderkey", 8)
    try:
        j = spark.table("b_li").join(spark.table("b_od"), "l_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_od")


def test_zorder_layout_tightens_file_minmax(spark, tmp_path):
    """The point of Z-ordering: every written file covers a compact range
    in EACH dimension, so parquet min/max skipping prunes multi-column
    predicates.  Compare per-file x-spans against a round-robin layout."""
    import glob

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from tabsdata_spark.scale import zorder_repartition

    df = spark.range(4000).select(
        (F.col("id") % 64).cast("double").alias("x"),
        ((F.col("id") * 7) % 64).cast("double").alias("y"))

    zdir, rdir = str(tmp_path / "z"), str(tmp_path / "r")
    zorder_repartition(df, ["x", "y"], [(0.0, 64.0), (0.0, 64.0)],
                       num_partitions=8, bits=6).write.parquet(zdir)
    df.repartition(8).write.parquet(rdir)

    def mean_x_span(d):
        spans = []
        for f in glob.glob(f"{d}/part-*.parquet"):
            md = pq.read_metadata(f)
            lo = min(md.row_group(i).column(0).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(0).statistics.max
                     for i in range(md.num_row_groups))
            spans.append(hi - lo)
        return sum(spans) / len(spans)

    z_span, r_span = mean_x_span(zdir), mean_x_span(rdir)
    # round-robin files span ~the full domain; z-ordered files must be
    # substantially tighter on x (and by symmetry y)
    assert r_span > 60
    assert z_span < r_span / 2


def test_bloom_prefilter_join_equals_plain_join(spark, sf_dir):
    import pyspark.sql.functions as F

    from tabsdata_spark.scale import bloom_prefilter_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select(F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .filter(F.col("c_acctbal") > 9000).select("c_custkey")
    got = sorted(tuple(r) for r in
                 bloom_prefilter_join(orders, cust, "c_custkey").collect())
    want = sorted(tuple(r) for r in orders.join(cust, "c_custkey").collect())
    assert got == want and len(got) > 0

    import pytest
    with pytest.raises(ValueError):
        bloom_prefilter_join(orders, cust, "c_custkey", how="left")


def test_key_skew_report_values(spark):
    from tabsdata_spark.scale import key_skew_report

    # keys: a x6, b x2, c x1, d x1  -> 10 rows, 4 keys, max 6
    rows = [("a",)] * 6 + [("b",)] * 2 + [("c",)] + [("d",)]
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_report(df, "k").collect()[0]
    assert (r.n_keys, r.n_rows, r.max_per_key) == (4, 10, 6)
    assert r.top_key_share == 0.6
    assert r.skew_ratio == 2.4            # 6 / (10/4)
    assert r.p50_per_key == 1.5           # interpolated over [1,1,2,6]


def test_profile_table_counts_and_ranges(spark):
    from tabsdata_spark import scale

    rows = [(1, "a", 1.5), (2, "a", None), (3, None, 2.5), (4, "b", 0.5)]
    df = spark.createDataFrame(rows, "id long, s string, v double")
    got = {r.column: r for r in scale.profile_table(df).collect()}
    assert got["id"].n_nulls == 0 and got["id"].n_distinct == 4
    assert (got["id"].min_num, got["id"].max_num) == (1.0, 4.0)
    assert got["s"].n_nulls == 1 and got["s"].n_distinct == 2
    assert got["s"].min_num is None
    assert got["v"].n_nulls == 1 and got["v"].min_num == 0.5


def test_record_linkage_blocked_scoring(spark):
    from tabsdata_spark import scale

    a = spark.createDataFrame(
        [(1, "blk", "alice", 100.0), (2, "blk", "bob", 50.0),
         (3, "other", "carol", 10.0)],
        "id long, blk string, name string, bal double")
    b = spark.createDataFrame(
        [(11, "blk", "alice", 101.0),     # name + bal agree with a:1
         (12, "blk", "bobby", 50.0),      # only bal agrees with a:2
         (13, "zzz", "carol", 10.0)],     # wrong block: never paired
        "idb long, blk string, name string, bal double")
    out = scale.record_linkage(
        a, b, "id", "idb", ["blk"],
        [("name", 5.0, -2.0), ("bal", 3.0, -1.0, 2.0)],
        threshold=0.0).collect()
    got = {r.a_id: r for r in out}
    assert got[1].b_id == 11 and got[1].score == 8.0
    assert got[2].b_id == 12 and got[2].score == 1.0   # -2 + 3
    assert 3 not in got                                 # blocking pruned


def test_profile_table_skips_interval_min_max(spark):
    from tabsdata_spark import scale

    # an interval column must not build MIN/MAX CAST AS DOUBLE (which
    # raises AnalysisException and kills the whole single-pass profile)
    df = spark.sql(
        "SELECT * FROM VALUES (1, INTERVAL '2' DAY), (2, INTERVAL '3' DAY)"
        " AS t(id, gap)")
    got = {r.column: r for r in scale.profile_table(df).collect()}
    assert got["id"].min_num == 1.0 and got["id"].max_num == 2.0
    assert got["gap"].min_num is None and got["gap"].max_num is None
    assert got["gap"].n_distinct == 2


def test_record_linkage_thresholds_unrounded_score(spark):
    from tabsdata_spark import scale

    # score = 0.1+0.2 = 0.30000000000000004 (IEEE); threshold 0.3000000001
    # must EXCLUDE after comparing the unrounded sum... actually the raw
    # sum 0.30000000000000004 >= 0.3 passes, while round-to-6 (0.3) would
    # also pass; use the opposite side: raw 0.29999999999999998-style sums.
    # Simplest falsifier: weights summing to 2.9999999999999996 (0.1*30 via
    # three adds) vs threshold 3.0 — rounded(6)=3.0 would ADMIT, raw must
    # EXCLUDE.
    a = spark.createDataFrame([(1, "blk", "x", "y", "z")],
                              "id long, blk string, f1 string, f2 string,"
                              " f3 string")
    b = spark.createDataFrame([(11, "blk", "x", "y", "z")],
                              "idb long, blk string, f1 string, f2 string,"
                              " f3 string")
    fields = [("f1", 1.1, -1.0), ("f2", 1.1, -1.0), ("f3", 0.7999999999, -1.0)]
    raw = 1.1 + 1.1 + 0.7999999999
    assert raw < 3.0 and round(raw, 6) == 3.0
    out = scale.record_linkage(a, b, "id", "idb", ["blk"], fields,
                               threshold=3.0).collect()
    assert out == []          # unrounded comparison excludes the pair
    out2 = scale.record_linkage(a, b, "id", "idb", ["blk"], fields,
                                threshold=2.9).collect()
    assert len(out2) == 1 and out2[0].score == 3.0   # display-only round


def test_auto_salted_agg_paths_agree(spark):
    from tabsdata_spark import scale

    rows = [(("hot" if i % 10 else "cold"), float(i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "k string, v double")
    aggs = {"n": ("count", None), "total": ("sum_decimal", "v")}
    # forced-salted (hot key ~90% share) and forced-plain must agree
    salted = {r.k: (r.n, r.total) for r in
              scale.auto_salted_agg(df, "k", aggs,
                                    skew_threshold=0.0).collect()}
    plain = {r.k: (r.n, r.total) for r in
             scale.auto_salted_agg(df, "k", aggs,
                                   skew_threshold=1.1).collect()}
    assert salted == plain
    assert salted["hot"][0] == 450 and salted["cold"][0] == 50


def test_fd_violation_report_exact_and_holding(spark):
    from tabsdata_spark import scale

    # A=1 -> B mostly 'x' (1 violating 'y' row); A=2 holds exactly
    rows = [(1, "x"), (1, "x"), (1, "y"), (2, "z"), (2, "z")]
    df = spark.createDataFrame(rows, "a int, b string")
    out = {r.determinant: r for r in scale.fd_violation_report(
        df, [("a", "b")]).collect()}
    r = out["a"]
    assert r.n == 5 and r.n_det_groups == 2
    assert r.n_violations == 1
    assert r.violation_rate == 0.2

    held = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    r2 = scale.fd_violation_report(held, [("a", "b")]).collect()[0]
    assert r2.n_violations == 0 and r2.violation_rate == 0.0


def test_referential_orphans_counts_nulls_and_misses(spark):
    from tabsdata_spark import scale

    child = spark.createDataFrame(
        [(1,), (2,), (99,), (None,)], "k long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    r = scale.referential_orphans(child, "k", parent, "k",
                                  "c->p").collect()[0]
    assert (r.relation, r.n_child, r.n_orphans) == ("c->p", 4, 2)
    assert r.orphan_rate == 0.5


def test_primary_key_report_counts_dups_and_nulls(spark):
    from tabsdata_spark import scale

    df = spark.createDataFrame([(1,), (1,), (2,), (None,), (None,)],
                               "k long")
    r = scale.primary_key_report(df, "k", "t(k)").collect()[0]
    assert (r.relation, r.n_rows, r.n_keys, r.dup_rows) \
        == ("t(k)", 5, 3, 2)
    assert r.dup_rate == 0.4


def test_shard_rebalance_rendezvous_beats_modulo(spark):
    from tabsdata_spark import scale

    df = spark.range(2000).select(F.col("id").alias("k"))
    r = scale.shard_rebalance_report(df, "k", n_from=16,
                                     n_to=17).collect()[0]
    assert r.n_keys == 2000
    # modulo reshuffles nearly everything; rendezvous ~1/17
    assert r.mod_moved_rate > 0.8
    assert r.rdv_moved_rate < 0.15
    assert r.rdv_moved_rate > 0.0


def test_delta_merge_agg_lossless(spark):
    from tabsdata_spark import scale

    rows = [("a", i, float(i)) for i in range(10)] \
        + [("b", i, float(2 * i)) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, i long, v double")
    base = df.filter(F.col("i") < 7)
    delta = df.filter(F.col("i") >= 7)
    merged = {r.g: (r.n, float(r.s)) for r in scale.delta_merge_agg(
        base, delta, ["g"],
        {"n": F.lit(1).cast("bigint"),
         "s": F.col("v").cast("decimal(18,2)")}).collect()}
    direct = {r.g: (r.n, float(r.s)) for r in df.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(18,2)")).alias("s")).collect()}
    assert merged == direct


def test_pruning_report_sorted_layout_skips_more(spark):
    from tabsdata_spark import scale

    # arrival key uncorrelated with value -> arrival buckets all span
    # the value range; value buckets outside [100, 120] skip
    df = spark.createDataFrame(
        [(i, (i * 37) % 256) for i in range(512)], "k long, v long")
    got = {r.layout: r for r in
           scale.pruning_report(df, "k", "v", lo=100, hi=120,
                                buckets=16).collect()}
    assert got["arrival"].n_skipped == 0
    assert got["sorted"].n_skipped >= 12
    assert got["sorted"].skip_rate > got["arrival"].skip_rate


def test_shard_rebalance_scale_down(spark):
    """n_from > n_to (scale-DOWN): the 'from' rendezvous assignment must
    consider ALL n_from nodes, including ids >= n_to (the r5 advice
    finding).  Cross-check against a driver-side md5 recomputation."""
    import hashlib

    from tabsdata_spark import scale

    n_from, n_to = 8, 5
    keys = [str(i) for i in range(300)]

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:6], 16)

    def rdv(k, n):
        return max(range(n), key=lambda nd: (h(f"{k}#{nd}"), -nd))

    exp_rdv = sum(rdv(k, n_from) != rdv(k, n_to) for k in keys)
    exp_mod = sum(h(k) % n_from != h(k) % n_to for k in keys)

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    r = scale.shard_rebalance_report(df, "k", n_from=n_from,
                                     n_to=n_to).collect()[0]
    assert r.n_keys == 300
    assert r.rdv_moved == exp_rdv
    assert r.mod_moved == exp_mod
    # keys homed on a removed node MUST move; without exploding nodes
    # n_to..n_from-1 the old code undercounted these
    assert r.rdv_moved >= sum(rdv(k, n_from) >= n_to for k in keys)


def test_shard_rebalance_identity_moves_nothing(spark):
    from tabsdata_spark import scale

    df = spark.range(500).select(F.col("id").alias("k"))
    r = scale.shard_rebalance_report(df, "k", n_from=16,
                                     n_to=16).collect()[0]
    assert (r.mod_moved, r.rdv_moved) == (0, 0)


def test_shard_assign_and_auto_salted_arg_contracts(spark):
    """Degenerate arguments get clear errors: n_shards<=0 used to emit
    NULL/garbage shards via pmod-by-zero, and a malformed aggs spec leaked
    'too many values to unpack'."""
    import pytest

    from tabsdata_spark import scale

    one = spark.createDataFrame([(1, 2.0)], "k long, v double")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="n_shards"):
            scale.shard_assign(one, "k", n_shards=bad)
    with pytest.raises(ValueError, match="pair"):
        scale.auto_salted_agg(one, "k", {"v": "sum"})
    # empty input flows through both paths as an empty result
    empty = spark.createDataFrame([], "k long, v double")
    assert scale.auto_salted_agg(
        empty, "k", {"n": ("count", None)}).count() == 0


_DOCS = [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "completely unrelated text about spark physical plans"),
         (2, "the quick brown fox jumps over the lazy dog again")]
_BATCH = [(10, "the quick brown fox jumps over the lazy dog now"),
          (11, "another new document entirely on its own topic")]
_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 1)]


def _persisting_ops():
    from tabsdata_spark import extensions, graph
    from tabsdata_spark.llm import corpus, dedup, dsir

    def docs(spark, rows=_DOCS):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def edges(spark):
        return spark.createDataFrame(_EDGES, "s long, d long")

    def events(spark):
        t0 = datetime(2024, 1, 30, 22)
        return spark.createDataFrame(
            [(t0 + timedelta(hours=7 * i), float(i)) for i in range(12)],
            "ts timestamp, value double")

    return {
        "bigram_lm_score": lambda s: corpus.bigram_lm_score(docs(s)),
        "minhash_lsh_candidates": lambda s: dedup.minhash_lsh_candidates(
            docs(s), max_bucket=10),
        "incremental_near_dup": lambda s: dedup.incremental_near_dup(
            docs(s, _BATCH), docs(s), threshold=0.4, max_bucket=10),
        "importance_weights": lambda s: dsir.importance_weights(
            docs(s, _BATCH), docs(s)),
        "degree_assortativity": lambda s: graph.degree_assortativity(
            edges(s), "s", "d"),
        "hierarchical_rollup": lambda s: extensions.hierarchical_rollup(
            events(s), "ts", "value"),
        "pagerank_exact": lambda s: graph.pagerank_exact(
            edges(s), "s", "d", driver_threshold=0),
        "hits_exact": lambda s: graph.hits_exact(
            edges(s), "s", "d", driver_threshold=0),
        "ppr_exact": lambda s: graph.ppr_exact(
            edges(s), "s", "d", s.createDataFrame([(3,)], "node long"),
            "node", driver_threshold=0),
        "kcore_peel": lambda s: graph.kcore_peel(
            edges(s), "s", "d", k=2, driver_threshold=0),
    }


@pytest.mark.parametrize("op", sorted(_persisting_ops()))
def test_invocation_releases_operator_persists(spark, cache_state, op):
    """Leak canary: every frame an operator persists for reuse is cached
    while its invocation runs and released when the scope exits."""
    with scale.invocation():
        assert _persisting_ops()[op](spark).collect()
        assert cache_state()[1] > 0
    assert cache_state() == (True, 0)


def test_invocation_releases_on_error_and_nests(spark, cache_state):
    outer = scale.reuse(spark.range(10))
    with pytest.raises(RuntimeError):
        with scale.invocation():
            scale.reuse(spark.range(20)).count()
            with scale.invocation():
                scale.reuse(spark.range(30)).count()
            assert cache_state()[1] == 1   # inner scope released its own
            raise RuntimeError("run failed")
    outer.count()
    # only the frame reused outside any scope is still cached
    assert cache_state() == (False, 1)
    outer.unpersist(True)


def test_small_input_gate_boundary_and_empty(spark):
    df = spark.createDataFrame([(i, str(i)) for i in range(5)],
                               "a long, b string")
    n, arrs = scale.small_input(df, 5, "a", "b")
    assert n == 5
    assert sorted(zip(*(c.tolist() for c in arrs))) == \
        [(i, str(i)) for i in range(5)]
    assert scale.small_input(df, 4, "a", "b") == (5, None)
    n, arrs = scale.small_input(df.limit(0), 10, "a")
    assert n == 0 and [len(c) for c in arrs] == [0]


def test_small_input_gate_job_count(spark):
    """One count job on either side; the Arrow collect is one more job,
    only below the threshold."""
    import uuid

    sc = spark.sparkContext
    df = spark.range(0, 100, 1, 1)

    def jobs(threshold):
        group = f"small-input-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "small_input job count")
        try:
            scale.small_input(df, threshold, "id")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(99) == 1
    assert jobs(100) == 2
