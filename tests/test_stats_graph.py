"""Unit tests for stats.py (deterministic aggregates) and graph.py
(PageRank)."""

import math

import pyspark.sql.functions as F
import pytest


def test_exact_variance_matches_closed_form(spark):
    from tabsdata_spark import stats

    vals = [1.5, 2.5, 3.5, 10.0]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    row = stats.exact_variance(df, "v", ["g"]).collect()[0]
    n = len(vals)
    mean = sum(vals) / n
    var = sum((x - mean) ** 2 for x in vals) / (n - 1)
    assert row.n == n
    assert row.mean == round(mean, 6)
    assert abs(row.var_samp - var) < 1e-6
    assert abs(row.stddev_samp - math.sqrt(var)) < 1e-6


def test_exact_variance_stable_under_repartition(spark):
    from tabsdata_spark import stats

    df = spark.range(0, 5000).select(
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") * 0.37 + 0.01).alias("v"))
    a = sorted(tuple(r) for r in stats.exact_variance(df, "v", ["g"]).collect())
    b = sorted(tuple(r) for r in
               stats.exact_variance(df.repartition(17), "v", ["g"]).collect())
    assert a == b  # bit-identical, not approximately equal


def test_exact_corr_perfect_and_inverse(spark):
    from tabsdata_spark import stats

    rows = [("a", float(i), float(2 * i + 1)) for i in range(10)]
    rows += [("b", float(i), float(-3 * i + 40)) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r.g: r.corr for r in stats.exact_corr(df, "x", "y", ["g"]).collect()}
    assert got["a"] == 1.0
    assert got["b"] == -1.0


def test_deterministic_mode_tie_break(spark):
    from tabsdata_spark import stats

    df = spark.createDataFrame(
        [("u1", "b"), ("u1", "b"), ("u1", "a"), ("u1", "a"), ("u1", "c"),
         ("u2", "z")],
        "u string, t string")
    got = {r.u: (r.mode, r.mode_count)
           for r in stats.deterministic_mode(df, "t", ["u"]).collect()}
    assert got["u1"] == ("a", 2)  # tie a/b at 2 -> smallest value wins
    assert got["u2"] == ("z", 1)


def test_histogram_clamps_out_of_range(spark):
    from tabsdata_spark import stats

    df = spark.createDataFrame([(v,) for v in
                                [-5.0, 0.0, 9.9, 10.0, 55.0, 99.9, 150.0]],
                               "v double")
    got = {r.bucket: r.n for r in
           stats.histogram(df, "v", lo=0.0, hi=100.0, buckets=10).collect()}
    assert got[0] == 3      # -5 clamped in, 0.0, 9.9
    assert got[1] == 1      # 10.0
    assert got[5] == 1      # 55
    assert got[9] == 2      # 99.9 + 150 clamped down


def test_pagerank_star_and_cycle(spark):
    from tabsdata_spark import graph

    # 4-cycle: symmetry -> every node has identical rank 0.25
    cyc = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long")
    got = {r.node: r.rank for r in graph.pagerank(cyc, iterations=10).collect()}
    assert all(v == 0.25 for v in got.values())

    # star into a hub: hub accumulates strictly more mass than the leaves
    star = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (0, 1)], "src long, dst long")
    got = {r.node: r.rank for r in graph.pagerank(star, iterations=5).collect()}
    assert got[0] > got[1] > 0
    assert got[2] == got[3]  # symmetric leaves agree exactly
    # checkpointed long run still returns sane values
    long_run = {r.node: r.rank for r in
                graph.pagerank(star, iterations=9, checkpoint_every=4).collect()}
    assert long_run[0] > long_run[1]


def test_heavy_hitters_exact_and_guarantee(spark):
    from tabsdata_spark import stats

    rows = [(v,) for v in
            ["a"] * 50 + ["b"] * 30 + ["c"] * 10 + [f"x{i}" for i in range(40)]]
    df = spark.createDataFrame(rows, "v string").repartition(4)
    out = stats.heavy_hitters(df, "v", k=3, budget=8).collect()
    got = [(r["v"], r["n"], r["guarantee_ok"]) for r in out]
    assert got[0] == ("a", 50, True)
    assert got[1] == ("b", 30, True)
    assert got[2] == ("c", 10, False)  # 10 < 130/8: below the coverage line
    # counts are exact, not sketch estimates
    assert sum(n for _, n, _ in got) == 90


def test_hll_mergeable_union_is_lossless(spark):
    from tabsdata_spark import stats

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", i % 57) for i in range(600)],
        "id long, grp string, val long")
    out = {r["grp"]: r for r in
           stats.hll_mergeable_distinct(df, "grp", "val").collect()}
    assert out["__all__"]["exact_distinct"] == 57
    assert out["__all__"]["within_5pct"]  # includes the union==direct check
    assert all(out[g]["within_5pct"] for g in ("g0", "g1", "g2"))


def test_partition_stats_counts_all_rows(spark):
    from tabsdata_spark.scale import partition_stats

    df = spark.range(1000).repartition(5)
    out = partition_stats(df).collect()
    assert sum(r["n_rows"] for r in out) == 1000
    assert len(out) == 5
    assert all(r["skew_ratio"] >= 1.0 for r in out)


def test_compact_to_target_size(spark, tmp_path):
    from tabsdata_spark.scale import compact_to_target_size

    df = spark.range(100_000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("payload"))
    dest = str(tmp_path / "compacted")
    n = compact_to_target_size(df, dest, target_bytes=1 * 1024 * 1024)
    import glob
    files = glob.glob(f"{dest}/part-*")
    assert len(files) == n >= 1
    back = spark.read.parquet(dest)
    assert back.count() == 100_000


def test_drift_psi_identical_and_shifted(spark):
    from tabsdata_spark import stats

    a = spark.range(1000).select((F.col("id") % 100).cast("double").alias("v"))
    out_same = {r["bucket"]: r["psi"]
                for r in stats.drift_psi(a, a, "v", 0.0, 100.0, 10).collect()}
    assert out_same[-1] == 0.0  # identical distributions -> PSI 0
    b = spark.range(1000).select(
        ((F.col("id") % 100) / 2).cast("double").alias("v"))  # squashed low
    out_shift = {r["bucket"]: r["psi"]
                 for r in stats.drift_psi(a, b, "v", 0.0, 100.0, 10).collect()}
    assert out_shift[-1] > 0.25  # clearly drifted
    assert len(out_shift) == 11  # 10 buckets + total row


def test_mad_outliers_flags_only_the_spike(spark):
    from tabsdata_spark import stats

    rows = [(i, "g", float(10 + (i % 3))) for i in range(30)] + [(99, "g", 500.0)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    out = {r["id"]: r["is_outlier"]
           for r in stats.mad_outliers(df, "v", ["grp"]).collect()}
    assert out[99] is True
    assert sum(out.values()) == 1
    # constant group: MAD 0 -> nothing flagged
    const = spark.createDataFrame([(1, "c", 5.0), (2, "c", 5.0)],
                                  "id long, grp string, v double")
    assert all(not r["is_outlier"] for r in
               stats.mad_outliers(const, "v", ["grp"]).collect())


def test_exact_regression_recovers_a_perfect_line(spark):
    from tabsdata_spark import stats

    # y = 3x + 40 exactly, two groups with different slopes
    rows = [("a", x, 3 * x + 40) for x in range(0, 100, 7)]
    rows += [("b", x, -2 * x + 5) for x in range(0, 50, 3)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r.g: r for r in stats.exact_regression(df, "x", "y", ["g"]).collect()}
    assert out["a"].slope == 3.0 and out["a"].intercept == 40.0
    assert out["b"].slope == -2.0 and out["b"].intercept == 5.0


def test_exact_regression_is_partitioning_invariant(spark):
    from tabsdata_spark import stats

    rows = [("g", x, (x * 17) % 101 - 50) for x in range(200)]
    df1 = spark.createDataFrame(rows, "g string, x long, y long")
    r1 = stats.exact_regression(df1, "x", "y", ["g"]).collect()[0]
    r2 = stats.exact_regression(df1.repartition(7), "x", "y", ["g"]).collect()[0]
    assert (r1.slope, r1.intercept) == (r2.slope, r2.intercept)


def test_welch_ttest_known_samples(spark):
    from tabsdata_spark import stats

    rows = [("g", True, v) for v in (10.0, 12.0, 14.0)]
    rows += [("g", False, v) for v in (20.0, 22.0, 24.0, 26.0)]
    df = spark.createDataFrame(rows, "g string, cohort boolean, v double")
    r = stats.welch_ttest(df, "v", "cohort", ["g"]).collect()[0]
    assert (r.n_a, r.n_b) == (3, 4)
    assert r.mean_a == 10.0 + 2.0 and r.mean_b == 23.0
    va, vb = 4.0, 20.0 / 3.0
    import math
    t_exp = (12.0 - 23.0) / math.sqrt(va / 3 + vb / 4)
    assert abs(r.t_stat - round(t_exp, 6)) < 1e-9
    se2 = va / 3 + vb / 4
    dof_exp = se2 * se2 / ((va / 3) ** 2 / 2 + (vb / 4) ** 2 / 3)
    assert abs(r.dof - round(dof_exp, 6)) < 1e-9


def test_welch_ttest_identical_cohorts_t_zero(spark):
    from tabsdata_spark import stats

    rows = [("g", i % 2 == 0, float(10 + i // 2 % 5)) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, cohort boolean, v double")
    r = stats.welch_ttest(df, "v", "cohort", ["g"]).collect()[0]
    assert r.t_stat == 0.0 and r.mean_a == r.mean_b


def test_mutual_information_dependence_extremes(spark):
    from tabsdata_spark import stats
    import math

    # perfectly dependent: y == x -> MI == H(x) == H(y), nmi == 1
    dep = spark.createDataFrame(
        [(c, c) for c in "aabbbb"], "x string, y string")
    r = stats.mutual_information(dep, "x", "y").collect()[0]
    h = -(2 / 6) * math.log(2 / 6) - (4 / 6) * math.log(4 / 6)
    assert abs(r.mi_nats - round(h, 6)) < 1e-9
    assert r.nmi == 1.0

    # perfectly independent balanced grid -> MI exactly 0
    ind = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "cd" for _ in range(3)],
        "x string, y string")
    r2 = stats.mutual_information(ind, "x", "y").collect()[0]
    assert r2.mi_nats == 0.0 and r2.n_cells == 4


def test_winsorize_clips_to_exact_percentiles(spark):
    from tabsdata_spark import stats

    # 0..100: p01 = 1.0, p99 = 99.0 under linear interpolation
    df = spark.createDataFrame([("g", float(i)) for i in range(101)],
                               "g string, v double")
    out = stats.winsorize(df, "v", ["g"], lo=0.01, hi=0.99).collect()
    lo = [r for r in out if r.v == 0.0][0]
    hi = [r for r in out if r.v == 100.0][0]
    mid = [r for r in out if r.v == 50.0][0]
    assert lo.q_lo == 1.0 and lo.value_w == 1.0
    assert hi.q_hi == 99.0 and hi.value_w == 99.0
    assert mid.value_w == 50.0


def test_benford_deviation_uniform_vs_benford(spark):
    from tabsdata_spark import stats
    import math

    # group 'b': first digits drawn per Benford counts out of 100;
    # group 'u': uniform over digits -> much larger chi2
    benford_counts = [30, 18, 12, 10, 8, 7, 6, 5, 4]   # ~100*log10(1+1/d)
    rows = []
    for d, c in enumerate(benford_counts, start=1):
        rows += [("b", float(d))] * c
    for d in range(1, 10):
        rows += [("u", float(d))] * 11
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r.g: r for r in stats.benford_deviation(df, "v", ["g"]).collect()}
    assert out["b"].n == 100 and out["u"].n == 99
    assert out["b"].chi2 < out["u"].chi2
    # replicate the chi2 for the uniform group in python
    exp = [99 * math.log10(1 + 1 / d) for d in range(1, 10)]
    chi2 = sum((11 - e) ** 2 / e for e in exp)
    assert abs(out["u"].chi2 - chi2) < 1e-6


def test_benford_first_digit_from_micros_integer(spark):
    from tabsdata_spark import stats

    # 0.0005 -> m=500 -> digit 5; 0.25 -> 250000 -> 2; 9000.0 -> 9
    df = spark.createDataFrame(
        [("g", 0.0005), ("g", 0.25), ("g", 9000.0), ("g", 0.0),
         ("g", -3.0)],                      # zero/negative excluded
        "g string, v double")
    r = stats.benford_deviation(df, "v", ["g"]).collect()[0]
    assert r.n == 3


def test_welch_ttest_large_values_no_overflow(spark):
    # ADVICE r3: (m * m) evaluated in 64-bit long wraps once |value| >
    # ~3037; the decimal(38,0) cast must happen BEFORE the multiply
    from tabsdata_spark import stats
    import math

    a_vals = [1.0e6, 1.2e6, 0.9e6, 1.1e6]
    b_vals = [2.0e6, 2.3e6, 1.8e6]
    rows = [("g", True, v) for v in a_vals]
    rows += [("g", False, v) for v in b_vals]
    df = spark.createDataFrame(rows, "g string, cohort boolean, v double")
    r = stats.welch_ttest(df, "v", "cohort", ["g"]).collect()[0]

    def moments(vs):
        ms = [int(math.floor(v * 1e6 + 0.5)) for v in vs]
        n = float(len(ms))
        s1, s2 = float(sum(ms)), float(sum(m * m for m in ms))
        mean = (s1 / 1e6) / n
        var = ((s2 - s1 * s1 / n) / (n - 1)) / 1e12
        return n, mean, var

    na, ma, va = moments(a_vals)
    nb, mb, vb = moments(b_vals)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dof = se2 * se2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    assert r.t_stat == round(t, 6)
    assert r.dof == round(dof, 6)


def test_welch_ttest_degenerate_cohorts_null_not_crash(spark):
    # empty or single-observation cohorts must yield NULL stats, not a
    # DIVIDE_BY_ZERO under the driver's vanilla ANSI session
    from tabsdata_spark import stats

    rows = [("empty_b", True, 1.0), ("empty_b", True, 2.0),
            ("single_a", True, 5.0),
            ("single_a", False, 1.0), ("single_a", False, 2.0),
            ("const", True, 3.0), ("const", True, 3.0),
            ("const", False, 3.0), ("const", False, 3.0)]
    df = spark.createDataFrame(rows, "g string, cohort boolean, v double")
    got = {r.g: r for r in
           stats.welch_ttest(df, "v", "cohort", ["g"]).collect()}
    assert got["empty_b"].t_stat is None and got["empty_b"].mean_b is None
    assert got["single_a"].t_stat is None    # n_a == 1 -> no variance
    assert got["const"].t_stat is None       # se2 == 0 -> undefined t


def test_mann_whitney_hand_computed(spark):
    from tabsdata_spark import stats

    # A = {1,2,3}, B = {4,5,6,7}: no overlap -> U_A = 0, ranks exact
    rows = [("g", True, v) for v in (1.0, 2.0, 3.0)]
    rows += [("g", False, v) for v in (4.0, 5.0, 6.0, 7.0)]
    df = spark.createDataFrame(rows, "g string, cohort boolean, v double")
    r = stats.mann_whitney_u(df, "v", "cohort", ["g"]).collect()[0]
    assert (r.n_a, r.n_b) == (3, 4)
    assert r.u_stat == 0.0
    import math
    sig2 = (3 * 4 / 12.0) * ((7 + 1.0) - 0.0)   # no ties -> T = 0
    z = (0.0 - 0.5 * 3 * 4) / math.sqrt(sig2)
    assert r.z_score == round(z, 6)


def test_mann_whitney_ties_average_ranks(spark):
    from tabsdata_spark import stats

    # all values tied -> U_A = n_a*n_b/2, sig2 collapses to 0 -> z NULL
    rows = [("g", i % 2 == 0, 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, cohort boolean, v double")
    r = stats.mann_whitney_u(df, "v", "cohort", ["g"]).collect()[0]
    assert r.u_stat == r.n_a * r.n_b / 2.0
    assert r.z_score is None


def test_chi_squared_independent_and_dependent(spark):
    from tabsdata_spark import stats

    # perfectly independent 2x2 grid with equal margins -> chi2 == 0
    rows = [(a, b) for a in "xy" for b in "uv" for _ in range(5)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = stats.chi_squared_independence(df, "a", "b").collect()[0]
    assert (r.n, r.dof, r.chi2) == (20, 1, 0.0) and r.cramers_v == 0.0

    # perfectly dependent (b == a) -> chi2 == n, V == 1
    dep = spark.createDataFrame(
        [(c, c) for c in "xxyyyy"], "a string, b string")
    r2 = stats.chi_squared_independence(dep, "a", "b").collect()[0]
    assert r2.chi2 == float(r2.n) and r2.cramers_v == 1.0


def test_ols_two_features_exact_plane(spark):
    from tabsdata_spark import stats

    # y = 2 + 3*x1 - 0.5*x2 exactly -> betas recovered, R^2 == 1
    rows = [("g", float(2 + 3 * x1 - 0.5 * x2), x1, x2)
            for x1 in range(5) for x2 in range(4)]
    df = spark.createDataFrame(rows, "g string, y double, x1 long, x2 long")
    r = stats.ols_two_features(df, "y", "x1", "x2", ["g"]).collect()[0]
    assert (r.beta0, r.beta1, r.beta2) == (2.0, 3.0, -0.5)
    assert r.r_squared == 1.0


def test_ols_two_features_singular_design_null(spark):
    from tabsdata_spark import stats

    # x2 constant -> singular normal equations -> NULL betas, no crash
    rows = [("g", float(i), i, 7) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, y double, x1 long, x2 long")
    r = stats.ols_two_features(df, "y", "x1", "x2", ["g"]).collect()[0]
    assert r.beta1 is None and r.beta2 is None and r.beta0 is None


def test_logistic_two_features_separates_classes(spark):
    from tabsdata_spark import stats

    # y correlates with x1: high x1 -> label 1.  After 2 IRLS rounds the
    # fitted probabilities must rank the classes correctly.
    rows = [("a", 1.0 if i >= 50 else 0.0, float(i) / 10.0,
             float(i % 4)) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, y double, x1 double, x2 double")
    out = stats.logistic_two_features(df, "y", "x1", "x2", iters=2)
    got = {r.x1: r.score for r in out.collect()}
    assert got[9.9] > 0.8 and got[0.0] < 0.2
    # determinism across runs (driver-side solve + exact moment sums)
    out2 = {r.x1: r.score
            for r in stats.logistic_two_features(
                df, "y", "x1", "x2", iters=2).collect()}
    assert got == out2


def test_logistic_two_features_ignores_null_labels(spark):
    from tabsdata_spark import stats

    rows = [("a", 1.0 if i >= 50 else 0.0, float(i) / 10.0,
             float(i % 4)) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, y double, x1 double, x2 double")
    base = {r.x1: r.score
            for r in stats.logistic_two_features(df, "y", "x1", "x2",
                                                 iters=2).collect()}
    # adding NULL-label rows (which previously leaked into X'WX but not
    # X'Wz, biasing beta) must leave the fitted model unchanged
    noise = spark.createDataFrame(
        [("z", None, 5.0, 1.0), ("z", None, 0.1, 3.0)],
        "g string, y double, x1 double, x2 double")
    out = {r.x1: r.score
           for r in stats.logistic_two_features(df.unionByName(noise),
                                                "y", "x1", "x2",
                                                iters=2).collect()
           if r.g != "z"}
    assert base == out
    # and null rows still come back scored (features present)
    scored = stats.logistic_two_features(
        df.unionByName(noise), "y", "x1", "x2", iters=2)
    assert scored.filter("g = 'z' AND score IS NOT NULL").count() == 2


def test_pagerank_star_center_dominates(spark):
    from tabsdata_spark import graph

    # star graph: hub 'h' connected to 4 leaves -> hub has highest rank
    edges = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("h", "c"), ("h", "d")], ["s", "d"])
    got = {r.node: r.pagerank
           for r in graph.pagerank_exact(edges, "s", "d", iters=3).collect()}
    assert len(got) == 5
    assert got["h"] > max(v for k, v in got.items() if k != "h")
    assert got["a"] == got["b"] == got["c"] == got["d"]
    # determinism across runs
    got2 = {r.node: r.pagerank
            for r in graph.pagerank_exact(edges, "s", "d", iters=3).collect()}
    assert got == got2


def _nontrivial_graph(spark):
    # multi-component graph with hubs, chains and asymmetric degrees so
    # every iteration produces distinct quantized contributions; it embeds
    # a K4 so a 3-core survives.  Integer weights keep pagerank's
    # out-weight sums exact.
    edges = [(i, (i * 7) % 23) for i in range(60)] + [(2, 9), (9, 15)]
    edges += [(100, 101), (100, 102), (100, 103),
              (101, 102), (101, 103), (102, 103)]
    edges = [(a, b, (a + b) % 5 + 1) for a, b in edges if a != b]
    return spark.createDataFrame(edges, "s long, d long, w long")


def _harness_input(spark, name):
    """(edges, seeds) for the driver-vs-distributed agreement harness."""
    seeds = spark.createDataFrame([(2,), (100,), (999,)], "node long")
    if name == "nontrivial":
        return _nontrivial_graph(spark), seeds
    if name == "empty":
        return spark.createDataFrame([], "s long, d long, w long"), seeds
    if name == "string_ids":
        return spark.createDataFrame(
            [("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("c", "a", 5),
             ("b", "a", 1), ("c", "b", 4), ("d", "a", 2), ("a", "d", 1)],
            "s string, d string, w long"), \
            spark.createDataFrame([("a",), ("zz",)], "node string")
    # a null endpoint connects nothing, on either path; the K4 on 1-4
    # keeps a 3-core alive around the null edges
    return spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, None, 1), (4, 1, 1), (1, 3, 2),
         (2, 4, 1), (3, 4, 3), (None, 2, 1)],
        "s long, d long, w long"), seeds


def _gated_ops():
    """op -> (call(edges, seeds, **threshold), threshold kwarg, the value
    that turns the driver path on — None: the operator's default)."""
    from tabsdata_spark import graph
    from tabsdata_spark.llm import dedup

    return {
        # pagerank's driver path is opt-in (its default threshold is 0)
        "pagerank": (lambda e, sd, **t: graph.pagerank(
            e, iterations=3, src="s", dst="d", weight="w", **t),
            "driver_threshold", graph.DRIVER_EDGE_THRESHOLD),
        "pagerank_exact": (lambda e, sd, **t: graph.pagerank_exact(
            e, "s", "d", iters=3, **t), "driver_threshold", None),
        "ppr_exact": (lambda e, sd, **t: graph.ppr_exact(
            e, "s", "d", sd, "node", iters=2, **t),
            "driver_threshold", None),
        "hits_exact": (lambda e, sd, **t: graph.hits_exact(
            e, "s", "d", iters=2, **t), "driver_threshold", None),
        "hits_exact_partitioned": (lambda e, sd, **t: graph.hits_exact(
            e, "s", "d", iters=2, score_partitions=8, **t),
            "driver_threshold", None),
        "kcore_peel": (lambda e, sd, **t: graph.kcore_peel(
            e, "s", "d", k=3, rounds=3, **t), "driver_threshold", None),
        "connected_components": (
            lambda e, sd, **t: dedup.connected_components(e, "s", "d", **t),
            "small_graph_threshold", None),
        "connected_components_star": (
            lambda e, sd, **t: dedup.connected_components_star(
                e, "s", "d", **t),
            "small_graph_threshold", None),
    }


@pytest.mark.parametrize("graph_in",
                         ["nontrivial", "empty", "string_ids",
                          "null_endpoint"])
@pytest.mark.parametrize("op", sorted(_gated_ops()))
def test_gated_operator_driver_and_distributed_agree(spark, op, graph_in):
    """Every operator behind the small-input gate gives identical rows on
    the driver path (its default threshold) and the distributed path
    (threshold 0): the exact operators bit-for-bit, `pagerank` on its
    round-6 grid."""
    call, kwarg, on = _gated_ops()[op]
    edges, seeds = _harness_input(spark, graph_in)
    dist = sorted(map(tuple, call(edges, seeds, **{kwarg: 0}).collect()))
    drv = sorted(map(tuple, call(
        edges, seeds, **({} if on is None else {kwarg: on})).collect()))
    assert drv == dist
    assert all(r[0] is not None for r in dist)
    # only the empty graph, and the 4-node string graph's 3-core, are empty
    assert bool(dist) == (graph_in != "empty" and
                          (op, graph_in) != ("kcore_peel", "string_ids"))


def test_kaplan_meier_product_limit(spark):
    from tabsdata_spark import stats

    # classic textbook set: events at t=1 (1 of 5), t=3 (1 of 3);
    # censored at t=2 (1) and t=4 (2, never in an event row)
    rows = [("g", 1, True), ("g", 2, False), ("g", 3, True),
            ("g", 4, False), ("g", 4, False)]
    df = spark.createDataFrame(rows, "g string, t int, ev boolean")
    got = {r.t: r for r in
           stats.kaplan_meier(df, ["g"], "t", "ev").collect()}
    assert set(got) == {1, 3}          # only event times emitted
    assert got[1].n_risk == 5 and got[1].n_events == 1
    assert abs(got[1].survival - 0.8) < 1e-6
    assert got[3].n_risk == 3 and got[3].n_events == 1
    assert abs(got[3].survival - 0.8 * (2 / 3)) < 1e-6


def test_kaplan_meier_extinct_risk_set_pins_zero(spark):
    from tabsdata_spark import stats

    rows = [("g", 1, True), ("g", 1, True)]   # both die at t=1: d == n
    df = spark.createDataFrame(rows, "g string, t int, ev boolean")
    out = stats.kaplan_meier(df, ["g"], "t", "ev").collect()
    assert len(out) == 1 and out[0].survival == 0.0


def test_calibration_bins_exact_cells(spark):
    from tabsdata_spark import stats

    rows = [(0.05, 0), (0.05, 0), (0.05, 1),       # bin 0: 1/3 positive
            (0.95, 1), (0.95, 1),                  # bin 9: all positive
            (1.0, 1)]                              # score 1.0 clamps to 9
    df = spark.createDataFrame(rows, "score double, y int")
    got = {r.bin: r for r in
           stats.calibration_bins(df, "score", "y", bins=10).collect()}
    assert set(got) == {0, 9}
    assert got[0].n == 3 and got[0].frac_pos == round(1 / 3, 6)
    assert got[0].mean_score == 0.05
    assert got[9].n == 3 and got[9].frac_pos == 1.0


def test_cuped_linear_covariate_kills_variance(spark):
    from tabsdata_spark import stats

    # y = 2x exactly: after adjustment var_y_adj ~ 0, theta ~ 2
    rows = [(i, float(i % 50), 2.0 * (i % 50), i % 2 == 0)
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "uid long, x double, y double, variant boolean")
    out = {r.variant: r for r in stats.cuped(df, "x", "y", "variant").collect()}
    assert abs(out[True].theta - 2.0) < 1e-6
    assert out[True].var_y_adj < 1e-6
    assert out[True].var_reduction_pct > 99.9


def test_cuped_stable_under_repartition(spark):
    from tabsdata_spark import stats

    df = spark.range(0, 3000).select(
        F.col("id").alias("uid"),
        (F.col("id") % 97).cast("double").alias("x"),
        ((F.col("id") % 97) * 1.5 + (F.col("id") % 13)).cast("double")
        .alias("y"),
        (F.col("id") % 2 == 0).alias("variant"))
    a = sorted(tuple(r) for r in stats.cuped(df, "x", "y", "variant").collect())
    b = sorted(tuple(r) for r in
               stats.cuped(df.repartition(23), "x", "y", "variant").collect())
    assert a == b


def test_poisson_bootstrap_mean_recovers_mean_and_is_stable(spark):
    from tabsdata_spark import stats

    df = spark.range(0, 2000).select(
        F.col("id"), F.lit("g").alias("g"),
        (F.col("id") % 100).cast("double").alias("v"))
    out = stats.poisson_bootstrap_mean(df, "id", "v", ["g"], b=32).collect()
    assert len(out) == 1
    r = out[0]
    true_mean = sum(i % 100 for i in range(2000)) / 2000
    # bootstrap mean should sit within a few SE of the truth
    assert abs(r.boot_mean - true_mean) < 5 * max(r.boot_se, 0.1)
    assert r.boot_se > 0
    again = stats.poisson_bootstrap_mean(
        df.repartition(17), "id", "v", ["g"], b=32).collect()[0]
    assert (r.boot_mean, r.boot_se) == (again.boot_mean, again.boot_se)


def test_dp_noisy_counts_bounded_noise_and_suppression(spark):
    from tabsdata_spark import stats

    df = spark.range(0, 1000).select(
        (F.col("id") % 3).cast("string").alias("g"))
    small = spark.range(0, 5).select(F.lit("rare").alias("g"))
    out = stats.dp_noisy_counts(df.union(small), ["g"], k_min=10).collect()
    gs = {r.g for r in out}
    assert "rare" not in gs                      # suppressed below k_min
    for r in out:
        assert abs(r.noisy_n - r.n) <= 4         # geometric noise is capped
    again = stats.dp_noisy_counts(df.union(small), ["g"], k_min=10).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))  # replayable


def test_count_min_sketch_never_underestimates(spark):
    from tabsdata_spark import stats

    items = spark.range(0, 5000).select(
        F.concat(F.lit("t"), (F.col("id") % 200).cast("string"))
        .alias("term"))
    exact = items.groupBy("term").count()
    est = stats.count_min_sketch(items, "term", probe=exact.select("term"),
                                 depth=4, width=256)
    joined = exact.join(est, "term").collect()
    assert len(joined) == 200
    for r in joined:
        assert r.cms_n >= r["count"]             # CMS one-sided guarantee


def test_nelson_aalen_hand_computed(spark):
    from tabsdata_spark import stats

    # durations: 1,1,2,3 (events) + 3 (censored): H(1)=2/5, H(2)=2/5+1/3,
    # H(3)=...+1/2 — micros-floored increments, exact cumulative integers
    rows = [("g", 1, True), ("g", 1, True), ("g", 2, True),
            ("g", 3, True), ("g", 3, False)]
    df = spark.createDataFrame(rows, "g string, t int, ev boolean")
    got = {r.t: r for r in
           stats.nelson_aalen(df, ["g"], "t", "ev").collect()}
    assert got[1].n_risk == 5 and got[1].n_events == 2
    h1 = math.floor(2 * 1e6 / 5 + 0.5)
    h2 = h1 + math.floor(1 * 1e6 / 3 + 0.5)
    h3 = h2 + math.floor(1 * 1e6 / 2 + 0.5)
    assert got[1].cum_hazard == round(h1 / 1e6, 6)
    assert got[2].cum_hazard == round(h2 / 1e6, 6)
    assert got[3].cum_hazard == round(h3 / 1e6, 6)
    assert got[3].na_survival == round(math.exp(-h3 / 1e6), 6)


def test_theil_sen_ignores_outlier(spark):
    from tabsdata_spark import stats

    # perfect slope 2 line with one wild outlier: OLS is dragged,
    # Theil-Sen median slope stays exactly 2
    pts = [(i, 2 * i) for i in range(10)] + [(10, 1000)]
    df = spark.createDataFrame([("g", x, y) for x, y in pts],
                               "g string, x long, y long")
    row = stats.theil_sen(df, "x", "y", ["g"]).collect()[0]
    assert row.n_pairs == 11 * 10 // 2
    assert row.slope == 2.0


def test_theil_sen_caps_points(spark):
    from tabsdata_spark import stats

    df = spark.createDataFrame([("g", i, i) for i in range(100)],
                               "g string, x long, y long")
    row = stats.theil_sen(df, "x", "y", ["g"], max_points=10).collect()[0]
    assert row.n_pairs == 10 * 9 // 2
    assert row.slope == 1.0


def test_theil_sen_pairless_group_surfaces(spark):
    from tabsdata_spark import stats

    # a single-point group and an all-same-x group have no valid pairs:
    # they must surface (n_pairs=0, slope NULL), not vanish
    rows = [("line", 1, 10), ("line", 2, 20),
            ("one", 5, 7),
            ("stack", 3, 1), ("stack", 3, 9)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r.g: r for r in
           stats.theil_sen(df, "x", "y", ["g"]).collect()}
    assert set(got) == {"line", "one", "stack"}
    assert (got["line"].n_pairs, got["line"].slope) == (1, 10.0)
    for g in ("one", "stack"):
        assert (got[g].n_pairs, got[g].slope) == (0, None)


def test_skew_kurtosis_symmetric_and_known(spark):
    from tabsdata_spark import stats

    # symmetric data: skew exactly 0; uniform-ish kurtosis negative
    df = spark.createDataFrame([("g", v) for v in [-2, -1, 0, 1, 2]],
                               "g string, mm long")
    row = stats.exact_skew_kurtosis(df, "mm", ["g"]).collect()[0]
    assert row.skewness == 0.0
    # population excess kurtosis of {-2..2} = m4/m2^2 - 3 = 6.8/4 - 3
    assert abs(row.excess_kurtosis - (6.8 / 4 - 3)) < 1e-9


def test_skew_kurtosis_degenerate_null(spark):
    from tabsdata_spark import stats

    df = spark.createDataFrame([("g", 5), ("g", 5)], "g string, mm long")
    row = stats.exact_skew_kurtosis(df, "mm", ["g"]).collect()[0]
    assert row.skewness is None and row.excess_kurtosis is None


def test_did_means_textbook_cells(spark):
    from tabsdata_spark import stats

    rows = [(True, False, 10.0), (True, True, 20.0),
            (False, False, 5.0), (False, True, 7.0)]
    df = spark.createDataFrame(rows, "t boolean, p boolean, v double")
    r = stats.did_means(df, "t", "p", "v").collect()[0]
    assert (r.mean_treated_pre, r.mean_treated_post) == (10.0, 20.0)
    assert (r.mean_control_pre, r.mean_control_post) == (5.0, 7.0)
    assert r.did == round((20.0 - 10.0) - (7.0 - 5.0), 6)


def test_ipw_recovers_stratified_truth(spark):
    from tabsdata_spark import stats

    # stratum A: 75% treated, treated mean 10, control mean 1
    # stratum B: 25% treated, treated mean 20, control mean 2
    rows = ([("A", True, 10.0)] * 3 + [("A", False, 1.0)]
            + [("B", True, 20.0)] + [("B", False, 2.0)] * 3)
    df = spark.createDataFrame(rows, "s string, tr boolean, v double")
    r = stats.ipw_means(df, ["s"], "tr", "v").collect()[0]
    # IPW treated mean = (10*4 + 20*4) / 8 = 15; control = (1*4 + 2*4)/8
    assert r.ipw_treated_mean == 15.0
    assert r.ipw_control_mean == 1.5
    assert r.n_strata == 2 and r.n_excluded == 0


def test_ipw_excludes_single_arm_strata(spark):
    from tabsdata_spark import stats

    rows = [("A", True, 10.0), ("A", False, 1.0),
            ("C", True, 99.0), ("C", True, 98.0)]  # C has no control
    df = spark.createDataFrame(rows, "s string, tr boolean, v double")
    r = stats.ipw_means(df, ["s"], "tr", "v").collect()[0]
    assert r.n_excluded == 1 and r.n == 2
    assert r.ipw_treated_mean == 10.0


def test_hits_star_graph_both_modes(spark):
    from tabsdata_spark import graph

    # star: hub h points at a1..a3; extra hub h2 points at a1 only.
    # a1 must out-rank a2/a3; h must out-rank h2.
    edges = spark.createDataFrame(
        [(100, 1), (100, 2), (100, 3), (200, 1)], "s long, d long")
    for sp in (None, 4):
        out = {(r.role, r.node): r.score for r in
               graph.hits_exact(edges, "s", "d", iters=2,
                                score_partitions=sp).collect()}
        assert out[("authority", 1)] > out[("authority", 2)]
        assert out[("authority", 2)] == out[("authority", 3)]
        assert out[("hub", 100)] > out[("hub", 200)]
        # L1 normalization: each role sums to ~1
        for role in ("hub", "authority"):
            s = sum(v for (r, _), v in out.items() if r == role)
            assert abs(s - 1.0) < 1e-6


def test_hits_modes_bit_identical(spark):
    from tabsdata_spark import graph

    edges = spark.createDataFrame(
        [(i % 7 + 100, i % 5) for i in range(60)], "s long, d long")
    a = sorted(map(tuple, graph.hits_exact(
        edges, "s", "d", iters=2, score_partitions=None).collect()))
    b = sorted(map(tuple, graph.hits_exact(
        edges, "s", "d", iters=2, score_partitions=8).collect()))
    assert a == b


def test_cross_correlation_detects_shift(spark):
    from tabsdata_spark import stats

    # y_t = x_{t-1}: perfect correlation at lag +1 (x leads y by 1)
    xs = spark.createDataFrame([(t, (t * 7) % 13 + 1) for t in range(30)],
                               "t long, x long")
    ys = spark.createDataFrame([(t + 1, (t * 7) % 13 + 1)
                                for t in range(30)], "t long, y long")
    out = {r.lag: r for r in
           stats.cross_correlation(xs, ys, "t", "x", "y",
                                   max_lag=3).collect()}
    assert out[1].r == 1.0
    assert out[0].r is None or out[0].r < 1.0
    assert set(out) == set(range(-3, 4))


def test_cross_correlation_degenerate_null(spark):
    from tabsdata_spark import stats

    xs = spark.createDataFrame([(t, 5) for t in range(10)], "t long, x long")
    ys = spark.createDataFrame([(t, t) for t in range(10)], "t long, y long")
    out = stats.cross_correlation(xs, ys, "t", "x", "y", max_lag=1).collect()
    assert all(r.r is None for r in out)   # x variance is 0 at every lag


def test_l_diversity_exact_counts(spark):
    from tabsdata_spark import stats

    rows = [("a", 1, "s1"), ("a", 1, "s1"), ("a", 1, "s2"),
            ("b", 2, "s1")]
    df = spark.createDataFrame(rows, "q1 string, q2 int, s string")
    out = {(r.q1, r.q2): r for r in
           stats.l_diversity(df, ["q1", "q2"], "s").collect()}
    assert out[("a", 1)].n == 3 and out[("a", 1)].l_distinct == 2
    assert out[("b", 2)].n == 1 and out[("b", 2)].l_distinct == 1


def test_roc_auc_perfect_random_and_ties(spark):
    from tabsdata_spark import stats

    # perfect separation
    rows = [(s, s >= 5) for s in range(10)]
    df = spark.createDataFrame(rows, "s long, lab boolean")
    assert stats.roc_auc(df, "s", "lab").collect()[0].auc == 1.0
    # all scores tied: AUC exactly 0.5
    tied = spark.createDataFrame([(3, i % 2 == 0) for i in range(10)],
                                 "s long, lab boolean")
    assert stats.roc_auc(tied, "s", "lab").collect()[0].auc == 0.5
    # one empty class: NULL
    onec = spark.createDataFrame([(1, True), (2, True)],
                                 "s long, lab boolean")
    assert stats.roc_auc(onec, "s", "lab").collect()[0].auc is None


def test_roc_auc_matches_sklearn_formula(spark):
    from tabsdata_spark import stats

    scores = [1, 3, 3, 2, 5, 4, 3, 1]
    labels = [False, True, False, False, True, True, True, False]
    df = spark.createDataFrame(list(zip(scores, labels)),
                               "s long, lab boolean")
    got = stats.roc_auc(df, "s", "lab").collect()[0].auc
    # brute-force pair count with half-credit ties
    pos = [s for s, l in zip(scores, labels) if l]
    neg = [s for s, l in zip(scores, labels) if not l]
    num = sum(1.0 if p > n else 0.5 if p == n else 0.0
              for p in pos for n in neg)
    assert got == round(num / (len(pos) * len(neg)), 6)


def test_pr_curve_monotone_recall_and_exact_cells(spark):
    from tabsdata_spark import stats

    rows = [(0.95, True), (0.85, True), (0.75, False), (0.65, True),
            (0.05, False), (0.15, False), (0.55, True), (0.45, False)]
    df = spark.createDataFrame(rows, "s double, lab boolean")
    out = sorted(stats.pr_curve(df, "s", "lab", bins=10).collect(),
                 key=lambda r: r.threshold_bin)
    # recall is non-increasing as the threshold bin rises
    recalls = [r.recall for r in out]
    assert recalls == sorted(recalls, reverse=True)
    top = [r for r in out if r.threshold_bin == 9][0]
    assert top.tp == 1 and top.fp == 0 and top.precision == 1.0
    assert top.recall == 0.25


def test_cohens_kappa_perfect_and_independent(spark):
    from tabsdata_spark import stats

    perfect = spark.createDataFrame(
        [(c, c) for c in "aabbcc"], "a string, b string")
    r = stats.cohens_kappa(perfect, "a", "b").collect()[0]
    assert r.kappa == 1.0 and r.po == 1.0
    # one rater constant: pe == po -> kappa 0
    const = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("a", "x"), ("b", "x")],
        "a string, b string")
    r2 = stats.cohens_kappa(const, "a", "b").collect()[0]
    assert r2.kappa == 0.0


def test_fano_factor_poisson_like_and_constant(spark):
    from tabsdata_spark import stats

    # constant bucket counts: variance 0 -> fano 0, burstiness -1
    rows = [("k", b) for b in range(5) for _ in range(4)]
    df = spark.createDataFrame(rows, "k string, b int")
    r = stats.fano_factor(df, ["k"], "b").collect()[0]
    assert r.fano == 0.0 and r.burstiness == -1.0
    assert r.mean_per_bucket == 4.0
    # single bucket: degenerate -> NULL
    one = spark.createDataFrame([("k", 1), ("k", 1)], "k string, b int")
    r2 = stats.fano_factor(one, ["k"], "b").collect()[0]
    assert r2.fano is None


def test_logrank_identical_groups_zero_chi2(spark):
    from tabsdata_spark import stats

    # identical survival in both arms: O-E ~ 0
    rows = [(t, True, g) for t in (1, 2, 3) for g in (True, False)]
    df = spark.createDataFrame(rows, "t int, ev boolean, grp boolean")
    r = stats.logrank_test(df, "t", "ev", "grp").collect()[0]
    assert abs(r.o_minus_e) < 1e-6
    assert r.chi2 is None or r.chi2 < 1e-9


def test_logrank_separated_groups_large_chi2(spark):
    from tabsdata_spark import stats

    # treatment events all early, control all late -> strong signal
    rows = ([(1, True, True)] * 10 + [(10, True, False)] * 10)
    df = spark.createDataFrame(rows, "t int, ev boolean, grp boolean")
    r = stats.logrank_test(df, "t", "ev", "grp").collect()[0]
    assert r.chi2 > 5.0
    assert r.o_minus_e > 0     # treated observed MORE early events


def test_ppr_concentrates_on_seeds(spark):
    from tabsdata_spark import graph

    # star: seed node 1 at the center of 2..5, plus a far pair (8, 9)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (8, 9)], "s long, d long")
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r.ppr for r in graph.ppr_exact(
        edges, "s", "d", seeds, "node", iters=2).collect()}
    assert out[1] > out[2]                 # seed dominates
    assert out[2] == out[3] == out[4] == out[5]
    assert out[8] == 0.0 and out[9] == 0.0  # disconnected from seed


def test_graph_empty_inputs_return_empty_not_crash(spark):
    """Empty graph / seedless teleport: pagerank_exact and ppr_exact must
    return an empty frame with the contract schema (caller's node dtype
    preserved), not ZeroDivisionError on the driver-side 1/N."""
    from tabsdata_spark import graph

    e0 = spark.createDataFrame([], "s long, d long")
    pr = graph.pagerank_exact(e0, "s", "d")
    assert pr.collect() == [] and pr.columns == ["node", "pagerank"]

    e1 = spark.createDataFrame([(1, 2)], "s long, d long")
    seeds_out = spark.createDataFrame([(99,)], "node long")
    for edges in (e0, e1):  # empty edges AND seeds absent from the graph
        out = graph.ppr_exact(edges, "s", "d", seeds_out, "node")
        assert out.collect() == [] and out.columns == ["node", "ppr"]

    # string node ids keep their dtype in the empty schema
    es = spark.createDataFrame([], "s string, d string")
    assert dict(graph.pagerank_exact(es, "s", "d").dtypes)["node"] == "string"


def test_dp_noisy_sum_clip_and_suppression(spark):
    from tabsdata_spark import stats

    rows = ([("a", 5.0)] * 12          # clipped at 2.0 -> sum 24
            + [("b", 1.0)] * 3)        # suppressed (n < 10)
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r.g: r for r in stats.dp_noisy_sum(
        df, ["g"], "v", clip=2.0, k_min=10).collect()}
    assert set(out) == {"a"}
    assert out["a"].clipped_sum == 24.0
    # noise is an integer multiple of the clip, in [-4, 4]
    delta = out["a"].noisy_sum - out["a"].clipped_sum
    assert abs(delta / 2.0 - round(delta / 2.0)) < 1e-9
    assert -4 * 2.0 <= delta <= 4 * 2.0


def test_ks_test_identical_and_disjoint(spark):
    from tabsdata_spark import stats

    same = spark.createDataFrame(
        [(b, c) for b in range(10) for c in (True, False)],
        "b long, c boolean")
    assert stats.ks_test(same, "b", "c").collect()[0].ks_d == 0.0
    disjoint = spark.createDataFrame(
        [(b, True) for b in range(5)] + [(b + 100, False) for b in range(5)],
        "b long, c boolean")
    assert stats.ks_test(disjoint, "b", "c").collect()[0].ks_d == 1.0


def test_two_proportion_ztest_known_value(spark):
    import math

    from tabsdata_spark import stats

    # cohort 1: 30/100 success; cohort 2: 20/100
    rows = ([("g", True, True)] * 30 + [("g", True, False)] * 70
            + [("g", False, True)] * 20 + [("g", False, False)] * 80)
    df = spark.createDataFrame(rows, "g string, c boolean, s boolean")
    r = stats.two_proportion_ztest(df, "s", "c", ["g"]).collect()[0]
    p = 50 / 200
    se = math.sqrt(p * (1 - p) * (1 / 100 + 1 / 100))
    assert r.rate_1 == 0.3 and r.rate_2 == 0.2
    assert abs(r.z - (0.3 - 0.2) / se) < 1e-6


def test_mahalanobis_flags_joint_outlier(spark):
    from tabsdata_spark import stats

    # tight cloud along x1=x2 with one point far OFF the diagonal
    rows = [("g", i, i) for i in range(1, 21)] + [("g", 20, 1)]
    df = spark.createDataFrame(rows, "g string, x1 long, x2 long")
    r = stats.mahalanobis_outliers(df, "x1", "x2", ["g"],
                                   threshold=9.0).collect()[0]
    assert r.n == 21
    assert r.n_outliers >= 1
    assert r.max_d2 > 9.0


def test_gini_mean_difference_hand_computed(spark):
    from tabsdata_spark import stats

    # values 1, 2, 4 (micros-scaled): pairwise gaps 1, 3, 2 -> GMD = 2
    df = spark.createDataFrame(
        [("g", 1_000_000), ("g", 2_000_000), ("g", 4_000_000)],
        "g string, x long")
    r = stats.gini_mean_difference(df, "x", ["g"]).collect()[0]
    assert r.gmd == 2.0
    # relative = gmd / mean(values in micros) -- mean 7/3 * 1e6
    assert abs(r.relative_gmd - 2_000_000 / (7_000_000 / 3)) < 1e-6


def test_rolling_correlation_sign_flip(spark):
    from tabsdata_spark import stats

    # first 10 points co-move, last 10 anti-move
    rows = ([(t, t, t) for t in range(10)]
            + [(10 + t, t, 9 - t) for t in range(10)])
    df = spark.createDataFrame(rows, "t long, x long, y long")
    out = {r.t: r for r in stats.rolling_correlation(
        df, "t", "x", "y", window=5).collect()}
    assert out[9].r == 1.0
    assert out[19].r == -1.0
    assert out[0].r is None and out[1].r is None    # n < 3


def test_spearman_monotone_nonlinear_is_one(spark):
    from tabsdata_spark import stats

    # y = x^3 is a nonlinear but perfectly monotone map -> rho == 1
    df = spark.createDataFrame(
        [(i, i * i * i) for i in range(1, 12)], "x long, y long")
    row = stats.spearman_correlation(df, "x", "y").collect()[0]
    assert row.n == 11
    assert row.rho == 1.0
    rev = stats.spearman_correlation(
        df.select("x", (-F.col("y")).alias("y")), "x", "y").collect()[0]
    assert rev.rho == -1.0


def test_spearman_ties_average_rank(spark):
    from tabsdata_spark import stats

    # hand-computed: x = 1,2,2,4 (avg ranks 1, 2.5, 2.5, 4),
    # y = 10,20,20,40 -> identical rank vectors -> rho == 1
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 20), (4, 40)], "x long, y long")
    assert stats.spearman_correlation(df, "x", "y").collect()[0].rho == 1.0


def test_spearman_stable_under_repartition(spark):
    from tabsdata_spark import stats

    df = spark.range(0, 2000).select(
        (F.col("id") % 97).alias("x"),
        ((F.col("id") * 31) % 89).alias("y"))
    a = stats.spearman_correlation(df, "x", "y").collect()[0]
    b = stats.spearman_correlation(df.repartition(13), "x", "y").collect()[0]
    assert (a.n, a.rho) == (b.n, b.rho)


def test_kendall_known_small_case(spark):
    from tabsdata_spark import stats

    # x = 1..4, y = (1,3,2,4): pairs = 6, discordant = {(2,3)} only
    # -> tau = (5-1)/6
    df = spark.createDataFrame(
        [(1, 1, 1), (2, 2, 3), (3, 3, 2), (4, 4, 4)],
        "k long, x long, y long")
    row = stats.kendall_tau(df, "k", "x", "y").collect()[0]
    assert (row.n, row.n_conc, row.n_disc) == (4, 5, 1)
    assert row.tau_b == round(4 / 6, 6)


def test_kendall_tie_correction(spark):
    from tabsdata_spark import stats

    # x has a tie: n0 = 6, n1 = 1; perfect agreement otherwise
    df = spark.createDataFrame(
        [(1, 1, 1), (2, 2, 2), (3, 2, 3), (4, 5, 4)],
        "k long, x long, y long")
    row = stats.kendall_tau(df, "k", "x", "y").collect()[0]
    # C = 5 (the tied-x pair contributes nothing), D = 0
    assert (row.n_conc, row.n_disc) == (5, 0)
    import math
    assert row.tau_b == round(5 / math.sqrt(5 * 6), 6)


def test_weighted_median_hand_case_and_empty_groups(spark):
    from tabsdata_spark import stats

    # group a: values 1,2,3 weights 1,1,10 -> cum at v=2 is 2 < 6 -> 3
    # group b: equal weights -> lower median = 1
    rows = [("a", 1, 1.0), ("a", 2, 1.0), ("a", 3, 10.0),
            ("b", 1, 5.0), ("b", 2, 5.0)]
    df = spark.createDataFrame(rows, "g string, v long, w double")
    got = {r.g: (r.w_median, r.total_weight)
           for r in stats.weighted_median(df, "v", "w", ["g"]).collect()}
    assert got["a"] == (3, 12.0)
    assert got["b"] == (1, 10.0)


def test_wilson_interval_contains_rate_and_clamps(spark):
    from tabsdata_spark import stats

    rows = [("g", 1)] * 8 + [("g", 0)] * 2 + [("z", 1)] * 5
    df = spark.createDataFrame(rows, "g string, s int")
    got = {r.g: r for r in
           stats.wilson_interval(df, "s", ["g"]).collect()}
    g = got["g"]
    assert g.n == 10 and g.s == 8 and g.rate == 0.8
    assert g.wilson_lo < 0.8 < g.wilson_hi
    assert 0.0 <= g.wilson_lo and g.wilson_hi <= 1.0
    # all-success group: upper bound clamps to exactly 1.0
    z = got["z"]
    assert z.rate == 1.0 and z.wilson_hi == 1.0 and z.wilson_lo < 1.0


def test_mcnemar_cells_and_chi2(spark):
    from tabsdata_spark import stats

    rows = ([(True, True)] * 4 + [(True, False)] * 6
            + [(False, True)] * 2 + [(False, False)] * 3)
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    r = stats.mcnemar_test(df, "a", "b").collect()[0]
    assert (r.n, r.n_both, r.n_a_only, r.n_b_only, r.n_neither) \
        == (15, 4, 6, 2, 3)
    assert r.chi2 == round((6 - 2) ** 2 / 8, 6)


def test_mcnemar_no_discordant_is_null(spark):
    from tabsdata_spark import stats

    df = spark.createDataFrame([(True, True), (False, False)],
                               "a boolean, b boolean")
    assert stats.mcnemar_test(df, "a", "b").collect()[0].chi2 is None


def test_t_closeness_global_class_is_zero(spark):
    from tabsdata_spark import stats

    # one class IS the global distribution -> t == 0; a degenerate
    # single-bucket class concentrated at one end has maximal skew
    rows = [("all", b) for b in (0, 0, 1, 1, 2, 2)]
    df = spark.createDataFrame(rows, "g string, b long")
    r = stats.t_closeness(df, ["g"], "b").collect()[0]
    assert r.t_emd == 0.0


def test_t_closeness_skewed_class_hand_value(spark):
    from tabsdata_spark import stats

    # global: bucket0 x3 (all from class lo), bucket2 x3 (class hi)
    # class lo: p = (1,0,0); global q = (.5,0,.5)
    # cum diffs: |1-.5| + |1-.5| + 0 = 1.0 -> t = 1.0/(m-1) = 0.5
    rows = [("lo", 0)] * 3 + [("hi", 2)] * 3
    df = spark.createDataFrame(rows, "g string, b long")
    got = {r.g: r.t_emd
           for r in stats.t_closeness(df, ["g"], "b").collect()}
    assert got["lo"] == 0.5 and got["hi"] == 0.5


def test_eb_shrinkage_pulls_small_groups_harder(spark):
    from tabsdata_spark import stats

    # many medium groups around 0.5, one tiny group at 1.0 and one
    # large group at 1.0: the tiny one must shrink much closer to the
    # grand mean than the large one
    rows = []
    for g in range(10):
        n = 40
        s = 14 + g  # rates 0.35 .. 0.575
        rows += [(f"m{g}", 1)] * s + [(f"m{g}", 0)] * (n - s)
    rows += [("tiny", 1)] * 2
    rows += [("large", 1)] * 200
    df = spark.createDataFrame(rows, "g string, s int")
    got = {r.g: r for r in
           stats.eb_beta_binomial(df, "s", ["g"]).collect()}
    assert got["tiny"].rate == 1.0 and got["large"].rate == 1.0
    assert got["tiny"].shrunk_rate < got["large"].shrunk_rate
    assert got["large"].shrunk_rate < 1.0
    # alpha/beta identical on every row (one fitted prior)
    assert len({(r.alpha, r.beta) for r in got.values()}) == 1


def test_eb_degenerate_prior_falls_back_uniform(spark):
    from tabsdata_spark import stats

    # identical groups -> zero variance -> Beta(1,1) fallback
    rows = [("a", 1), ("a", 0), ("b", 1), ("b", 0)]
    df = spark.createDataFrame(rows, "g string, s int")
    r = stats.eb_beta_binomial(df, "s", ["g"]).collect()[0]
    assert (r.alpha, r.beta) == (1.0, 1.0)
    assert r.shrunk_rate == round((1 + 1) / (2 + 2), 6)


def test_retrieval_eval_first_rank_and_hit(spark):
    from tabsdata_spark.llm import similarity

    # 4 unit vectors on axes: q is near axis-0; same-label candidate
    # (id 1, also near axis-0) must be rank 1 -> rr = 1.0
    rows = [
        (0, [1.0, 0.0, 0.0], 7),
        (1, [0.9, 0.1, 0.0], 7),
        (2, [0.0, 1.0, 0.0], 8),
        (3, [0.0, 0.0, 1.0], 8),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    qs = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label")
    r = similarity.retrieval_eval(emb, qs, k=3).collect()[0]
    assert (r.query_id, r.n_rel, r.first_rel_rank, r.rr, r.hit) \
        == (0, 1, 1, 1.0, True)


def test_retrieval_eval_miss_is_null_rank(spark):
    from tabsdata_spark.llm import similarity

    # query's only same-label candidate is orthogonal; with k=1 the
    # top slot goes to a wrong-label near-duplicate -> miss
    rows = [
        (0, [1.0, 0.0], 5),
        (1, [0.99, 0.01], 6),
        (2, [0.0, 1.0], 5),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    qs = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label")
    r = similarity.retrieval_eval(emb, qs, k=1).collect()[0]
    assert r.first_rel_rank is None and r.rr is None and r.hit is False


def test_degree_assortativity_star_is_negative(spark):
    from tabsdata_spark import graph

    # star: hub 0 -> leaves 1..5 plus one leaf-to-leaf edge; hub has
    # high out-degree hitting degree-1 leaves -> disassortative
    edges = [(0, i) for i in range(1, 6)] + [(1, 2)]
    df = spark.createDataFrame(edges, "s long, d long")
    r = graph.degree_assortativity(df, "s", "d").collect()[0]
    assert r.n_edges == 6
    assert r.assortativity is not None and r.assortativity < 0


def test_degree_assortativity_regular_graph_is_null(spark):
    from tabsdata_spark import graph

    # 1-regular matching: zero degree variance -> NULL (not NaN/crash)
    df = spark.createDataFrame([(1, 2), (3, 4), (5, 6)], "s long, d long")
    r = graph.degree_assortativity(df, "s", "d").collect()[0]
    assert r.assortativity is None


def test_trend_test_monotone_positive(spark):
    from tabsdata_spark import stats

    # rate climbs with score: 10%, 50%, 90% -> strongly positive z
    rows = []
    for w, s in [(0, 1), (1, 5), (2, 9)]:
        rows += [(w, 1)] * s + [(w, 0)] * (10 - s)
    df = spark.createDataFrame(rows, "w long, s int")
    r = stats.trend_test(df, "w", "s").collect()[0]
    assert (r.n_groups, r.n, r.s) == (3, 30, 15)
    assert r.z is not None and r.z > 3.0
    flipped = stats.trend_test(
        df.select((F.lit(2) - F.col("w")).alias("w"), "s"),
        "w", "s").collect()[0]
    assert flipped.z == -r.z


def test_trend_test_degenerate_null(spark):
    from tabsdata_spark import stats

    # all-success -> pbar = 1 -> Var = 0 -> NULL
    df = spark.createDataFrame([(0, 1), (1, 1), (2, 1)], "w long, s int")
    assert stats.trend_test(df, "w", "s").collect()[0].z is None


def test_rmst_no_events_equals_tau(spark):
    from tabsdata_spark import stats

    # all censored at 10 within tau=10: curve stays at 1 -> rmst = tau
    # (no event rows -> km emits nothing; head covers [0, tau])
    df = spark.createDataFrame(
        [("g", 10, True)] * 4, "g string, t long, ev boolean")
    r = stats.rmst(df, ["g"], "t", "ev", tau=20).collect()[0]
    # single event time at t=10, all die: S=0 after 10
    assert r.rmst == 10.0


def test_rmst_half_survive(spark):
    from tabsdata_spark import stats

    # 2 of 4 die at t=5, rest censored at 20 (>= tau): S=0.5 after 5
    # rmst(10) = 5*1 + 5*0.5 = 7.5
    rows = [("g", 5, True), ("g", 5, True),
            ("g", 20, False), ("g", 20, False)]
    df = spark.createDataFrame(rows, "g string, t long, ev boolean")
    r = stats.rmst(df, ["g"], "t", "ev", tau=10).collect()[0]
    assert r.rmst == 7.5


def test_rmst_all_censored_group_surfaces(spark):
    from tabsdata_spark import stats

    # a group with ZERO events has a flat S(t)=1 curve, so its area to
    # tau IS tau: it must surface (n_times=0, rmst=tau), not vanish —
    # kaplan_meier's event-times-only table gives it no curve rows
    rows = [("a", 5, True), ("a", 20, False),
            ("b", 7, False), ("b", 9, False)]
    df = spark.createDataFrame(rows, "g string, t long, ev boolean")
    got = {r.g: r for r in
           stats.rmst(df, ["g"], "t", "ev", tau=10).collect()}
    assert set(got) == {"a", "b"}
    assert (got["b"].n_times, got["b"].rmst) == (0, 10.0)
    # the event-bearing group is unchanged by the surfacing join:
    # S drops to 0.5 at t=5 -> rmst(10) = 5*1 + 5*0.5 = 7.5
    assert (got["a"].n_times, got["a"].rmst) == (1, 7.5)


def test_partial_correlation_removes_confounder(spark):
    from tabsdata_spark import stats

    # x and y share only the confounder z; their noise patterns are
    # orthogonal (period-2 vs period-4 sign cycles sum to zero dot
    # product over 48 points) -> partial_r collapses toward 0
    nx = [1, -1]
    ny = [1, 1, -1, -1]
    rows = [(2 * i + nx[i % 2], 2 * i + ny[i % 4], 2 * i)
            for i in range(48)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    r = stats.partial_correlation(df, "x", "y", "z").collect()[0]
    assert r.r_xy > 0.99
    assert abs(r.partial_r) < 0.1


def test_partial_correlation_constant_z_null(spark):
    from tabsdata_spark import stats

    df = spark.createDataFrame([(1, 2, 5), (2, 4, 5), (3, 6, 5)],
                               "x long, y long, z long")
    r = stats.partial_correlation(df, "x", "y", "z").collect()[0]
    assert r.partial_r is None and r.r_xy is None


def test_pairwise_mean_diffs_grid_and_sign(spark):
    from tabsdata_spark import stats

    rows = ([("a", 1_000_000)] * 10 + [("b", 2_000_000)] * 10
            + [("c", 2_000_000), ("c", 2_000_002)])
    df = spark.createDataFrame(rows, "g string, xq long")
    got = {(r.g_a, r.g_b): r for r in
           stats.pairwise_mean_diffs(df, "g", "xq").collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert got[("a", "b")].mean_diff == -1.0
    # zero-variance pair -> se = 0 -> NULL z
    assert got[("a", "b")].z is None
    assert got[("b", "c")].z is not None


def test_kcore_peels_cascade(spark):
    from tabsdata_spark import graph

    # triangle (1,2,3 all deg 2) + pendant chain 3-4-5: k=2 peel
    # removes 5 (deg 1), then 4 -> triangle survives with degree 2
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "s long, d long")
    got = {r.node: r.degree
           for r in graph.kcore_peel(df, "s", "d", k=2,
                                     rounds=3).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_brier_decomposition_identity_and_perfect(spark):
    from tabsdata_spark import stats

    # perfectly calibrated per-bin forecasts: rel ~ 0
    rows = []
    for f, n, pos in [(0.25, 8, 2), (0.75, 8, 6)]:
        rows += [(f, 1)] * pos + [(f, 0)] * (n - pos)
    df = spark.createDataFrame(rows, "score double, y int")
    r = stats.brier_decomposition(df, "score", "y", bins=10).collect()[0]
    assert r.n == 16
    assert r.reliability == 0.0
    assert r.resolution > 0.0
    assert r.uncertainty == 0.25  # base rate 0.5
    # decomposition identity holds to rounding for binned forecasts
    assert abs(r.brier - (r.reliability - r.resolution
                          + r.uncertainty)) < 1e-4


def test_neyman_allocation_favors_volatile_strata(spark):
    from tabsdata_spark import stats

    rows = ([("flat", 1_000_000)] * 50
            + [("wild", 0), ("wild", 10_000_000)] * 25)
    df = spark.createDataFrame(rows, "g string, xq long")
    got = {r.stratum: r for r in
           stats.neyman_allocation(df, "g", "xq",
                                   budget=1000).collect()}
    assert got["flat"].stddev == 0.0 and got["flat"].alloc == 0
    assert got["wild"].alloc == 1000
    assert got["wild"].weight == 1.0


def test_runs_test_alternating_vs_streaky(spark):
    from tabsdata_spark import stats

    # perfectly alternating up/down -> many runs -> strongly positive z
    alt = [10 + (i % 2) for i in range(40)]
    df = spark.createDataFrame(list(enumerate(alt)), "t long, y long")
    r = stats.runs_test(df, "t", "y").collect()[0]
    assert r.n_runs == r.n_up + r.n_down  # every move flips sign
    assert r.z > 3.0
    # one long ramp up then down -> 2 runs -> strongly negative z
    ramp = list(range(20)) + list(range(20, 0, -1))
    df2 = spark.createDataFrame(list(enumerate(ramp)), "t long, y long")
    r2 = stats.runs_test(df2, "t", "y").collect()[0]
    assert r2.n_runs == 2 and r2.z < -3.0


def test_theil_u_determined_and_independent(spark):
    from tabsdata_spark import stats

    # x fully determined by y -> U = 1
    det = [("a", "s1"), ("b", "s2")] * 10
    df = spark.createDataFrame(det, "x string, y string")
    r = stats.theil_u(df, "x", "y").collect()[0]
    assert r.theil_u == 1.0 and r.h_x == 1.0
    # independent -> U ~ 0
    ind = [(x, y) for x in ("a", "b") for y in ("s1", "s2")] * 5
    r2 = stats.theil_u(spark.createDataFrame(ind, "x string, y string"),
                       "x", "y").collect()[0]
    assert abs(r2.theil_u) < 1e-6


def test_sequential_ztest_bounds_descend_and_cross(spark):
    from tabsdata_spark import stats

    # cohort True converts at 95%, False at 5%: a huge effect that
    # must cross even the harsh early OBF bound by look 2
    rows = []
    for wk in range(3):
        rows += [(wk, True, 1)] * 19 + [(wk, True, 0)] * 1
        rows += [(wk, False, 1)] * 1 + [(wk, False, 0)] * 19
    df = spark.createDataFrame(rows, "w long, c boolean, s int")
    out = sorted(stats.sequential_ztest(df, "w", "c", "s").collect(),
                 key=lambda r: r.look_no)
    assert [r.bound for r in out] == [4.877, 3.357, 2.680]
    assert out[-1].crossed
    # cumulative counts grow monotonically
    assert out[0].n_1 < out[1].n_1 < out[2].n_1


def test_rdd_estimate_recovers_known_jump(spark):
    from tabsdata_spark import stats

    # y = 1 exactly iff x >= 50 (within noise-free lines of slope 0):
    # jump at cutoff = 1.0
    rows = [(x, 0) for x in range(30, 50)] + \
           [(x, 1) for x in range(50, 70)]
    df = spark.createDataFrame(rows, "x long, y int")
    r = stats.rdd_estimate(df, "x", "y", cutoff=50,
                           bandwidth=20).collect()[0]
    assert (r.n_left, r.n_right) == (20, 20)
    assert r.yhat_left == 0.0 and r.yhat_right == 1.0
    assert r.jump == 1.0


def test_chi2_residuals_independent_table_near_zero(spark):
    from tabsdata_spark import stats

    # perfectly independent 2x2 -> every residual exactly 0
    rows = [(a, b) for a in ("x", "y") for b in ("u", "v")
            for _ in range(10)]
    df = spark.createDataFrame(rows, "a string, b string")
    out = stats.chi2_residuals(df, "a", "b").collect()
    assert all(r.std_residual == 0.0 and r.chi2_cell == 0.0
               for r in out)
    assert all(r.expected == 10.0 for r in out)


def test_power_two_proportion_small_base_needs_more(spark):
    from tabsdata_spark import stats

    # rarer baseline -> larger required n for the same relative lift
    rows = [("rare", 1)] * 5 + [("rare", 0)] * 95 \
        + [("common", 1)] * 50 + [("common", 0)] * 50
    df = spark.createDataFrame(rows, "g string, s int")
    got = {r.g: r for r in
           stats.power_two_proportion(df, ["g"], "s").collect()}
    assert got["rare"].n_per_arm > got["common"].n_per_arm > 0
    # all-success baseline can't lift -> NULL
    full = spark.createDataFrame([("f", 1)] * 10, "g string, s int")
    r = stats.power_two_proportion(full, ["g"], "s").collect()[0]
    assert r.n_per_arm is None and r.target_rate is None


def test_lorenz_curve_equal_vs_concentrated(spark):
    from tabsdata_spark import stats

    # uniform distribution: curve sits below the diagonal, is
    # monotone, and ends at (1, 1)
    eq = spark.createDataFrame([(i % 10 * 10 + 5,) for i in range(100)],
                               "xq long")
    out = sorted(stats.lorenz_curve(eq, "xq", buckets=10, lo=0,
                                    hi=99).collect(),
                 key=lambda r: r.bucket)
    for r in out:
        assert r.value_share <= r.pop_share
    assert [r.value_share for r in out] == \
        sorted(r.value_share for r in out)
    assert out[-1].pop_share == 1.0 and out[-1].value_share == 1.0
    # all value in the top bucket -> value_share 0 until the end
    conc = spark.createDataFrame([(0,)] * 90 + [(99,)] * 10, "xq long")
    out2 = sorted(stats.lorenz_curve(conc, "xq", buckets=10, lo=0,
                                     hi=99).collect(),
                  key=lambda r: r.bucket)
    assert out2[0].value_share == 0.0 and out2[0].pop_share == 0.9
    assert out2[-1].value_share == 1.0


def test_markov_attribution_indispensable_channel(spark):
    from tabsdata_spark import graph
    from datetime import datetime

    def at(m):
        return datetime(2024, 1, 1, 10, m)

    # every conversion goes through 'b'; 'a' journeys die without b
    rows = [
        (1, 1, at(0), "a"), (1, 2, at(1), "b"), (1, 3, at(2), "purchase"),
        (2, 4, at(0), "b"), (2, 5, at(1), "purchase"),
        (3, 6, at(0), "a"),                      # a -> null
        (4, 7, at(0), "a"), (4, 8, at(1), "b"),
        (4, 9, at(2), "purchase"),
    ]
    df = spark.createDataFrame(rows, "u long, eid long, ts timestamp,"
                                     " et string")
    got = {r.channel: r for r in graph.markov_attribution(
        df, "u", "ts", "et", "purchase", tie_cols=["eid"]).collect()}
    # removing b kills all conversions -> removal effect 1
    assert got["b"].removal_effect == 1.0
    # removing a still leaves the pure-b journey -> effect < 1
    assert got["a"].removal_effect < 1.0
    assert got["b"].attribution > got["a"].attribution
    assert abs(got["a"].attribution + got["b"].attribution - 1.0) < 1e-5


def test_markov_attribution_base_probability_sane(spark):
    from tabsdata_spark import graph
    from datetime import datetime

    # 1 of 2 users converts immediately: base conv ~ 0.5 of 1e12
    rows = [(1, 1, datetime(2024, 1, 1), "purchase"),
            (2, 2, datetime(2024, 1, 1), "click")]
    df = spark.createDataFrame(rows, "u long, eid long, ts timestamp,"
                                     " et string")
    out = graph.markov_attribution(df, "u", "ts", "et", "purchase",
                                   tie_cols=["eid"]).collect()
    assert all(r.base_conv_q == 500000000000 for r in out)


def test_spearman_nulls_pairwise_complete(spark):
    """Rows with NULL x or y are dropped BEFORE rank construction (r5
    advice finding): ranks come from the analyzed subset, so a NULL
    row cannot shift the surviving ranks."""
    from tabsdata_spark import stats

    clean = [(1, 10), (2, 30), (3, 20), (4, 40)]
    dirty = clean + [(None, 99), (5, None), (None, None)]
    a = spark.createDataFrame(clean, "x long, y long")
    b = spark.createDataFrame(dirty, "x long, y long")
    ra = stats.spearman_correlation(a, "x", "y").collect()[0]
    rb = stats.spearman_correlation(b, "x", "y").collect()[0]
    assert (rb.n, rb.rho) == (ra.n, ra.rho)
    assert rb.n == 4


def test_rdd_estimate_one_sided_emits_null_row(spark):
    """A side with no rows inside the bandwidth surfaces the single
    report row with NULL yhat/jump — not an empty frame (r5 advice
    finding)."""
    from tabsdata_spark import stats

    rows = [(i, i * 2) for i in range(10)]  # all x < cutoff
    df = spark.createDataFrame(rows, "x long, y long")
    out = stats.rdd_estimate(df, "x", "y", cutoff=100,
                             bandwidth=200).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_left == 10 and r.n_right == 0
    assert r.yhat_left is not None
    assert r.yhat_right is None and r.jump is None


def test_kendall_nulls_pairwise_complete(spark):
    """NULL x/y rows are dropped before pair/tie enumeration, so they
    inflate neither n0 nor tie counts (spearman contract)."""
    from tabsdata_spark import stats

    clean = [(1, 1, 10), (2, 2, 30), (3, 3, 20), (4, 4, 40)]
    dirty = clean + [(5, None, 99), (6, 7, None)]
    a = spark.createDataFrame(clean, "k long, x long, y long")
    b = spark.createDataFrame(dirty, "k long, x long, y long")
    ra = stats.kendall_tau(a, "k", "x", "y").collect()[0]
    rb = stats.kendall_tau(b, "k", "x", "y").collect()[0]
    assert ra == rb


def test_partial_correlation_nulls_listwise_complete(spark):
    """A row with NULL in any of x/y/z is dropped up front: n and the
    moment sums must cover the same analyzed subset."""
    from tabsdata_spark import stats

    clean = [(1, 2, 3), (2, 4, 5), (3, 5, 9), (4, 9, 11), (5, 11, 13)]
    dirty = clean + [(None, 1, 1), (1, None, 1), (1, 1, None)]
    a = spark.createDataFrame(clean, "x long, y long, z long")
    b = spark.createDataFrame(dirty, "x long, y long, z long")
    ra = stats.partial_correlation(a, "x", "y", "z").collect()[0]
    rb = stats.partial_correlation(b, "x", "y", "z").collect()[0]
    assert ra == rb
    assert rb.n == 5


def test_exact_corr_nulls_pairwise_complete(spark):
    """n and every moment must cover the same subset: NULL x/y rows
    are dropped up front (count(*) previously counted rows the sums
    skipped — an incoherent mixed-base correlation)."""
    from tabsdata_spark import stats

    clean = [("g", 1, 2), ("g", 2, 4), ("g", 3, 5), ("g", 4, 9)]
    dirty = clean + [("g", None, 7), ("g", 6, None)]
    a = spark.createDataFrame(clean, "g string, x long, y long")
    b = spark.createDataFrame(dirty, "g string, x long, y long")
    ra = stats.exact_corr(a, "x", "y", ["g"]).collect()[0]
    rb = stats.exact_corr(b, "x", "y", ["g"]).collect()[0]
    assert ra == rb
    assert rb.n == 4


def test_spearman_monotone_transform_invariance(spark):
    """Spearman is rank-based: any strictly increasing transform of x
    leaves rho unchanged; negating x negates rho."""
    from tabsdata_spark import stats

    rows = [(i, (i * 7919) % 101) for i in range(1, 40)]
    df = spark.createDataFrame(rows, "x long, y long")
    base = stats.spearman_correlation(df, "x", "y").collect()[0]
    cubed = spark.createDataFrame([(x ** 3, y) for x, y in rows],
                                  "x long, y long")
    neg = spark.createDataFrame([(-x, y) for x, y in rows],
                                "x long, y long")
    assert stats.spearman_correlation(cubed, "x", "y").collect()[0].rho \
        == base.rho
    assert stats.spearman_correlation(neg, "x", "y").collect()[0].rho \
        == -base.rho


def test_exact_corr_affine_identity(spark):
    """corr(x, a*x + b) is exactly +-1 depending on sign(a)."""
    from tabsdata_spark import stats

    rows = [("g", i, 3 * i + 7) for i in range(1, 30)] \
        + [("h", i, -2 * i + 5) for i in range(1, 30)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r.g: r.corr for r in
           stats.exact_corr(df, "x", "y", ["g"]).collect()}
    assert got == {"g": 1.0, "h": -1.0}


def test_kendall_reversal_negates_tau(spark):
    """Reversing one variable's order negates tau_b (tie structure
    unchanged)."""
    from tabsdata_spark import stats

    rows = [(i, (i * 13) % 17, (i * 5) % 11) for i in range(20)]
    df = spark.createDataFrame(rows, "k long, x long, y long")
    rev = spark.createDataFrame([(k, -x, y) for k, x, y in rows],
                                "k long, x long, y long")
    a = stats.kendall_tau(df, "k", "x", "y").collect()[0]
    b = stats.kendall_tau(rev, "k", "x", "y").collect()[0]
    assert a.tau_b == -b.tau_b
