"""Versioned store, version resolution, pub/sub DAG, and end-to-end
pipeline tests (reference test strategy level 3: golden pipeline tests,
SURVEY §5)."""

import os

import pytest

import tabsdata_spark as td
from tabsdata_spark.errors import VersionResolutionError
from tabsdata_spark.pubsub import CycleError, PubSubEngine
from tabsdata_spark.store import TableStore, TableURI, Version, parse_versions
from tabsdata_spark.store.versions import VersionList, VersionRange, resolve_refs


# ---------------------------------------------------------------- versions
def test_version_parsing():
    assert Version.parse("HEAD").head_offset == 0
    assert Version.parse("HEAD^^").head_offset == 2
    assert Version.parse("HEAD~3").head_offset == 3
    assert Version.parse("INITIAL").initial_offset == 0
    assert Version.parse("INITIAL~2").initial_offset == 2
    fixed = "01ARZ3NDEKTSV4RRFFQ69G5FAV"
    assert Version.parse(fixed).fixed == fixed
    with pytest.raises(VersionResolutionError):
        Version.parse("nope!")
    assert isinstance(parse_versions("HEAD,HEAD~1"), VersionList)
    assert isinstance(parse_versions("INITIAL..HEAD"), VersionRange)


def test_table_uri():
    u = TableURI.parse("sales/orders@HEAD~2")
    assert u.collection == "sales" and u.table == "orders"
    assert str(u) == "sales/orders@HEAD~2"
    u2 = TableURI.parse("orders")
    assert u2.collection is None and u2.versions is None


def test_resolve_refs():
    hist = ["V1", "V2", "V3"]
    assert resolve_refs(hist, Version.parse("HEAD")) == ["V3"]
    assert resolve_refs(hist, Version.parse("HEAD~1")) == ["V2"]
    assert resolve_refs(hist, Version.parse("INITIAL")) == ["V1"]
    assert resolve_refs(hist, parse_versions("HEAD~1,HEAD")) == ["V2", "V3"]
    assert resolve_refs(hist, parse_versions("INITIAL..HEAD")) == hist
    with pytest.raises(VersionResolutionError):
        resolve_refs(hist, Version.parse("HEAD~5"))


# ---------------------------------------------------------------- store
def test_store_write_read_history(spark, tmp_path):
    store = TableStore(str(tmp_path / "warehouse"))
    tf1 = td.TableFrame.from_dict(spark, {"x": [1, 2]})
    tf2 = td.TableFrame.from_dict(spark, {"x": [3]})
    v1 = store.write(tf1, "c1", "t")
    v2 = store.write(tf2, "c1", "t")
    assert store.history("c1", "t") == [v1, v2]
    head = store.read(spark, "c1", "t")
    assert sorted(head.to_dict()["x"]) == [3]
    prev = store.read(spark, "c1", "t", "HEAD~1")
    assert sorted(prev.to_dict()["x"]) == [1, 2]
    both = store.read(spark, "c1", "t", "INITIAL..HEAD")
    assert sorted(both.to_dict()["x"]) == [1, 2, 3]
    by_uri = store.read_uri(spark, f"c1/t@{v1}")
    assert sorted(by_uri.to_dict()["x"]) == [1, 2]


def test_store_system_columns_stamped(spark, tmp_path):
    store = TableStore(str(tmp_path / "w2"))
    v = store.write(td.TableFrame.from_dict(spark, {"x": [1]}), "c", "t")
    raw = spark.read.parquet(store.meta.committed_history("c", "t")[0][1])
    assert "$td.id" in raw.columns and "$td.ver.version" in raw.columns
    row = raw.collect()[0]
    assert row["$td.ver.version"] == v
    # reading through the store hides system columns from .columns
    tf = store.read(spark, "c", "t")
    assert tf.columns == ["x"]


def test_transaction_atomicity(spark, tmp_path):
    store = TableStore(str(tmp_path / "w3"))
    tf = td.TableFrame.from_dict(spark, {"x": [1]})
    with pytest.raises(RuntimeError):
        with store.transaction() as txn:
            store.write(tf, "c", "a", txn_id=txn)
            store.write(tf, "c", "b", txn_id=txn)
            raise RuntimeError("boom")
    # nothing visible
    with pytest.raises(VersionResolutionError):
        store.read(spark, "c", "a")
    # committed transaction publishes both atomically
    with store.transaction() as txn:
        store.write(tf, "c", "a", txn_id=txn)
        store.write(tf, "c", "b", txn_id=txn)
    assert store.read(spark, "c", "a").df.count() == 1
    assert store.read(spark, "c", "b").df.count() == 1


# ---------------------------------------------------------------- pub/sub
def test_pubsub_end_to_end(spark, tmp_path):
    """publisher(csv) -> transformer -> subscriber(csv) golden pipeline."""
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "data.csv").write_text("k,v\na,1\nb,2\na,3\n")
    out_dir = str(tmp_path / "out")
    store = TableStore(str(tmp_path / "wh"))
    engine = PubSubEngine(spark, store)

    @td.publisher(td.LocalFileSource(str(src_dir / "*.csv"), format="csv"),
                  tables="raw")
    def publish(tf):
        return tf

    @td.transformer(input_tables=["raw"], output_tables=["agg"])
    def aggregate(tf):
        return tf.group_by("k").agg(total=td.col("v").sum())

    @td.subscriber(tables=["agg"],
                   destination=td.LocalFileDestination(out_dir, format="csv",
                                                       single_file=True))
    def export(tf):
        return tf

    engine.register("demo", publish)
    engine.register("demo", aggregate)
    engine.register("demo", export)

    reports = engine.trigger("demo", "publish")
    assert [r.status for r in reports] == ["committed"] * 3
    assert [r.function for r in reports] == [
        "demo/publish", "demo/aggregate", "demo/export"]

    agg = store.read(spark, "demo", "agg").sort("k").to_dict()
    assert agg["k"] == ["a", "b"] and agg["total"] == [4, 2]

    csvs = [f for f in os.listdir(out_dir) if f.endswith(".csv")]
    assert len(csvs) == 1
    body = open(os.path.join(out_dir, csvs[0])).read().strip().splitlines()
    assert sorted(body[1:]) == ["a,4", "b,2"]

    # incremental: nothing new -> publisher republishes filtered (no files)
    offsets = store.meta.get_offset("demo", "publish", "last_modified")
    assert offsets is not None


def test_pubsub_trigger_cycle_detection(spark, tmp_path):
    store = TableStore(str(tmp_path / "wc"))
    engine = PubSubEngine(spark, store)

    @td.transformer(input_tables=["t1"], output_tables=["t2"])
    def f1(tf):
        return tf

    @td.transformer(input_tables=["t2"], output_tables=["t1"])
    def f2(tf):
        return tf

    engine.register("c", f1)
    with pytest.raises(CycleError):
        engine.register("c", f2)


def test_pubsub_failure_isolated(spark, tmp_path):
    store = TableStore(str(tmp_path / "wf"))
    engine = PubSubEngine(spark, store)

    @td.transformer(input_tables=["missing_table"], output_tables=["out"])
    def broken(tf):
        return tf

    engine.register("c", broken)
    reports = engine.trigger("c", "broken")
    assert reports[0].status == "failed"
    assert "missing_table" in (reports[0].error or "") or reports[0].error


def test_source_plugin_and_offsets(spark, tmp_path):
    store = TableStore(str(tmp_path / "wp"))
    engine = PubSubEngine(spark, store)

    class Counter(td.SourcePlugin):
        def chunk(self, spark_, working_dir):
            self.initial_values = {"cursor": "42"}
            return spark_.createDataFrame([(1,)], "n long")

    @td.publisher(Counter(), tables="nums")
    def pub(tf):
        return tf

    engine.register("c", pub)
    reports = engine.trigger("c", "pub")
    assert reports[0].status == "committed"
    assert store.meta.get_offset("c", "pub", "cursor") == "42"


def test_source_plugin_path_contract(spark, tmp_path):
    """Reference contract (_io/plugin.py): chunk() writes parquet into
    working_dir and returns the path.  The frames are lazy reads over those
    files, so the working dir must survive until store.write materializes
    them (ADVICE r1 — it used to be deleted when resolve() returned)."""
    import os

    store = TableStore(str(tmp_path / "wpp"))
    engine = PubSubEngine(spark, store)

    class PathPlugin(td.SourcePlugin):
        def chunk(self, spark_, working_dir):
            p = os.path.join(working_dir, "chunk.parquet")
            spark_.createDataFrame([(1,), (2,)], "n long").write.parquet(p)
            return p

    @td.publisher(PathPlugin(), tables="paths_t")
    def pub(tf):
        return tf

    engine.register("c", pub)
    reports = engine.trigger("c", "pub")
    assert reports[0].status == "committed", reports[0].error
    assert store.read(spark, "c", "paths_t").to_spark().count() == 2


# ---------------------------------------------------------------- streaming
def test_version_bus_consumer(spark, tmp_path):
    from tabsdata_spark.streaming import process_new_versions

    store = TableStore(str(tmp_path / "ws"))
    store.write(td.TableFrame.from_dict(spark, {"x": [1]}), "c", "t")
    store.write(td.TableFrame.from_dict(spark, {"x": [2]}), "c", "t")
    seen = []
    n = process_new_versions(spark, store, "c", "t", "consumer1",
                             lambda df: seen.append(df.count()))
    assert n == 2 and seen == [1, 1]
    # idempotent: no new versions -> no work
    n2 = process_new_versions(spark, store, "c", "t", "consumer1",
                              lambda df: seen.append(df.count()))
    assert n2 == 0 and len(seen) == 2
    store.write(td.TableFrame.from_dict(spark, {"x": [3]}), "c", "t")
    n3 = process_new_versions(spark, store, "c", "t", "consumer1",
                              lambda df: seen.append(df.count()))
    assert n3 == 1 and len(seen) == 3


def test_table_services_sample_schema_download(spark, tmp_path):
    """REST-equivalent sample/download/schema services (SURVEY §3.3)."""
    from tabsdata_spark.store import services
    from tabsdata_spark.store.table_store import TableStore

    store = TableStore(str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) * 1.5) for i in range(20)], ["id", "name", "v"])
    store.write(df, "c1", "t1")

    sch = services.table_schema(spark, store, "c1/t1")
    assert sch == [{"name": "id", "type": "bigint"},
                   {"name": "name", "type": "string"},
                   {"name": "v", "type": "double"}]
    assert not any(s["name"].startswith("$td.") for s in sch)

    rows = services.sample_table(spark, store, "c1/t1@HEAD", offset=0, length=5)
    assert len(rows) == 5 and set(rows[0]) == {"id", "name", "v"}

    agg = services.sample_table(
        spark, store, "c1/t1",
        sql="SELECT COUNT(*) AS n, SUM(v) AS s FROM t1")
    assert agg[0]["n"] == 20

    csv_text = services.sample_table(spark, store, "c1/t1", length=3, fmt="csv")
    assert csv_text.splitlines()[0] == "id,name,v"

    out = services.download_table(spark, store, "c1/t1",
                                  str(tmp_path / "dl"), fmt="csv")
    back = spark.read.csv(out, header=True, inferSchema=True)
    assert back.count() == 20


def test_self_dependent_accumulator(spark, tmp_path):
    """Transformer reading its own output (reference
    Dependency{self_dependency} edge).  Refs resolve before the run
    writes, so `acc@HEAD` = the previous run's output; `trigger_by`
    excludes it from the trigger DAG (no cycle).  None on first run;
    accumulates across triggers."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text("k,v\nx,1\n")
    store = TableStore(str(tmp_path / "wh"))
    engine = PubSubEngine(spark, store)

    @td.publisher(td.LocalFileSource(str(src / "*.csv"), format="csv"),
                  tables="raw")
    def pub(tf):
        return tf

    @td.transformer(input_tables=["raw", "acc@HEAD"], output_tables=["acc"],
                    trigger_by=["raw"])
    def accumulate(raw, prev):
        if prev is None:
            return raw
        return td.concat([prev, raw], how="vertical_relaxed")

    engine.register("c", pub)
    engine.register("c", accumulate)   # no CycleError

    r1 = engine.trigger("c", "pub")
    assert [x.status for x in r1] == ["committed", "committed"]
    assert store.read(spark, "c", "acc").df.count() == 1

    import os as _os
    _os.utime(src / "a.csv", (0, 0))
    (src / "b.csv").write_text("k,v\ny,2\n")
    r2 = engine.trigger("c", "pub")
    assert [x.status for x in r2] == ["committed", "committed"]
    acc = store.read(spark, "c", "acc").sort("k").to_dict()
    assert acc["k"] == ["x", "y"] and acc["v"] == [1, 2]


def test_session_providers(spark, tmp_path):
    """LocalSessionProvider passes the session through; Connect provider
    is gated on grpcio/protobuf (absent here) with a clear error; the
    engine accepts either via the `sessions` strategy."""
    from tabsdata_spark.pubsub import (
        ConnectSessionProvider, LocalSessionProvider, PubSubEngine,
    )
    from tabsdata_spark.store import TableStore

    store = TableStore(str(tmp_path / "store"))
    prov = LocalSessionProvider(spark)
    assert prov.session() is spark
    eng = PubSubEngine(None, store, sessions=prov)
    assert eng.spark is spark

    try:
        ConnectSessionProvider("sc://localhost:15002")
        raise AssertionError("expected gated ImportError without grpcio")
    except ImportError as e:
        assert "grpcio" in str(e)


def test_table_diff_statuses(spark):
    from tabsdata_spark.store.diff import diff_summary, table_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k long, s string, v long")
    new = spark.createDataFrame(
        [(2, "b", 20),        # unchanged
         (3, "cc", 30),       # changed (s)
         (4, None, 40),       # unchanged (null-safe compare)
         (5, "e", 50)],       # added
        "k long, s string, v long")
    d = {r.k: r.status for r in table_diff(old, new, ["k"]).collect()}
    assert d == {1: "removed", 3: "changed", 5: "added"}
    full = {r.k: r.status for r in
            table_diff(old, new, ["k"], include_unchanged=True).collect()}
    assert full[2] == "unchanged" and full[4] == "unchanged"
    s = {r.status: r.n for r in diff_summary(old, new, ["k"]).collect()}
    assert s == {"removed": 1, "changed": 1, "added": 1, "unchanged": 2}
    # column order must not fake a change
    reordered = new.select("k", "v", "s")
    assert {r.k for r in table_diff(new, reordered, ["k"]).collect()} == set()
    # compare_cols restricts the comparison
    only_v = table_diff(old, new, ["k"], compare_cols=["v"])
    assert {r.k: r.status for r in only_v.collect()} == \
        {1: "removed", 5: "added"}


def test_diff_versions_through_store(spark, tmp_path):
    from tabsdata_spark.store.diff import diff_versions

    store = TableStore(str(tmp_path / "dw"))
    store.write(td.TableFrame.from_dict(
        spark, {"k": [1, 2, 3], "x": ["p", "q", "r"]}), "c", "t")
    store.write(td.TableFrame.from_dict(
        spark, {"k": [2, 3, 4], "x": ["q", "R", "s"]}), "c", "t")
    d = {r.k: r.status for r in diff_versions(
        spark, store, "c", "t", "HEAD~1", "HEAD", ["k"]).collect()}
    assert d == {1: "removed", 3: "changed", 4: "added"}


# ----------------------------------------------------- scheduler concurrency
def test_concurrent_triggers_commit_atomically_and_serialize(spark, tmp_path):
    """Two concurrent trigger cascades on dependent functions: multi-table
    commits must stay atomic (each execution's two output tables come from
    ONE transaction) and the commit order must be identical on every table
    (serializable history).  The downstream transformer resolves all its
    inputs against one commit-time snapshot, so it can never see table `a`
    from one publisher run and table `b` from another (torn read).
    Reference: scheduler_server.rs:21-75 commits transactions atomically
    and cascades triggers."""
    import threading

    from tabsdata_spark.io.plugin import SourcePlugin

    store = TableStore(str(tmp_path / "wh"))

    class TwoTableSource(SourcePlugin):
        """Each chunk() call emits the SAME fresh value into both outputs;
        a torn snapshot downstream would pair different values."""

        def __init__(self):
            super().__init__()
            self._lock = threading.Lock()
            self._n = 0

        def chunk(self, spark_, working_dir):
            with self._lock:
                self._n += 1
                v = self._n
            df = spark_.createDataFrame([(v,)], "v int")
            return [df, df]

    @td.publisher(TwoTableSource(), tables=["a", "b"])
    def pub(a, b):
        return a, b

    @td.transformer(input_tables=["a", "b"], output_tables=["paired"],
                    trigger_by=["a"])
    def pair(a, b):
        return a.join(b, how="cross", suffix="_b").select(
            va=td.col("v"), vb=td.col("v_b"))

    engine = PubSubEngine(spark, store)
    engine.register("c", pub)
    engine.register("c", pair)

    results: list = [None, None]

    def run(i):
        results[i] = engine.trigger("c", "pub")

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    # every run of both cascades committed
    for reports in results:
        assert [r.status for r in reports] == ["committed", "committed"], \
            [(r.function, r.error) for r in reports]

    # atomic multi-table commit: each publisher transaction carries exactly
    # one version of `a` AND one of `b`
    with store.meta._conn() as c:
        rows = c.execute(
            "SELECT v.txn_id, v.table_name FROM table_versions v "
            "JOIN transactions t ON v.txn_id = t.id "
            "WHERE t.status='committed' AND v.collection='c' "
            "AND v.table_name IN ('a','b')").fetchall()
    by_txn: dict = {}
    for txn, tbl in rows:
        by_txn.setdefault(txn, []).append(tbl)
    assert len(by_txn) == 2
    for txn, tables in by_txn.items():
        assert sorted(tables) == ["a", "b"], (txn, tables)

    # serializable history: both tables observed the same commit order
    def txn_order(table):
        with store.meta._conn() as c:
            return [r[0] for r in c.execute(
                "SELECT v.txn_id FROM table_versions v "
                "JOIN transactions t ON v.txn_id = t.id "
                "WHERE t.status='committed' AND v.collection='c' "
                "AND v.table_name=? ORDER BY t.committed_at, v.txn_id",
                (table,))]

    assert txn_order("a") == txn_order("b")

    # no torn snapshot: every paired row matched equal values
    paired = store.read(spark, "c", "paired", "INITIAL..HEAD").to_dict()
    assert len(paired["va"]) == 2
    assert paired["va"] == paired["vb"], paired


# ----------------------------------------------------- worker isolation
def test_isolated_worker_runs_bundled_transformer(spark, tmp_path):
    """A transformer registered WITH a bundle executes in a venv
    subprocess (own interpreter + own JVM); the control plane resolves
    input paths, publishes outputs transactionally, and the run logs name
    the isolated worker.  Reference: per-run virtualenv workers
    (client/td-sdk/tabsdata/_tabsserver/invoker.py:76,
    td-supervisor runner.rs)."""
    store = TableStore(str(tmp_path / "wh"))
    store.write(td.TableFrame.from_dict(spark, {"n": [1, 2, 3]}), "c", "raw")

    BUNDLE = """
import tabsdata_spark as td

@td.transformer(input_tables=["raw"], output_tables=["doubled"])
def double(raw):
    return raw.with_columns(n2=td.col("n") * 2)
"""

    @td.transformer(input_tables=["raw"], output_tables=["doubled"])
    def double(raw):
        raise AssertionError("in-process body must NOT run when isolated")

    engine = PubSubEngine(spark, store, isolation=True)
    engine.register("c", double, bundle=BUNDLE)

    # the venv interpreter is a different prefix than the engine's
    assert engine.isolation.check_python_isolated(engine.isolation.python())

    reports = engine.trigger("c", "double")
    assert reports[0].status == "committed", reports[0].error
    out = store.read(spark, "c", "doubled").to_dict()
    assert sorted(out["n2"]) == [2, 4, 6]

    runs = store.meta.list_runs("c", "double")
    logs = " ".join(line["line"] for line in store.meta.logs(runs[0]["id"]))
    assert "isolated worker started" in logs and "committed" in logs


def test_isolated_worker_failure_is_contained(spark, tmp_path):
    """A broken bundle fails ITS run report; the engine (and its Spark
    session) keep working.  Bundle load fails before the worker pays JVM
    startup."""
    store = TableStore(str(tmp_path / "wh"))
    store.write(td.TableFrame.from_dict(spark, {"n": [1]}), "c", "raw")

    @td.transformer(input_tables=["raw"], output_tables=["out"])
    def broken(raw):
        return raw

    engine = PubSubEngine(spark, store, isolation=True)
    engine.register("c", broken, bundle="this is not python (")

    reports = engine.trigger("c", "broken")
    assert reports[0].status == "failed"
    assert "SyntaxError" in reports[0].error
    # engine session unharmed
    assert spark.range(3).count() == 3


def test_partitioned_version_write_prunes_at_scan(spark, tmp_path):
    """partition_by stores a version hive-partitioned (the Spark form of
    the reference's partition-variant layout, location.rs:36): reads
    discover the partition column, filters on it become PartitionFilters
    at the scan (directory pruning, the 100 TB path), and contents
    round-trip."""
    store = TableStore(str(tmp_path / "wh"))
    tf = td.TableFrame.from_dict(spark, {
        "region": ["eu", "eu", "us", "us", "ap"],
        "amount": [1, 2, 3, 4, 5]})
    store.write(tf, "c", "sales", partition_by=["region"])

    back = store.read(spark, "c", "sales")
    got = sorted(zip(back.to_dict()["region"], back.to_dict()["amount"]))
    assert got == [("ap", 5), ("eu", 1), ("eu", 2), ("us", 3), ("us", 4)]

    pruned = back.filter(td.col("region") == "eu")
    plan = pruned.df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "region" in \
        plan.split("PartitionFilters", 1)[1][:200]
    assert sorted(pruned.to_dict()["amount"]) == [1, 2]

    # layout on disk: one directory per partition value
    import glob
    vdir = store.resolve_paths("c", "sales")[0]
    assert sorted(os.path.basename(p) for p in glob.glob(f"{vdir}/region=*")) \
        == ["region=ap", "region=eu", "region=us"]

    with pytest.raises(VersionResolutionError):
        store.write(tf, "c", "sales", partition_by=["nope"])


def test_transformer_partitioned_output(spark, tmp_path):
    """partition_by on the decorator flows through the engine to the
    store: the published version is hive-partitioned and reads prune."""
    store = TableStore(str(tmp_path / "wh"))
    store.write(td.TableFrame.from_dict(spark, {
        "region": ["eu", "us", "eu"], "amount": [1, 2, 3]}), "c", "raw")

    @td.transformer(input_tables=["raw"], output_tables=["by_region"],
                    partition_by={"by_region": ["region"]})
    def split(raw):
        return raw

    engine = PubSubEngine(spark, store)
    engine.register("c", split)
    reports = engine.trigger("c", "split")
    assert reports[0].status == "committed", reports[0].error

    import glob
    vdir = store.resolve_paths("c", "by_region")[0]
    assert {os.path.basename(p) for p in glob.glob(f"{vdir}/region=*")} \
        == {"region=eu", "region=us"}
    back = store.read(spark, "c", "by_region")
    assert sorted(back.to_dict()["amount"]) == [1, 2, 3]


def test_isolated_worker_timeout_is_contained(spark, tmp_path):
    """A hung bundle hits the worker timeout and fails its own run
    report; the engine keeps serving."""
    store = TableStore(str(tmp_path / "wh"))
    store.write(td.TableFrame.from_dict(spark, {"n": [1]}), "c", "raw")

    @td.transformer(input_tables=["raw"], output_tables=["out"])
    def hangs(raw):
        return raw

    from tabsdata_spark.pubsub.isolation import IsolatedWorker

    worker = IsolatedWorker(str(tmp_path / "workers"), timeout_s=10.0)
    engine = PubSubEngine(spark, store, isolation=worker)
    engine.register("c", hangs,
                    bundle="import time\ntime.sleep(600)\n")
    reports = engine.trigger("c", "hangs")
    assert reports[0].status == "failed"
    assert "TimeoutExpired" in reports[0].error
    assert store.meta.list_runs("c", "hangs")[0]["status"] == "failed"
    assert spark.range(2).count() == 2


def test_vacuum_reclaims_dead_and_old_versions(spark, tmp_path):
    """vacuum removes rolled-back transaction files (never visible) and,
    with keep_last, committed versions beyond the horizon — while HEAD
    and the surviving history keep reading."""
    store = TableStore(str(tmp_path / "wh"))
    for i in range(3):
        store.write(td.TableFrame.from_dict(spark, {"x": [i]}), "c", "t")
    # a rolled-back write leaves files no reader can see
    with pytest.raises(RuntimeError):
        with store.transaction() as txn:
            store.write(td.TableFrame.from_dict(spark, {"x": [99]}),
                        "c", "t", txn_id=txn)
            raise RuntimeError("boom")
    assert len(store.meta.versions_with_status("c", "t")) == 4

    out = store.vacuum("c", "t")
    assert out == {"files_removed": 1, "versions_pruned": 0}
    assert len(store.history("c", "t")) == 3      # committed all intact

    out = store.vacuum("c", "t", keep_last=2)
    assert out["versions_pruned"] == 1
    hist = store.history("c", "t")
    assert len(hist) == 2
    assert store.read(spark, "c", "t").to_dict()["x"] == [2]
    assert store.read(spark, "c", "t", "HEAD~1").to_dict()["x"] == [1]
    with pytest.raises(VersionResolutionError):
        store.read(spark, "c", "t", "HEAD~2")     # beyond the horizon
    # the pruned version's directory is gone from disk
    import glob
    assert len(glob.glob(f"{store.root}/c/c/d/*")) == 2


def test_store_merge_upsert_creates_new_version(spark, tmp_path):
    from tabsdata_spark.store.table_store import TableStore

    store = TableStore(str(tmp_path / "wh"))
    v1 = store.write(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"),
        "col", "t")
    v2 = store.merge(
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
        "col", "t", key_cols=["k"])
    assert v1 != v2
    head = {(r["k"], r["v"]) for r in
            store.read(spark, "col", "t").to_spark().collect()}
    assert head == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    # time travel to v1 still works
    old = {(r["k"], r["v"]) for r in
           store.read(spark, "col", "t", versions="HEAD~1")
           .to_spark().collect()}
    assert old == {(1, "a"), (2, "b"), (3, "c")}
    # first-version merge on a fresh table = plain write
    store.merge(spark.createDataFrame([(9, "z")], "k long, v string"),
                "col", "t2", key_cols=["k"])
    assert {(r["k"], r["v"]) for r in
            store.read(spark, "col", "t2").to_spark().collect()} == {(9, "z")}


def test_store_optimize_and_version_drift(spark, tmp_path):
    import pyspark.sql.functions as F

    from tabsdata_spark.store.diff import version_drift
    from tabsdata_spark.store.table_store import TableStore

    store = TableStore(str(tmp_path / "wh"))
    v1_df = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 100).cast("double").alias("v"))
    store.write(v1_df.repartition(16), "col", "t")   # fragmented
    ver, n = store.optimize(spark, "col", "t", target_bytes=64 * 1024 * 1024)
    assert n == 1
    head = store.read(spark, "col", "t").to_spark()
    assert head.count() == 500
    assert len(head.inputFiles()) <= 2   # compacted
    # drift: write a shifted v3, compare against the optimized v2
    store.write(spark.range(500).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v")), "col", "t")
    out = {r["bucket"]: r["psi"] for r in version_drift(
        spark, store, "col", "t", "v", 0.0, 100.0).collect()}
    assert out[-1] > 0.25   # clearly drifted


def test_scd2_apply_closes_and_opens_versions(spark):
    import datetime as dt

    import pyspark.sql.functions as F
    from tabsdata_spark.store.diff import scd2_apply

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 6, 1)
    hist = spark.createDataFrame(
        [(1, "a", t0, None), (2, "b", t0, None),
         (3, "old", dt.datetime(2023, 1, 1), t0)],   # already closed
        "k long, attr string, valid_from timestamp, valid_to timestamp")
    upd = spark.createDataFrame(
        [(1, "a2", t1),     # changed -> close + reopen
         (2, "b", t1),      # unchanged -> untouched
         (9, "new", t1)],   # new key -> first version
        "k long, attr string, ts timestamp")
    out = scd2_apply(hist, upd, ["k"], ["attr"], "ts").collect()
    rows = {(r.k, r.attr): (r.valid_from, r.valid_to) for r in out}
    assert len(out) == 5
    assert rows[(1, "a")] == (t0, t1)          # closed at update ts
    assert rows[(1, "a2")] == (t1, None)       # reopened
    assert rows[(2, "b")] == (t0, None)        # untouched current
    assert rows[(3, "old")][1] == t0           # closed history passthrough
    assert rows[(9, "new")] == (t1, None)      # brand-new key


def test_incremental_rollup_equals_full_recompute(spark):
    import pyspark.sql.functions as F
    from tabsdata_spark.store.diff import base_rollup, incremental_rollup

    rows = [(i, "k" + str(i % 3), float(i) + 0.25) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, k string, v double")
    v1 = df.filter(F.col("id") % 5 != 0)
    v2 = df.filter(F.col("id") % 4 != 1)
    old = base_rollup(v1, ["k"], "v")
    added = v2.join(v1.select("id"), "id", "left_anti")
    removed = v1.join(v2.select("id"), "id", "left_anti")
    maint = incremental_rollup(old, added, removed, ["k"], "v")
    full = base_rollup(v2, ["k"], "v")
    m = {r.k: (r.n, r.total_dec) for r in maint.collect()}
    f = {r.k: (r.n, r.total_dec) for r in full.collect()}
    assert m == f       # bit-identical decimals, group-for-group


def test_uri_grammar_strict():
    """Reference grammar (_tableuri.py build_table_uri_object): single
    collection segment, single table segment, INITIAL supports carets."""
    import pytest

    from tabsdata_spark.errors import VersionResolutionError
    from tabsdata_spark.store.versions import TableURI, Version

    assert TableURI.parse("c/t@HEAD").collection == "c"
    for bad in ["td:///c/t", "a/b/c", "/t", "c/", ""]:
        with pytest.raises(VersionResolutionError):
            TableURI.parse(bad)
    assert Version.parse("INITIAL^^").initial_offset == 2
    assert Version.parse("INITIAL~3").initial_offset == 3


def test_plugin_offsets_restored_before_next_run(spark, tmp_path):
    """Reference plugin.py _run: before streaming, the engine overwrites
    plugin.initial_values with the PERSISTED offsets of prior runs — the
    incremental-ingest contract.  Our engine used to persist but never
    restore."""
    store = TableStore(str(tmp_path / "wor"))
    engine = PubSubEngine(spark, store)
    seen = []

    class Incr(td.SourcePlugin):
        def __init__(self):
            super().__init__()
            self.initial_values = {"cursor": "0"}

        def chunk(self, spark_, working_dir):
            seen.append(dict(self.initial_values))
            nxt = str(int(self.initial_values["cursor"]) + 1)
            self.initial_values = {"cursor": nxt}
            return spark_.createDataFrame([(1,)], "n long")

    @td.publisher(Incr(), tables="nums")
    def pub(tf):
        return tf

    engine.register("c", pub)
    assert engine.trigger("c", "pub")[0].status == "committed"
    assert engine.trigger("c", "pub")[0].status == "committed"
    assert engine.trigger("c", "pub")[0].status == "committed"
    # run 1 sees the decorator values; runs 2-3 see the persisted offsets
    assert seen == [{"cursor": "0"}, {"cursor": "1"}, {"cursor": "2"}]
    assert store.meta.get_offset("c", "pub", "cursor") == "3"


def test_function_offset_return_mode(spark, tmp_path):
    """Reference OffsetReturn.FUNCTION (SQL sources, execution_utils.
    update_initial_values): the registered function returns the NEW offsets
    dict as its trailing element; the engine pops + persists it and
    restores it into the source's initial_values on the next run."""
    store = TableStore(str(tmp_path / "wfo"))
    engine = PubSubEngine(spark, store)
    seen = []

    class SqlLike(td.SourcePlugin):
        offset_return = "function"

        def __init__(self):
            super().__init__()
            self.initial_values = {"number": "2"}

        def chunk(self, spark_, working_dir):
            seen.append(dict(self.initial_values))
            return spark_.createDataFrame([(1,)], "n long")

    @td.publisher(SqlLike(), tables="nums")
    def pub(tf):
        # reference example shape: `return headers, new_initial_values`
        return tf, {"number": "3"}

    engine.register("c", pub)
    assert engine.trigger("c", "pub")[0].status == "committed", \
        engine.trigger("c", "pub")[0].error
    assert store.meta.get_offset("c", "pub", "number") == "3"
    assert engine.trigger("c", "pub")[0].status == "committed"
    assert seen[1] == {"number": "3"}
    assert store.read(spark, "c", "nums").to_spark().count() == 1

    # missing trailing dict is a clear error, not a silently-consumed frame
    @td.publisher(SqlLike(), tables="nums2")
    def bad(tf):
        return tf

    engine.register("c", bad)
    rep = engine.trigger("c", "bad")[0]
    assert rep.status == "failed" and "offsets dict" in rep.error


def test_function_offset_no_new_data_multi_output(spark, tmp_path):
    """r8 ADVICE regression: a MULTI-output publisher in FUNCTION-offset
    mode that returns only the offsets dict (no new data) must publish
    nothing for EVERY output table, not fail with a frame-count
    mismatch."""
    store = TableStore(str(tmp_path / "wfm"))
    engine = PubSubEngine(spark, store)

    class SqlLike(td.SourcePlugin):
        offset_return = "function"

        def __init__(self):
            super().__init__()
            self.initial_values = {"number": "2"}

        def chunk(self, spark_, working_dir):
            return spark_.createDataFrame([(1,)], "n long")

    @td.publisher(SqlLike(), tables=["t_a", "t_b"])
    def pub(tf):
        # no new rows upstream: reference publishes (None, None) but still
        # persists the advanced offsets
        return {"number": "7"}

    engine.register("c", pub)
    rep = engine.trigger("c", "pub")[0]
    assert rep.status == "committed", rep.error
    assert rep.published == {}
    assert store.meta.get_offset("c", "pub", "number") == "7"
    assert "t_a" not in store.meta.list_tables("c")


def test_plugin_nested_paths_and_relative_paths(spark, tmp_path):
    """Reference chunk contract (_io/plugin.py:91-99 + load_sources):
    `return ["f1.parquet", ["f2.parquet", "f3.parquet"]]` maps to a first
    parameter with ONE frame and a second parameter with a LIST of two
    frames; paths are relative to working_dir."""
    import os

    store = TableStore(str(tmp_path / "wnp"))
    engine = PubSubEngine(spark, store)

    class Multi(td.SourcePlugin):
        def chunk(self, spark_, working_dir):
            for name, rows in (("f1", [(1,)]), ("f2", [(2,)]), ("f3", [(3,)])):
                spark_.createDataFrame(rows, "n long").write.parquet(
                    os.path.join(working_dir, f"{name}.parquet"))
            return ["f1.parquet", ["f2.parquet", "f3.parquet"]]

    @td.publisher(Multi(), tables=["one", "both"])
    def pub(first, rest):
        assert isinstance(rest, list) and len(rest) == 2
        from tabsdata_spark.tableframe.functions import concat

        return first, concat(rest)

    engine.register("c", pub)
    rep = engine.trigger("c", "pub")[0]
    assert rep.status == "committed", rep.error
    assert store.read(spark, "c", "one").to_spark().count() == 1
    assert sorted(r["n"] for r in
                  store.read(spark, "c", "both").to_spark().collect()) == [2, 3]


def test_merge_argument_contracts(spark, tmp_path):
    """Degenerate merge inputs get clear errors: empty key_cols, key
    column missing from the batch, duplicate keys INSIDE the batch
    (silent key-uniqueness violation before), and schema drift vs HEAD."""
    import pytest

    from tabsdata_spark.errors import MissingColumnError, SchemaMismatchError

    store = TableStore(str(tmp_path / "wmc"))
    store.write(td.TableFrame.from_dict(
        spark, {"k": [1, 2], "v": ["a", "b"]}), "c", "t")
    up = td.TableFrame.from_dict(spark, {"k": [2, 3], "v": ["B", "C"]})
    with pytest.raises(ValueError, match="key_cols"):
        store.merge(up, "c", "t", [])
    with pytest.raises(MissingColumnError):
        store.merge(td.TableFrame.from_dict(spark, {"z": [1]}), "c", "t", ["k"])
    dup = td.TableFrame.from_dict(spark, {"k": [5, 5], "v": ["p", "q"]})
    with pytest.raises(ValueError, match="multiple rows"):
        store.merge(dup, "c", "t", ["k"])
    drift = td.TableFrame.from_dict(spark, {"k": [9], "v": ["z"], "x": [1]})
    with pytest.raises(SchemaMismatchError):
        store.merge(drift, "c", "t", ["k"])
    # the good path still works after all the failed attempts
    store.merge(up, "c", "t", ["k"])
    assert sorted(tuple(r) for r in
                  store.read(spark, "c", "t").to_spark().collect()) == \
        [(1, "a"), (2, "B"), (3, "C")]
    # r8 ADVICE regression: delete_missing=True is a full SNAPSHOT — the
    # batch IS the table, so it may evolve the schema exactly like a
    # plain write() of the same batch would
    store.merge(drift, "c", "t", ["k"], delete_missing=True)
    snap = store.read(spark, "c", "t").to_spark()
    assert set(snap.columns) == {"k", "v", "x"}
    assert [tuple(r) for r in snap.collect()] == [(9, "z", 1)]


def test_descending_range_is_an_error():
    """Reference version_resolver.rs InvalidRange: the left side of a
    range must be OLDER — a descending range raised nothing before and
    silently swapped the endpoints."""
    import pytest

    hist = ["V1", "V2", "V3"]
    with pytest.raises(VersionResolutionError, match="newer"):
        resolve_refs(hist, parse_versions("HEAD..INITIAL"))
    with pytest.raises(VersionResolutionError, match="newer"):
        resolve_refs(hist, parse_versions("HEAD..HEAD~2"))
    # equal endpoints are a single-version range, not an error
    assert resolve_refs(hist, parse_versions("HEAD..HEAD")) == ["V3"]


def test_fixed_id_accepts_reference_grammar():
    """Reference VERSION_PATTERN (_tableuri.py:26) is [A-Z0-9]{26} — ids
    with I/L/O/U must parse even though our generator never emits them."""
    v = Version.parse("ILOU56789ABCDEFGHIJKLMNOPQ")
    assert v.fixed == "ILOU56789ABCDEFGHIJKLMNOPQ"


def test_transformer_runs_leave_no_persisted_frames(spark, tmp_path,
                                                    cache_state):
    """Leak canary: a self-dependent incremental near-dup transformer
    persists intermediates on every new version of its input; each run's
    invocation scope must release them, so nothing piles up across
    triggers."""
    from tabsdata_spark.llm.dedup import incremental_near_dup

    src = tmp_path / "in"
    src.mkdir()
    store = TableStore(str(tmp_path / "wh"))
    engine = PubSubEngine(spark, store)

    @td.publisher(td.LocalFileSource(str(src / "*.csv"), format="csv"),
                  tables="raw")
    def pub(tf):
        return tf

    @td.transformer(input_tables=["raw", "corpus@HEAD"],
                    output_tables=["corpus"], trigger_by=["raw"])
    def near_dedup(batch, corpus):
        if corpus is None:
            return batch
        hits = incremental_near_dup(batch.to_spark(), corpus.to_spark(),
                                    threshold=0.4, max_bucket=10)
        kept = batch.to_spark().join(hits.select("doc_id"), "doc_id",
                                     "left_anti")
        return td.concat([corpus, td.TableFrame.from_spark(kept)])

    engine.register("c", pub)
    engine.register("c", near_dedup)
    texts = ["the quick brown fox jumps over the lazy dog",
             "spark plans physical operators for every query"]
    for i in range(3):
        for old in src.iterdir():
            os.utime(old, (0, 0))
        (src / f"b{i}.csv").write_text(
            "doc_id,text\n" + "".join(
                f"{10 * i + j},{t} v{i}\n" for j, t in enumerate(texts)))
        reps = engine.trigger("c", "pub")
        assert [r.status for r in reps] == ["committed", "committed"], reps
        assert cache_state() == (True, 0), f"after trigger {i + 1}"
    corpus = store.read(spark, "c", "corpus").to_dict()
    assert sorted(corpus["doc_id"]) == [0, 1]   # later versions near-dups
