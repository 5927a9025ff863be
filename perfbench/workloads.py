"""The two workloads.  Each is a closed loop with one client: the next
op starts only when the previous one has returned.

- `queries`: a fixed list of registry queries, each built through
  `queries`/`tableframe` and brought to the driver through the Arrow path:
  TPC-H-shaped scan/join/aggregate queries, a pandas-UDF Arrow crossing
  that returns 60k rows to the driver, and a window.
- `pubsub_cascade`: publisher -> incremental near-dup transformer over a
  self-dependent corpus -> aggregate transformer -> parquet subscriber,
  driven through `PubSubEngine.trigger`.

A pass is the unit each workload times: one run of the fixed op list for
the query workloads, one cascade for `pubsub_cascade`.  A round is the
unit every run repeats whole: one pass for the query workloads, the fixed
sequence of cascades over a fresh store for `pubsub_cascade`.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

import datagen

SF = 0.01
QUERIES = ["q1_pricing_summary", "q3_shipping_priority", "udf_charge",
           "rank_window"]
# pubsub_cascade inputs: CASCADES batches of BATCH_SIZE documents; from
# the second batch on, DUP_RATE of each batch are planted near-copies.
CASCADES, BATCH_SIZE, DUP_RATE, THRESHOLD = 3, 200, 0.1, 0.5
COLLECTION = "bench"


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, spark, seed: int, work: str, tracer, probe):
        self.spark, self.seed, self.work = spark, seed, work
        self.tracer, self.probe = tracer, probe
        self.n_ops = 0

    def group(self, kind: str) -> str:
        return f"{kind}-{self.n_ops}"

    def set_group(self, kind: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(self.group(kind), kind)


class QueryWorkload:
    """A fixed list of registry queries; one round = one pass over it."""

    def __init__(self, names: list[str]):
        self.names = names
        self.results: dict[str, object] = {}

    def prepare(self, ctx: Ctx) -> None:
        from tabsdata_spark import queries as registry

        self.data = datagen.write_tables(
            os.path.join(ctx.work, "data"), ctx.seed, SF)
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()

    def round(self, ctx: Ctx, timer=None) -> list[str]:
        """One pass over the list; `timer` times each op.  Returns the ops
        that failed."""
        failed = []
        for name in self.names:
            ctx.n_ops += 1
            mark = timer.start() if timer else None
            try:
                self.results[name] = self._op(ctx, name)
            except Exception as e:  # noqa: BLE001 - counted, not fatal
                failed.append(f"{name}: {type(e).__name__}: {e}"[:300])
                self.results[name] = None
            if timer:
                timer.stop(mark, name)
        return failed

    def _op(self, ctx: Ctx, name: str):
        tr = ctx.tracer
        tr.trace_id = f"{name}#{ctx.n_ops}"
        ctx.set_group("construct")
        with tr.span("construct"):
            df = self.queries[name](ctx.spark, self.data)
        ctx.set_group("exec")
        table = df.toArrow()
        if tr.enabled:
            self._trace_op(ctx, df, table)
        return table

    def _trace_op(self, ctx: Ctx, df, table) -> None:
        tr, probe = ctx.tracer, ctx.probe
        for phase, s in probe.phases(df).items():
            tr.add(f"catalyst.{phase}_s", s)
        py = probe.python_nodes(df)
        tr.add("arrow.python_nodes", py["nodes"])
        tr.add("arrow.rows_to_python", py["rows_in"])
        tr.add("arrow.mb_to_python", py["b_to"] / 2**20)
        tr.add("arrow.mb_from_python", py["b_from"] / 2**20)
        tr.add("collect.rows", table.num_rows)
        add_job_stats(ctx)

    def store_dir(self) -> str:
        return self.data

    def check(self, ctx: Ctx) -> list[str]:
        import checks

        return checks.check_queries(self.results, self.oracles, self.data)


def add_job_stats(ctx: Ctx) -> None:
    """Fold the jobs of the current op's construct and exec groups into the
    per-layer counters."""
    tr, probe = ctx.tracer, ctx.probe
    tr.add("construct_jobs", probe.job_stats(ctx.group("construct"))["jobs"])
    js = probe.job_stats(ctx.group("exec"))
    tr.add("exec.jobs", js["jobs"])
    tr.add("exec.stages", js["stages"])
    tr.add("exec.tasks", js["tasks"])
    tr.add("exec.shuffle_write_mb", js["shuffle_b"] / 2**20)
    tr.add("exec.spill_mb", js["spill_b"] / 2**20)
    tr.add("exec.scan_rows", js["scan_rows"])


class CascadeWorkload:
    """CASCADES cascades over a fresh store make one round."""

    def __init__(self):
        self.round_no = 0
        self.problems: list[str] = []
        self.rdds_after: list[int] = []   # persistent RDDs after each traced cascade

    def prepare(self, ctx: Ctx) -> None:
        self.batches, self.planted = datagen.doc_batches(
            ctx.seed, CASCADES, BATCH_SIZE, DUP_RATE)
        bdir = os.path.join(ctx.work, "batches")
        os.makedirs(bdir)
        self.batch_paths = []
        for i, b in enumerate(self.batches):
            self.batch_paths.append(os.path.join(bdir, f"batch{i}.parquet"))
            pq.write_table(b, self.batch_paths[-1])

    def _new_store(self, ctx: Ctx):
        import tabsdata_spark as td
        from tabsdata_spark.llm.dedup import incremental_near_dup
        from tabsdata_spark.pubsub import PubSubEngine
        from tabsdata_spark.store.table_store import TableStore

        if self.round_no:
            shutil.rmtree(self.root)
        self.round_no += 1
        self.root = os.path.join(ctx.work, f"round{self.round_no}")
        self.store = TableStore(os.path.join(self.root, "wh"))
        self.export = os.path.join(self.root, "export", "source_stats")
        engine = PubSubEngine(ctx.spark, self.store)
        tr = ctx.tracer
        feed = _feed_class(td)()
        self.feed = feed

        def user_fn(fn):
            def run(*args):
                ctx.set_group("construct")
                try:
                    with tr.span("pubsub.user_fn"):
                        return fn(*args)
                finally:
                    ctx.set_group("exec")
            run.__name__ = fn.__name__
            return run

        @td.publisher(feed, tables="docs_raw")
        @user_fn
        def ingest(batch):
            return batch

        @td.transformer(input_tables=["docs_raw", "corpus@HEAD"],
                        output_tables=["docs_new", "corpus"],
                        trigger_by=["docs_raw"])
        @user_fn
        def near_dedup(batch, corpus):
            if corpus is None:
                return batch, batch
            hits = incremental_near_dup(batch.to_spark(), corpus.to_spark(),
                                        threshold=THRESHOLD)
            kept = td.TableFrame.from_spark(batch.to_spark().join(
                hits.select("doc_id"), "doc_id", "left_anti"))
            return kept, td.concat([corpus, kept])

        @td.transformer(input_tables=["docs_new"], output_tables=["source_stats"])
        @user_fn
        def source_stats(docs):
            return docs.group_by("source").agg(
                n_docs=td.col("doc_id").count(),
                n_chars=td.col("text").str.len_chars().sum())

        @td.subscriber(tables=["source_stats"],
                       destination=td.LocalFileDestination(self.export,
                                                           format="parquet"))
        @user_fn
        def export(stats):
            return stats

        for fn in (ingest, near_dedup, source_stats, export):
            engine.register(COLLECTION, fn)
        self.engine = engine

    def round(self, ctx: Ctx, timer=None, cascades: int = CASCADES) -> list[str]:
        """Runs the first `cascades` cascades of a round on a fresh store;
        `timer` times each one from trigger to last commit.  The round's
        outputs are checked when it ends, before the next round deletes
        them.  Returns the cascades that failed."""
        self._new_store(ctx)
        failed = []
        mb_seen = 0.0
        for i, path in enumerate(self.batch_paths[:cascades]):
            ctx.n_ops += 1
            self.feed.path = path
            ctx.tracer.trace_id = f"cascade{i}#{ctx.n_ops}"
            ctx.set_group("exec")
            with ctx.tracer.span("cascade"):
                mark = timer.start() if timer else None
                try:
                    rep = self.engine.trigger(COLLECTION, "ingest")
                    bad = [f"{r.function}: {r.error}" for r in rep
                           if r.status != "committed"]
                    if not bad and len(rep) != 4:
                        bad = [f"{len(rep)} function runs"]
                except Exception as e:  # noqa: BLE001 - counted, not fatal
                    bad = [f"{type(e).__name__}: {e}"]
                if timer:
                    timer.stop(mark, "cascade")
            if ctx.tracer.enabled:
                self.rdds_after.append(ctx.probe.scale_state()["persistent_rdds"])
                add_job_stats(ctx)
                mb = dir_mb(os.path.join(self.root, "wh", "c"))
                ctx.tracer.add("store.mb_written", mb - mb_seen)
                mb_seen = mb
            if bad:
                failed.append(f"cascade {i}: " + "; ".join(bad)[:300])
        self.problems += self._check(cascades)
        return failed

    def _check(self, cascades: int) -> list[str]:
        import checks

        versions = {t: [pq.read_table(p) for _v, p in
                        self.store.meta.committed_history(COLLECTION, t)]
                    for t in ("docs_raw", "docs_new", "corpus", "source_stats")}
        try:
            exported = pq.read_table(self.export)
        except (OSError, ValueError) as e:
            return [f"round {self.round_no}: subscriber file unreadable: {e}"]
        return [f"round {self.round_no}: {p}" for p in checks.check_cascades(
            self.batches[:cascades], self.planted, versions, exported, THRESHOLD)]

    def store_dir(self) -> str:
        return os.path.join(self.root, "wh")

    def check(self, ctx: Ctx) -> list[str]:
        return self.problems


def _feed_class(td):
    class BatchFeed(td.SourcePlugin):
        """Publishes the parquet batch the harness points it at."""

        path: str = ""

        def chunk(self, spark, working_dir):
            return self.path

    return BatchFeed


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


WORKLOADS = {
    "queries": lambda: QueryWorkload(QUERIES),
    "pubsub_cascade": CascadeWorkload,
}
