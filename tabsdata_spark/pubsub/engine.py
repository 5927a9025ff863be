"""PubSubEngine: register functions, trigger executions, cascade the DAG.

Maps the reference lifecycle (SURVEY §3.2: plan -> version resolution ->
transactions -> scheduler loop -> worker -> callback/commit) onto a local
engine: each function run is one metadata transaction; its output versions
publish atomically on commit and immediately schedule downstream functions
(the pub/sub loop).  On a cluster the run step becomes a spark-submit /
Spark Connect call; the control plane below is engine-agnostic."""

from __future__ import annotations

import json
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..errors import TabsdataSparkError
from ..io.plugin import DestinationPlugin, SourcePlugin
from ..scale import invocation
from ..store.table_store import TableStore
from ..tableframe._system import new_system_id
from ..tableframe.frame import TableFrame
from .decorators import TabsdataFunction
from .graph import TriggerGraph, _norm


@dataclass
class RunReport:
    function: str
    status: str
    published: dict[str, str] = field(default_factory=dict)  # table -> version
    error: str | None = None


class PubSubEngine:
    def __init__(self, spark: SparkSession | None, store: TableStore,
                 sessions: "SessionProvider | None" = None,
                 isolation: "IsolatedWorker | bool | None" = None):
        """`sessions` picks where runs execute (runner.py): default wraps
        the given in-process session; pass ConnectSessionProvider("sc://…")
        to execute runs on a cluster via Spark Connect.

        `isolation` enables per-run venv-subprocess workers (isolation.py)
        for transformers registered WITH a bundle: pass an IsolatedWorker
        or True (one is created under the store root).  Functions without
        a bundle keep running in-process."""
        from .runner import LocalSessionProvider, SessionProvider

        if sessions is None:
            if spark is None:
                raise TabsdataSparkError(
                    "PubSubEngine needs a SparkSession or a SessionProvider")
            sessions = LocalSessionProvider(spark)
        self.sessions: SessionProvider = sessions
        self.spark = sessions.session()
        self.store = store
        self.graph = TriggerGraph()
        if isolation is True:
            from .isolation import IsolatedWorker
            import os

            isolation = IsolatedWorker(os.path.join(store.root, "workers"))
        self.isolation = isolation or None

    # -- registration --------------------------------------------------
    def register(self, collection: str, fn: TabsdataFunction,
                 bundle: str | None = None) -> None:
        """`bundle` — optional self-contained python source defining the
        decorated function (same artifact as the API's POST .../bundle):
        stored under the warehouse and required for isolated execution."""
        self.graph.add(collection, fn)
        self.store.meta.register_function(
            collection, fn.name, fn.kind,
            json.dumps(list(fn.input_tables)),
            json.dumps(list(fn.output_tables)),
            json.dumps(list(fn.trigger_by)) if fn.trigger_by is not None else None,
        )
        if bundle is not None:
            import os

            bdir = os.path.join(self.store.root, "bundles", collection)
            os.makedirs(bdir, exist_ok=True)
            with open(os.path.join(bdir, f"{fn.name}.bundle"), "w") as f:
                f.write(bundle)

    def unregister(self, collection: str, fn_name: str) -> None:
        """Remove a function from the registry and the trigger graph
        (reference FUNCTION_DELETE)."""
        key = f"{collection}/{fn_name}"
        self.store.meta.drop_function(collection, fn_name)
        if key in self.graph.functions:
            del self.graph.functions[key]
            self.graph.outputs.pop(key, None)
            self.graph.dependencies.pop(key, None)
            for table, consumers in list(self.graph.triggers.items()):
                self.graph.triggers[table] = [k for k in consumers if k != key]
                if not self.graph.triggers[table]:
                    del self.graph.triggers[table]

    def _bundle_path(self, collection: str, fn_name: str) -> str | None:
        import os

        p = os.path.join(self.store.root, "bundles", collection,
                         f"{fn_name}.bundle")
        return p if os.path.exists(p) else None

    # -- trigger + cascade ---------------------------------------------
    def trigger(self, collection: str, fn_name: str,
                cascade: bool = True) -> list[RunReport]:
        """Run one function; on success, cascade to downstream functions
        triggered by its published tables (breadth-first, each in its own
        transaction)."""
        key = f"{collection}/{fn_name}"
        if key not in self.graph.functions:
            raise TabsdataSparkError(f"unknown function {key}")
        execution_id = new_system_id()
        reports = [self._run(key, execution_id)]
        if not cascade or reports[0].status != "committed":
            return reports
        frontier = list(reports[0].published.keys())
        ran = {key}
        while frontier:
            plan = [k for k in self.graph.downstream_plan(frontier) if k not in ran]
            frontier = []
            for k in plan:
                ran.add(k)
                rep = self._run(k, execution_id)
                reports.append(rep)
                if rep.status == "committed":
                    frontier.extend(rep.published.keys())
        return reports

    # -- single run ----------------------------------------------------
    def _run(self, key: str, execution_id: str) -> RunReport:
        collection, fn = self.graph.functions[key]
        bundle = self._bundle_path(collection, fn.name)
        if (self.isolation is not None and bundle is not None
                and fn.kind == "transformer"):
            return self._run_isolated(key, execution_id, bundle)
        run_id = self.store.meta.add_run(collection, fn.name, execution_id)
        log = self.store.meta.add_log
        log(run_id, f"worker started: {key} (execution {execution_id})")
        # Per-run working dir for SourcePlugin.resolve: must outlive the
        # whole run, not just input resolution — plugin-returned frames are
        # lazy reads over files written into it, materialized only at
        # store.write below (reference contract: chunk() writes parquet to
        # working_dir and returns paths, _io/plugin.py).
        # The invocation scope owns every frame the function's operators
        # persist (scale.reuse): they materialize inside store.write, so
        # the scope closes only after the commit.
        with tempfile.TemporaryDirectory(prefix="td-run-") as workdir, \
                invocation():
            try:
                inputs, offset_update, pops_offsets = self._load_inputs(
                    collection, fn, workdir)
                result = fn(*inputs)
                outputs = _as_list(result)
                if pops_offsets:
                    # reference FUNCTION offset mode (execution_utils.
                    # update_initial_values): the trailing element of the
                    # return is the new offsets dict; a bare-dict return
                    # publishes nothing (the reference yields `(None,)`)
                    if not outputs or not isinstance(outputs[-1], dict):
                        raise TabsdataSparkError(
                            f"{key}: the source uses initial_values offsets"
                            " — the function must return the new offsets"
                            " dict as its last element")
                    offset_update.update(outputs[-1])
                    outputs = outputs[:-1]
                    if not outputs:
                        # "no new data" run: publish nothing for EVERY output
                        # table.  The reference's update_initial_values yields
                        # a single (None,) regardless of output-table count;
                        # this generalizes that to one None per output table
                        # so multi-output publishers are handled uniformly.
                        outputs = [None] * len(fn.output_tables)
                published: dict[str, str] = {}
                with self.store.transaction() as txn:
                    if fn.kind == "subscriber":
                        self._deliver(fn, outputs)
                    else:
                        if len(outputs) != len(fn.output_tables):
                            raise TabsdataSparkError(
                                f"{key}: returned {len(outputs)} frames for "
                                f"{len(fn.output_tables)} output tables")
                        for frame, table in zip(outputs, fn.output_tables):
                            if frame is None:
                                continue
                            ver = self.store.write(
                                frame, collection, table, txn_id=txn,
                                execution_id=execution_id,
                                partition_by=fn.partition_by.get(table))
                            published[_norm(collection, table)] = ver
                    if offset_update:
                        for k, v in offset_update.items():
                            self.store.meta.set_offset(
                                collection, fn.name, k, v)
                self.store.meta.set_run_status(run_id, "committed")
                log(run_id, "committed: " + (", ".join(
                    f"{t}@{v}" for t, v in published.items())
                    or "(no tables)"))
                return RunReport(key, "committed", published)
            except Exception as e:  # noqa: BLE001 - report, don't crash
                self.store.meta.set_run_status(run_id, "failed")
                log(run_id, f"failed: {type(e).__name__}: {e}")
                return RunReport(key, "failed",
                                 error=f"{type(e).__name__}: {e}")

    # -- isolated run ---------------------------------------------------
    def _run_isolated(self, key: str, execution_id: str,
                      bundle: str) -> RunReport:
        """Transformer run in a venv-subprocess worker (isolation.py):
        the control plane resolves input version PATHS against one
        snapshot, the worker computes in its own process/JVM, and the
        outputs publish here inside one transaction — same atomicity as
        the in-process path, reference's planner/worker split."""
        from ..errors import VersionResolutionError

        collection, fn = self.graph.functions[key]
        run_id = self.store.meta.add_run(collection, fn.name, execution_id)
        log = self.store.meta.add_log
        log(run_id, f"isolated worker started: {key} "
                    f"(execution {execution_id}, bundle {bundle})")
        try:
            snapshot = self.store.meta.snapshot_ts()
            own_outputs = {_norm(collection, t) for t in fn.output_tables}
            inputs: list[list[str] | None] = []
            for uri in fn.input_tables:
                src_coll = _norm(collection, uri).split("/", 1)[0]
                if not self.store.meta.inter_allowed(src_coll, collection):
                    raise TabsdataSparkError(
                        f"collection '{src_coll}' has not granted "
                        f"inter-collection access to '{collection}' "
                        f"(input {uri!r})")
                try:
                    inputs.append(self.store.resolve_uri_paths(
                        uri, default_collection=collection, as_of=snapshot))
                except VersionResolutionError:
                    ver = uri.split("@", 1)[1].upper() if "@" in uri else "HEAD"
                    if ver != "HEAD" or _norm(collection, uri) in own_outputs:
                        inputs.append(None)
                    else:
                        raise
            out_paths = self.isolation.run(bundle, fn.name, inputs)
            if len(out_paths) != len(fn.output_tables):
                raise TabsdataSparkError(
                    f"{key}: worker returned {len(out_paths)} frames for "
                    f"{len(fn.output_tables)} output tables")
            published: dict[str, str] = {}
            with self.store.transaction() as txn:
                for path, table in zip(out_paths, fn.output_tables):
                    if path is None:
                        continue
                    ver = self.store.write(
                        TableFrame._from_df(self.spark.read.parquet(path)),
                        collection, table, txn_id=txn,
                        execution_id=execution_id,
                        partition_by=fn.partition_by.get(table))
                    published[_norm(collection, table)] = ver
            self.store.meta.set_run_status(run_id, "committed")
            log(run_id, "committed: " + (", ".join(
                f"{t}@{v}" for t, v in published.items()) or "(no tables)"))
            return RunReport(key, "committed", published)
        except Exception as e:  # noqa: BLE001 - report, don't crash the loop
            self.store.meta.set_run_status(run_id, "failed")
            log(run_id, f"failed: {type(e).__name__}: {e}")
            return RunReport(key, "failed", error=f"{type(e).__name__}: {e}")

    # -- input resolution ----------------------------------------------
    def _load_inputs(self, collection: str, fn: TabsdataFunction,
                     workdir: str):
        offset_update: dict = {}
        if fn.kind == "publisher":
            src = fn.source
            if isinstance(src, SourcePlugin):
                stored = self.store.meta.get_offsets(collection, fn.name)
                if stored:
                    # persisted offsets from prior runs override the
                    # decorator-provided values (reference plugin.py _run:
                    # `self.initial_values = current_initial_values`)
                    src.initial_values = stored
                dfs = src.resolve(self.spark, workdir)
                pops = (src.offset_return == "function"
                        and bool(src.initial_values))
                if not pops and src.initial_values:
                    offset_update.update(src.initial_values)

                def wrap(d):
                    return TableFrame.from_spark(d) if d is not None else None

                frames = [[wrap(x) for x in d] if isinstance(d, list)
                          else wrap(d) for d in dfs]
                return frames, offset_update, pops
            # file / sql sources
            if hasattr(src, "load"):
                if hasattr(src, "queries") and getattr(
                        src, "initial_values", None) is not None:
                    # SQL sources: persisted :param offsets replace the
                    # decorator-provided initial_values on later runs
                    stored = self.store.meta.get_offsets(collection, fn.name)
                    if stored:
                        src.initial_values = stored
                stored_lm = self.store.meta.get_offset(
                    collection, fn.name, "last_modified")
                if stored_lm is not None and hasattr(src, "initial_last_modified"):
                    src.initial_last_modified = stored_lm
                loaded = src.load(self.spark)
                pops = (getattr(src, "offset_return", "") == "function"
                        and bool(getattr(src, "initial_values", {})))
                if isinstance(loaded, tuple):
                    df, new_off = loaded
                    if new_off is not None:
                        offset_update["last_modified"] = new_off
                    return [TableFrame.from_spark(df)], offset_update, pops
                if isinstance(loaded, list):
                    return ([TableFrame.from_spark(d) for d in loaded],
                            offset_update, pops)
                return [TableFrame.from_spark(loaded)], offset_update, pops
            raise TabsdataSparkError(f"unsupported source {type(src)}")
        # transformer / subscriber: dependency tables from the store.
        # Refs resolve BEFORE this run writes (reference planner resolves
        # "as of triggered_on", SURVEY §3.2.3) — so a self-dependency reads
        # its own table at HEAD = the *previous* run's output.  A ref that
        # cannot resolve yet (first run of a self-dependent accumulator, or
        # an explicitly past-pinned version) yields None, as the reference
        # resolver finds no version as-of the trigger time.
        #
        # ALL inputs resolve against ONE snapshot timestamp (commit-time
        # visibility, committed_history): under concurrent triggers, a
        # commit landing between two input resolutions must not yield a
        # torn read (table A from txn1, table B from txn2) — the serial-
        # izability property the reference scheduler gets from planning.
        from ..errors import VersionResolutionError

        snapshot = self.store.meta.snapshot_ts()

        own_outputs = {_norm(collection, t) for t in fn.output_tables}
        frames = []
        for uri in fn.input_tables:
            # Cross-collection reads need an inter-collection grant from the
            # source collection (reference rest_urls/mod.rs:147-152 +
            # InterCollectionRead authz); same-collection reads are free.
            src_coll = _norm(collection, uri).split("/", 1)[0]
            if not self.store.meta.inter_allowed(src_coll, collection):
                raise TabsdataSparkError(
                    f"collection '{src_coll}' has not granted "
                    f"inter-collection access to '{collection}' "
                    f"(input {uri!r})")
            try:
                frames.append(self.store.read_uri(
                    self.spark, uri, default_collection=collection,
                    as_of=snapshot))
            except VersionResolutionError:
                ver = uri.split("@", 1)[1].upper() if "@" in uri else "HEAD"
                if ver != "HEAD" or _norm(collection, uri) in own_outputs:
                    frames.append(None)
                else:
                    raise
        return frames, offset_update, False

    def _deliver(self, fn: TabsdataFunction, outputs: list) -> None:
        dest = fn.destination
        dfs = [o.df if isinstance(o, TableFrame) else o for o in outputs if o is not None]
        if isinstance(dest, DestinationPlugin):
            with tempfile.TemporaryDirectory() as wd:
                dest.write_all(self.spark, dfs, wd)
            return
        for df in dfs:
            dest.save(df) if not hasattr(dest, "scheme") else dest.save(df, self.spark)


def _as_list(result) -> list:
    if result is None:
        return []
    if isinstance(result, (list, tuple)):
        return list(result)
    return [result]
