"""Benchmark entry point.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

One run: start local Spark on every core, make the seeded inputs, warm up
until the code paths are compiled and cached, then repeat whole rounds of
the workload's ops for `--seconds` (and at least MIN_ROUNDS of them),
check every output against a computation made apart from the program, and
print one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the run is traced and the metrics are the per-layer split (tracing.py).
The line before it (`ENV {...}`) records the machine, the versions, the
effective Spark confs and every op's times.  Scratch files live under
perfbench/_work and are removed on exit; span dumps of traced runs go to
perfbench/_out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLK_TCK = os.sysconf("SC_CLK_TCK")
# Untimed warm-up before timing starts: the first round pays JVM JIT,
# codegen and Python worker start-up, the second lets them settle.  For
# pubsub_cascade, the first two cascades of a round already run every
# code path (the second is the first with a corpus to dedup against).
WARM_ROUNDS = {"queries": 2}
WARM_CASCADES = 2
# Timed rounds run for --seconds, and at least this many: three passes put
# the median pass at the same point of the JIT warm-up in every run, slow
# or fast.
MIN_ROUNDS = {"queries": 3, "pubsub_cascade": 1}
CONFS = ["spark.sql.codegen.cache.maxEntries", "spark.sql.shuffle.partitions",
         "spark.cleaner.periodicGC.interval", "spark.sql.adaptive.enabled",
         "spark.driver.memory", "spark.master"]


# -- /proc readings ----------------------------------------------------------
def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()   # fields from `state` on


def process_start_s() -> float:
    """Seconds since boot at which this process started."""
    return int(_stat(os.getpid())[19]) / CLK_TCK


def uptime_s() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


class CpuMeter:
    """CPU seconds of this process and all its descendants (the JVM and the
    Python workers, reaped children included), less the JVM's JIT
    compilation time.  How far JIT compilation has got when timing starts
    depends on the machine's speed during set-up, not on the program, so
    it is kept out of `pass_cpu_s` (the trace reports it as `jvm.jit_s`).
    The compilation MXBean counts it across compiler threads that have
    already exited, which per-thread CPU from /proc would miss."""

    def __init__(self, jit_s):
        self.jit_s = jit_s

    def read(self) -> float:
        total = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            st = _stat(pid)
            if st:
                total += sum(int(x) for x in st[11:15])   # utime stime cutime cstime
        return total / CLK_TCK - self.jit_s()


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_pid() -> int | None:
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def host_clock() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole guest so far, summed over
    its CPUs: busy is user, nice, system, irq and softirq time; stolen is
    the time its CPUs wanted to run while the hypervisor ran another
    guest."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / CLK_TCK, v[7] / CLK_TCK


def unstolen(wall: float, start: tuple[float, float]) -> float:
    """`wall` less the share the hypervisor stole.  The host shares its
    cores with other guests, and while it runs them this guest's busy CPUs
    stand still: with `b` CPU-seconds run and `s` stolen over the
    interval, work that would take t takes t * (b + s) / b.  An idle CPU
    is never stolen from, so the share is taken of busy time, not of all
    CPUs."""
    busy, stolen = (a - b for a, b in zip(host_clock(), start))
    return wall * busy / (busy + stolen) if busy > 0 else wall


# -- timing ------------------------------------------------------------------
class Timer:
    """Wall time (raw and less stolen time) and CPU time of each timed
    op, by op name."""

    def __init__(self, cpu: CpuMeter):
        self.cpu_meter = cpu
        self.raw: dict[str, list[float]] = {}
        self.wall: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}

    def start(self):
        cpu = self.cpu_meter.read()
        return time.perf_counter(), cpu, host_clock()

    def stop(self, mark, key: str) -> None:
        wall = time.perf_counter() - mark[0]
        self.raw.setdefault(key, []).append(wall)
        self.wall.setdefault(key, []).append(unstolen(wall, mark[2]))
        self.cpu.setdefault(key, []).append(self.cpu_meter.read() - mark[1])

    def passes(self) -> int:
        return min((len(v) for v in self.wall.values()), default=0)

    def pass_time(self, samples: dict[str, list[float]]) -> float:
        """One pass: the sum over the ops of each op's median time, which
        a slow spell of the machine spanning two passes does not move."""
        return sum(statistics.median(v) for v in samples.values())


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true",
                   help="show that every correctness check rejects corrupted results")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    if args.selftest:
        import checks

        fails = checks.selftest()
        print("\n".join(fails) or "selftest: every check accepts the correct "
              "result and rejects each corrupted one")
        return 1 if fails else 0
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    t_boot = process_start_s(), host_clock()
    load_start = os.getloadavg()
    cores = len(os.sched_getaffinity(0))
    import tabsdata_spark as td

    from tracing import SparkProbe, Tracer

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # Python workers import the program; Spark's scratch stays in the work dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("TDSPARK_DRIVER_MEM", "2g")
    spark = None
    try:
        spark = td.get_spark(
            app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                        "spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(bool(args.trace))
        probe = SparkProbe(spark)
        ctx = workloads.Ctx(spark, args.seed, work, tracer, probe)
        wl = workloads.WORKLOADS[args.workload]()
        wl.prepare(ctx)
        tracer.install()
        # warm-up failures show again in the timed rounds, where they count
        if args.workload == "pubsub_cascade":
            wl.round(ctx, cascades=WARM_CASCADES)
        else:
            for _ in range(WARM_ROUNDS[args.workload]):
                wl.round(ctx)
        return measure(args, spark, ctx, wl, tracer, probe, t_boot, load_start,
                       cores)
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spark, ctx, wl, tracer, probe, t_boot, load_start, cores) -> int:
    import workloads

    timer = Timer(CpuMeter(probe.jit_s))
    tracer.spans.clear()
    tracer.totals.clear()
    cg0, gc0, jit0 = probe.codegen_state(), probe.gc_s(), probe.jit_s()
    setup_raw = uptime_s() - t_boot[0]
    setup_s = unstolen(setup_raw, t_boot[1])
    ops0 = ctx.n_ops
    clock0 = host_clock()
    failed: list[str] = []
    t_end = time.perf_counter() + args.seconds
    rounds = 0
    while rounds < MIN_ROUNDS[args.workload] or time.perf_counter() < t_end:
        failed += wl.round(ctx, timer)
        rounds += 1
    attempted = ctx.n_ops - ops0
    cg1, gc1, jit1 = probe.codegen_state(), probe.gc_s(), probe.jit_s()
    problems = wl.check(ctx)
    jvm = jvm_pid()
    env = environment(spark, args, cores, load_start)
    if args.trace:
        metrics = layer_metrics(tracer, probe, timer.passes(),
                                (cg0, gc0, jit0), (cg1, gc1, jit1))
        tracer.dump(os.path.join(HERE, "_out", f"spans-{args.workload}.jsonl"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (timer.pass_time(timer.wall), "s"),
            "pass_cpu_s": (timer.pass_time(timer.cpu), "s"),
            "peak_rss_mb": (hwm_mb(os.getpid()) + (hwm_mb(jvm) if jvm else 0), "MB"),
            "store_mb": (workloads.dir_mb(wl.store_dir()), "MB"),
        }
    env["passes"] = timer.passes()
    for name, samples in (("op_wall_s", timer.raw), ("op_s", timer.wall),
                          ("op_cpu_s", timer.cpu)):
        env[name] = {k: [round(x, 4) for x in v] for k, v in samples.items()}
    env["setup_wall_s"] = round(setup_raw, 3)
    env["pass_wall_s"] = round(timer.pass_time(timer.raw), 4)
    env["busy_s"], env["steal_s"] = (round(a - b, 2) for a, b in zip(host_clock(), clock0))
    if getattr(wl, "rdds_after", None):
        env["persistent_rdds_after_cascade"] = wl.rdds_after
    for line in (failed + problems)[:20]:
        print(("FAILED " if line in failed else "WRONG ") + line)
    print("ENV " + json.dumps(env, sort_keys=True))
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": round(v, 6), "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


def layer_metrics(tracer, probe, passes, before, after) -> dict:
    """Per-layer totals of the timed passes, per pass, plus end-of-run
    state."""
    from tracing import PER_LAYER

    (cg0, gc0, jit0), (cg1, gc1, jit1) = before, after
    n = max(1, passes)
    tot = dict(tracer.totals)
    tot["codegen.compiles"] = cg1[0] - cg0[0]
    tot["codegen.compile_s"] = cg1[1] - cg0[1]
    tot["jvm.gc_s"] = gc1 - gc0
    tot["jvm.jit_s"] = jit1 - jit0
    out = {k: (tot.get(k, 0.0) / n, u) for k, u in PER_LAYER.items()}
    sc = probe.scale_state()
    out["scale.persistent_rdds_end"] = (sc["persistent_rdds"], "count")
    out["scale.cache_entries_end"] = (sc["cache_entries"], "count")
    out["scale.storage_mb_end"] = (sc["storage_mb"], "MB")
    out["jvm.heap_used_mb_end"] = (probe.heap_used_mb(), "MB")
    return out


def environment(spark, args, cores, load_start) -> dict:
    import platform

    import pyspark

    conf = {k: spark.conf.get(k, None) for k in CONFS}
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores,
        "spark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "conf": conf, "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
    }


def stop(spark) -> None:
    """Stop Spark and wait until the JVM and every worker it started has
    exited (workers orphaned by the JVM's exit included)."""
    if spark is None:
        return
    started = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - killed below
            pass
    deadline = time.monotonic() + 20
    while _alive(started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _alive(started):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    if proc is not None and proc.poll() is None:
        proc.wait()
    while _alive(started) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def _alive(pids: list[int]) -> list[int]:
    return [p for p in pids if (_stat(p) or ["Z"])[0] != "Z"]


if __name__ == "__main__":
    sys.exit(main())
