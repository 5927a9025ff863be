"""Driver-style correctness harness: run every queries() entry on Spark and
its oracle_sql() on DuckDB, compare row count, sorted column names, and an
order-insensitive value multiset (rounded).

Usage: python tools/check_queries.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_val(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm_val(x) for x in v)
    return v


def _sort_key(t):
    return tuple((x is None, str(type(x)), str(x)) for x in t)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm_val(r[i]) for i in order) for r in rows), key=_sort_key
    )


def norm_raw(v):
    """Like norm_val but floats keep full precision (for bit-exactness
    audits)."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, list):
        return tuple(norm_raw(x) for x in v)
    return norm_val(v)


def canon_raw(rows, cols):
    """Rows sorted by the ROUNDED canonical key (aligns across engines even
    when raw floats differ in the last ulp) but carrying RAW float values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    pairs = [
        (tuple(norm_val(r[i]) for i in order), tuple(norm_raw(r[i]) for i in order))
        for r in rows
    ]
    pairs.sort(key=lambda p: _sort_key(p[0]))
    return [p[1] for p in pairs]


def _flat_floats(t):
    for x in t:
        if isinstance(x, tuple):
            yield from _flat_floats(x)
        elif isinstance(x, float):
            yield x
        else:
            yield None


def ulp_report(sc, dc):
    """Max float discrepancy between raw-value row sets that already compare
    equal under round(9): bit-identical floats => hash-proof under ANY
    driver normalizer (str/repr/bit-hash alike).  Returns (n_cells,
    n_diff, max_abs_diff, example)."""
    n_cells = n_diff = 0
    max_d = 0.0
    example = None
    for a_row, b_row in zip(sc, dc):
        for a, b in zip(_flat_floats(a_row), _flat_floats(b_row)):
            if isinstance(a, float) and isinstance(b, float):
                n_cells += 1
                if a != b:
                    n_diff += 1
                    d = abs(a - b)
                    if d > max_d:
                        max_d, example = d, (a, b)
    return n_cells, n_diff, max_d, example


def compare_job(srows, scols, drows, dcols, exact):
    """Full value comparison for one query — runs in a worker process so
    the (pure-Python, GIL-bound) canonicalization of wide 600k-row results
    overlaps with the next query's Spark/DuckDB execution.  The compare
    logic is byte-identical to the former inline path."""
    problems = []
    sc, dc = canon(srows, scols), canon(drows, dcols)
    if sc != dc:
        diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
        problems.append(f"values differ; first diffs: {diffs}")
    note = ""
    if not problems and exact:
        rc_s, rc_d = canon_raw(srows, scols), canon_raw(drows, dcols)
        n_cells, n_diff, max_d, ex = ulp_report(rc_s, rc_d)
        if n_diff:
            note = (f"  [NOT bit-exact: {n_diff}/{n_cells} float"
                    f" cells differ, max {max_d:.3e} e.g. {ex}]")
        elif n_cells:
            note = f"  [bit-exact: {n_cells} float cells]"
    return problems, note


def main():
    args = [a for a in sys.argv[1:] if a not in ("--vanilla", "--exact")]
    vanilla = "--vanilla" in sys.argv[1:]
    exact = "--exact" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    import tabsdata_spark as td
    from tabsdata_spark.scale import invocation

    if vanilla:
        # Driver-parity mode: a plain Spark 4 session (ANSI on, no legacy
        # confs).  Every registered query must pass here, not just under
        # the tuned get_spark() session.  Core count is NOT a SQL conf —
        # local[16] keeps the default 200-partition shuffles/state stores
        # (the parity-relevant part) while halving sweep wall-clock on
        # the 32-CPU box.
        from pyspark.sql import SparkSession

        spark = (SparkSession.builder.master("local[16]")
                 .appName("check-queries-vanilla").getOrCreate())
    else:
        spark = td.get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    passed = failed = rows_only = 0
    import time as _time
    from concurrent.futures import ProcessPoolExecutor

    t_all = _time.monotonic()
    from concurrent.futures.process import BrokenProcessPool

    pool = ProcessPoolExecutor(max_workers=8)
    pending = []  # (name, nrows, t_spark, t_oracle, future) in query order
    MAX_PENDING = 16  # bound the pickled-result backlog in the parent

    def drain(block: bool) -> tuple[int, int]:
        """Print finished comparisons in query order.  Non-blocking drain
        keeps mid-run output flowing (stall visibility); the final
        blocking drain flushes the tail."""
        p = f = 0
        while pending and (block or pending[0][4].done()):
            name, nrows, t_spark, t_oracle, fut = pending.pop(0)
            try:
                problems, note = fut.result()
            except Exception as e:  # worker died (OOM etc.) — one FAIL,
                problems, note = (  # not a crashed sweep
                    [f"compare worker error: {type(e).__name__} "
                     f"{str(e)[:160]}"], "")
            if problems:
                print(f"FAIL  {name}: {'; '.join(problems)}")
                f += 1
            else:
                print(f"OK    {name}: {nrows} rows"
                      f"  [spark {t_spark:.2f}s + oracle {t_oracle:.2f}s]{note}")
                p += 1
        return p, f

    def submit_compare(srows, scols, drows, dcols):
        """Submit a compare job, surviving a dead worker pool: a worker
        death (OOM) raises BrokenProcessPool on every pending future AND
        on all later submits — recreate the pool so only the in-flight
        queries FAIL, not the rest of the sweep.  Falls back to an inline
        compare if the fresh pool is also broken."""
        nonlocal pool
        try:
            return pool.submit(compare_job, srows, scols, drows, dcols, exact)
        except BrokenProcessPool:
            pool.shutdown(wait=False, cancel_futures=True)
            pool = ProcessPoolExecutor(max_workers=8)
            try:
                return pool.submit(compare_job, srows, scols, drows, dcols,
                                   exact)
            except BrokenProcessPool:
                from concurrent.futures import Future

                fut = Future()
                try:
                    fut.set_result(
                        compare_job(srows, scols, drows, dcols, exact))
                except Exception as e:  # pragma: no cover - defensive
                    fut.set_exception(e)
                return fut

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = _time.monotonic()
        try:
            with invocation():
                sdf = fn(spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__} {str(e)[:200]}")
            failed += 1
            continue
        t_spark = _time.monotonic() - t0
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            rows_only += 1
            continue
        t1 = _time.monotonic()  # oracle runtime measured from HERE, not t0
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            dtypes = [str(t) for t in rel.types]
            # Surface-type guard (r3 verdict): DuckDB HUGEINT (e.g.
            # SUM(int) promotes) materializes as float64 under a
            # fetchdf-style driver normalizer ("57.0" vs Spark's "57"),
            # silently failing hash compare even when values agree.
            # Oracle SQL must CAST such outputs to BIGINT.
            hug = [f"{c}:{t}" for c, t in zip(dcols, dtypes)
                   if t in ("HUGEINT", "UHUGEINT")]
            if hug:
                print(f"FAIL  {name}: oracle output surfaces HUGEINT "
                      f"({', '.join(hug)}) — wrap in CAST(... AS BIGINT)")
                failed += 1
                continue
            # Dtype guard (r6 verdict, stream_drift_events): DuckDB
            # to_timestamp() returns TIMESTAMP WITH TIME ZONE; Spark
            # timestamps are naive.  norm_val strips tzinfo, so ONLY a
            # declared-type check catches the driver's tz-aware-vs-naive
            # schema_match red.  Oracle SQL must CAST(... AS TIMESTAMP).
            tz = [f"{c}:{t}" for c, t in zip(dcols, dtypes)
                  if "WITH TIME ZONE" in t]
            if tz:
                print(f"FAIL  {name}: oracle output surfaces tz-aware type "
                      f"({', '.join(tz)}) — wrap in CAST(... AS TIMESTAMP)")
                failed += 1
                continue
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:200]}")
            failed += 1
            continue
        t_oracle = _time.monotonic() - t1
        pre = []
        if len(srows) != len(drows):
            pre.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            pre.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if pre:
            print(f"FAIL  {name}: {'; '.join(pre)}")
            failed += 1
            continue
        while len(pending) >= MAX_PENDING:  # cap pickled-result backlog:
            # block on the OLDEST future only (not a full drain — that
            # would serialize the whole pipeline), then sweep finished ones
            try:
                pending[0][4].exception()
            except Exception:
                pass
            dp, df = drain(block=False)
            passed += dp
            failed += df
        fut = submit_compare(srows, scols, drows, dcols)
        pending.append((name, len(srows), t_spark, t_oracle, fut))
        dp, df = drain(block=False)
        passed += dp
        failed += df

    dp, df = drain(block=True)
    passed += dp
    failed += df
    pool.shutdown()
    print(f"\n{passed} ok, {rows_only} rows-only, {failed} failed"
          f"  [total {_time.monotonic() - t_all:.1f}s]")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
