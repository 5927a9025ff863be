"""Correctness checks, made apart from the program.

- Query workloads: every op's result is compared with DuckDB running the
  registry's oracle SQL over the same parquet files.  Row order is
  ignored and floats compare with a relative tolerance.  An answer that
  is empty in both engines checks nothing, so it is reported as an error.
- `pubsub_cascade`: properties recomputed in Python and pyarrow from the
  generated batches (see `check_cascades`).

Each check returns a list of problems; an empty list means correct.
`selftest()` shows that every check rejects a corrupted result.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc

REL_TOL = 1e-6
SYSTEM_PREFIX = "$td."


# -- query workloads ---------------------------------------------------------
def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _key(v):
    """Sort key that puts float near-ties together."""
    if isinstance(v, float):
        return (1, "nan" if math.isnan(v) else f"{v:.5e}")
    if isinstance(v, tuple):
        return (2, tuple(_key(x) for x in v))
    return (0 if v is None else 3, str(v))


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (float, int)) or \
            isinstance(b, float) and isinstance(a, (float, int)):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def canon(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple(_key(x) for x in r))


def compare(name: str, got: pa.Table, want_cols: list[str],
            want_rows: list[tuple]) -> list[str]:
    if sorted(got.column_names) != sorted(want_cols):
        return [f"{name}: columns {sorted(got.column_names)} != "
                f"oracle {sorted(want_cols)}"]
    if got.num_rows == 0 and not want_rows:
        return [f"{name}: empty in both engines, so it checks nothing"]
    if got.num_rows != len(want_rows):
        return [f"{name}: {got.num_rows} rows != oracle {len(want_rows)}"]
    cols = got.column_names
    got_rows = list(zip(*(got.column(c).to_pylist() for c in cols)))
    a, b = canon(cols, got_rows), canon(want_cols, want_rows)
    for i, (x, y) in enumerate(zip(a, b)):
        if not _close(x, y):
            return [f"{name}: row {i} differs: {x!r} != oracle {y!r}"[:400]]
    return []


def oracle(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def duck(data_dir: str):
    import duckdb

    import datagen

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_queries(results: dict, oracles: dict, data_dir: str) -> list[str]:
    con = duck(data_dir)
    problems = []
    for name, got in results.items():
        if got is None:
            problems.append(f"{name}: no result")
            continue
        cols, rows = oracle(con, oracles[name])
        problems += compare(name, got, cols, rows)
    return problems


# -- pubsub_cascade ----------------------------------------------------------
def trigrams(text: str) -> frozenset:
    w = text.lower().split()
    if len(w) < 3:
        return frozenset([" ".join(w)])
    return frozenset(zip(w, w[1:], w[2:]))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def _user(t: pa.Table) -> pa.Table:
    return t.select([c for c in t.column_names if not c.startswith(SYSTEM_PREFIX)])


def _ids(t: pa.Table) -> list[int]:
    return sorted(t.column("doc_id").to_pylist())


def source_stats(docs: pa.Table) -> dict:
    """Per-source (n_docs, n_chars), recomputed with pyarrow."""
    t = pa.table({"source": docs.column("source"),
                  "n": pc.utf8_length(docs.column("text"))})
    g = t.group_by("source").aggregate([("n", "count"), ("n", "sum")])
    return {s: (c, n) for s, c, n in zip(g.column("source").to_pylist(),
                                         g.column("n_count").to_pylist(),
                                         g.column("n_sum").to_pylist())}


def _stats_of(t: pa.Table) -> dict:
    return {s: (c, n) for s, c, n in zip(t.column("source").to_pylist(),
                                         t.column("n_docs").to_pylist(),
                                         t.column("n_chars").to_pylist())}


def check_cascades(batches: list[pa.Table], planted: set[int],
                   versions: dict[str, list[pa.Table]], exported: pa.Table,
                   threshold: float) -> list[str]:
    """Checks one round of cascades.  `versions[t]` lists table t's
    committed versions, oldest first, as stored."""
    problems = []
    n = len(batches)
    for t, vs in versions.items():
        if len(vs) != n:
            problems.append(f"{t}: {len(vs)} committed versions for {n} cascades")
    if problems:
        return problems
    raw = [_user(v) for v in versions["docs_raw"]]
    new = [_user(v) for v in versions["docs_new"]]
    corpus = [_user(v) for v in versions["corpus"]]
    stats = [_user(v) for v in versions["source_stats"]]
    text = {i: s for b in batches for i, s in
            zip(b.column("doc_id").to_pylist(), b.column("text").to_pylist())}
    grams: dict[int, frozenset] = {}

    def g(i):
        if i not in grams:
            grams[i] = trigrams(text[i])
        return grams[i]

    kept: list[int] = []
    for c, batch in enumerate(batches):
        want = _ids(batch)
        if _ids(raw[c]) != want:
            problems.append(f"docs_raw v{c} differs from batch {c}")
        new_ids = _ids(new[c])
        if not set(new_ids) <= set(want):
            problems.append(f"docs_new v{c} holds documents not in batch {c}")
        for i, s in zip(new[c].column("doc_id").to_pylist(),
                        new[c].column("text").to_pylist()):
            if text.get(i) != s:
                problems.append(f"docs_new v{c}: text of doc {i} changed")
                break
        dropped = sorted(set(want) - set(new_ids))
        missed = sorted((set(want) & planted) - set(dropped))
        if missed:
            problems.append(f"cascade {c}: planted near-copies kept: {missed[:5]}")
        for d in dropped:
            best = max((jaccard(g(d), g(k)) for k in kept), default=0.0)
            if best < threshold:
                problems.append(f"cascade {c}: doc {d} dropped, best jaccard "
                                f"{best:.3f} with an earlier kept doc")
                break
        kept += new_ids
        if _ids(corpus[c]) != sorted(kept):
            problems.append(f"corpus v{c} != union of docs_new v0..v{c}")
        if _stats_of(stats[c]) != source_stats(new[c]):
            problems.append(f"source_stats v{c} != pyarrow recomputation")
    if _stats_of(_user(exported)) != _stats_of(stats[-1]):
        problems.append("subscriber file != source_stats@HEAD")
    return problems


def reference_round(batches: list[pa.Table], threshold: float) -> dict:
    """A pure-Python run of the cascade DAG (exact Jaccard, no LSH): the
    versions a correct program commits.  Used by the self-test."""
    out = {t: [] for t in ("docs_raw", "docs_new", "corpus", "source_stats")}
    kept_grams: list[frozenset] = []
    kept_rows: list[dict] = []
    for b in batches:
        rows = b.to_pylist()
        new = []
        for r in rows:
            gr = trigrams(r["text"])
            if not any(jaccard(gr, k) >= threshold for k in kept_grams):
                new.append(r)
        kept_grams += [trigrams(r["text"]) for r in new]
        kept_rows += new
        new_t = pa.Table.from_pylist(new, schema=b.schema)
        st = source_stats(new_t)
        out["docs_raw"].append(b)
        out["docs_new"].append(new_t)
        out["corpus"].append(pa.Table.from_pylist(kept_rows, schema=b.schema))
        out["source_stats"].append(pa.table({
            "source": list(st), "n_docs": [v[0] for v in st.values()],
            "n_chars": [v[1] for v in st.values()]}))
    return out


# -- self-test ---------------------------------------------------------------
def selftest() -> list[str]:
    """Feeds each check a correct result, then corrupted ones.  Returns the
    failures of the self-test itself (a check that accepts a corruption or
    rejects a correct result)."""
    import tempfile

    import datagen

    fails = []

    def expect(label, problems, ok):
        if bool(problems) == ok:
            fails.append(f"{label}: {'rejected' if problems else 'accepted'}"
                         f" {'a correct' if ok else 'a corrupted'} result"
                         f" {problems[:1]}")

    # query checks, with DuckDB's own answer standing in for the program's
    with tempfile.TemporaryDirectory() as d:
        datagen.write_tables(d, 7, 0.001)
        con = duck(d)
        sql = ("SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS s"
               " FROM lineitem GROUP BY 1")
        cols, rows = oracle(con, sql)
        good = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
        expect("query ok", compare("q", good, cols, rows), True)
        expect("query ok, rows shuffled",
               compare("q", good.take([2, 0, 1]), cols, rows), True)
        s = good.column("s").to_pylist()
        bumped = good.set_column(2, "s", pa.array([s[0] * (1 + 1e-4)] + s[1:]))
        expect("query value off by 1e-4", compare("q", bumped, cols, rows), False)
        expect("query row lost", compare("q", good.slice(1), cols, rows), False)
        expect("query column renamed", compare(
            "q", good.rename_columns(["l_returnflag", "n", "t"]), cols, rows),
            False)
        empty = oracle(con, "SELECT * FROM region WHERE r_regionkey < 0")
        expect("query empty in both", compare(
            "q", pa.table({c: pa.array([], pa.string()) for c in empty[0]}),
            *empty), False)
        con.close()
    # cascade checks, against the pure-Python reference run
    batches, planted = datagen.doc_batches(3, 3, 40, 0.2)
    ref = reference_round(batches, 0.5)
    ok = check_cascades(batches, planted, ref, ref["source_stats"][-1], 0.5)
    expect("cascade ok", ok, True)

    def corrupt(table, idx, fn):
        bad = {t: list(v) for t, v in ref.items()}
        bad[table][idx] = fn(bad[table][idx])
        return check_cascades(batches, planted, bad, ref["source_stats"][-1], 0.5)

    drop_first = lambda t: t.slice(1)  # noqa: E731
    keep_planted = lambda t: pa.concat_tables(  # noqa: E731
        [t, batches[1].filter(pc.is_in(batches[1].column("doc_id"),
                                        pa.array(sorted(planted))))])
    expect("corpus loses a document", corrupt("corpus", 2, drop_first), False)
    expect("docs_new drops a unique document",
           corrupt("docs_new", 0, drop_first), False)
    expect("planted near-copy kept", corrupt("docs_new", 1, keep_planted), False)

    def bump_stats(t):
        n = t.column("n_docs").to_pylist()
        return t.set_column(1, "n_docs", pa.array([n[0] + 1] + n[1:]))

    expect("aggregate off by one", corrupt("source_stats", 1, bump_stats), False)
    extra = {t: list(v) for t, v in ref.items()}
    extra["corpus"].append(extra["corpus"][-1])
    expect("extra committed version",
           check_cascades(batches, planted, extra, ref["source_stats"][-1], 0.5),
           False)
    expect("subscriber file stale", check_cascades(
        batches, planted, ref, ref["source_stats"][0], 0.5), False)
    return fails
