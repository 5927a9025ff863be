"""LLM-pipeline operator tests over tiny deterministic corpora."""

import pyspark.sql.functions as F
import pytest

from tabsdata_spark.llm import dedup, multimodal, similarity, textual


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup
        (2, "the quick brown fox leaps over the lazy dog"),          # near dup
        (3, "completely different content about spark engines"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count_and_quality(docs):
    out = {r["doc_id"]: r for r in textual.analyze(docs).collect()}
    assert out[0]["n_tokens"] == 9
    assert out[4]["n_tokens"] == 0
    assert out[0]["stopword_ratio"] > 0.2
    assert out[0]["lang_pred"] == "en"
    assert out[4]["lang_pred"] == "und"
    assert out[0]["fingerprint"] == out[1]["fingerprint"]
    assert out[0]["fingerprint"] != out[2]["fingerprint"]


def test_exact_dedup(docs):
    kept = dedup.dedup_exact(docs)
    assert kept.count() == 4  # one of 0/1 dropped
    ids = {r["doc_id"] for r in kept.collect()}
    assert 0 in ids and 1 not in ids  # min-id representative


def test_duplicate_groups(docs):
    groups = dedup.duplicate_groups(docs, textual.fingerprint(F.col("text"))).collect()
    assert len(groups) == 1
    assert groups[0]["group_size"] == 2
    assert groups[0]["representative"] == 0


def test_minhash_candidates_and_dedup(docs):
    cands = dedup.minhash_lsh_candidates(
        docs, num_hashes=16, bands=8, shingle_size=2).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in cands}
    assert (0, 1) in pairs  # exact dup always a candidate
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cands}
    assert est[(0, 1)] == 1.0
    deduped = dedup.minhash_dedup(docs, threshold=0.9, num_hashes=16, bands=8,
                                  shingle_size=2)
    ids = {r["doc_id"] for r in deduped.collect()}
    assert 1 not in ids and 0 in ids


def test_minhash_near_dup_recall(spark):
    """NEAR dups (not just exact) must collide in minhash buckets.  r2
    regression net: a two-arg transform lambda made every permutation hash
    the array index, so signatures of 98%-overlapping docs shared 0/32
    minhashes and only exact dups were ever candidates."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8).split()
    edited = list(base)
    edited[17] = "mutated"  # one token of ~80 -> jaccard ~0.93
    rows = [(0, " ".join(base)), (1, " ".join(edited)),
            (2, "unrelated text about completely other topics entirely")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cands = dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=8)
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cands.collect()}
    assert (0, 1) in est, "near-dup pair missed by minhash banding"
    assert est[(0, 1)] >= 0.6
    assert (0, 2) not in est and (1, 2) not in est


def test_ngram_jaccard(docs, spark):
    pairs = spark.createDataFrame([(0, 1), (0, 3)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(docs, pairs, n=2).collect()}
    assert out[(0, 1)] == 1.0
    assert out[(0, 3)] == 0.0


def test_simhash_near_dups(docs):
    out = dedup.simhash_candidates(docs, max_hamming=16).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert pairs.get((0, 1)) == 0  # identical text -> identical simhash


def test_embedding_near_dup_and_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 0),
        (3, [0.0, 0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    nd = dedup.embedding_near_dup_pairs(emb, block_col="label", threshold=0.9)
    got = [(r["id_a"], r["id_b"]) for r in nd.collect()]
    assert got == [(0, 1)]

    qs = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    tk = similarity.brute_force_topk(emb, qs, k=2)
    got = [(r["vec_id"], r["rank"]) for r in tk.collect()]
    assert got == [(0, 1), (1, 2)]
    tk2 = similarity.brute_force_topk(emb, qs, k=2, method="numpy")
    assert sorted(r["vec_id"] for r in tk2.collect()) == [0, 1]


def test_lsh_and_ivf_topk_self_hit(spark):
    import random

    random.seed(7)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)], 0) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    lsh = similarity.lsh_topk(emb, qs, k=3, bits=4, num_tables=4)
    by_q = {}
    for r in lsh.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid, hits in by_q.items():
        assert min(hits)[1] == qid  # self is rank-1 (cos=1)
    ivf = similarity.ivf_topk(emb, qs, k=3, nlist=4, nprobe=2)
    for r in ivf.collect():
        if r["rank"] == 1:
            assert r["vec_id"] == r["query_id"]


def test_multimodal_plumbing(spark):
    bins = spark.createDataFrame(
        [(1, b"payload-bytes-1"), (2, None)], "doc_id long, payload binary")
    meta = multimodal.attach_media_metadata(bins).collect()
    sizes = {r["doc_id"]: r["media_meta"]["size_bytes"] for r in meta}
    assert sizes[1] == 15 and sizes[2] is None

    dec = {r["doc_id"]: r for r in multimodal.decode_and_featurize(bins).collect()}
    assert dec[1]["width"] is not None and len(dec[1]["features"]) == 8
    assert dec[2]["width"] is None

    frames = multimodal.sample_frames(bins).collect()
    assert all(r["doc_id"] == 1 for r in frames)
    assert len(frames) >= 1


def test_connected_components_chain_and_cycle(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain 1-2-3-4
         (10, 11), (11, 12), (12, 10),    # cycle
         (20, 21)],
        ["id_a", "id_b"])
    want = {1: 1, 2: 1, 3: 1, 4: 1,
            10: 10, 11: 10, 12: 10,
            20: 20, 21: 20}
    # small-graph fast path (driver union-find)...
    got = {r.node: r.component
           for r in dedup.connected_components(edges).collect()}
    assert got == want
    # ...and the distributed min-label rounds (threshold 0 forces them)
    got_dist = {r.node: r.component
                for r in dedup.connected_components(
                    edges, small_graph_threshold=0).collect()}
    assert got_dist == want


def test_dedup_by_components_transitive(spark):
    df = spark.createDataFrame([(i, f"d{i}") for i in range(6)],
                               ["doc_id", "text"])
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], ["id_a", "id_b"])
    kept = sorted(r.doc_id for r in
                  dedup.dedup_by_components(df, pairs).collect())
    assert kept == [0, 3, 4]


def test_connected_components_star_matches_propagation(spark):
    """large-star/small-star fixpoint == min-label propagation on mixed
    shapes, including a 60-node chain whose diameter exceeds the
    propagation default round budget styles (star converges in O(log^2 n))."""
    import random

    rng = random.Random(7)
    chain = [(i, i + 1) for i in range(100, 160)]          # long chain
    cycle = [(200, 201), (201, 202), (202, 203), (203, 200)]
    star = [(300, 300 + k) for k in range(1, 8)]
    extra = [(rng.randrange(400, 430), rng.randrange(400, 430))
             for _ in range(25)]
    edges = spark.createDataFrame(chain + cycle + star + extra,
                                  ["id_a", "id_b"])
    got_star = {r.node: r.component
                for r in dedup.connected_components_star(
                    edges, small_graph_threshold=0).collect()}
    got_prop = {r.node: r.component
                for r in dedup.connected_components(
                    edges, max_iter=100, small_graph_threshold=0).collect()}
    assert got_star == got_prop
    # fast path agrees with both distributed variants
    got_uf = {r.node: r.component
              for r in dedup.connected_components_star(edges).collect()}
    assert got_uf == got_star
    # chain collapses to its minimum regardless of diameter
    assert all(got_star[i] == 100 for i in range(100, 161))


def test_connected_components_star_string_ids(spark):
    """Star contraction only needs a total order — works on string ids."""
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], ["id_a", "id_b"])
    for kw in ({}, {"small_graph_threshold": 0}):
        got = {r.node: r.component
               for r in dedup.connected_components_star(
                   edges, **kw).collect()}
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_redact_pii_and_hash_split(spark):
    from tabsdata_spark.llm import textual

    df = spark.createDataFrame(
        [(1, "mail me at bob.smith+x@example.co.uk today"),
         (2, "server 192.168.1.250 went down"),
         (3, "call +1 (555) 010-7788 now"),
         (4, "no pii here")],
        ["doc_id", "text"])
    got = {r.doc_id: r.red for r in df.select(
        "doc_id", textual.redact_pii(F.col("text")).alias("red")).collect()}
    assert got[1] == "mail me at [PII] today"
    assert got[2] == "server [PII] went down"
    assert "[PII]" in got[3] and "555" not in got[3]
    assert got[4] == "no pii here"

    # hash split: deterministic, engine-portable, and stable across calls
    out1 = {r.doc_id: (r.b, r.s) for r in df.select(
        "doc_id",
        textual.hash_split(F.col("doc_id")).alias("b"),
        textual.train_val_test(F.col("doc_id")).alias("s")).collect()}
    out2 = {r.doc_id: (r.b, r.s) for r in df.select(
        "doc_id",
        textual.hash_split(F.col("doc_id")).alias("b"),
        textual.train_val_test(F.col("doc_id")).alias("s")).collect()}
    assert out1 == out2
    assert all(0 <= b < 100 for b, _ in out1.values())
    assert all(s in {"train", "val", "test"} for _, s in out1.values())


def test_corpus_tfidf_and_vocab(spark):
    from tabsdata_spark.llm import corpus

    df = spark.createDataFrame(
        [(1, "apple banana apple"),
         (2, "banana cherry"),
         (3, "apple durian durian durian")],
        ["doc_id", "text"])

    vocab = {r.term: (r.n_docs, r.n_occurrences)
             for r in corpus.vocabulary(df).collect()}
    assert vocab["apple"] == (2, 3)
    assert vocab["banana"] == (2, 2)
    assert vocab["cherry"] == (1, 1)
    assert vocab["durian"] == (1, 3)

    top = corpus.vocabulary(df, top=2).orderBy("rank").collect()
    assert [r.term for r in top] == ["apple", "durian"]  # 3 occ each, term tiebreak

    import math
    scored = {(r.doc_id, r.term): r.tfidf for r in corpus.tf_idf(df).collect()}
    # apple: df=2, N=3 -> tf * ln(1.5)
    assert scored[(1, "apple")] == round(2 * math.log(3 / 2), 6)
    assert scored[(3, "durian")] == round(3 * math.log(3 / 1), 6)
    # cherry unique to doc 2 -> highest idf
    top1 = {r.doc_id: r.term
            for r in corpus.tf_idf(df, top_per_doc=1).collect()}
    assert top1[2] == "cherry"
    assert top1[3] == "durian"


def test_corpus_bm25_ranks_denser_docs_higher(spark):
    from tabsdata_spark.llm import corpus

    df = spark.createDataFrame(
        [(1, "spark spark spark engine"),
         (2, "spark is one word here among many other words in a long doc"),
         (3, "nothing relevant at all")],
        ["doc_id", "text"])
    got = {r.doc_id: r.bm25 for r in corpus.bm25(df, ["spark"]).collect()}
    assert set(got) == {1, 2}          # doc 3 matches no term
    assert got[1] > got[2] > 0         # more hits in shorter doc wins


def test_corpus_chunking_bounds(spark):
    from tabsdata_spark.llm import corpus

    df = spark.createDataFrame(
        [(1, "a" * 450), (2, "b" * 10), (3, ""), (4, None)],
        "doc_id long, text string")
    rows = corpus.chunk_documents(df, size=200, stride=150).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 450 chars at stride 150 -> starts 0/150/300, lens 200/200/150
    assert [c.chunk_len for c in sorted(by_doc[1], key=lambda c: c.chunk_idx)] == [200, 200, 150]
    assert [c.chunk_start for c in sorted(by_doc[1], key=lambda c: c.chunk_idx)] == [0, 150, 300]
    assert [c.chunk_len for c in by_doc[2]] == [10]
    # empty/null docs still yield exactly one (empty) chunk
    assert [c.chunk_len for c in by_doc[3]] == [0]
    assert [c.chunk_len for c in by_doc[4]] == [0]
    # overlap: stride < size means consecutive chunks share size-stride chars
    assert by_doc[1][1].chunk_start - by_doc[1][0].chunk_start == 150


def test_corpus_repetition_and_sample(spark):
    from tabsdata_spark.llm import corpus

    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"),      # "a b c" 3-gram heavily repeated
         (2, "all tokens unique here today friend"),
         (3, "x y"),                    # < 3 tokens -> 0.0
         (4, None)],
        "doc_id long, text string")
    got = {r.doc_id: r.f for r in df.select(
        "doc_id",
        corpus.duplicate_ngram_fraction(F.col("text"), n=3).alias("f")).collect()}
    assert got[1] > 0.5
    assert got[2] == 0.0
    assert got[3] == 0.0
    assert got[4] == 0.0

    big = spark.range(0, 1000).withColumnRenamed("id", "k")
    n = corpus.stratified_sample(big, "k", 20).count()
    assert 120 <= n <= 280  # ~20% of 1000, md5-deterministic
    # determinism: same rows every time
    a = {r.k for r in corpus.stratified_sample(big, "k", 20).collect()}
    b = {r.k for r in corpus.stratified_sample(big, "k", 20).collect()}
    assert a == b


def test_decontamination(spark):
    from tabsdata_spark.llm import decontam

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),     # contains bench gram
         (1, "one two three four five six seven"),       # clean
         (2, "alpha beta gamma delta epsilon omega")],   # shares the 5-gram
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    hits = {r.doc_id: r.n_contaminated_grams
            for r in decontam.contamination(docs, bench, n=5).collect()}
    assert 0 in hits and 2 in hits and 1 not in hits
    clean = decontam.decontaminate(docs, bench, n=5)
    assert {r.doc_id for r in clean.collect()} == {1}


def test_boilerplate_ngrams(spark):
    from tabsdata_spark.llm import decontam

    boiler = "this content is provided as is without warranty"
    docs = spark.createDataFrame(
        [(i, f"{boiler} doc number {i} unique tail {i*7}") for i in range(4)]
        + [(9, "entirely different text with no shared five grams at all")],
        "doc_id long, text string")
    out = decontam.boilerplate_ngrams(docs, n=5, min_docs=3).collect()
    grams = {r.gram for r in out}
    assert "this content is provided as" in grams
    assert all(r.n_docs >= 3 for r in out)


def test_mixture_sample_quota_and_determinism(spark):
    from tabsdata_spark.llm import corpus

    rows = [(i, "a" if i < 100 else "b") for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = corpus.mixture_sample(df, "source", "doc_id", fraction=0.2,
                                overrides={"b": 1.0})
    by_src = {}
    for r in out.collect():
        by_src.setdefault(r.source, set()).add(r.doc_id)
    assert len(by_src["a"]) == 20   # exact ceil(0.2 * 100)
    assert len(by_src["b"]) == 50   # override keeps all
    again = {r.doc_id for r in corpus.mixture_sample(
        df, "source", "doc_id", fraction=0.2, overrides={"b": 1.0}).collect()}
    assert again == by_src["a"] | by_src["b"]  # md5-deterministic membership


def test_source_vocab_overlap(spark):
    from tabsdata_spark.llm import corpus

    df = spark.createDataFrame(
        [(0, "s1", "apple banana cherry"),
         (1, "s2", "apple banana durian"),
         (2, "s3", "xylophone zebra")],
        "doc_id long, source string, text string")
    out = {(r.src_a, r.src_b): r for r in
           corpus.source_vocab_overlap(df).collect()}
    assert out[("s1", "s2")].n_shared == 2
    assert abs(out[("s1", "s2")].jaccard - 0.5) < 1e-9  # 2 shared of 4 union
    assert ("s1", "s3") not in out  # zero overlap pairs omitted


def test_composite_quality_filter(spark):
    from tabsdata_spark.llm import textual as tx

    long_ok = " ".join(f"w{i}" for i in range(50))
    repetitive = " ".join(["spam"] * 30 + [f"w{i}" for i in range(20)])
    docs = spark.createDataFrame(
        [(0, long_ok, "en"),            # keep
         (1, "too short", "en"),        # len fail
         (2, long_ok, "fr"),            # lang fail
         (3, repetitive, "en")],        # repetition fail
        "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in tx.composite_quality_filter(docs).collect()}
    assert out[0].keep
    assert not out[1].keep and not out[1].len_ok
    assert not out[2].keep and not out[2].lang_ok
    assert not out[3].keep and not out[3].rep_ok


def test_semantic_dedup(spark):
    from tabsdata_spark.llm import dedup

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [0.99, 0.14], 1),   # same direction, block 1
         (2, [0.0, 1.0], 1),                          # orthogonal, block 1
         (3, [1.0, 0.0], 2)],                         # same dir, other block
        "vec_id long, embedding array<float>, label int")
    kept = {r.vec_id for r in
            dedup.semantic_dedup(emb, block_col="label",
                                 threshold=0.9).collect()}
    assert kept == {0, 2, 3}  # 1 deduped into 0; blocks isolate 3


def test_portable_hash60_matches_python_md5(spark):
    """portable_hash60 must reproduce int(md5(s)[:15], 16) exactly — the
    contract that lets DuckDB oracles recompute fingerprints/simhashes."""
    import hashlib

    from tabsdata_spark.llm import textual as tx

    vals = ["hello", "a b c", "", "Ünïcode ✓", "0"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r.s: r.h for r in
           df.select("s", tx.portable_hash60(F.col("s")).alias("h")).collect()}
    for v in vals:
        expect = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        assert got[v] == expect, v


def test_simhash_hash_modes_agree_on_structure(spark):
    """xxhash64 (production) and portable_hash60 (oracle) simhash modes
    must agree on the dup structure: exact-dup rows collide, unrelated
    rows don't, under either leaf hash."""
    from tabsdata_spark.llm import dedup, textual as tx

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, "completely different words here entirely unrelated text")],
        "doc_id long, text string")
    for fn in (None, tx.portable_hash60):
        kw = {} if fn is None else {"hash_fn": fn}
        sh = {r.doc_id: r.simhash for r in dedup.simhash(docs, **kw).collect()}
        assert sh[0] == sh[1]
        assert sh[0] != sh[2]


def test_unigram_surprisal_math(spark):
    from math import log2

    from tabsdata_spark.llm import corpus

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "b c")], "doc_id long, text string")
    out = {r.doc_id: r for r in corpus.unigram_surprisal(docs).collect()}
    # corpus counts: a=2 b=2 c=1, total=5
    s = {t: -log2(c / 5) for t, c in {"a": 2, "b": 2, "c": 1}.items()}
    assert out[0].n_tokens == 3
    assert abs(out[0].avg_surprisal - (2 * s["a"] + s["b"]) / 3) < 1e-6
    assert abs(out[1].avg_surprisal - (s["b"] + s["c"]) / 2) < 1e-6


def test_gopher_rules_flags(spark):
    from tabsdata_spark.llm import textual as tx

    good = "the data and the model have signal with " + \
        " ".join(f"word{i}" for i in range(60))
    few_stops = " ".join(f"w{i}" for i in range(60))
    short_words = "the of " + " ".join(["a b"] * 40)
    numeric = "the of " + " ".join(str(i * 1111) for i in range(60))
    docs = spark.createDataFrame(
        [(0, good), (1, few_stops), (2, short_words), (3, numeric), (4, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in tx.gopher_quality_rules(docs).collect()}
    assert out[0].keep
    assert not out[1].keep and not out[1].stopword_ok
    assert not out[2].keep and not out[2].word_len_ok
    assert not out[3].keep and not out[3].alpha_ok
    assert not out[4].keep and out[4].n_words == 0


def test_zipf_slope_closed_form(spark):
    import numpy as np

    from tabsdata_spark.llm import corpus

    # freqs 8,4,2,1 over ranks 1..4
    text = " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"])
    docs = spark.createDataFrame([(0, "s", text)],
                                 "doc_id long, source string, text string")
    row = corpus.zipf_slope(docs).collect()[0]
    lr = np.log(np.arange(1, 5, dtype=float))
    lf = np.log(np.array([8.0, 4.0, 2.0, 1.0]))
    expect = np.cov(lr, lf, bias=True)[0, 1] / np.var(lr)
    assert row.n_terms == 4
    assert abs(row.slope - expect) < 1e-6


def test_incremental_dedup_drops_corpus_and_batch_dups(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "alpha  beta"),      # normalizes to corpus dup -> dropped
         (11, "epsilon zeta"),     # fresh
         (12, "epsilon zeta"),     # batch-internal dup -> keep min id only
         (13, "Gamma Delta")],     # case-normalized corpus dup -> dropped
        "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  dedup.incremental_dedup(batch, corpus).collect())
    assert kept == [11]


def test_triangle_count_known_graph(spark):
    # triangle 1-2-3 plus a pendant edge 3-4 and a second triangle 3-4-5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)],
        "id_a long, id_b long")
    out = {r["node"]: r["triangles"]
           for r in dedup.triangle_count(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1}


def test_triangle_count_no_triangles(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    assert dedup.triangle_count(edges).count() == 0


def test_kmeans_separated_clusters(spark):
    from tabsdata_spark.llm import cluster
    # two tight blobs far apart; seeds 0 and 1 land one in each blob
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]),
            (2, [0.1, -0.1]), (3, [9.9, 10.2]),
            (4, [0.05, 0.02]), (5, [10.1, 9.8])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["cluster"]
           for r in cluster.kmeans(emb, k=2, iters=2).collect()}
    assert out[0] == out[2] == out[4] == 0
    assert out[1] == out[3] == out[5] == 1


def test_kmeans_empty_cluster_keeps_seed(spark):
    from tabsdata_spark.llm import cluster
    # both seeds in the same blob: one cluster may end empty after the
    # first update; its centroid must stay put, not crash
    rows = [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.2, 0.1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cluster.kmeans(emb, k=2, iters=2).collect()
    assert len(out) == 3


def test_cap_per_stratum(spark):
    from tabsdata_spark.llm import corpus
    rows = [("a", 1, 100), ("a", 2, 300), ("a", 3, 200),
            ("b", 4, 50), ("b", 5, 50)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_chars long")
    out = corpus.cap_per_stratum(df, "source", "n_chars", cap=2,
                                 tie_col="doc_id")
    kept = sorted((r["source"], r["doc_id"], r["stratum_rank"])
                  for r in out.collect())
    # a: best two by n_chars desc -> ids 2,3; b: tie broken by doc_id -> 4,5
    assert kept == [("a", 2, 1), ("a", 3, 2), ("b", 4, 1), ("b", 5, 2)]


def test_dsir_shifts_selection_toward_target(spark):
    from tabsdata_spark.llm import dsir
    # target domain: cooking text; raw pool: 3 cooking docs among noise
    cooking = ["chop the onions and simmer the broth slowly",
               "whisk the eggs then fold in the flour",
               "season the stew and simmer until tender"]
    noise = ["the market rallied as bond yields fell sharply",
             "the defender cleared the ball off the goal line",
             "quarterly revenue grew despite currency headwinds"]
    target = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(cooking)], "doc_id long, text string")
    raw_rows = [(i, noise[i % 3]) for i in range(6)] + \
               [(10 + i, cooking[i]) for i in range(3)]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    top = dsir.dsir_select(raw, target, k=3).collect()
    assert sorted(r["doc_id"] for r in top) == [10, 11, 12]
    # weights are length-normalized means, so every cooking doc outranks
    # every noise doc decisively
    w = {r["doc_id"]: r["weight"] for r in
         dsir.importance_weights(raw, target).collect()}
    assert min(w[10], w[11], w[12]) > max(w[i] for i in range(6))


def test_dsir_bucket_distribution_counts(spark):
    from tabsdata_spark.llm import dsir
    df = spark.createDataFrame([(1, "a b a b"), (2, "a b")],
                               "doc_id long, text string")
    # bigrams: doc1 -> 'a b','b a','a b'; doc2 -> 'a b'  => 4 features total
    dist = dsir.bucket_distribution(df, n=2, buckets=1000)
    assert dist.agg({"cnt": "sum"}).collect()[0][0] == 4


def test_repeated_span_pairs_flags_verbatim_spans(spark):
    from tabsdata_spark.llm import dedup
    span = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the hills")
    rows = [
        (1, "intro text before " + span + " trailing words here"),
        (2, span + " completely different ending material follows now"),
        (3, "nothing in common with the others at all in this one "
            "document about cooking pasta slowly"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # p=1 keeps every 8-gram -> deterministic detection of the shared span
    out = dedup.repeated_span_pairs(docs, n=8, p=1, min_shared=3).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
    assert out[0].n_shared_spans >= 3


def test_bmp_codec_roundtrip_and_features():
    import numpy as np

    from tabsdata_spark.llm import codecs
    px = np.zeros((10, 7, 3), dtype=np.uint8)
    px[:, :, 0] = 255                                   # solid red
    px[0, 0] = (0, 255, 0)                              # one green pixel
    blob = codecs.encode_bmp(px)
    d = codecs.decode_bmp(blob)
    assert (d["width"], d["height"]) == (7, 10)
    assert (d["pixels"] == px).all()
    assert d["features"][0] > 0.9                       # mean red high
    small = codecs.decode_bmp(codecs.resize_bmp(blob, 3, 4))
    assert (small["width"], small["height"]) == (3, 4)
    assert small["pixels"][2, 1].tolist() == [255, 0, 0]


def test_wav_codec_roundtrip_resample():
    import numpy as np

    from tabsdata_spark.llm import codecs
    t = np.arange(16000) / 16000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)            # 1s of A440
    blob = codecs.encode_wav(sine, 16000)
    d = codecs.decode_wav(blob)
    assert d["sample_rate"] == 16000 and d["duration_ms"] == 1000
    assert abs(d["features"][0] - 0.3536) < 0.01        # rms of 0.5 sine
    down = codecs.decode_wav(codecs.resample_wav(blob, 8000))
    assert down["sample_rate"] == 8000
    assert abs(down["duration_ms"] - 1000) <= 1
    assert abs(down["features"][0] - d["features"][0]) < 0.01


def test_multimodal_real_decode_and_resize(spark):
    import numpy as np

    from tabsdata_spark.llm import codecs, multimodal
    px = np.full((8, 6, 3), 128, dtype=np.uint8)
    bmp = codecs.encode_bmp(px)
    wavb = codecs.encode_wav(np.zeros(800), 8000)
    df = spark.createDataFrame([(1, bytearray(bmp)), (2, bytearray(wavb))],
                               "doc_id long, payload binary")
    got = {r.doc_id: r for r in
           multimodal.decode_and_featurize(df).collect()}
    assert (got[1].width, got[1].height) == (6, 8)      # real BMP dims
    assert got[2].width == 100                          # wav duration_ms
    rs = multimodal.resize_images(
        df.filter(F.col("doc_id") == 1), width=3, height=3).collect()
    out = codecs.decode_bmp(bytes(rs[0].resized))
    assert (out["width"], out["height"]) == (3, 3)


def test_segment_dedup_keeps_first_occurrence(spark):
    """Two docs share a 20-word segment: the later doc loses it; rebuild
    preserves within-doc order; all-duplicate docs survive with empty
    text."""
    from tabsdata_spark.llm.dedup import segment_dedup

    seg_a = " ".join(["alpha"] * 20)       # shared segment
    seg_b = " ".join(["beta"] * 20)
    seg_c = " ".join(["gamma"] * 5)        # short trailing segment
    rows = [
        (1, f"{seg_a} {seg_b} {seg_c}"),   # keeps everything (first)
        (2, f"{seg_b} {seg_a}"),           # both segments already seen
        (3, f"{seg_c}"),                   # short doc, seg_c seen in doc 1?
    ]
    # note: doc 1's third segment IS seg_c (word 41-45), so doc 3 drops it
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in segment_dedup(df).collect()}
    assert out[1]["segs_total"] == 3 and out[1]["segs_kept"] == 3
    assert out[1]["text_dedup"] == f"{seg_a} {seg_b} {seg_c}"
    assert out[2]["segs_total"] == 2 and out[2]["segs_kept"] == 0
    assert out[2]["text_dedup"] == ""
    assert out[3]["segs_total"] == 1 and out[3]["segs_kept"] == 0


def test_avi_codec_roundtrip_and_frame_sampling(spark):
    """Real video path: an uncompressed AVI round-trips bit-exactly per
    frame, decode extracts real dimensions/fps/motion, and the Spark
    frame-sampling operator emits standalone BMPs of the true frames."""
    import numpy as np

    from tabsdata_spark.llm import codecs

    rng = np.random.default_rng(7)
    frames = rng.integers(0, 256, size=(6, 8, 11, 3), dtype=np.uint8)
    avi = codecs.encode_avi(frames, fps=5)

    assert codecs.sniff_format(avi) == "avi"
    meta = codecs.decode_avi(avi)
    assert (meta["width"], meta["height"]) == (11, 8)
    assert meta["n_frames"] == 6 and meta["fps"] == 5
    # every frame survives the container bit-exactly (via BMP re-encode)
    for i in range(6):
        bmp = codecs.avi_frame(avi, meta, i)
        assert np.array_equal(codecs.decode_bmp(bmp)["pixels"], frames[i])
    # motion feature: constant video has zero frame delta
    still = codecs.encode_avi(np.repeat(frames[:1], 4, axis=0), fps=5)
    assert codecs.decode_avi(still)["features"][1] == 0.0
    assert codecs.decode_avi(avi)["features"][1] > 0.0
    # decode_media dispatches video like image/audio
    assert codecs.decode_media(avi)["width"] == 11

    # distributed frame sampling: AVI payloads produce real BMP frames,
    # non-media payloads keep the deterministic fake
    bins = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(b"not-a-video-payload" * 10))],
        "doc_id long, payload binary")
    rows = multimodal.sample_frames(bins, max_frames=4).collect()
    avi_rows = [r for r in rows if r["doc_id"] == 1]
    assert [r["frame_idx"] for r in avi_rows] == [0, 2, 3, 5]  # even spread
    first = codecs.decode_bmp(bytes(avi_rows[0]["frame"]))
    assert np.array_equal(first["pixels"], frames[0])
    assert any(r["doc_id"] == 2 for r in rows)                 # fake path

    # compressed streams (frame chunk smaller than the raw DIB size) are
    # gated with a clear error, like jpeg/png
    import struct

    import pytest as _pytest
    avih = codecs._chunk(b"avih", struct.pack(
        "<IIIIIIIIIIIIII", 100000, 0, 0, 0x10, 1, 0, 1, 10, 11, 8,
        0, 0, 0, 0))
    body = (b"AVI " + codecs._list(b"hdrl", avih)
            + codecs._list(b"movi", codecs._chunk(b"00dc", b"\x01" * 10)))
    bad = b"RIFF" + struct.pack("<I", len(body)) + body
    with _pytest.raises(ValueError, match="uncompressed"):
        codecs.decode_avi(bad)


def test_bigram_lm_score_math(spark):
    from tabsdata_spark.llm import corpus

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "c")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in corpus.bigram_lm_score(df, k=0.5).collect()}
    # corpus bigrams: "a b" x3, "b a" x1 -> c1(a)=3, c1(b)=1, V=2
    import math
    p_ab = (3 + 0.5) / (3 + 0.5 * 2)   # c2(a b)+k / c1(a)+kV
    p_ba = (1 + 0.5) / (1 + 0.5 * 2)
    h0 = -(2 * math.log2(p_ab) + 1 * math.log2(p_ba)) / 3
    assert out[0]["n_bigrams"] == 3
    assert abs(out[0]["cross_entropy"] - round(h0, 6)) < 1e-9
    assert abs(out[0]["perplexity"] - round(2 ** round(h0, 6), 4)) < 1e-9
    assert out[1]["n_bigrams"] == 1
    assert 2 not in out  # single-token doc has no bigrams


def test_bloom_contamination_flags_and_fp_bound(spark):
    from tabsdata_spark.llm import decontam

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(0, "prefix alpha beta gamma delta epsilon suffix"),  # shares 5-grams
         (1, "one two three four five six seven"),             # clean
         (2, "alpha beta gamma delta epsilon zeta")],          # exact bench text
        "doc_id long, text string")
    out = {r["doc_id"]: r["n_bloom_hits"]
           for r in decontam.bloom_contamination(docs, bench).collect()}
    # default (xxhash64) and portable modes agree on this corpus
    port = {r["doc_id"]: r["n_bloom_hits"]
            for r in decontam.bloom_contamination(
                docs, bench, hash_fn=textual.portable_hash60).collect()}
    assert out == port
    assert out[0] >= 1 and out[2] >= 1
    assert 1 not in out  # tiny bench + 64k bits: no false positive here


def test_bloom_bitset_matches_python_model(spark):
    """The executor-side bit test must agree with a pure-python bloom
    model built from the same portable hash."""
    import hashlib

    from tabsdata_spark.llm import decontam

    bench = spark.createDataFrame(
        [(0, "w0 w1 w2 w3 w4 w5 w6")], "doc_id long, text string")
    words = decontam.bloom_bitset(bench, m_bits=1 << 12, k_hashes=2,
                                  hash_fn=textual.portable_hash60)

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    grams = ["w0 w1 w2 w3 w4", "w1 w2 w3 w4 w5", "w2 w3 w4 w5 w6"]
    model = [0] * ((1 << 12) // 64)
    for g in grams:
        for j in range(2):
            p = h60(f"{j}|{g}") % (1 << 12)
            model[p // 64] |= 1 << (p % 64)
    model = [w - (1 << 64) if w >= (1 << 63) else w for w in model]
    assert words == model


def test_normalize_text_rules(spark):
    out = spark.range(1).select(
        textual.normalize_text(
            F.lit("  “Hi” there\t\tnow \n\n\n\n x \x01\x02 ‘y’ – z  "))
        .alias("t")).first()["t"]
    assert out == '"Hi" there now\n\nx \'y\' - z'


def test_normalize_text_null_and_idempotent(spark):
    row = spark.range(1).select(
        textual.normalize_text(F.lit(None).cast("string")).alias("a"),
        textual.normalize_text(
            textual.normalize_text(F.lit(" a  b \n\n\n c "))).alias("b"),
    ).first()
    assert row["a"] == ""
    assert row["b"] == "a b\n\nc"


def test_dedup_keep_best_picks_max_and_keeps_singletons(spark):
    df = spark.createDataFrame(
        [(0, 10), (1, 99), (2, 50), (3, 7), (4, 7)],
        "doc_id long, score long")
    # cluster {0,1,2} via chain 0-1, 1-2; {3,4}; no singletons in pairs
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in
                  dedup.dedup_keep_best(df, pairs, "score").collect())
    assert kept == [1, 3]  # max score in c1; tie in c2 -> min id


def test_token_budget_select_respects_budget(spark):
    from tabsdata_spark.llm import corpus

    rows = [(i, "word " * (10 + i) + ("great text the and of to in is it "
                                      "that for on with" if i % 2 else ""))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    total = df.select(F.sum(textual.token_count(F.col("text")))).first()[0]
    sel = corpus.token_budget_select(df, int(total * 0.5))
    got = sel.agg(F.sum("n_tokens")).first()[0]
    assert got is not None and got <= int(total * 0.5)
    # selection is quality-prefix: every selected bin >= every rejected bin
    sel_bins = {r["qbin"] for r in sel.collect()}
    all_bins = {r["qbin"] for r in
                df.select(F.least(F.lit(99), F.floor(
                    textual.quality_score(F.col("text")) * 100))
                    .cast("int").alias("qbin")).collect()}
    rej = all_bins - sel_bins
    assert not rej or not sel_bins or min(sel_bins) > max(rej)


def test_pq_encode_roundtrip_and_topk_recall(spark):
    from tabsdata_spark.llm import similarity

    import numpy as np
    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 8)).astype(float)
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = similarity.pq_train(emb, m=4, ksub=8, sample=40)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 2
    codes = emb.select(
        similarity.pq_encode(F.col("embedding"), books).alias("c")).collect()
    assert all(len(r["c"]) == 4 and all(0 <= v < 8 for v in r["c"])
               for r in codes)
    # with k = corpus size the PQ candidate set is everything -> top-1 by
    # exact re-rank must contain each query itself
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.pq_topk(emb, qs, k=40, m=4, ksub=8, books=books)
    got = {(r["query_id"], r["vec_id"]): r["rank"] for r in out.collect()}
    for q in range(3):
        assert (q, q) in got  # self is always a candidate


def test_zorder_value_interleave_model(spark):
    from tabsdata_spark.scale import zorder_value

    df = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 200.0, 500.0), (2, 100.0, 0.0), (3, 777.0, -5.0)],
        "id long, x double, y double")
    out = {r["id"]: r["z"] for r in df.select(
        "id", zorder_value([F.col("x"), F.col("y")],
                           [(0.0, 200.0), (0.0, 500.0)], bits=4)
        .alias("z")).collect()}

    def model(x, y):
        qx = int(min(max(x, 0.0), 200.0) / 200.0 * 15)
        qy = int(min(max(y, 0.0), 500.0) / 500.0 * 15)
        z = 0
        for b in range(4):
            z |= ((qx >> b) & 1) << (2 * b)
            z |= ((qy >> b) & 1) << (2 * b + 1)
        return z

    assert out[0] == model(0, 0) == 0
    assert out[1] == model(200, 500) == 255   # all 8 bits set
    assert out[2] == model(100, 0)
    assert out[3] == model(777, -5)           # clamped to (200, 0)


def test_zorder_repartition_ranges_are_locally_sorted(spark):
    from tabsdata_spark.scale import zorder_repartition, zorder_value

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 97).cast("double").alias("x"),
        ((F.col("id") * 31) % 83).cast("double").alias("y"))
    parts = zorder_repartition(df, ["x", "y"], [(0.0, 97.0), (0.0, 83.0)],
                               num_partitions=4, bits=6)
    z = zorder_value([F.col("x"), F.col("y")], [(0.0, 97.0), (0.0, 83.0)], 6)
    got = parts.select(F.spark_partition_id().alias("p"), z.alias("z")) \
        .groupBy("p").agg(F.min("z").alias("lo"), F.max("z").alias("hi")) \
        .orderBy("p").collect()
    assert 1 < len(got) <= 4
    # range partitions on z: consecutive partitions cover disjoint z ranges
    for a, b in zip(got, got[1:]):
        assert a["hi"] <= b["lo"]


def test_incremental_near_dup_flags_cross_side_only(spark):
    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "completely unrelated text about spark physical plans")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog now"),   # ~corpus 0
         (11, "another new document entirely on its own topic"),
         (12, "another brand new document entirely on its own topic")],
        "doc_id long, text string")
    out = dedup.incremental_near_dup(batch, corpus, threshold=0.4,
                                     max_bucket=10)
    rows = {r["doc_id"]: r["match_id"] for r in out.collect()}
    assert rows.get(10) == 0          # flagged against its corpus twin
    # 11 vs 12 are near-dups of each other but both NEW -> not flagged here
    assert 11 not in rows and 12 not in rows


def test_feature_hash_embedding_model(spark):
    from tabsdata_spark.llm import corpus

    df = spark.createDataFrame(
        [(0, "aa bb aa"), (1, "cc")], "doc_id long, text string")
    out = {r["doc_id"]: r["embedding"] for r in
           corpus.feature_hash_embedding(df, dim=4).collect()}
    assert len(out[0]) == 4 and len(out[1]) == 4
    # signed tf sums: |sum of coords| counts tokens up to sign cancellation
    assert sum(abs(v) for v in out[0]) >= 1
    # deterministic across calls
    again = {r["doc_id"]: r["embedding"] for r in
             corpus.feature_hash_embedding(df, dim=4).collect()}
    assert out == again


def test_sparse_cosine_pairs_exact(spark):
    from tabsdata_spark.llm import corpus

    df = spark.createDataFrame(
        [(0, "alpha beta gamma"),
         (1, "alpha beta gamma"),        # identical -> cosine 1.0
         (2, "delta epsilon zeta")],     # disjoint  -> no pair
        "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in corpus.sparse_cosine_pairs(df, min_sim=0.1,
                                               max_df=None).collect()}
    assert out[(0, 1)] == 1.0
    assert (0, 2) not in out and (1, 2) not in out


def test_sparse_cosine_max_df_prunes_stopword_terms(spark):
    from tabsdata_spark.llm import corpus

    # 'the' appears in all docs; with max_df=2 it cannot create pairs
    df = spark.createDataFrame(
        [(0, "the alpha"), (1, "the beta"), (2, "the gamma")],
        "doc_id long, text string")
    assert corpus.sparse_cosine_pairs(df, min_sim=0.01, max_df=2).count() == 0


def test_collocations_pmi_ranks_fixed_phrase_first(spark):
    from tabsdata_spark.llm import corpus

    # "new york" always co-occurs; "the cat" / "the dog" split "the"
    rows = [(i, "new york " + ("the cat " if i % 2 else "the dog ") * 2)
            for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus.collocations(df, min_count=3, top=5).collect()
    assert out[0]["bigram"] == "new york"
    assert all(out[0]["pmi"] >= r["pmi"] for r in out)


def test_incremental_near_dup_indexed_matches_direct(spark, tmp_path):
    """Store the band index in the versioned table store, read it back,
    and get the same flags as the direct (recompute-everything) path."""
    from tabsdata_spark.store.table_store import TableStore

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "completely unrelated text about spark physical plans")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog now"),
         (11, "another new document entirely on its own topic")],
        "doc_id long, text string")

    idx = dedup.corpus_band_index(corpus, max_bucket=10)
    store = TableStore(str(tmp_path / "wh"))
    store.write(idx, "dedup", "band_index")
    stored = store.read(spark, "dedup", "band_index").to_spark()

    direct = {(r["doc_id"], r["match_id"], r["jaccard"]) for r in
              dedup.incremental_near_dup(batch, corpus, threshold=0.4,
                                         max_bucket=10).collect()}
    indexed = {(r["doc_id"], r["match_id"], r["jaccard"]) for r in
               dedup.incremental_near_dup_indexed(
                   batch, corpus, stored, threshold=0.4).collect()}
    assert indexed == direct
    assert (10, 0, direct and sorted(direct)[0][2]) in direct or len(direct) == 1


def test_curate_corpus_one_call(spark):
    from tabsdata_spark.llm.pipeline import curate_corpus

    rows = [
        (0, "the quick brown fox jumps over the lazy dog in the morning sun"),
        (1, "the quick brown fox jumps over the lazy dog in the morning sun"),
        (2, "the quick brown fox jumps over the lazy dog in the morning"),
        (3, "a completely different and quite long document about the spark "
            "engine with the usual words that it needs for the quality gate"),
        (4, "x"),   # fails the quality gate
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out, rep = curate_corpus(docs, near_dup_threshold=0.5, quality_min=0.4)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert rep["input"] == 5
    assert rep["exact_dedup"] == 4            # 0/1 collapse
    assert 4 not in ids                       # quality-gated
    assert len([i for i in ids if i in (0, 2)]) == 1  # near-dups collapsed
    assert 3 in ids
    assert rep["near_dedup"] >= rep["quality_gated"]


def test_dedup_within_window_keeps_first_per_window(spark):
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, m // 60, m % 60)
    rows = [(1, "k", t(5)), (2, "k", t(20)),     # same hour -> keep first
            (3, "k", t(70)),                     # next hour -> kept
            (4, "j", t(6))]                      # other key -> kept
    df = spark.createDataFrame(rows, "event_id long, k string, ts timestamp")
    kept = sorted(r["event_id"] for r in
                  dedup.dedup_within_window(df, ["k"], "ts", "1 hour")
                  .collect())
    assert kept == [1, 3, 4]


def test_edit_distance_pairs_values(spark):
    df = spark.createDataFrame(
        [(0, "kitten"), (1, "sitting"), (2, "kitten")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1), (0, 2)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): (r["edit_distance"], r["edit_similarity"])
           for r in dedup.edit_distance_pairs(df, pairs).collect()}
    assert out[(0, 1)][0] == 3
    assert out[(0, 2)] == (0, 1.0)


def test_containment_pairs_asymmetry(spark):
    # doc 1 is fully contained in doc 0; doc 0 is NOT contained in doc 1
    long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short = "delta epsilon zeta eta theta"
    df = spark.createDataFrame([(0, long), (1, short)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 0)], "id_a long, id_b long")
    r = dedup.containment_pairs(df, pairs, n=3).collect()[0]
    assert r["containment_ab"] == 1.0          # all of short's shingles in long
    assert r["containment_ba"] < 0.5           # long mostly not in short


def test_hard_negatives_band_and_exclusions(spark):
    from tabsdata_spark.llm import similarity

    # q=(1,0); dup=(1,0) cosine 1.0 (excluded: >= hi); hard=(1,1) cos ~0.707;
    # far=(-1,0) cos -1 (excluded: < lo); other-label row excluded by block
    rows = [(0, [1.0, 0.0], "a"), (1, [1.0, 0.001], "a"), (2, [1.0, 1.0], "a"),
            (3, [-1.0, 0.0], "a"), (4, [1.0, 1.0], "b")]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    qs = df.filter("vec_id = 0").select(
        df.vec_id.alias("query_id"), "label", "embedding")
    out = similarity.hard_negatives(df, qs, k=5, lo=0.3, hi=0.95,
                                    block_col="label")
    got = {(r["query_id"], r["vec_id"]): r["cosine"] for r in out.collect()}
    assert set(got) == {(0, 2)}
    assert abs(got[(0, 2)] - 0.707107) < 1e-6


def test_char_entropy_values(spark):
    import math

    df = spark.createDataFrame(
        [(0, "aaaa"), (1, "abab"), (2, "abcd"), (3, ""), (4, None)],
        "doc_id long, text string")
    from tabsdata_spark.llm import textual as tx
    out = {r["doc_id"]: r["e"] for r in df.select(
        "doc_id", F.round(tx.char_entropy(F.col("text")), 6).alias("e")).collect()}
    assert out[0] == 0.0
    assert abs(out[1] - 1.0) < 1e-9
    assert abs(out[2] - 2.0) < 1e-9
    assert out[3] == 0.0 and out[4] == 0.0


def test_weighted_sample_bias_and_determinism(spark):
    from tabsdata_spark.llm import corpus

    # 200 light rows (w=1) + 20 heavy rows (w=1000): a 20-row weighted
    # sample must be dominated by heavy rows (each heavy row carries ~5x
    # the total mass of ALL light rows combined)
    rows = [(i, "s", 1) for i in range(200)] + \
           [(1000 + i, "s", 1000) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    out1 = sorted(r["doc_id"] for r in corpus.weighted_sample(
        df, "w", "doc_id", 20, strata_col="source").collect())
    out2 = sorted(r["doc_id"] for r in corpus.weighted_sample(
        df, "w", "doc_id", 20, strata_col="source").collect())
    assert out1 == out2                      # deterministic
    heavy = sum(1 for d in out1 if d >= 1000)
    assert heavy >= 15                       # weight-proportional
    # zero/null weights excluded entirely
    df0 = spark.createDataFrame([(0, "s", 0), (1, "s", None), (2, "s", 5)],
                                "doc_id long, source string, w long")
    kept = [r["doc_id"] for r in corpus.weighted_sample(
        df0, "w", "doc_id", 3, strata_col="source").collect()]
    assert kept == [2]


def test_weighted_sample_global_path_is_top_k(spark):
    from tabsdata_spark.llm import corpus

    df = spark.createDataFrame([(i, i + 1) for i in range(50)],
                               "doc_id long, w long")
    out = corpus.weighted_sample(df, "w", "doc_id", 5)
    assert out.count() == 5


def test_bpe_train_matches_naive_reference(spark):
    from tabsdata_spark.llm import bpe

    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the rat and the cat"),
         (2, "that hat is the cat hat")], "doc_id long, text string")
    merges = bpe.train_bpe(docs, num_merges=6)

    # independent naive reference: recount pairs from scratch each step
    corpus = ["the cat sat on the mat", "the rat and the cat",
              "that hat is the cat hat"]
    wc = {}
    for t in corpus:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    vocab = {tuple(w): c for w, c in wc.items()}
    expect = []
    for _ in range(6):
        pairs = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expect.append(best)
        m = best[0] + best[1]
        nv = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    out.append(m); i += 2
                else:
                    out.append(syms[i]); i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    assert merges == expect


def test_bpe_encode_semantics(spark):
    from tabsdata_spark.llm import bpe

    # leftmost-first same-pair runs: (a,a) on "aaa" -> ["aa", "a"]
    assert bpe.encode_word("aaa", {("a", "a"): 0}, {}) == ["aa", "a"]
    # min-rank order: with (b,c) ranked before (a,b), "abc" -> ["a", "bc"]
    ranks = {("b", "c"): 0, ("a", "b"): 1}
    assert bpe.encode_word("abc", ranks, {}) == ["a", "bc"]
    # cascading: later rule becomes applicable after an earlier merge
    ranks = {("t", "h"): 0, ("th", "e"): 1}
    assert bpe.encode_word("the", ranks, {}) == ["the"]

    docs = spark.createDataFrame(
        [(0, "The THE the!"), (1, None), (2, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["bpe_tokens"] for r in
           bpe.bpe_encode(docs, [("t", "h"), ("th", "e")]).collect()}
    assert out[0] == ["the"] * 3      # case/punct normalized per clean_tokens
    assert out[1] == [] and out[2] == []


def test_bpe_reconstruction_property(spark):
    from tabsdata_spark.llm import bpe

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .limit(50)
    merges = bpe.train_bpe(docs, num_merges=30, max_vocab_words=1000)
    enc = bpe.bpe_encode(docs, merges)
    rows = enc.select("text", "bpe_tokens").collect()
    assert len(rows) == 50
    for r in rows:
        rebuilt = "".join(r["bpe_tokens"])
        assert rebuilt == "".join(bpe._clean_words(r["text"]))


def test_readability_values(spark):
    from tabsdata_spark.llm import textual as tx

    # "The cat sat." = 3 words, 1 sentence, 3 syllables (1 per word):
    # 0.39*3 + 11.8*1 - 15.59 = -13.25 (clamped only by formula, fine)
    df = spark.createDataFrame(
        [(0, "The cat sat."), (1, None), (2, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["g"] for r in df.select(
        "doc_id", F.round(tx.readability(F.col("text")), 4).alias("g")).collect()}
    assert abs(out[0] - (0.39 * 3 + 11.8 - 15.59)) < 1e-9
    assert out[1] == 0.0 and out[2] == 0.0
    # syllable estimator: vowel groups, floor 1
    s = spark.createDataFrame([("strengths",), ("idea",)], "w string") \
        .select(tx.syllable_estimate(F.col("w")).alias("s")).collect()
    assert [r["s"] for r in s] == [1, 2]


def test_js_divergence_values(spark):
    import math

    from tabsdata_spark.llm import corpus

    df = spark.createDataFrame(
        [(0, "a a b", "A"), (1, "a b b", "B"), (2, "a a b", "C"),
         (3, "x y z", "D")],
        "doc_id long, text string, source string")
    out = {(r["src_a"], r["src_b"]): r["jsd"] for r in
           corpus.js_divergence_sources(df).collect()}

    def kl(p, m):
        return sum(pi * math.log2(pi / mi) for pi, mi in zip(p, m) if pi > 0)

    pa, pb = [2 / 3, 1 / 3], [1 / 3, 2 / 3]
    m = [0.5, 0.5]
    expect = 0.5 * kl(pa, m) + 0.5 * kl(pb, m)
    assert abs(out[("A", "B")] - expect) < 1e-6
    assert out[("A", "C")] == 0.0          # identical distributions
    # disjoint vocabularies -> maximal divergence 1.0 (the pair grid is
    # total; no-shared-term pairs coalesce to the full exclusive mass)
    assert out[("A", "D")] == 1.0


def test_rrf_fuse_known_ranks(spark):
    from tabsdata_spark.llm import corpus

    a = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, score double")
    b = spark.createDataFrame(
        [(3, 100.0), (2, 50.0), (4, 10.0)], "doc_id long, score double")
    out = {r.doc_id: r for r in corpus.rrf_fuse([a, b], k=60).collect()}
    assert out[2].rank_0 == 2 and out[2].rank_1 == 2
    assert out[1].rank_1 is None and out[4].rank_0 is None
    assert out[2].rrf == pytest.approx(2 / 62, abs=1e-9)
    assert out[1].rrf == pytest.approx(1 / 61, abs=1e-9)
    # doc in both lists outranks docs in one list at these depths
    assert out[2].rrf > out[1].rrf > out[3].rrf - 1  # sanity on presence


def test_rrf_fuse_top_n_cut_and_tiebreak(spark):
    from tabsdata_spark.llm import corpus

    # scores tie -> smaller id wins the better rank; top_n=2 drops id 30
    a = spark.createDataFrame(
        [(10, 7.0), (20, 7.0), (30, 6.0)], "doc_id long, score double")
    out = {r.doc_id: r for r in corpus.rrf_fuse([a], top_n=2).collect()}
    assert out[10].rank_0 == 1 and out[20].rank_0 == 2
    assert 30 not in out


def test_semantic_decontaminate_flags_best_bench_match(spark):
    from tabsdata_spark.llm import decontam

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0]), (200, [0.0, 1.0]), (300, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    corp = spark.createDataFrame(
        [(1, [2.0, 0.0]),        # cosine 1.0 with bench 100 AND 300 -> min id
         (2, [1.0, 1.0]),        # cosine ~0.707 with all three
         (3, [-1.0, 0.0])],      # negative cosine, never flagged
        "vec_id long, embedding array<double>")
    out = {r.corpus_id: r for r in decontam.semantic_decontaminate(
        corp, bench, threshold=0.7).collect()}
    assert out[1].bench_id == 100 and out[1].cosine == 1.0
    assert out[2].cosine == pytest.approx(0.707107, abs=1e-6)
    assert 3 not in out


def test_semantic_decontaminate_broadcasts_bench_no_corpus_shuffle(spark):
    from tabsdata_spark.llm import decontam

    emb = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(seed=1), F.rand(seed=2)).alias("embedding"))
    plan = decontam.semantic_decontaminate(
        emb, emb.limit(5))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    # the only exchange is the per-id max partial agg, never a join shuffle
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_padding_waste_buckets_and_truncation(spark):
    from tabsdata_spark.llm import corpus

    docs = spark.createDataFrame(
        [(1, "a b c"),                        # 3 tokens  -> bucket 4
         (2, "a b c d"),                      # 4 tokens  -> bucket 4
         (3, " ".join(["t"] * 7)),            # 7 tokens  -> bucket 8
         (4, " ".join(["t"] * 50))],          # 50 tokens -> top bucket, truncated
        "doc_id long, text string")
    out = {r.bucket: r for r in corpus.padding_waste(
        docs, bucket_bounds=[4, 8]).collect()}
    assert out[4].n_docs == 2 and out[4].real_tokens == 7
    assert out[4].padded_tokens == 8 and out[4].waste_frac == pytest.approx(1 / 8)
    assert out[8].n_docs == 2 and out[8].real_tokens == 7 + 8  # 50 -> capped at 8
    assert out[8].waste_frac == pytest.approx(1 / 16)


def test_mmr_rerank_prefers_diversity_over_pure_relevance(spark):
    # query-relevance order is d1 > d2 > d3, but d2 is a near-duplicate of
    # d1 -- MMR must pick d1 first, then skip d2 for the orthogonal d3
    cand = spark.createDataFrame(
        [(0, 1, 0.99, [1.0, 0.0]),
         (0, 2, 0.98, [1.0, 0.01]),
         (0, 3, 0.60, [0.0, 1.0])],
        "query_id long, vec_id long, rel double, embedding array<double>")
    out = similarity.mmr_rerank(cand, lam=0.5, k=3).collect()
    order = [(r.sel_rank, r.vec_id) for r in sorted(out, key=lambda r: r.sel_rank)]
    assert order == [(1, 1), (2, 3), (3, 2)]
    first = [r for r in out if r.sel_rank == 1][0]
    assert first.mmr_score == pytest.approx(0.5 * 0.99, abs=1e-12)


def test_mmr_rerank_tie_breaks_to_smallest_id_and_caps_at_k(spark):
    cand = spark.createDataFrame(
        [(7, 30, 0.9, [1.0, 0.0]),
         (7, 10, 0.9, [0.0, 1.0]),   # same rel, orthogonal: id 10 wins rank 1
         (7, 20, 0.9, [0.0, 1.0])],
        "query_id long, vec_id long, rel double, embedding array<double>")
    out = sorted(similarity.mmr_rerank(cand, lam=0.75, k=2).collect(),
                 key=lambda r: r.sel_rank)
    # rank 1: rel ties at 0.9 -> smallest id (10); rank 2: 30 (orthogonal
    # to 10) beats 20 (exact duplicate of 10); k=2 stops there
    assert [r.vec_id for r in out] == [10, 30]
    assert len(out) == 2


def test_vocab_coverage_monotone_and_exact(spark):
    from tabsdata_spark.llm import corpus

    # corpus: 'x' *6, 'y' *3, 'z' *1  -> top-1 covers 0.6, top-2 covers 0.9
    docs = spark.createDataFrame(
        [(1, "x x x y"), (2, "x x x y y z")], "doc_id long, text string")
    out = {r.k: r for r in corpus.vocab_coverage(
        docs, ks=[1, 2, 3]).collect()}
    assert out[1].covered_tokens == 6 and out[1].coverage == 0.6
    assert out[2].covered_tokens == 9 and out[2].coverage == 0.9
    assert out[3].covered_tokens == 10 and out[3].coverage == 1.0
    assert all(out[k].total_tokens == 10 for k in (1, 2, 3))


def test_bigram_lm_heldout_backoff_math(spark):
    from tabsdata_spark.llm import corpus

    train = spark.createDataFrame([(1, "a b a c")], "doc_id long, text string")
    test = spark.createDataFrame([(2, "a b x")], "doc_id long, text string")
    r = corpus.bigram_lm_score(test, train_docs=train).collect()[0]
    # model: c2={ab:1, ba:1, ac:1}, c1={a:2, b:1}, V=2, k=0.5
    # "a b": (1+.5)/(2+1) = .5 -> -log2 = 1;  "b x": (0+.5)/(1+1) -> 2
    assert r.n_bigrams == 2
    assert r.cross_entropy == 1.5
    assert abs(r.perplexity - 2 ** 1.5) < 1e-3


def test_bigram_lm_self_train_unchanged_by_refactor(spark, sf_dir):
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    a = corpus.bigram_lm_score(docs).collect()
    b = corpus.bigram_lm_score(docs, train_docs=docs).collect()
    am = {r.doc_id: (r.n_bigrams, r.cross_entropy) for r in a}
    bm = {r.doc_id: (r.n_bigrams, r.cross_entropy) for r in b}
    assert am == bm   # backoff path with full-coverage model == self path


def test_ngram_novelty_fraction(spark):
    from tabsdata_spark.llm import decontam

    ref = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    # doc 2: 3-grams {a b c, b c d, c d x} -> 2 seen, 1 novel
    # doc 3: fully novel
    docs = spark.createDataFrame(
        [(2, "a b c d x"), (3, "p q r s")], "doc_id long, text string")
    out = {r.doc_id: r for r in decontam.ngram_novelty(
        docs, ref, n=3).collect()}
    assert out[2].n_grams == 3 and out[2].n_novel == 1
    assert out[2].novelty == pytest.approx(1 / 3, abs=1e-6)
    assert out[3].novelty == 1.0


def test_cluster_quality_separated_vs_overlapping(spark):
    from tabsdata_spark.llm import cluster

    # two tight, far-apart clusters -> separation >> 1
    rows = [(i, 0, [0.0 + 0.01 * i, 0.0]) for i in range(4)]
    rows += [(10 + i, 1, [10.0 + 0.01 * i, 0.0]) for i in range(4)]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    out = {r.label: r for r in cluster.cluster_quality(emb).collect()}
    assert out[0].n_points == 4 and out[1].n_points == 4
    assert out[0].separation > 100          # ~10 apart vs ~0.005 intra
    assert abs(out[0].nearest_other - 10.0) < 0.1
    # centroid of cluster 0 is x=0.015: intra distances symmetric
    assert out[0].intra_mean == out[1].intra_mean


def test_duplicate_size_histogram_shares(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b a"),          # same normalized fingerprint
         (3, "c"), (4, "c"),
         (5, "unique text")],
        "doc_id long, text string")
    out = {r.cluster_size: r for r in dedup.duplicate_size_histogram(
        docs, textual.fingerprint(F.col("text"))).collect()}
    assert out[2].n_clusters == 2 and out[2].n_docs == 4
    assert out[2].doc_share == 0.8
    assert out[1].n_clusters == 1 and out[1].doc_share == 0.2


def test_char_entropy_non_bmp_codepoints(spark):
    # ADVICE r3 follow-up: verify F.split(text, "") is code-point safe on
    # Spark 4 (surrogate pairs stay whole), so entropy of non-BMP text
    # matches DuckDB's string_split('') code-point semantics.  If the
    # split ever regressed to UTF-16 code units, the emoji would count as
    # TWO distinct surrogate chars and the entropy would shift.
    from tabsdata_spark.llm import textual as tx

    df = spark.createDataFrame(
        [(0, "\U0001F600\U0001F600aa"),          # 2 symbols x2 -> 1 bit
         (1, "\U0001F600\U0001F601ab")],         # 4 distinct -> 2 bits
        "doc_id long, text string")
    out = {r["doc_id"]: r["e"] for r in df.select(
        "doc_id",
        F.round(tx.char_entropy(F.col("text")), 6).alias("e")).collect()}
    assert abs(out[0] - 1.0) < 1e-9
    assert abs(out[1] - 2.0) < 1e-9
    # cross-engine: DuckDB computes the same distribution
    import duckdb
    d = duckdb.sql("""
        WITH c AS (SELECT unnest(string_split('\U0001F600\U0001F600aa', ''))
                   AS ch),
        k AS (SELECT ch, COUNT(*) AS c FROM c GROUP BY ch),
        t AS (SELECT SUM(c) AS n FROM k)
        SELECT log2(CAST(n AS DOUBLE))
               - SUM(c * log2(CAST(c AS DOUBLE))) / n AS e
        FROM k, t GROUP BY n
    """).fetchone()[0]
    assert abs(out[0] - round(d, 6)) < 1e-9


def test_temperature_sample_keeps_smallest_stratum_whole(spark):
    from tabsdata_spark.llm import corpus, textual

    # 80/20 skew: the small stratum's keep threshold is exactly 1.0 so
    # EVERY small row survives; the big stratum thins toward sqrt parity
    rows = [(i, "big" if i < 160 else "small") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    kept = corpus.temperature_sample(
        df, "src", "doc_id", alpha=0.5,
        hash_fn=textual.portable_hash60).collect()
    small = [r for r in kept if r.src == "small"]
    big = [r for r in kept if r.src == "big"]
    assert len(small) == 40                      # keep_p == 1 exactly
    assert 0 < len(big) < 160                    # thinned, not emptied
    # determinism: second run returns the identical set
    kept2 = corpus.temperature_sample(
        df, "src", "doc_id", alpha=0.5,
        hash_fn=textual.portable_hash60).collect()
    assert sorted(r.doc_id for r in kept) == sorted(r.doc_id for r in kept2)


def test_shard_assign_partitions_everything_once(spark):
    from tabsdata_spark import scale
    from tabsdata_spark.llm import textual

    df = spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(500)], "doc_id long, w long")
    out = scale.shard_assign(df, "doc_id", n_shards=8, weight_col="w",
                             hash_fn=textual.portable_hash60).collect()
    assert len(out) == 8
    assert sum(r.n_rows for r in out) == 500
    total_w = sum(r.total_weight for r in out)
    for r in out:
        assert abs(r.balance_ratio - r.total_weight / (total_w / 8)) < 1e-6


def test_clustering_coefficient_triangle_plus_tail(spark):
    from tabsdata_spark.llm import dedup as dd

    # triangle 1-2-3 plus a pendant 3-4: coeffs 1,1,1/3; node 4 excluded
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long")
    got = {r.node: r for r in dd.clustering_coefficient(edges).collect()}
    assert got[1].clustering_coeff == 1.0
    assert got[2].clustering_coeff == 1.0
    assert got[3].degree == 3 and got[3].clustering_coeff == round(1/3, 6)
    assert 4 not in got


def test_power_iteration_pc_recovers_dominant_axis(spark):
    from tabsdata_spark.llm import cluster

    # vectors lie (mostly) along e0: projections ~ +-scale, tiny e1 noise
    rows = [(i, [float(10 * (1 if i % 2 else -1)), float(i % 3 - 1), 0.0])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.projection
           for r in cluster.power_iteration_pc(df, iters=3).collect()}
    # dominant direction is +-e0; projections match the e0 coordinate
    # up to global sign
    import math
    sign = math.copysign(1.0, out[1])
    for i, v in out.items():
        expect = 10 * (1 if i % 2 else -1) * sign
        assert abs(v - expect) < 0.5, (i, v, expect)
    # determinism across runs
    out2 = {r.vec_id: r.projection
            for r in cluster.power_iteration_pc(df, iters=3).collect()}
    assert out == out2


def test_k_anonymity_report_histogram(spark):
    from tabsdata_spark.llm import textual

    # classes: (a,1) x3, (a,2) x3, (b,1) x1 -> sizes {3: 2 classes, 1: 1}
    rows = [("a", 1), ("a", 1), ("a", 1),
            ("a", 2), ("a", 2), ("a", 2), ("b", 1)]
    df = spark.createDataFrame(rows, "q1 string, q2 long")
    got = {r.class_size: r for r in
           textual.k_anonymity_report(df, ["q1", "q2"], k=3).collect()}
    assert got[3].n_classes == 2 and got[3].rows_covered == 6
    assert not got[3].violates_k
    assert got[1].n_classes == 1 and got[1].violates_k


def test_k_anonymize_escalates_to_first_passing_rung(spark):
    from tabsdata_spark.llm import textual

    # rung 0 (exact id) has singletons; rung 1 (id % 2) satisfies k=3
    rows = [(i, "t") for i in range(12)]
    df = spark.createDataFrame(rows, "uid long, typ string")
    out = textual.k_anonymize(
        df,
        [[F.col("uid"), F.col("typ")],
         [F.col("uid") % 2, F.col("typ")],
         [F.lit("*"), F.col("typ")]],
        ["q1", "q2"], k=3).collect()
    assert all(r.level == 1 for r in out)
    assert sorted((r.q1, r.n) for r in out) == [("0", 6), ("1", 6)]


def test_k_anonymize_falls_back_to_last_rung(spark):
    from tabsdata_spark.llm import textual

    rows = [(i, "t") for i in range(4)]
    df = spark.createDataFrame(rows, "uid long, typ string")
    out = textual.k_anonymize(
        df,
        [[F.col("uid")], [F.col("uid") % 3]],   # neither reaches k=5
        ["q1"], k=5).collect()
    assert all(r.level == 1 for r in out)       # most general publishes


def test_power_iteration_pc_empty_input(spark):
    from tabsdata_spark.llm import cluster

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = cluster.power_iteration_pc(df, iters=2)
    assert out.columns == ["vec_id", "projection"]
    assert out.count() == 0


def test_chi2_feature_selection_ranks_discriminative_tokens(spark):
    from tabsdata_spark.llm import corpus

    # 'alpha' appears only in en docs, 'beta' only in fr, 'common' in all
    rows = ([(i, "alpha common filler", "en") for i in range(6)]
            + [(10 + i, "beta common filler", "fr") for i in range(6)])
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = corpus.chi2_feature_selection(df, F.col("lang") == "en",
                                        min_df=2, k=10).collect()
    got = {r.term: r for r in out}
    assert got["alpha"].chi2 == got["beta"].chi2 > 0
    assert got["common"].chi2 == 0.0        # in every doc: no signal
    assert got["alpha"].n_docs == 6


def test_cross_source_dup_matrix_full_grid(spark):
    from tabsdata_spark.llm import dedup

    rows = [(1, "shared text", "a"), (2, "shared  text", "b"),  # ws-normal dup
            (3, "only a", "a"), (4, "only b", "b"), (5, "only c", "c")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r.source_a, r.source_b): (r.shared, r.jaccard)
           for r in dedup.cross_source_dup_matrix(df).collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}  # full grid
    assert got[("a", "b")] == (1, round(1 / 3, 6))   # 2+2-1 distinct fps
    assert got[("a", "c")] == (0, 0.0)


def test_int8_quantize_stats_bounds_and_zero_vector(spark):
    from tabsdata_spark.llm import similarity

    rows = [(1, [127.0, -127.0, 0.0]),       # scale 1.0, exact lattice
            (2, [0.0, 0.0, 0.0])]            # all-zero: no div-by-zero
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in
           similarity.int8_quantize_stats(df).collect()}
    assert got[1].scale == 1.0 and got[1].mse == 0.0
    assert got[2].scale == 0.0 and got[2].mse == 0.0
    # max error of int8 quantization is bounded by scale/2
    df2 = spark.createDataFrame([(3, [1.0, 0.3, -0.7, 0.05])],
                                "vec_id long, embedding array<float>")
    r3 = similarity.int8_quantize_stats(df2).collect()[0]
    assert r3.max_abs_err <= r3.scale / 2 + 1e-9


def test_label_centroid_cosine_orthogonal_and_identical(spark):
    from tabsdata_spark.llm import cluster

    rows = [(1, 0, [1.0, 0.0]), (2, 0, [1.0, 0.0]),
            (3, 1, [0.0, 1.0]),                      # orthogonal to 0
            (4, 2, [2.0, 0.0])]                      # parallel to 0
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>")
    got = {(r.label_a, r.label_b): r.cosine
           for r in cluster.label_centroid_cosine(df).collect()}
    assert got[(0, 1)] == 0.0
    assert got[(0, 2)] == 1.0
    assert got[(1, 2)] == 0.0


def test_pii_density_counts_and_chars(spark):
    from tabsdata_spark.llm import textual

    rows = [("a", "mail me at bob@example.com ok"),
            ("a", "clean text"),
            ("b", "no pii here either")]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r.source: r for r in textual.pii_density(df).collect()}
    assert got["a"].n_with_pii == 1 and got["a"].pii_rate == 0.5
    assert got["a"].chars_delta == len("bob@example.com") - len("[PII]")
    assert got["b"].n_with_pii == 0 and got["b"].chars_delta == 0


def test_stratified_split_report_shares_sum_to_one(spark):
    from tabsdata_spark.llm import textual

    rows = [(i, "en" if i % 2 else "fr") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = textual.stratified_split_report(df, "lang", "doc_id").collect()
    by_stratum: dict = {}
    for r in out:
        by_stratum.setdefault(r.stratum, []).append(r)
    for stratum, recs in by_stratum.items():
        assert abs(sum(r.share for r in recs) - 1.0) < 1e-5
        assert sum(r.n for r in recs) == 100
    # deterministic: same assignment on rerun
    out2 = textual.stratified_split_report(df, "lang", "doc_id").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_pii_pattern_counts_long_form(spark):
    from tabsdata_spark.llm import textual

    rows = [("a", "bob@x.com and 10.0.0.1"), ("a", "clean"),
            ("b", "call +1 (555) 123-4567 now")]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {(r.source, r.pattern): (r.n_docs, r.rate)
           for r in textual.pii_pattern_counts(df).collect()}
    assert got[("a", "email")] == (1, 0.5)
    assert got[("a", "ipv4")] == (1, 0.5)
    assert got[("a", "phone")][0] == 0
    assert got[("b", "phone")] == (1, 1.0)
    assert len(got) == 6                      # 2 sources x 3 patterns


def test_embedding_norm_stats_detects_outlier(spark):
    from tabsdata_spark.llm import similarity

    rows = ([(i, 0, [3.0, 4.0]) for i in range(9)]     # norm 5
            + [(99, 0, [30.0, 40.0])])                  # norm 50: outlier
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>")
    r = similarity.embedding_norm_stats(df).collect()[0]
    assert r.n == 10 and r.p50_norm == 5.0
    assert r.n_outliers == 1
    assert r.mean_norm == round((9 * 5.0 + 50.0) / 10, 6)


def test_distinctive_terms_surfaces_group_vocabulary(spark):
    from tabsdata_spark.llm import corpus

    rows = ([(i, "alpha alpha alpha shared", "a") for i in range(5)]
            + [(10 + i, "beta beta beta shared", "b") for i in range(5)])
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = corpus.distinctive_terms(df, min_count=5, k=2).collect()
    top = {r.source: r.term for r in out if r.rank == 1}
    assert top == {"a": "alpha", "b": "beta"}
    # the shared term never outranks the distinctive one
    for r in out:
        if r.term == "shared":
            assert r.rank > 1


def test_ahash_images_identical_and_modified(spark):
    import numpy as np

    from tabsdata_spark.llm import codecs, multimodal

    base = ((np.arange(16).reshape(16, 1) * 7
             + np.arange(16).reshape(1, 16) * 13) % 256).astype(np.uint8)
    mod = base.copy()
    mod[:8, :8] = 255 - mod[:8, :8]      # invert a quadrant: many bits flip
    rows = [(1, codecs.encode_bmp(np.repeat(base[:, :, None], 3, axis=2))),
            (2, codecs.encode_bmp(np.repeat(base[:, :, None], 3, axis=2))),
            (3, codecs.encode_bmp(np.repeat(mod[:, :, None], 3, axis=2)))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: (r.h1, r.h2, r.ahash_hex)
           for r in multimodal.ahash_images(df).collect()}
    assert got[1] == got[2]                       # identical -> same hash
    assert got[1] != got[3]                       # quadrant edit -> differs
    assert all(0 <= v[0] < 2**32 and 0 <= v[1] < 2**32
               for v in got.values())             # unsigned halves


def test_image_near_dup_pairs_pigeonhole_recall(spark):
    from tabsdata_spark.llm import multimodal

    # hand-built hashes: b differs from a by 2 bits (<=3: must pair);
    # c differs from a in every band by 4+ bits (no shared band, no pair)
    rows = [(1, 0x0000FFFF, 0x12345678),
            (2, 0x0003FFFF, 0x12345678),          # 2 bits off in band 1
            (3, 0xF0F0F00F, 0xEDCBA987)]
    df = spark.createDataFrame(rows, "doc_id long, h1 long, h2 long")
    got = {(r.id_a, r.id_b): r.hamming
           for r in multimodal.image_near_dup_pairs(df, max_hamming=3)
           .collect()}
    assert got == {(1, 2): 2}


def test_strip_markup_rules(spark):
    from tabsdata_spark.llm import textual

    df = spark.createDataFrame(
        [(1, '<p a="1">Hi</p><script>var x = "<b>"</script>'
             '<style>b: c</style>&amp;&lt;x&gt;&#39;q&#39;&nbsp;!')],
        "id long, t string")
    out = df.select(textual.strip_markup(F.col("t")).alias("c")).first()[0]
    assert "Hi" in out and "var x" not in out and "b: c" not in out
    assert "&<x>'q'" in out and "&amp;" not in out
    assert out.endswith(" !")                      # &nbsp; -> space


def test_audio_fingerprint_identical_and_different(spark):
    import io
    import wave

    import numpy as np

    from tabsdata_spark.llm import multimodal

    def wav(pattern):
        v = np.asarray(pattern, dtype="<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(16000)
            wf.writeframes(v.tobytes())
        return buf.getvalue()

    # 4 blocks of 4 samples: energies strictly rising vs strictly falling
    rising = [1] * 4 + [2] * 4 + [3] * 4 + [4] * 4
    falling = rising[::-1]
    df = spark.createDataFrame(
        [(1, wav(rising)), (2, wav(rising)), (3, wav(falling))],
        "doc_id long, payload binary")
    got = {r.doc_id: r.fp for r in
           multimodal.audio_fingerprint(df, blocks=4).collect()}
    assert got[1] == got[2] == 0b111          # every delta rises
    assert got[3] == 0                        # every delta falls


def test_random_projection_deterministic_and_linear(spark):
    from tabsdata_spark.llm import similarity

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0]), (2, [2.0, 0.0, 4.0]), (3, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = similarity.random_projection(emb, out_dim=4)
    rows = {(r.vec_id, r.dim): r.proj for r in out.collect()}
    assert len(rows) == 12
    # zero vector projects to exactly zero in every dim
    assert all(rows[(3, j)] == 0.0 for j in range(4))
    # vec 2 = 2 * vec 1: projection is linear (exact doubling pre-round)
    for j in range(4):
        assert abs(rows[(2, j)] - 2 * rows[(1, j)]) < 2e-6
    # deterministic across invocations
    again = {(r.vec_id, r.dim): r.proj
             for r in similarity.random_projection(emb, out_dim=4).collect()}
    assert rows == again


def test_ndcg_perfect_and_empty_relevance(spark):
    from tabsdata_spark.llm import similarity

    # two tight same-label clusters: every query's same-label mates
    # rank ahead of the other cluster -> NDCG exactly 1.0
    rows = ([(i, [1.0 + 0.001 * i, 0.0], 0) for i in range(4)]
            + [(10 + i, [0.0, 1.0 + 0.001 * i], 1) for i in range(4)]
            + [(99, [0.5, 0.5], 7)])          # label 7: no mates
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    qs = emb.filter(F.col("vec_id").isin(0, 10, 99)).select(
        F.col("vec_id").alias("query_id"), "embedding", "label")
    out = {r.query_id: r for r in
           similarity.ndcg_at_k(emb, qs, k=3).collect()}
    assert out[0].ndcg == 1.0 and out[0].n_rel == 3
    assert out[10].ndcg == 1.0
    assert out[99].n_rel == 0 and out[99].ndcg is None


def test_minhash_calibration_identical_and_disjoint(spark):
    from tabsdata_spark.llm import dedup

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely unrelated text here")],
        "doc_id long, text string")
    out = {(r.a_id, r.b_id): r for r in
           dedup.minhash_jaccard_calibration(docs, num_hashes=8).collect()}
    # identical docs: every signature slot matches, exact jaccard 1
    assert out[(1, 2)].est_jaccard == 1.0
    assert out[(1, 2)].exact_jaccard == 1.0
    assert out[(1, 2)].abs_err == 0.0
    # disjoint shingles: exact 0 (estimate may collide but not here
    # with 60-bit hashes over disjoint grams)
    assert out[(1, 3)].exact_jaccard == 0.0
    assert out[(1, 3)].est_jaccard == 0.0


def test_image_patches_exact_sums(spark):
    import numpy as np

    from tabsdata_spark.llm import codecs, multimodal

    # 8x8 constant-64 image, grid 2 -> 4 patches of 16 px * 3 ch * 64
    px = np.full((8, 8, 3), 64, dtype=np.uint8)
    payload = codecs.encode_bmp(px)
    df = spark.createDataFrame([(1, bytearray(payload))],
                               "doc_id long, payload binary")
    rows = multimodal.image_patches(df, grid=2).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.pixel_sum == 16 * 3 * 64
        assert r.pixel_mean == 64.0


def test_prefix_dim_quality_flags_disagreement(spark):
    from tabsdata_spark.llm import similarity

    # query [1,0,...]: full-dim top1 is vec 2 (identical), but in the
    # 2-dim prefix vec 3 ties it exactly and loses on the id tie-break
    # -> construct so prefix top1 differs: vec 3 matches prefix exactly
    # but diverges later; vec 2 is globally closest.
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]),
         (2, [1.0, 0.0, 0.1, 0.0]),     # near-identical overall
         (3, [1.0, 0.0, 9.0, 0.0])],    # perfect prefix, bad tail
        "vec_id long, embedding array<float>")
    qs = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding")
    r = similarity.prefix_dim_quality(emb, qs, prefix_dim=2).collect()[0]
    assert r.n_candidates == 2
    assert r.top1_full == 2
    # prefix cosine is 1.0 for BOTH candidates -> id tie-break picks 2
    assert r.top1_prefix == 2 and r.top1_agree
    assert r.mean_abs_cos_delta > 0


def test_deterministic_shuffle_stable_and_sharded(spark):
    from tabsdata_spark.llm import corpus

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = corpus.deterministic_shuffle(df, "doc_id", seed=3, n_shards=8)
    b = corpus.deterministic_shuffle(df, "doc_id", seed=3, n_shards=8)
    ra = sorted(map(tuple, a.collect()))
    assert ra == sorted(map(tuple, b.collect()))       # reproducible
    shards = {r.shard for r in a.collect()}
    assert shards <= set(range(8)) and len(shards) > 1
    # ranks within each shard are 1..n_shard dense
    from collections import defaultdict
    per = defaultdict(list)
    for r in a.collect():
        per[r.shard].append(r.rank_in_shard)
    for s, ranks in per.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # a different seed reorders
    c = corpus.deterministic_shuffle(df, "doc_id", seed=4, n_shards=8)
    assert sorted(map(tuple, c.collect())) != ra


def test_bloom_fpr_report_counts(spark):
    from tabsdata_spark.llm import decontam

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    corp = spark.createDataFrame(
        [(2, "one two three four five six seven eight")],
        "doc_id long, text string")
    r = decontam.bloom_fpr_report(corp, bench, n=5).collect()[0]
    assert r.n_bits_set > 0
    assert r.n_neg_probes == 4        # 8 tokens -> 4 distinct 5-grams
    assert 0 <= r.n_false_pos <= r.n_neg_probes
    assert r.expected_fpr < 0.001     # 2 grams * 3 bits in 65536


def test_script_ratio_pure_scripts(spark):
    from tabsdata_spark.llm import textual

    docs = spark.createDataFrame(
        [(1, "en", "hello world"), (2, "zh", "你好世界"),
         (3, "num", "123 456")],
        "doc_id long, lang string, text string")
    out = {r.lang: r for r in
           textual.script_ratio_report(docs).collect()}
    assert out["en"].latin_ratio == 1.0 and out["en"].cjk_ratio == 0.0
    assert out["zh"].cjk_ratio == 1.0 and out["zh"].latin_ratio == 0.0
    assert out["num"].digit_ratio == 1.0


def test_bytes_per_token_multibyte(spark):
    from tabsdata_spark.llm import textual

    docs = spark.createDataFrame(
        [(1, "en", "ab cd"), (2, "zh", "你好 世界")],
        "doc_id long, lang string, text string")
    out = {r.lang: r for r in
           textual.bytes_per_token_report(docs).collect()}
    assert out["en"].total_bytes == 5 and out["en"].total_tokens == 2
    assert out["en"].bytes_per_token == 2.5
    # 4 CJK chars at 3 bytes + 1 space = 13 bytes over 2 tokens
    assert out["zh"].total_bytes == 13
    assert out["zh"].bytes_per_token == 6.5


def test_reciprocal_nn_mutual_only(spark):
    from tabsdata_spark.llm import similarity

    # 1 and 2 are mutual top-1; 3 points at 1 but nobody's top-k
    # includes 3 first... with k=1: (1,2) mutual, (3,?) not mutual
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.7, 0.7])],
        "vec_id long, embedding array<float>")
    out = similarity.reciprocal_nn(emb, k=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.a_id, r.b_id) == (1, 2)
    assert r.rank_ab == 1 and r.rank_ba == 1


def test_corpus_summary_exact_cells(spark):
    from tabsdata_spark.llm import corpus

    docs = spark.createDataFrame(
        [(1, "a b", "en", "s1"), (2, "a b", "en", "s1"),
         (3, "xyz", "fr", "s2"), (4, "", "fr", "s2")],
        "doc_id long, text string, lang string, source string")
    r = corpus.corpus_summary(docs).collect()[0]
    assert r.n_docs == 4 and r.n_langs == 2 and r.n_sources == 2
    assert r.dup_rate == 0.25          # one exact dup pair
    assert r.n_empty == 1
    assert r.total_tokens == 5
    assert r.total_bytes == 3 + 3 + 3 + 0


def test_heaps_law_curve_invariants(spark):
    from tabsdata_spark.llm import corpus

    rows = [(i, f"tok{i % 7} common word{'x' * (i % 3)}")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus.heaps_law(docs, buckets=4).collect()
    out.sort(key=lambda r: r.bucket)
    assert [r.bucket for r in out] == sorted({r.bucket for r in out})
    # cum columns are running sums of the per-bucket columns
    ct = cv = 0
    for r in out:
        ct += r.n_tokens
        cv += r.new_vocab
        assert (r.cum_tokens, r.cum_vocab) == (ct, cv)
    # total vocab == distinct tokens; total tokens == all occurrences
    assert out[-1].cum_vocab == 7 + 1 + 3  # tok0..6, 'common', word/x/xx
    assert out[-1].cum_tokens == 40 * 3


def test_density_grid_counts_and_flags(spark):
    from tabsdata_spark.llm import cluster

    rows = ([(i, [0.05, 0.05, 0.0]) for i in range(6)]
            + [(10, [-0.3, 0.5, 0.0])])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.cell_x, r.cell_y): (r.n, r.dense)
           for r in cluster.density_grid(df, min_pts=5).collect()}
    assert got[(0, 0)] == (6, True)
    assert got[(-2, 2)] == (1, False)


def test_embedding_drift_identical_and_orthogonal(spark):
    from tabsdata_spark.llm import similarity

    a = spark.createDataFrame([(1, [1.0, 0.0]), (2, [1.0, 0.0])],
                              "vec_id long, embedding array<float>")
    same = similarity.embedding_drift(a, a).collect()[0]
    assert (same.n_a, same.n_b) == (2, 2)
    assert same.centroid_cosine == 1.0
    assert same.centroid_norm_ratio == 1.0
    b = spark.createDataFrame([(3, [0.0, 2.0])],
                              "vec_id long, embedding array<float>")
    rot = similarity.embedding_drift(a, b).collect()[0]
    assert rot.centroid_cosine == 0.0
    assert rot.centroid_norm_ratio == 0.5  # |1|/ |2|


def test_doc_keywords_ranks_rare_terms_first(spark):
    from tabsdata_spark.llm import corpus

    docs = spark.createDataFrame(
        [(0, "common common zebra"), (1, "common common yak yak"),
         (2, "common plain")],
        "doc_id long, text string")
    out = corpus.doc_keywords(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term))
    # 'common' appears in all docs -> idf 0 -> never outranks rare terms
    assert sorted(by_doc[0])[0] == (1, "zebra")
    assert sorted(by_doc[1])[0] == (1, "yak")
    assert all(len(v) <= 2 for v in by_doc.values())


def test_code_switch_flags_mixed_language(spark):
    from tabsdata_spark.llm import textual as tx

    docs = spark.createDataFrame(
        [(0, "the cat and the dog is that"),          # pure en
         (1, "the cat el perro la casa and is"),      # en + es markers
         (2, "xyzzy qwerty")],                        # no markers
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           tx.code_switch_report(docs).collect()}
    assert got[0].lang_1 == "en" and got[0].code_switch is False
    assert got[1].lang_1 == "en" and got[1].lang_2 == "es"
    assert got[1].code_switch is True and got[1].s_2 >= 2
    assert got[2].lang_1 == "und" and got[2].code_switch is False


def test_intrinsic_dimension_line_vs_plane(spark):
    import hashlib

    from tabsdata_spark.llm import similarity

    # deterministic pseudo-random coordinates (NOT an equally spaced
    # grid — uniform grids make interior mu = 1 and bias TwoNN)
    def u(seed):
        return int(hashlib.md5(str(seed).encode()).hexdigest()[:8],
                   16) / 0xFFFFFFFF

    line = [(i, [u(i) * 100, 0.0]) for i in range(60)]
    plane = [(i, [u(i) * 100, u(i + 1000) * 100]) for i in range(60)]

    def est(rows):
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")
        qs = emb.filter(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("query_id"), "embedding")
        return similarity.intrinsic_dimension(emb, qs).collect()[0]

    rl, rp = est(line), est(plane)
    assert rl.n_used == 30 and rl.n_degenerate == 0
    assert rl.intrinsic_dim is not None and rp.intrinsic_dim is not None
    # the 2-D cloud must estimate clearly above the 1-D cloud
    assert rp.intrinsic_dim > rl.intrinsic_dim


def test_intrinsic_dimension_excludes_exact_dups(spark):
    from tabsdata_spark.llm import similarity

    rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [5.0, 0.0]),
            (3, [9.0, 3.0])]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>")
    qs = emb.filter(F.col("vec_id") <= 1).select(
        F.col("vec_id").alias("query_id"), "embedding")
    r = similarity.intrinsic_dimension(emb, qs).collect()[0]
    assert r.n_degenerate == 2 and r.n_used == 0
    assert r.intrinsic_dim is None


def test_negative_sampling_table_ranges_partition(spark):
    from tabsdata_spark.llm import corpus

    docs = spark.createDataFrame(
        [(0, "aa aa aa aa bb bb cc")], "doc_id long, text string")
    out = sorted(corpus.negative_sampling_table(docs, top=3).collect(),
                 key=lambda r: r.range_start)
    # ranges tile [0, total) with no gaps
    assert out[0].range_start == 0
    for prev, cur in zip(out, out[1:]):
        assert prev.range_end == cur.range_start
    # 0.75 power: 4 occurrences weigh less than 2x of 2 occurrences
    w = {r.token: r.range_end - r.range_start for r in out}
    assert w["aa"] < 2 * w["bb"]
    assert abs(sum(r.p_sample for r in out) - 1.0) < 1e-5


def test_cosine_histogram_buckets_and_shares(spark):
    from tabsdata_spark.llm import similarity

    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [-1.0, 0.0]),
            (3, [0.0, 1.0])]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>")
    qs = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = {r.bucket: r.n_pairs for r in
           similarity.cosine_histogram(emb, qs, buckets=4).collect()}
    # cos=1 -> top bucket (3); cos=-1 -> bucket 0; cos=0 -> bucket 2
    assert got == {3: 1, 0: 1, 2: 1}


def test_retrieval_eval_external_queries(spark):
    """Queries NOT in the corpus rank against the full corpus with an
    undiscounted n_rel; corpus-member queries keep self-exclusion and
    the n_rel-1 discount (r5 advice finding)."""
    from tabsdata_spark.llm import similarity

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.9, 0.1], "a"),
         (3, [0.0, 1.0], "b"), (4, [0.1, 0.9], "b")],
        "vec_id long, embedding array<double>, label string")
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"),      # member: excludes itself, n_rel=1
         (99, [0.0, 1.0], "b")],    # external: full corpus, n_rel=2
        "query_id long, embedding array<double>, label string")
    got = {r.query_id: r for r in
           similarity.retrieval_eval(corpus, queries, k=3).collect()}
    m, x = got[1], got[99]
    assert (m.n_rel, m.first_rel_rank, m.hit) == (1, 1, True)
    assert (x.n_rel, x.first_rel_rank, x.hit) == (2, 1, True)
    assert x.rr == 1.0


def test_ndcg_external_queries(spark):
    """Same membership contract as retrieval_eval: corpus-member queries
    keep self-exclusion and the n_rel-1 discount; external queries rank
    against the full corpus with undiscounted n_rel."""
    from tabsdata_spark.llm import similarity

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.9, 0.1], "a"),
         (3, [0.0, 1.0], "b"), (4, [0.1, 0.9], "b")],
        "vec_id long, embedding array<double>, label string")
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"),      # member: n_rel = 1
         (99, [0.0, 1.0], "b")],    # external: n_rel = 2
        "query_id long, embedding array<double>, label string")
    got = {r.query_id: r for r in
           similarity.ndcg_at_k(corpus, queries, k=3).collect()}
    assert got[1].n_rel == 1
    assert got[99].n_rel == 2
    # external query's two same-label docs rank 1-2 of 3 -> perfect NDCG
    assert got[99].ndcg == 1.0


def test_retrieval_eval_novel_label_query_surfaces(spark):
    """A query whose label has ZERO corpus occurrences must surface
    n_rel=0 / NULL rank / hit=false, not vanish from the output (r6
    advice: the labn join was inner, silently dropping novel-label
    queries).  A corpus-member query whose queries-frame label appears
    nowhere in the corpus clamps n_rel at 0 (never -1)."""
    from tabsdata_spark.llm import similarity

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.9, 0.1], "a"),
         (3, [0.0, 1.0], "b")],
        "vec_id long, embedding array<double>, label string")
    queries = spark.createDataFrame(
        [(99, [0.5, 0.5], "zz"),    # external, novel label
         (1, [1.0, 0.0], "zz")],    # member, label absent from corpus
        "query_id long, embedding array<double>, label string")
    got = {r.query_id: r for r in
           similarity.retrieval_eval(corpus, queries, k=3).collect()}
    assert set(got) == {99, 1}
    for qid in (99, 1):
        r = got[qid]
        assert (r.n_rel, r.first_rel_rank, r.rr, r.hit) == (
            0, None, None, False)


def test_ndcg_novel_label_query_surfaces(spark):
    """ndcg_at_k honors the same contract: novel-label queries surface
    n_rel=0 and NULL ndcg instead of vanishing (r6 advice)."""
    from tabsdata_spark.llm import similarity

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.9, 0.1], "a"),
         (3, [0.0, 1.0], "b")],
        "vec_id long, embedding array<double>, label string")
    queries = spark.createDataFrame(
        [(99, [0.5, 0.5], "zz"), (1, [1.0, 0.0], "zz")],
        "query_id long, embedding array<double>, label string")
    got = {r.query_id: r for r in
           similarity.ndcg_at_k(corpus, queries, k=3).collect()}
    assert set(got) == {99, 1}
    for qid in (99, 1):
        assert (got[qid].n_rel, got[qid].ndcg) == (0, None)
