"""End-to-end: build the index on the synthetic corpus, verify index
invariants and rank-identity against the pure-pandas oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from informationretrieval_en_people_cn_spark.functions.codec import (
    decode_frames,
    encode_frame,
)
from informationretrieval_en_people_cn_spark.plans.kernel import (
    _BucketFrames,
    bm25_idf,
    bucket_upper_bounds,
    score_bucket,
    surviving_buckets,
)

from .oracle import bm25_scores, boolean_match, build_oracle_index, topk


@pytest.fixture(scope="module")
def oracle(corpus_pdf):
    return build_oracle_index(corpus_pdf)


def test_sha256_ingest_invariant(spark, corpus, index_dir):
    """Driver-checked invariant: per-row sha256(content) equality."""
    docs = spark.read.parquet(f"{index_dir}/docs")
    joined = corpus.select("doc_id", F.col("sha256").alias("expected")).join(
        docs.select("doc_id", "sha256"), "doc_id"
    )
    assert joined.count() == corpus.count()
    assert joined.filter(F.col("sha256") != F.col("expected")).count() == 0


def test_index_matches_oracle_postings(spark, index_dir, oracle):
    """Index contract: one or MORE rows per term (hot terms stay sharded
    by doc-range salt); rows are doc-range-disjoint, so concatenating
    them in first_doc order reconstructs the full docID-sorted list."""
    postings_gold, doclen_gold, stats_gold = oracle
    rows = spark.read.parquet(f"{index_dir}/index").collect()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    assert set(by_term) == set(postings_gold)
    for term, rs in by_term.items():
        gold = postings_gold[term]
        rs.sort(key=lambda r: r.first_doc)
        # doc-range disjointness across rows
        docs_parts = [decode_frames(bytes(r.postings)) for r in rs]
        for (d1, _, _), (d2, _, _) in zip(docs_parts, docs_parts[1:]):
            assert int(d1[-1]) < int(d2[0]), term
        docs = np.concatenate([d for d, _, _ in docs_parts]).astype(np.int64)
        tfs = np.concatenate([t for _, t, _ in docs_parts]).astype(np.int64)
        pos = np.concatenate([p for _, _, p in docs_parts]).astype(np.int64)
        # docID-ascending invariant (enables DAAT/WAND)
        assert np.all(np.diff(docs) > 0), term
        assert sum(r.df for r in rs) == len(gold)
        assert sum(r.cf for r in rs) == sum(tf for _, tf, _ in gold)
        assert int(tfs.sum()) == sum(r.cf for r in rs)  # Σtf == cf
        gold_sorted = sorted(gold)
        assert docs.tolist() == [d for d, _, _ in gold_sorted]
        assert tfs.tolist() == [t for _, t, _ in gold_sorted]
        gold_pos = [p for _, _, plist in gold_sorted for p in plist]
        assert pos.tolist() == gold_pos


def test_doclens_and_stats(spark, index_dir, oracle):
    _, doclen_gold, stats_gold = oracle
    docs = spark.read.parquet(f"{index_dir}/docs").collect()
    got = {r.doc_id: r.doclen for r in docs}
    assert got == doclen_gold
    st = spark.read.parquet(f"{index_dir}/stats").collect()[0]
    assert st.n_docs == stats_gold["n_docs"]
    assert st.collection_term_count == stats_gold["total"]
    assert abs(st.avg_doclen - stats_gold["avgdl"]) < 1e-9


def test_blocks_metadata(spark, index_dir):
    rows = spark.read.parquet(f"{index_dir}/index").collect()
    for r in rows:  # per index row (term shard)
        docs, tfs, _ = decode_frames(bytes(r.postings))
        assert len(r.blocks) >= 1
        # every block's last_doc present & ascending; max_tf ≥ any tf
        lasts = [b.last_doc for b in r.blocks]
        assert lasts == sorted(lasts)
        assert lasts[-1] == int(docs[-1])
        assert max(b.max_tf for b in r.blocks) == int(tfs.max())


def test_keyword_topk_rank_identity(engine, oracle):
    postings_gold, doclen_gold, stats_gold = oracle
    for q in ["merge", "compression", "return", "characters"]:
        from informationretrieval_en_people_cn_spark.functions.analyze import (
            analyze_text,
        )

        terms = analyze_text(q)
        gold = topk(
            bm25_scores(postings_gold, doclen_gold, stats_gold, terms), 10
        )
        got = [(r.doc_id, r.score) for r in engine.search(q, 10).collect()]
        assert [d for d, _ in got] == [d for d, _ in gold], q
        for (gd, gs), (od, os_) in zip(got, gold):
            assert gs == pytest.approx(os_, abs=1e-9), q


def test_multi_term_rank_identity(engine, oracle):
    postings_gold, doclen_gold, stats_gold = oracle
    from informationretrieval_en_people_cn_spark.functions.analyze import analyze_text

    q = "merge compression buffer"
    gold = topk(
        bm25_scores(postings_gold, doclen_gold, stats_gold, analyze_text(q)), 10
    )
    got = [(r.doc_id, r.score) for r in engine.search(q, 10).collect()]
    assert [d for d, _ in got] == [d for d, _ in gold]


def test_boolean_and_not_or(engine, corpus_pdf):
    from informationretrieval_en_people_cn_spark.functions.analyze import analyze_text

    def docs_with(term):
        t = analyze_text(term)[0]
        return {
            r.doc_id
            for r in corpus_pdf.itertuples()
            if t in analyze_text(r.content)
        }

    a, b = docs_with("merge"), docs_with("compression")
    got_and = {r.doc_id for r in engine.search("merge AND compression").collect()}
    assert got_and == a & b
    got_not = {r.doc_id for r in engine.search("merge NOT compression").collect()}
    assert got_not == a - b
    got_or = {r.doc_id for r in engine.search("merge OR compression").collect()}
    assert got_or == a | b


def test_prefix_query(engine, corpus_pdf):
    from informationretrieval_en_people_cn_spark.functions.analyze import analyze_text

    gold = {
        r.doc_id
        for r in corpus_pdf.itertuples()
        if any(t.startswith("compr") for t in analyze_text(r.content))
    }
    got = {r.doc_id for r in engine.search_page("compr*", page_size=10**6).collect()}
    assert got == gold


def test_phrase_query_substring_semantics(engine, corpus_pdf):
    phrase = "posting merge"
    gold = {
        r.doc_id for r in corpus_pdf.itertuples() if phrase in r.content.lower()
    }
    got = {r.doc_id for r in engine.phrase_docids(phrase).collect()}
    assert got == gold


def test_wand_equals_exhaustive(engine, oracle):
    postings_gold, doclen_gold, stats_gold = oracle
    terms = ["merg", "compress", "buffer", "return"]
    dfs = {t: len(postings_gold.get(t, [])) for t in terms}
    # remap hash doc_ids to a dense space for the array-indexed doclens
    dense = {d: i for i, d in enumerate(sorted(doclen_gold))}
    doclens = np.zeros(len(dense), dtype=np.int64)
    for d, l in doclen_gold.items():
        doclens[dense[d]] = l
    postings = {
        t: (
            np.array(
                [dense[d] for d, _, _ in sorted(postings_gold[t])], dtype=np.int64
            ),
            np.array([tf for _, tf, _ in sorted(postings_gold[t])], dtype=np.int64),
        )
        for t in terms
        if t in postings_gold
    }
    gold_dense = {
        t: [(dense[d], tf, p) for d, tf, p in v] for t, v in postings_gold.items()
    }
    doclen_dense = {dense[d]: l for d, l in doclen_gold.items()}
    for k in (1, 3, 10, 50):
        got = _blockmax_topk(
            postings,
            dfs,
            doclens,
            stats_gold["n_docs"],
            stats_gold["avgdl"],
            k,
            block_size=4,
        )["topk"]
        gold = topk(
            bm25_scores(gold_dense, doclen_dense, stats_gold, terms), k
        )
        assert got == gold, k  # doc_ids and scores, bit for bit


def test_phrase_prefix_query(engine, corpus_pdf):
    """Q4 semantics (reference SearchEngine.py:169-172,202): phrase +
    suffix verified as the literal substring '{phrase} {suffix}'."""
    phrase, suffix = "posting", "mer"
    needle = f"{phrase} {suffix}"
    gold = {
        r.doc_id for r in corpus_pdf.itertuples() if needle in r.content.lower()
    }
    got = {r.doc_id for r in engine.phrase_docids(phrase, suffix).collect()}
    assert got == gold


def _blockmax_topk(postings, dfs, doclens, n_docs, avgdl, k, block_size,
                   k1=1.2, b=0.75):
    """The engine's block-max rule (``score_terms_blockmax``) without
    Spark: docs split into buckets of ``block_size`` consecutive
    doc_ids, per-bucket bounds from (term, bucket, max tf) metadata,
    θ = the k-th kernel score of the best-bounded bucket, then every
    surviving bucket scored by the kernel and merged.  ``doclens`` maps
    (or indexes) doc_id → doclen."""
    dl = doclens if isinstance(doclens, dict) else dict(enumerate(doclens))
    idf = {t: bm25_idf(n_docs, dfs[t]) for t in postings if len(postings[t][0])}
    frames, meta = {}, []
    for t in idf:
        docs, tfs = postings[t]
        bk = docs // block_size
        for bucket in np.unique(bk):
            m = bk == bucket
            frames.setdefault(int(bucket), []).append(
                {"term": t, "postings": encode_frame(docs[m], tfs[m])}
            )
            meta.append((t, int(bucket), int(tfs[m].max())))
    bounds = bucket_upper_bounds(meta, idf, k1, b, avgdl)

    def score(bucket):
        ids = sorted(d for d in dl if d // block_size == bucket)
        [(d, s)] = score_bucket(
            _BucketFrames(frames[bucket]), ids, [dl[x] for x in ids],
            [(sorted(idf), None)], idf, k1, b, avgdl, k=k, bucket=bucket,
        )
        return list(zip(d.tolist(), s.tolist()))

    def merged(rows):
        return sorted(rows, key=lambda x: (-x[1], x[0]))[:k]

    if not bounds:
        return {"topk": [], "bounds": {}, "theta": None, "survivors": []}
    best = max(bounds, key=bounds.get)
    probe = merged(score(best))
    theta = probe[-1][1] if len(probe) == k else -np.inf
    surv = surviving_buckets(bounds, theta)
    rows = [r for bucket in surv for r in score(bucket)]
    return {"topk": merged(rows), "bounds": bounds, "theta": theta, "survivors": surv}


def _bm25_exhaustive(postings, dfs, doclens, n_docs, avgdl, k, k1=1.2, b=0.75):
    scores = {}
    for t in sorted(postings):  # canonical term order (matches the kernel)
        docs, tfs = postings[t]
        idf = bm25_idf(n_docs, dfs[t])
        for d, tf in zip(docs, tfs):
            dl = float(doclens[int(d)])
            scores[int(d)] = scores.get(int(d), 0.0) + idf * (
                float(tf) * (k1 + 1)
            ) / (float(tf) + k1 * (1 - b + b * dl / avgdl))
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def test_wand_blockmax_late_high_block():
    """A low-tf middle bucket must not stop the search — the true top-k
    lives in a LATER bucket, which has the highest bound: the probe
    scores it first, and the low-tf bucket falls below θ."""
    docs = np.arange(12, dtype=np.int64)
    tfs = np.array([50] * 4 + [1] * 4 + [60] * 4, dtype=np.int64)
    postings = {"t": (docs, tfs)}
    doclens = np.full(12, 10, dtype=np.int64)
    got = _blockmax_topk(postings, {"t": 12}, doclens, 12, 10.0, 4, block_size=4)
    want = _bm25_exhaustive(postings, {"t": 12}, doclens, 12, 10.0, 4)
    assert got["topk"] == want
    assert [d for d, _ in want] == [8, 9, 10, 11]
    assert got["survivors"] == [0, 2]  # the low-tf middle bucket is pruned


def test_wand_random_equals_exhaustive_across_block_sizes():
    rng = np.random.RandomState(7)
    n_docs = 80
    doclens = rng.randint(5, 50, size=n_docs).astype(np.int64)
    avgdl = float(doclens.mean())
    postings, dfs = {}, {}
    for t in ["a", "b", "c", "d"]:
        m = np.sort(rng.choice(n_docs, size=rng.randint(10, 60), replace=False))
        tf = rng.randint(1, 80, size=len(m))
        postings[t] = (m.astype(np.int64), tf.astype(np.int64))
        dfs[t] = len(m)
    for bs in (1, 2, 4, 16, 128):
        for k in (1, 5, 20, 200):
            got = _blockmax_topk(postings, dfs, doclens, n_docs, avgdl, k, block_size=bs)
            want = _bm25_exhaustive(postings, dfs, doclens, n_docs, avgdl, k)
            assert got["topk"] == want, (bs, k)  # bit for bit


def test_blockmax_distributed_equals_exhaustive(spark, index_dir, engine):
    """The bucket-grid block-max plan must return exactly the
    exhaustive plan's top-k (docIDs AND scores) for every k."""
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    bm = SearchEngine(spark, index_dir, use_blockmax=True)
    for q in ["merge window", "return value index", "compression"]:
        terms = engine._query_terms(q)
        for k in (1, 5, 20):
            got = bm.score_terms_blockmax(terms, k).collect()
            want = engine.score_terms(terms, k).collect()
            assert [r.doc_id for r in got] == [r.doc_id for r in want], (q, k)
            for g, w in zip(got, want):
                assert g.score == w.score, (q, k)  # bit-identical
            assert bm.last_blockmax["buckets_scored"] <= bm.last_blockmax[
                "buckets_total"
            ]


def test_blockmax_prunes_buckets_on_skew(spark, tmp_path):
    """On a corpus where one doc range dominates a term's tf, phase 3
    must skip the hopeless buckets (never decode them)."""
    from informationretrieval_en_people_cn_spark.operators.build import build_index
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    rows = []
    for i in range(120):
        # docs 100-119 carry 'merge' with huge tf; the rest one mention
        body = ("merge " * 25) if i >= 100 else "merge "
        rows.append(
            (i, f"r", f"p{i}", "0" * 40, "py",
             body + "filler tokens value index buffer", "x")
        )
    corpus = spark.createDataFrame(
        rows,
        "doc_id long, repo string, path string, commit string, "
        "lang string, content string, sha256 string",
    )
    out = str(tmp_path / "skewidx")
    build_index(spark, corpus, out, slices=2, salt=2, block_size=8)
    eng = SearchEngine(spark, out, use_blockmax=True)
    exhaustive = SearchEngine(spark, out)
    terms = eng._q("merge")  # build is stemmed; analyze like the engine
    got = eng.score_terms_blockmax(terms, 5).collect()
    want = exhaustive.score_terms(terms, 5).collect()
    assert got, "query must match documents"
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    assert all(r.doc_id >= 100 for r in got)  # the high-tf range wins
    m = eng.last_blockmax
    assert m["buckets_scored"] < m["buckets_total"], m  # real pruning


def test_phrase_verify_routes_identical(spark, index_dir, corpus_pdf):
    """Every entry to the one substring route (the bucket kernel's
    substring leaf) returns the gold doc set: ``phrase_docids``,
    ``phrase_docids_bucketed`` and a boolean phrase query."""
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    phrase = "posting merge"
    gold = {
        r.doc_id for r in corpus_pdf.itertuples() if phrase in r.content.lower()
    }
    assert gold
    eng = SearchEngine(spark, index_dir, fast_path=False)
    assert {r.doc_id for r in eng.phrase_docids(phrase).collect()} == gold
    assert {r.doc_id for r in eng.phrase_docids_bucketed(phrase).collect()} == gold
    got = {r.doc_id for r in eng.search(f"'{phrase}' OR zzznotaterm").collect()}
    assert got == gold


def test_serving_mode_scores_identical(spark, index_dir):
    """persist_doclens (cluster-cached bucket doclens) must not change
    any result: same ranked output, bit-identical scores."""
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    base = SearchEngine(spark, index_dir, fast_path=False)
    serving = SearchEngine(
        spark, index_dir, fast_path=False,
        persist_doclens=True,
    )
    for q in (
        "merge window",
        "return value buffer",
        "compress AND merge",
        "merge window zzznotaterm",  # unknown term must not perturb scores
    ):
        want = [(r.doc_id, getattr(r, "score", None)) for r in base.search(q, 10).collect()]
        got = [(r.doc_id, getattr(r, "score", None)) for r in serving.search(q, 10).collect()]
        assert got == want, q
    serving._doclens_cluster.unpersist()


def test_boolean_bucketed_identical(spark, index_dir, oracle, corpus_pdf):
    """The bucket kernel's boolean algebra, with and without cluster-
    cached doclens, must equal the pure-Python boolean oracle on every
    shape: AND/OR/NOT, prefix expansion, unknown terms, empty leaves."""
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    postings = oracle[0]
    content = {int(r.doc_id): r.content.lower() for r in corpus_pdf.itertuples()}
    base = SearchEngine(spark, index_dir, fast_path=False)
    serv = SearchEngine(
        spark, index_dir, fast_path=False,
        persist_doclens=True,
    )
    for q in (
        "merge AND buffer",
        "merge OR window OR buffer",
        "merge NOT compress",
        "merg* AND return",
        "return NOT merg*",
        "merge AND zzznotaterm",
        "zzz*",
    ):
        want = boolean_match(q, postings, content)
        for eng in (base, serv):
            assert [r.doc_id for r in eng.search(q, 10).collect()] == want, q
            assert eng.last_trace["placement"] == "bucket", q
    serv._doclens_cluster.unpersist()
    serv._bucket_doclens.unpersist()
