"""Round-5 serving-scale fixes: arithmetic bucket assignment (stats
bucket grid, no O(buckets) CASE chain), binary-search prefix
expansion, doclen-cache membership validation, engine reload()."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from informationretrieval_en_people_cn_spark.functions.analyze import analyze_text
from informationretrieval_en_people_cn_spark.functions.codec import decode_frames
from informationretrieval_en_people_cn_spark.operators.build import build_index
from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

from .oracle import boolean_match, build_oracle_index, search_rows


@pytest.fixture(scope="module")
def oracle_ix(corpus_pdf):
    """(postings, doclen, stats, lowercased content by doc_id) of the
    pure-Python oracle over the conftest corpus."""
    content = {int(r.doc_id): r.content.lower() for r in corpus_pdf.itertuples()}
    return (*build_oracle_index(corpus_pdf), content)


def _rows(eng, q, k=10):
    return [(r.doc_id, getattr(r, "score", None)) for r in eng.search(q, k).collect()]


def test_stats_carry_bucket_grid(spark, index_dir):
    st = spark.read.parquet(f"{index_dir}/stats").collect()[0].asDict()
    assert st["bucket_count"] == 3 * 2  # slices=3, salt=2 (conftest)
    assert st["bucket_span"] >= 1
    eng = SearchEngine(spark, index_dir)
    assert eng._grid == (st["bucket_lo"], st["bucket_span"], st["bucket_count"])


def test_arithmetic_bucket_assignment_hundreds_of_buckets(
    spark, corpus, tmp_path, oracle_ix
):
    """VERDICT r4 #2 done-criterion: the serving init must survive a
    cluster-scale bucket grid (here 384 buckets over 120 docs — most
    buckets empty) with the arithmetic assignment agreeing with the
    build's salting on EVERY posting, and the answers of both engines
    equal to the oracle's."""
    out = str(tmp_path / "idx384")
    build_index(spark, corpus, out, slices=24, salt=16, block_size=8)
    base = SearchEngine(spark, out, fast_path=False)
    serv = SearchEngine(
        spark, out, fast_path=False, persist_doclens=True
    )
    assert serv._grid is not None and serv._grid[2] == 384
    # every decoded posting doc must land (arithmetically) in the bucket
    # its index row carries — grid math == build salting, per posting
    glo, gspan, gn = serv._grid
    for r in spark.read.parquet(f"{out}/index").collect():
        d, _, _ = decode_frames(bytes(r.postings))
        for doc in d:
            assert min(gn - 1, int(gn * ((int(doc) - glo) / gspan))) == r.bucket
    for q in ("merge window", "merge AND buffer", "return NOT merg*"):
        want = search_rows(q, *oracle_ix)
        assert _rows(base, q) == _rows(serv, q) == want, q
    serv._doclens_cluster.unpersist()
    serv._bucket_doclens.unpersist()


def _vocab_cf(eng) -> dict[str, int]:
    """term -> collection frequency, summed from the engine's index rows
    (a hot term spans one row per bucket)."""
    rows = eng.index.groupBy("term").agg(F.sum("cf").alias("cf")).collect()
    return {r.term: int(r.cf) for r in rows}


def test_expand_prefix_bisect_equals_linear_scan(spark, index_dir):
    eng = SearchEngine(spark, index_dir)
    vocab = _vocab_cf(eng)
    for p in ("par", "m", "merg", "zzz", "", "return", "MERG"):
        linear = sorted(t for t in vocab if t.startswith(p.lower()))
        assert eng.expand_prefix(p) == linear, p


@pytest.fixture(scope="module")
def serving_pair(spark, index_dir):
    """(base, serving) engines over the shared fixture index; serving
    has the cluster-cached bucket doclens, base builds them per query."""
    base = SearchEngine(spark, index_dir, fast_path=False)
    serv = SearchEngine(
        spark, index_dir, fast_path=False,
        persist_doclens=True,
    )
    yield base, serv
    serv._doclens_cluster.unpersist()
    serv._bucket_doclens.unpersist()


def _phrase_from(corpus_pdf, doc: int = 0, start: int = 2, n: int = 2) -> str:
    return " ".join(corpus_pdf.iloc[doc].content.split()[start : start + n])


SERVING_PHRASE_SHAPES = [
    "'{p}'",
    "'{p}' OR merge",
    "merge AND '{p}'",
    "merge NOT '{p}'",
    "merge OR '{p}' OR buffer",
    "merge window '{p}'",  # ranked mixed: keyword + phrase
    "merge window par*",  # ranked mixed: keyword + prefix
    "'{p}' 'zz qq'",  # ranked, unknown phrase alongside a real one
]


def test_serving_phrase_shapes_identical(serving_pair, corpus_pdf, oracle_ix):
    """VERDICT r4 #1: phrase / phrase-prefix / mixed-leaf shapes are
    served by the bucket-local plans, with and without cluster-cached
    doclens, bit-identical to the oracle (substring semantics — the
    reference's)."""
    base, serv = serving_pair
    p = _phrase_from(corpus_pdf)
    for shape in SERVING_PHRASE_SHAPES:
        q = shape.format(p=p)
        assert _rows(base, q) == _rows(serv, q) == search_rows(q, *oracle_ix), q
    # the standalone bucketed phrase plan
    want_ids = set(boolean_match(f"'{p}'", oracle_ix[0], oracle_ix[3]))
    assert {r.doc_id for r in base.phrase_docids(p).collect()} == want_ids
    assert {r.doc_id for r in serv.phrase_docids_bucketed(p).collect()} == want_ids


def test_serving_positional_phrase_identical(spark, index_dir, corpus_pdf):
    """phrase_via_positions=True: TRUE positional matching, served
    fully bucket-locally (zero content access) — identical to the
    distributed positional plans on every shape."""
    base = SearchEngine(
        spark, index_dir, fast_path=False,
        phrase_via_positions=True,
    )
    serv = SearchEngine(
        spark, index_dir, fast_path=False,
        persist_doclens=True, phrase_via_positions=True,
    )
    p = _phrase_from(corpus_pdf)
    for shape in SERVING_PHRASE_SHAPES:
        q = shape.format(p=p)
        want = [
            (r.doc_id, getattr(r, "score", None)) for r in base.search(q, 10).collect()
        ]
        got = [
            (r.doc_id, getattr(r, "score", None)) for r in serv.search(q, 10).collect()
        ]
        assert got == want, q
    # the positional plans agree with and without the serving caches
    for ph in (p, _phrase_from(corpus_pdf, doc=1, start=0, n=3)):
        want_ids = sorted(r.doc_id for r in base.phrase_docids_positional(ph).collect())
        got_ids = sorted(
            r.doc_id for r in serv.phrase_docids_positional(ph).collect()
        )
        assert got_ids == want_ids, ph
    w = corpus_pdf.iloc[0].content.split()[2]
    want_ids = sorted(
        r.doc_id for r in base.phrase_prefix_docids_positional(w, "pa").collect()
    )
    got_ids = sorted(
        r.doc_id
        for r in serv.phrase_prefix_docids_positional(w, "pa").collect()
    )
    assert got_ids == want_ids
    serv._doclens_cluster.unpersist()
    serv._bucket_doclens.unpersist()


def test_serving_phrase_large_verified_set(spark, index_dir, oracle_ix):
    """A phrase whose verified set is a third of the corpus rides the
    bucket plan as a substring leaf, its needle's content hits grouped
    by bucket beside the rare terms' frames, in boolean shapes, a
    mixed ranked query and an uncapped page.  Every answer equals the
    oracle's."""
    p = "return if"
    verified = boolean_match(f"'{p}'", oracle_ix[0], oracle_ix[3])
    assert len(verified) >= 40
    queries = [f"'{p}' OR merge", f"merge AND '{p}'", f"merge NOT '{p}'"]
    serv = SearchEngine(
        spark, index_dir, fast_path=False, persist_doclens=True
    )
    for q in [*queries, f"'{p}'", f"merge window '{p}'"]:
        assert _rows(serv, q) == search_rows(q, *oracle_ix), q
    page = serv.search_page(f"'{p}'", page_size=10**6).collect()
    assert [r.doc_id for r in page] == verified
    serv._bucket_doclens.unpersist()


def test_serving_reply_to_leaves(spark, index_dir, oracle_ix):
    """reply_to leaves ride the bucket plan as (bucket, doc_id)
    relations: in OR, AND and NOT groups, in a mixed ranked query, for
    source ids that are no doc at all, and for a source doc in a bucket
    where no frame of the query's terms lands — it is visited all the
    same.  Every answer equals the oracle's."""
    postings = oracle_ix[0]
    serv = SearchEngine(spark, index_dir, fast_path=False)
    # the rarest term that analyzes to itself, and a doc in a bucket
    # where it has no frame
    rare = min(
        (t for t in postings if analyze_text(t) == [t]),
        key=lambda t: (len(postings[t]), t),
    )
    rare_buckets = {r.bucket for r in serv._index_rows([rare]).collect()}
    far = min(d for d in oracle_ix[1] if serv._bucket_of(d) not in rare_buckets)
    edge_rows = [(5, 3), (7, 3), (far, 3), (9, 4)]
    edges = spark.createDataFrame(edge_rows, "src_doc_id long, dst_doc_id long")
    for eng in (
        SearchEngine(spark, index_dir, fast_path=False, edges=edges),
        SearchEngine(
            spark, index_dir, fast_path=False,
            persist_doclens=True, edges=edges,
        ),
    ):
        for q in (
            "ReplyTo:3 OR merge", "merge AND ReplyTo:3", "ReplyTo:3 NOT merge",
            f"ReplyTo:3 OR {rare}", f"ReplyTo:3 AND {rare}", f"{rare} ReplyTo:3",
            "merge window ReplyTo:3",
        ):
            want = search_rows(q, *oracle_ix, edges=edge_rows)
            assert _rows(eng, q) == want, q
            assert eng.last_trace["placement"] == "bucket", q
        assert far in {d for d, _ in _rows(eng, f"ReplyTo:3 OR {rare}")}
        eng._bucket_doclens.unpersist()


# Spark jobs each shape runs on the conftest index on an engine without
# driver doclens, measured once the term dictionary answered prefix
# expansion and phrase selectivity and a substring phrase became one
# kernel leaf (the decoded-postings join plan the bucket kernel
# replaced ran 5, 6, 5, 8, 8, 5, 6, 10, 3, 6; the candidate job and
# df-routed verify before the substring leaf ran 6 for each phrase
# shape and 4 for the phrase page)
BUCKET_PLAN_JOBS = {
    ("search", "merge AND buffer"): 4,
    ("search", "merg* AND return"): 4,
    ("search", "merge NOT compress"): 4,
    ("search", "'characters if'"): 4,  # a ranked query of one phrase
    ("search", "'characters if' AND"): 4,  # a one-leaf boolean tree
    ("search", "'characters if' OR merge"): 4,
    ("search", "merge AND 'characters if'"): 4,
    ("search", "ReplyTo:3 OR merge"): 5,
    ("search", "ReplyTo:3 NOT merge"): 5,
    ("search", "merge window ReplyTo:3"): 5,
    ("page", "merge AND buffer"): 2,
    ("page", "merge OR 'characters if'"): 2,
}


def _group_jobs(spark, gid: str, fn) -> int:
    """Spark jobs ``fn()`` runs, counted by statusTracker job group."""
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_bucket_placement_jobs_per_shape(spark, index_dir):
    """On an engine without driver doclens every boolean shape, page
    and mixed ranked query reports the bucket placement and runs no
    more Spark jobs (statusTracker job group) than its bound."""
    edges = spark.createDataFrame([(5, 3), (7, 3)], "src_doc_id long, dst_doc_id long")
    eng = SearchEngine(spark, index_dir, edges=edges)
    for i, ((kind, q), bound) in enumerate(BUCKET_PLAN_JOBS.items()):
        run = eng.search_page if kind == "page" else eng.search
        jobs = _group_jobs(spark, f"bucket-jobs-{i}", lambda: run(q, 10).collect())
        assert eng.last_trace["placement"] == "bucket", q
        assert jobs <= bound, (kind, q)


def test_dictionary_work_runs_no_spark_jobs(spark, index_dir):
    """The term dictionary loads at open, so on a default engine prefix
    expansion, correcting a query of known terms and choosing a
    phrase's rare terms run no Spark job; correcting unknown terms
    joins the dictionary as a local relation, in fewer jobs than the 4
    of an index aggregation (statusTracker job groups)."""
    import time

    eng = SearchEngine(spark, index_dir)
    # dictionary terms that analyze to themselves (stemming is not
    # idempotent), so the query is known term by term
    words = [t for t in sorted(eng.term_stats) if eng._q(t) == [t]][:3]
    known = " ".join(words)
    got = {}
    work = {
        "prefix": lambda: got.update(prefix=eng.expand_prefix("mer")),
        "correct": lambda: got.update(correct=eng.correct_query(known)),
        "rare": lambda: got.update(rare=eng._rare_terms(words)),
        "unknown": lambda: got.update(unknown=eng.correct_query("mergee windoq")),
    }
    for name, fn in work.items():
        _group_jobs(spark, f"dict-{name}", fn)
    assert got["prefix"] and len(got["rare"]) == 2
    assert got["correct"] == known
    assert got["unknown"] != " ".join(eng._q("mergee windoq"))
    # a control job run afterwards: once the tracker shows it, it has
    # seen every earlier job (the listener bus delivers in order)
    tracker = spark.sparkContext.statusTracker()
    _group_jobs(spark, "dict-control", lambda: spark.range(1).collect())
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup("dict-control") and time.time() < deadline:
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("dict-control")
    jobs = {n: len(tracker.getJobIdsForGroup(f"dict-{n}")) for n in work}
    assert 0 < jobs.pop("unknown") < 4
    assert jobs == {"prefix": 0, "correct": 0, "rare": 0}


def test_serving_engine_reload_after_refresh(spark, corpus, tmp_path):
    """VERDICT r4 #3: a long-lived serving engine resolves the snapshot
    pointer once; after refresh_index it must be able to reload() —
    re-resolve the pointer, swap tables, rebuild the serving caches —
    and then answer exactly like a freshly opened engine (old cluster
    caches unpersisted)."""
    from informationretrieval_en_people_cn_spark.streaming.incremental import (
        CORPUS_SCHEMA,
        incremental_index,
        refresh_index,
    )

    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "ridx")
    lo, span = 0, 1 << 62
    half1 = corpus.filter(F.col("doc_id") % 2 == 0)
    half2 = corpus.filter(F.col("doc_id") % 2 == 1)

    half1.write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(in_dir)
    assert incremental_index(
        stream, out, lo=lo, span=span, buckets=8
    ).awaitTermination(120)
    refresh_index(spark, out, corpus=half1)

    eng = SearchEngine(
        spark, out, fast_path=False, persist_doclens=True
    )
    v1 = eng.version
    old_bucket_cache = eng._bucket_doclens
    assert eng.reload() is False  # already current — no-op

    half2.write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(in_dir)
    assert incremental_index(
        stream, out, lo=lo, span=span, buckets=8
    ).awaitTermination(120)
    refresh_index(spark, out, corpus=corpus)

    assert eng.reload() is True
    assert eng.version == v1 + 1
    assert old_bucket_cache.storageLevel.useMemory is False  # released
    fresh = SearchEngine(
        spark, out, fast_path=False, persist_doclens=True
    )
    for q in ("merge window", "merge AND buffer", "return NOT merg*"):
        want = [
            (r.doc_id, getattr(r, "score", None)) for r in fresh.search(q, 10).collect()
        ]
        got = [
            (r.doc_id, getattr(r, "score", None)) for r in eng.search(q, 10).collect()
        ]
        assert got == want, q
    assert eng.n_docs == fresh.n_docs == corpus.count()
    for e in (eng, fresh):
        e._doclens_cluster.unpersist()
        e._bucket_doclens.unpersist()


def test_dedup_clusters_releases_checkpoint_blocks(spark):
    """ADVICE r4: Dataset.unpersist() was a no-op on the per-round
    localCheckpoint snapshots (blocks belong to the internal RDD, never
    registered with the cache manager).  After the RDD-level release,
    a converged run must leave at most the FINAL snapshot's blocks
    persisted — not one labels copy per round."""
    from informationretrieval_en_people_cn_spark.operators import pipeline as pl

    sc = spark.sparkContext

    def persistent():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}

    # a 64-doc chain: pointer jumping needs several rounds to converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    before = persistent()
    labels = pl.dedup_clusters(pairs, max_iters=20)
    leaked = persistent() - before
    # final snapshot only (its blocks are the caller's live result);
    # every superseded round's snapshot must be gone
    assert len(leaked) <= 2, leaked
    got = {(r.doc_id, r.cluster_id) for r in labels.collect()}
    assert got == {(i, 0) for i in range(64)}


def test_doclen_cache_membership_validated(spark, corpus, tmp_path):
    """ADVICE r4 (medium): a posting doc_id absent from the bucket's
    cached doclen array must raise loudly, not silently credit a
    neighboring doc's BM25 accumulator."""
    out = str(tmp_path / "idxdrift")
    build_index(spark, corpus, out, slices=2, salt=2, block_size=8)
    eng = SearchEngine(
        spark, out, fast_path=False, persist_doclens=True
    )
    # simulate docs/postings drift: rebuild the bucket cache with one
    # doc missing from every bucket array
    drifted = (
        eng._bucket_doclens.select(
            "bucket",
            F.slice("dl_ids", 2, 10_000).alias("dl_ids"),
            F.slice("dl_lens", 2, 10_000).alias("dl_lens"),
        )
        .repartition(4, "bucket")
        .persist()
    )
    eng._bucket_doclens.unpersist()
    eng._bucket_doclens = drifted
    with pytest.raises(Exception, match="doclen cache is missing"):
        eng.search("merge window", k=10).collect()
    drifted.unpersist()
    eng._doclens_cluster.unpersist()


def test_local_topk_exact_with_ties():
    """_local_topk must return exactly the rows the global TakeOrdered
    (score desc, doc_id asc) would keep from a bucket — including when
    score ties straddle the k boundary."""
    import numpy as np

    from informationretrieval_en_people_cn_spark.plans.kernel import _local_topk

    rng = np.random.default_rng(7)
    for trial in range(50):
        n = int(rng.integers(1, 200))
        k = int(rng.integers(1, 20))
        ids = rng.choice(10_000, size=n, replace=False).astype(np.int64)
        ids.sort()
        # coarse quantization → plenty of exact ties
        scores = np.round(rng.random(n) * 4) / 4.0
        key = lambda r: (-r[1], r[0])  # noqa: E731
        want = sorted(zip(ids, scores), key=key)[:k]
        gi, gs = _local_topk(ids, scores, k)
        # row SET must be exact; output order is the global sort's job
        assert sorted(zip(gi, gs), key=key) == want, (trial, n, k)


def test_serving_topk_emission_identical(serving_pair):
    """Per-bucket top-k emission (round 5): k-limited bucketed scoring
    must stay bit-identical to the exhaustive k=None path and to the
    distributed plan."""
    base, serv = serving_pair
    for q in ("merge window", "merge window buffer par*"):
        want = [(r.doc_id, r.score) for r in base.search(q, k=5).collect()]
        got = [(r.doc_id, r.score) for r in serv.search(q, k=5).collect()]
        assert got == want, q
    # k=None still emits every touched doc with the same scores
    terms = serv._q("merge window")  # stemmed index: analyze first
    full = {
        (r.doc_id, r.score) for r in serv.score_terms(terms).collect()
    }
    lim = [(r.doc_id, r.score) for r in serv.score_terms(terms, 7).collect()]
    assert len(lim) == 7 and set(lim) <= full


def test_completions_paths_agree(spark, index_dir):
    """completions(): the term-dictionary heap returns the (term, cf)
    top-k of a linear scan over the index rows, in (cf desc, term asc)
    order."""
    eng = SearchEngine(spark, index_dir)
    vocab = _vocab_cf(eng)
    for p, k in (("me", 5), ("pa", 10), ("zzz", 3), ("", 4)):
        want = sorted(
            ((t, cf) for t, cf in vocab.items() if t.startswith(p)),
            key=lambda r: (-r[1], r[0]),
        )[:k]
        got = [(r.term, r.cf) for r in eng.completions(p, k).collect()]
        assert got == want, p


def test_search_snippets_window(spark, index_dir, corpus_pdf):
    """search_snippets(): window starts 30 chars before the earliest
    term occurrence, 80 chars wide, original-case content."""
    eng = SearchEngine(spark, index_dir, fast_path=False)
    w = corpus_pdf.iloc[0].content.split()[2].lower()
    rows = eng.search_snippets(w, k=5).collect()
    assert rows, w
    by_id = dict(corpus_pdf[["doc_id", "content"]].itertuples(index=False))
    for r in rows:
        content = by_id[r.doc_id]
        pos = content.lower().find(w)
        start = max(pos - 30, 0) if pos >= 0 else 0
        assert r.snippet == content[start : start + 80], r.doc_id
        assert len(r.snippet) <= 80


def test_facet_counts_vs_pandas(spark, index_dir, corpus, corpus_pdf):
    """facet_counts(): (value, cnt) over the full boolean result set
    equals a pandas recomputation; ordering (cnt desc, value asc)."""
    eng = SearchEngine(spark, index_dir, fast_path=False)
    meta = corpus.withColumn(
        "grp", (F.col("doc_id") % 3).cast("string")
    ).select("doc_id", "grp")
    got = [(r.value, r.cnt) for r in eng.facet_counts("merge", meta, "grp").collect()]
    ids = {r.doc_id for r in eng.search("merge", k=10).collect()}
    cnt: dict[str, int] = {}
    for d in ids:
        cnt[str(d % 3)] = cnt.get(str(d % 3), 0) + 1
    want = sorted(cnt.items(), key=lambda r: (-r[1], r[0]))
    assert got == want


PAGE_SHAPES = [
    "return AND relational",
    "return OR characters NOT self",
    "return relational self",  # ranked shape pages its match set (OR)
]


def test_search_page_walk_and_parity(serving_pair, oracle_ix):
    """Keyset pagination: every page of both engines equals the oracle's
    match set, the page walk reconstructs the full ordered match set,
    per-bucket caps and frontier bucket pruning never drop or reorder
    ids."""
    base, serv = serving_pair
    for q in PAGE_SHAPES:
        full = boolean_match(q, oracle_ix[0], oracle_ix[3])
        assert full
        for eng in (base, serv):
            assert [
                r.doc_id for r in eng.search_page(q, page_size=10**6).collect()
            ] == full, q
            assert eng.last_trace["placement"] == "bucket", q
        walked, after = [], None
        while True:
            page = [
                r.doc_id
                for r in serv.search_page(q, page_size=7, after_doc_id=after).collect()
            ]
            assert page == sorted(page) and len(page) <= 7
            walked.extend(page)
            if len(page) < 7:
                break
            after = page[-1]
        assert walked == full, q
        # mid-stream page: both engines, exact slice semantics
        after = full[2]
        assert (
            [r.doc_id for r in serv.search_page(q, 5, after).collect()]
            == [r.doc_id for r in base.search_page(q, 5, after).collect()]
            == full[3:8]
        )
        # keyset past the last id: empty page from both plans
        assert serv.search_page(q, 5, full[-1]).count() == 0
        assert base.search_page(q, 5, full[-1]).count() == 0


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_correct_terms_vs_python_oracle(spark, index_dir):
    """Spell correction == exact python DP over the full vocabulary
    under the (dist asc, cf desc, term asc) rank; known terms correct
    to themselves at distance 0; out-of-budget inputs are absent."""
    eng = SearchEngine(spark, index_dir, fast_path=False)
    vocab = eng.term_stats  # term -> (df, cf)
    # a term whose re-analyzed form is itself (stemming is not
    # idempotent: 'pars' — the stem of 'parse' — re-stems to 'par')
    known = next(
        t for t in sorted(vocab) if len(t) > 3 and eng._q(t) == [t]
    )
    inputs = [known, known + "q", known[:-1] + "zz", "qqqqqqqqqq", *eng._q("mergee windoq")]
    got = {
        r.input: (r.term, r.dist, r.cf)
        for r in eng.correct_terms(inputs, max_dist=2).collect()
    }
    for inp in inputs:
        cand = [
            (d, -vocab[t][1], t)
            for t in vocab
            if (d := _lev(inp, t)) <= 2
        ]
        if not cand:
            assert inp not in got, inp
            continue
        d, ncf, t = min(cand)
        assert got[inp] == (t, d, -ncf), inp
    # correct_query: unknown analyzed terms swap to their correction,
    # known terms pass through untouched
    toks = eng._q(f"{known} {known}q")
    fixed = eng.correct_query(f"{known} {known}q").split()
    assert fixed[0] == toks[0]
    best = min(
        (d, -vocab[t][1], t)
        for t in vocab
        if (d := _lev(toks[1], t)) <= 2
    )
    assert fixed[1] == best[2]


def test_snapshot_time_travel(spark, corpus, tmp_path):
    """Iceberg-style time travel: every refresh appends to the snapshot
    log; SearchEngine(at_version=N) pins a historical snapshot (results
    equal an engine opened before the later refresh, reload() refuses
    to advance), snapshots() lists history with retained flags, and the
    GC honors retain_versions — a version it drops raises loudly on
    open instead of silently serving current tables."""
    from informationretrieval_en_people_cn_spark.operators.build import (
        IndexPaths,
        snapshots,
    )
    from informationretrieval_en_people_cn_spark.streaming.incremental import (
        CORPUS_SCHEMA,
        incremental_index,
        refresh_index,
    )

    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "ttidx")
    lo, span = 0, 1 << 62
    half1 = corpus.filter(F.col("doc_id") % 2 == 0)
    half2 = corpus.filter(F.col("doc_id") % 2 == 1)

    def ingest(batch):
        batch.write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(in_dir)
        assert incremental_index(
            stream, out, lo=lo, span=span, buckets=8
        ).awaitTermination(120)

    ingest(half1)
    refresh_index(spark, out, corpus=half1)            # -> v1
    want_v1 = [
        (r.doc_id, r.score)
        for r in SearchEngine(spark, out).search("merge window", 10).collect()
    ]

    ingest(half2)
    refresh_index(spark, out, corpus=corpus)           # -> v2

    hist = snapshots(out)
    assert [s["version"] for s in hist] == [1, 2]
    assert all(s["retained"] for s in hist)

    pinned = SearchEngine(spark, out, at_version=1)
    assert pinned.version == 1
    assert pinned.n_docs == half1.count()
    got = [(r.doc_id, r.score) for r in pinned.search("merge window", 10).collect()]
    assert got == want_v1
    assert pinned.reload() is False            # pin never follows the pointer
    assert pinned.version == 1

    # current (unpinned) view sees the full corpus
    assert SearchEngine(spark, out).n_docs == corpus.count()

    # deeper retention keeps v1 openable across the next refresh...
    refresh_index(spark, out, corpus=corpus, retain_versions=3)   # -> v3
    assert SearchEngine(spark, out, at_version=1).n_docs == half1.count()

    # ...default retention (2) then GCs v1+v2: loud failure, flagged log
    refresh_index(spark, out, corpus=corpus)           # -> v4
    hist = {s["version"]: s["retained"] for s in snapshots(out)}
    assert hist == {1: False, 2: False, 3: True, 4: True}
    with pytest.raises(FileNotFoundError):
        IndexPaths(out, version=1)
    with pytest.raises(FileNotFoundError):
        SearchEngine(spark, out, at_version=2)
    assert SearchEngine(spark, out, at_version=3).version == 3
    with pytest.raises(FileNotFoundError):
        IndexPaths(out, version=99)            # never existed


def test_metadata_scoped_search(spark, corpus, tmp_path):
    """where= scoping: results are exactly the unscoped ranking
    restricted to docs passing the predicate (global BM25 stats — no
    score drift), identical through the distributed filtered-join plan
    and the serving kernel's allow-mask; boolean shapes intersect with
    the allowed set; scoped pagination stays exact; the driver fast
    path is bypassed (its caches carry no metadata)."""
    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, slices=2, salt=2)
    dist = SearchEngine(spark, out)
    serv = SearchEngine(
        spark, out, fast_path=False, persist_doclens=True
    )
    fast = SearchEngine(
        spark, out, cache_doclens=True, fast_path=True
    )
    where = "lang = 'py' OR path LIKE '%file_7%'"
    allowed = {
        r.doc_id for r in dist.docs.filter(F.expr(where)).select("doc_id").collect()
    }
    assert 0 < len(allowed) < dist.n_docs

    for q in ("merge window", "return merge compression"):
        full = [
            (r.doc_id, r.score)
            for r in dist.score_terms(dist._query_terms(q)).collect()
        ]
        want = sorted(
            ((d, s) for d, s in full if d in allowed),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        got_d = [(r.doc_id, r.score) for r in dist.search(q, 10, where=where).collect()]
        got_s = [(r.doc_id, r.score) for r in serv.search(q, 10, where=where).collect()]
        got_f = [(r.doc_id, r.score) for r in fast.search(q, 10, where=where).collect()]
        assert got_d == want, q          # == unscoped ranking ∩ allowed
        assert got_s == want, q          # serving mask bit-identical
        assert got_f == want, q          # fast path correctly bypassed

    # mixed-leaf ranked (phrase candidate) respects the scope
    q = "merge window 'value table'"
    want = [
        (r.doc_id, r.score) for r in dist.search(q, 10, where=where).collect()
    ]
    assert all(d in allowed for d, _ in want)
    assert [
        (r.doc_id, r.score) for r in serv.search(q, 10, where=where).collect()
    ] == want

    # boolean = unscoped ∩ allowed, both plans
    for q in ("merge AND window", "merge NOT window", "par* OR merge"):
        base = {r.doc_id for r in dist.search(q).collect()}
        want_ids = sorted(base & allowed)
        assert [r.doc_id for r in dist.search(q, where=where).collect()] == want_ids
        assert [r.doc_id for r in serv.search(q, where=where).collect()] == want_ids

    # scoped keyset pagination: exact pages, strictly ascending
    q = "return OR merge"
    want_ids = sorted(
        {r.doc_id for r in dist.search(q).collect()} & allowed
    )
    pages, after = [], None
    while True:
        p = [r.doc_id for r in serv.search_page(q, 7, after, where=where).collect()]
        if not p:
            break
        pages += p
        after = p[-1]
    assert pages == want_ids

    serv._doclens_cluster.unpersist()
    serv._bucket_doclens.unpersist()


def test_search_batch_matches_single_queries(spark, corpus, tmp_path):
    """search_batch: Q ranked queries through ONE shared-kernel job are
    bit-identical per query to the single-query serving plan; phrase
    and prefix-leaf queries fall back per-query but land in the same
    (qid, doc_id, score) result; boolean queries are rejected; unknown
    -term queries emit nothing for their qid."""
    import informationretrieval_en_people_cn_spark.plans.querytree as qt

    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, slices=2, salt=2)
    serv = SearchEngine(
        spark, out, fast_path=False, persist_doclens=True
    )
    queries = [
        "merge window spark",           # shared kernel
        "value table compression",      # shared kernel
        "return buffer",                # shared kernel (Zipf head)
        "merge window 'value table'",   # phrase leaf -> per-query fallback
        "par* merge",                   # prefix leaf -> per-query fallback
        "zzzznotaterm qqqqnope",        # no known terms -> no rows
        "merge window spark",           # duplicate query, distinct qid
    ]
    got = {}
    for r in serv.search_batch(queries, k=10).collect():
        got.setdefault(r.qid, []).append((r.doc_id, r.score))
    for i, q in enumerate(queries):
        want = [(r.doc_id, r.score) for r in serv.search(q, 10).collect()]
        assert got.get(i, []) == want, f"qid {i}: {q!r}"
    assert 5 not in got  # unknown-term query emitted nothing

    with pytest.raises(qt.QueryError):
        serv.search_batch(["merge AND window"])
    assert serv.search_batch([], k=5).count() == 0

    # without serving mode every query takes the per-query path — same
    # results, same schema
    dist = SearchEngine(spark, out)
    got_d = {}
    for r in dist.search_batch(queries[:3], k=10).collect():
        got_d.setdefault(r.qid, []).append((r.doc_id, r.score))
    for i in range(3):
        assert got_d[i] == got[i]

    serv._doclens_cluster.unpersist()
    serv._bucket_doclens.unpersist()


def test_search_batch_scoped(spark, corpus, tmp_path):
    """where= composes with search_batch: every query in the batch is
    scoped by the same metadata predicate, per query identical to the
    single scoped search — through both the shared kernel and the
    phrase fallback."""
    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, slices=2, salt=2)
    serv = SearchEngine(
        spark, out, fast_path=False, persist_doclens=True
    )
    where = "lang IN ('py', 'go')"
    queries = ["merge window spark", "return compression", "merge 'value table'"]
    got = {}
    for r in serv.search_batch(queries, k=10, where=where).collect():
        got.setdefault(r.qid, []).append((r.doc_id, r.score))
    for i, q in enumerate(queries):
        want = [
            (r.doc_id, r.score)
            for r in serv.search(q, 10, where=where).collect()
        ]
        assert got.get(i, []) == want, f"qid {i}: {q!r}"
    serv._doclens_cluster.unpersist()
    serv._bucket_doclens.unpersist()


def test_metadata_boost(spark, corpus, tmp_path):
    """boost=[(predicate, factor), ...]: a matching doc's summed BM25
    score is multiplied by the product of its predicates' factors
    (Lucene-style composition) — equal to the manual recompute from
    unboosted scores, identical through the distributed join-multiply
    and the serving kernel's per-bucket factor arrays, composable with
    where=, and rejected on boolean shapes."""
    import informationretrieval_en_people_cn_spark.plans.querytree as qt

    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, slices=2, salt=2)
    dist = SearchEngine(spark, out)
    serv = SearchEngine(
        spark, out, fast_path=False, persist_doclens=True
    )
    boost = [("lang = 'py'", 2.0), ("repo = 'org/repo1'", 1.5)]
    fac = {
        r.doc_id: (2.0 if r.lang == "py" else 1.0)
        * (1.5 if r.repo == "org/repo1" else 1.0)
        for r in dist.docs.select("doc_id", "lang", "repo").collect()
    }
    assert any(f == 3.0 for f in fac.values())  # both predicates compose

    for q in ("merge window", "return compression posting"):
        full = [
            (r.doc_id, r.score)
            for r in dist.score_terms(dist._query_terms(q)).collect()
        ]
        want = sorted(
            ((d, s * fac.get(d, 1.0)) for d, s in full),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        got_d = [
            (r.doc_id, r.score)
            for r in dist.search(q, 10, boost=boost).collect()
        ]
        got_s = [
            (r.doc_id, r.score)
            for r in serv.search(q, 10, boost=boost).collect()
        ]
        assert got_d == want, q
        assert got_s == want, q
        # boost actually reorders vs unboosted on this corpus
        un = [r.doc_id for r in dist.search(q, 10).collect()]
        assert un != [d for d, _ in want], q

    # where + boost compose: scope first, boost the survivors
    where = "lang IN ('py', 'java', 'go')"
    allowed = {
        r.doc_id
        for r in dist.docs.filter(F.expr(where)).select("doc_id").collect()
    }
    q = "merge window"
    full = [
        (r.doc_id, r.score)
        for r in dist.score_terms(dist._query_terms(q)).collect()
    ]
    want = sorted(
        (
            (d, s * fac.get(d, 1.0))
            for d, s in full
            if d in allowed
        ),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    for eng in (dist, serv):
        got = [
            (r.doc_id, r.score)
            for r in eng.search(q, 10, where=where, boost=boost).collect()
        ]
        assert got == want, eng

    with pytest.raises(qt.QueryError):
        dist.search("merge AND window", boost=boost)

    serv._doclens_cluster.unpersist()
    serv._bucket_doclens.unpersist()


def test_cli_serving_flags(spark, corpus, tmp_path):
    """The spark-submit CLI surface drives the round-5 features:
    build, then `search --serving --where --boost` and
    `queries --batch` through real subprocess invocations (the
    north_rule's `spark-submit --py-files` shape, locally)."""
    import subprocess
    import sys

    cdir = str(tmp_path / "corpus")
    corpus.write.parquet(cdir)
    out = str(tmp_path / "idx")
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "informationretrieval_en_people_cn_spark", *argv],
            capture_output=True, text=True, timeout=600, env=env,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return r.stdout

    run("build", "--corpus", cdir, "--out", out, "--slices", "2", "--salt", "2")

    boosted = run(
        "search", "--index", out, "merge window", "--serving",
        "--where", "lang IN ('py', 'go')", "--boost", "lang = 'py'=2.0",
    )
    got = [
        (int(l.split("\t")[0]), float(l.split("\t")[1]))
        for l in boosted.splitlines()
        if "\t" in l
    ]
    eng = SearchEngine(spark, out)
    want = [
        (r.doc_id, round(r.score, 6))
        for r in eng.search(
            "merge window", 10,
            where="lang IN ('py', 'go')", boost=[("lang = 'py'", 2.0)],
        ).collect()
    ]
    assert [(d, round(s, 6)) for d, s in got] == want

    qfile = tmp_path / "queries.txt"
    qfile.write_text("merge window\nreturn compression\n")
    batched = run("queries", "--index", out, "--file", str(qfile), "--batch")
    assert "# merge window" in batched and "# return compression" in batched
    sections = batched.split("# ")
    mw = next(s for s in sections if s.startswith("merge window"))
    ids = [int(l.split("\t")[0]) for l in mw.splitlines()[1:] if "\t" in l]
    assert ids == [r.doc_id for r in eng.search("merge window", 10).collect()]


def test_randomized_cross_plan_parity(spark, corpus, corpus_pdf, tmp_path):
    """Randomized safety net over the round-5 surface: 40 seeded random
    (query shape, where-scope, boost) combinations through the default,
    serving, fast-path and block-max engines.  The engines share one
    scorer, so ranked answers are checked against the independent
    oracle (tests/oracle.py), bit for bit: candidates are the union of
    the leaves, ``where`` keeps the docs a docs-table filter passes, and
    the boost product multiplies the summed score.  Boolean answers are
    checked against the oracle's boolean match set within the scope."""
    import random

    from .oracle import bm25_scores, topk

    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, slices=2, salt=2)
    dist = SearchEngine(spark, out)
    serv = SearchEngine(
        spark, out, fast_path=False, persist_doclens=True
    )
    fast = SearchEngine(
        spark, out, cache_doclens=True, fast_path=True
    )
    bm = SearchEngine(spark, out, use_blockmax=True)
    postings, doclen, stats = build_oracle_index(corpus_pdf)
    content = {int(r.doc_id): r.content.lower() for r in corpus_pdf.itertuples()}
    doc_sets: dict[str, set[int]] = {}

    def passing(pred):  # docs-table filter, the engines' metadata source
        if pred not in doc_sets:
            doc_sets[pred] = {
                r.doc_id for r in dist.docs.filter(pred).select("doc_id").collect()
            }
        return doc_sets[pred]

    def holding(terms, every):
        sets = [{d for d, _, _ in postings.get(t, [])} for t in set(terms)]
        if not sets:
            return set()
        return set.intersection(*sets) if every else set.union(*sets)

    def oracle(words, phrase, where, boost):
        scores = bm25_scores(
            postings, doclen, stats,
            analyze_text(" ".join(words + ([phrase] if phrase else []))),
        )
        cand = holding(analyze_text(" ".join(words)), every=False)
        if phrase:
            cand |= {
                d for d in holding(analyze_text(phrase), every=True)
                if phrase in content[d]
            }
        if where is not None:
            cand &= passing(where)
        rows = {}
        for d in cand:
            fac = 1.0
            for pred, factor in boost or ():
                fac = fac * (factor if d in passing(pred) else 1.0)
            rows[d] = scores.get(d, 0.0) * fac
        return topk(rows, 10)

    rng = random.Random(20260817)
    words = ["merge", "window", "spark", "return", "compression", "posting",
             "buffer", "value", "table", "partition", "shuffle", "offset"]
    wheres = [None, "lang = 'py'", "lang IN ('py', 'go', 'java')",
              "repo = 'org/repo1' OR lang = 'md'"]
    boosts = [None, [("lang = 'py'", 2.0)],
              [("lang = 'c'", 3.0), ("repo = 'org/repo2'", 1.5)]]

    def rand_query():
        """(query, ranked (keywords, phrase) or None)"""
        shape = rng.randrange(5)
        pick = lambda: rng.choice(words)  # noqa: E731
        if shape == 0:                      # ranked keywords
            kw = [pick() for _ in range(rng.randint(1, 4))]
            return " ".join(kw), (kw, None)
        if shape == 1:                      # AND chain
            return " AND ".join(pick() for _ in range(rng.randint(2, 4))), None
        if shape == 2:                      # NOT
            return f"{pick()} NOT {pick()}", None
        if shape == 3:                      # OR with a prefix leaf
            return f"{pick()} OR {pick()[:3]}*", None
        kw, phrase = [pick(), pick()], f"{pick()} {pick()}"
        return f"{kw[0]} {kw[1]} '{phrase}'", (kw, phrase)  # mixed phrase

    ranked_checked = 0
    for _ in range(40):
        q, ranked = rand_query()
        where = rng.choice(wheres)
        boost = rng.choice(boosts) if ranked else None
        if ranked:
            want = oracle(*ranked, where, boost)
        else:
            want = [
                (d, None) for d in boolean_match(q, postings, content)
                if where is None or d in passing(where)
            ]
        for eng in (dist, serv, fast, bm):
            try:
                res = [
                    (r.doc_id, getattr(r, "score", None))
                    for r in eng.search(q, 10, where=where, boost=boost).collect()
                ]
            except Exception as e:
                raise AssertionError(f"{q!r} where={where} boost={boost}: {e}")
            assert res == want, f"{q!r} where={where} boost={boost}"
        ranked_checked += ranked is not None
    assert ranked_checked >= 10
    serv._bucket_doclens.unpersist()


def test_proximity_rerank(spark, corpus, tmp_path):
    """Retrieve-then-rerank: top-k equals the brute-force recompute
    (BM25 pool + weight/(1 + min cross-term token distance) bonus from
    the raw token sequences); single-term-present docs keep their BM25
    score; non-keyword shapes are rejected."""
    import informationretrieval_en_people_cn_spark.plans.querytree as qt
    from informationretrieval_en_people_cn_spark.functions.analyze import (
        analyze_text,
    )

    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, slices=2, salt=2, use_stemmer=False)
    eng = SearchEngine(spark, out, use_stemmer=False)
    q, pool, w = "merge buffer", 50, 0.5
    terms = eng._query_terms(q)

    base = [
        (r.doc_id, r.score) for r in eng.score_terms(terms, k=pool).collect()
    ]
    toks = {
        r.doc_id: analyze_text(r.content, use_stemmer=False)
        for r in eng.docs.select("doc_id", "content").collect()
    }

    def brute_bonus(doc):
        tl = toks[doc]
        pos = {t: [i for i, x in enumerate(tl) if x == t] for t in terms}
        best = None
        for i, a in enumerate(terms):
            for b in terms[i + 1:]:
                for pa in pos[a]:
                    for pb in pos[b]:
                        d = abs(pa - pb)
                        best = d if best is None or d < best else best
        return 0.0 if best is None else w / (1 + best)

    want = sorted(
        ((d, s + brute_bonus(d)) for d, s in base),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    got = [
        (r.doc_id, r.score)
        for r in eng.proximity_rerank(q, k=10, pool=pool, weight=w).collect()
    ]
    assert [(d, round(s, 9)) for d, s in got] == [
        (d, round(s, 9)) for d, s in want
    ]
    # the bonus was actually applied (nonzero for some top doc; the
    # sf0.01 oracle demonstrates a material REORDER — this fixture's
    # top docs all carry near-equal bonuses)
    bm_all = dict(base)
    assert any(s != bm_all[d] for d, s in got if d in bm_all)
    # docs holding only one query term keep their BM25 score exactly
    singles = [d for d, _ in base if len({t for t in terms if t in toks[d]}) < 2]
    if singles:
        gm = dict(got)
        bm = dict(base)
        for d in singles:
            if d in gm:
                assert gm[d] == bm[d]

    with pytest.raises(qt.QueryError):
        eng.proximity_rerank("merge AND window")
    with pytest.raises(qt.QueryError):
        eng.proximity_rerank("merge 'value table'")
