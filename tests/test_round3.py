"""Round-3 regressions: ADVICE r2 bug fixes + VERDICT r2 items.

Covers: the fast-path cache guard, auto block-max selection, the WAND
tie-break conservatism, dedup_clusters pointer jumping + convergence
guard, microsecond sessionize state, manifest-derived refresh inputs,
and snapshot-pointer commits.
"""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# engine: cache guards, auto block-max
# ---------------------------------------------------------------------------


def test_fast_path_requires_doclen_cache(spark, index_dir):
    """ADVICE r2 (medium): fast_path=True without the doclen cache
    scored every doc with doclen 0; now it refuses to construct.  The
    term dictionary is always loaded, so the doclen cache is all the
    fast path needs."""
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    with pytest.raises(ValueError, match="fast_path"):
        SearchEngine(spark, index_dir, fast_path=True)
    eng = SearchEngine(spark, index_dir, fast_path=True, cache_doclens=True)
    want = [(r.doc_id, r.score) for r in SearchEngine(spark, index_dir).search("merge window").collect()]
    assert [(r.doc_id, r.score) for r in eng.search("merge window").collect()] == want
    assert eng.last_trace["placement"] == "fast"
    # explicit False without the doclen cache stays fine
    SearchEngine(spark, index_dir, fast_path=False)


def test_blockmax_autoselects_on_sumdf(spark, index_dir):
    """use_blockmax=None auto-routes big-Σdf keyword queries through the
    bucket-pruning plan; small queries keep the exhaustive plan.
    Results identical either way."""
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    exh = SearchEngine(spark, index_dir, fast_path=False)
    auto = SearchEngine(
        spark, index_dir,
        fast_path=False, blockmax_min_sumdf=1,
    )
    q = "merge window compression"
    want = [(r.doc_id, r.score) for r in exh.search(q).collect()]
    got = [(r.doc_id, r.score) for r in auto.search(q).collect()]
    assert got == want
    assert auto.last_blockmax is not None  # pruning plan actually ran

    small = SearchEngine(
        spark, index_dir,
        fast_path=False, blockmax_min_sumdf=10**9,
    )
    assert [(r.doc_id, r.score) for r in small.search(q).collect()] == want
    assert small.last_blockmax is None  # stayed exhaustive


def test_wand_tie_break_conservative():
    """Exact score == θ ties must never be pruned.  doclen-0 docs make
    the bucket bound TIGHT (score == bound), the adversarial case for a
    strict ``>`` survivor rule: a bucket whose bound equals θ must still
    be scored, and the block-max result must equal the exhaustive
    ranking including the doc_id tie-break."""
    from informationretrieval_en_people_cn_spark.plans.kernel import bm25_idf

    from .test_build_query import _blockmax_topk

    n, avgdl = 40, 5.0
    # two terms; every doc has tf=3 for t1 (scores all EQUAL and equal
    # to the bucket bound since doclen=0); sparse t2 adds differentiation
    # for some docs so θ lands exactly on the t1 score
    docs1 = np.arange(1, n + 1, dtype=np.int64)
    tfs1 = np.full(n, 3, dtype=np.int64)
    docs2 = np.array([2, 9, 33], dtype=np.int64)
    tfs2 = np.array([1, 2, 1], dtype=np.int64)
    postings = {"t1": (docs1, tfs1), "t2": (docs2, tfs2)}
    dfs = {"t1": n, "t2": 3}
    doclens = {int(d): 0 for d in docs1}

    k1, b = 1.2, 0.75
    scores = {}
    for t in sorted(postings):
        ds, ts = postings[t]
        idf = bm25_idf(n, dfs[t])
        for d, tf in zip(ds, ts):
            s = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * 0 / avgdl))
            scores[int(d)] = scores.get(int(d), 0.0) + s
    t1_score = scores[1]
    tied = 0
    for k in (3, 4, 5, 10):
        want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
        got = _blockmax_topk(postings, dfs, doclens, n, avgdl, k, block_size=4)
        assert got["topk"] == want, k
        at_theta = [bk for bk, ub in got["bounds"].items() if ub == got["theta"]]
        assert set(at_theta) <= set(got["survivors"]), k  # ties are scored
        tied += len(at_theta)
        if got["theta"] == t1_score:
            # the t1-only buckets' bound IS θ: a `>` rule would drop them
            assert at_theta, k
    assert tied  # some k really put a bucket's bound exactly on θ


# ---------------------------------------------------------------------------
# dedup_clusters: pointer jumping + convergence guard
# ---------------------------------------------------------------------------


def test_dedup_clusters_long_chain_converges_logarithmically(spark):
    """VERDICT r2: a 100-node path graph (diameter 99) converges in
    O(log n) rounds via pointer jumping — 12 rounds is ample (plain
    min-label propagation would need ~99)."""
    from informationretrieval_en_people_cn_spark.operators.pipeline import (
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "doc_a long, doc_b long"
    )
    labels = dedup_clusters(pairs, max_iters=12)
    rows = labels.collect()
    assert len(rows) == 100
    assert {r.cluster_id for r in rows} == {0}


def test_dedup_clusters_raises_on_iteration_cap(spark):
    """Exiting by cap without convergence raises instead of returning
    plausible-looking wrong labels (VERDICT r2 'What's wrong #3')."""
    from informationretrieval_en_people_cn_spark.operators.pipeline import (
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        dedup_clusters(pairs, max_iters=2)


# ---------------------------------------------------------------------------
# sessionize: microsecond state + late events inside the watermark
# ---------------------------------------------------------------------------

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _run_sessionize(spark, tmp_path, batches, gap="30 minutes", watermark="2 hours"):
    from informationretrieval_en_people_cn_spark.streaming.windows import (
        EVENTS_SCHEMA,
        sessionize,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    updates: list = []

    def handle(batch_df, batch_id):
        updates.extend(batch_df.collect())

    for chunk in batches:
        spark.createDataFrame(chunk, EVENTS_SCHEMA).write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(in_dir)
        q = (
            sessionize(stream, gap=gap, watermark=watermark)
            .writeStream.foreachBatch(handle)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return updates


def test_sessionize_submillisecond_parity(spark, tmp_path):
    """ADVICE r2 (low): sub-ms timestamps must make the same gap
    decisions as the batch twin's microsecond arithmetic."""
    from informationretrieval_en_people_cn_spark.streaming.windows import (
        EVENTS_SCHEMA,
        sessionize_batch,
    )

    us = dt.timedelta(microseconds=1)
    gap = dt.timedelta(minutes=30)
    rows = [
        # events 1+2: gap of exactly 30min + 1µs -> SEPARATE sessions
        # (ms truncation would collapse the 1µs excess and merge them)
        (1, BASE, 1, "click", 1.0, "{}"),
        (2, BASE + gap + us, 1, "click", 2.0, "{}"),
        # events 3+4: gap of exactly 30min -> SAME session
        (3, BASE + dt.timedelta(hours=6), 1, "click", 4.0, "{}"),
        (4, BASE + dt.timedelta(hours=6) + gap, 1, "click", 8.0, "{}"),
    ]
    flush = [
        (90, BASE + dt.timedelta(days=2), 99, "x", 0.0, "{}"),
        (91, BASE + dt.timedelta(days=4), 99, "x", 0.0, "{}"),
    ]
    updates = _run_sessionize(spark, tmp_path, [rows, flush[:1], flush[1:]])
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 4))
        for r in updates
        if r.user_id != 99
    }
    batch = sessionize_batch(
        spark.createDataFrame(rows, EVENTS_SCHEMA), gap="30 minutes"
    )
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value_r)
        for r in batch.collect()
    }
    assert got == want
    assert len(got) == 3  # 1µs-over-gap split DID happen


def test_sessionize_late_event_extends_open_session(spark, tmp_path):
    """ADVICE r2 (low): an out-of-order event arriving in a LATER
    micro-batch but inside the watermark folds into the open session
    (extending its start) instead of regressing last_ms and corrupting
    the gap decisions."""
    m = lambda mins: BASE + dt.timedelta(minutes=mins)  # noqa: E731
    batch1 = [(1, m(60), 1, "c", 1.0, "{}"), (2, m(70), 1, "c", 2.0, "{}")]
    # late event at t=45 (inside the 2h watermark, within gap of the
    # open session's start=60) + an in-order event at t=80
    batch2 = [(3, m(45), 1, "c", 4.0, "{}"), (4, m(80), 1, "c", 8.0, "{}")]
    flush = [
        (90, m(10_000), 99, "x", 0.0, "{}"),
        (91, m(20_000), 99, "x", 0.0, "{}"),
    ]
    updates = _run_sessionize(spark, tmp_path, [batch1, batch2, flush[:1], flush[1:]])
    sess = [
        (r.session_start, r.session_end, r.n_events, round(r.sum_value, 4))
        for r in updates
        if r.user_id == 1
    ]
    # one session [45, 80] holding all 4 events — the batch-twin answer
    assert sess == [(m(45), m(80), 4, 15.0)]


# ---------------------------------------------------------------------------
# refresh_index: manifest-derived inputs + snapshot pointer commit
# ---------------------------------------------------------------------------


def test_refresh_ignores_stale_runs(spark, corpus, tmp_path):
    """ADVICE r2 (medium): fresh build then resume with a different
    config leaves the fresh build's root-level run files on disk; a
    refresh must merge ONLY the runs the last merge consumed, not
    double-count every posting via recursiveFileLookup."""
    from informationretrieval_en_people_cn_spark.operators.build import (
        IndexPaths,
        build_index,
    )
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine
    from informationretrieval_en_people_cn_spark.streaming.incremental import (
        refresh_index,
    )

    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, slices=2, salt=2)          # root-level runs
    build_index(spark, corpus, out, slices=3, salt=2, resume=True)  # slice dirs
    eng_before = SearchEngine(spark, out)
    want = {
        (r.doc_id, round(r.score, 9))
        for r in eng_before.search("merge window", 10).collect()
    }
    n_docs = eng_before.n_docs

    refresh_index(spark, out, corpus=corpus)
    eng = SearchEngine(spark, out)
    assert eng.n_docs == n_docs  # postings not duplicated
    got = {
        (r.doc_id, round(r.score, 9))
        for r in eng.search("merge window", 10).collect()
    }
    assert got == want
    assert IndexPaths(out).version == 1


def test_snapshot_pointer_keeps_concurrent_readers_alive(spark, corpus, tmp_path):
    """VERDICT r2 #9: the pointer commit is atomic and keeps the
    previous snapshot's files for readers that resolved it earlier."""
    from informationretrieval_en_people_cn_spark.operators.build import (
        IndexPaths,
        build_index,
    )
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine
    from informationretrieval_en_people_cn_spark.streaming.incremental import (
        refresh_index,
    )

    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, slices=2, salt=2)
    reader_v0 = SearchEngine(spark, out)  # resolves the pre-refresh paths
    want = {r.doc_id for r in reader_v0.search_page("merge", page_size=10**6).collect()}

    refresh_index(spark, out, corpus=corpus)   # -> v1
    # old reader's resolved paths still serve (previous snapshot kept)
    assert {r.doc_id for r in reader_v0.search_page("merge", page_size=10**6).collect()} == want
    assert IndexPaths(out).version == 1

    refresh_index(spark, out, corpus=corpus)   # -> v2 (GCs v0)
    p = IndexPaths(out)
    assert p.version == 2
    reader_v2 = SearchEngine(spark, out)
    assert {r.doc_id for r in reader_v2.search_page("merge", page_size=10**6).collect()} == want
    # v0 tables were GC'd, v1 (previous) kept for concurrent readers
    import os

    assert not os.path.exists(os.path.join(out, "index"))
    assert os.path.exists(os.path.join(out, "index_v1"))


def test_decontaminate_flags_ngram_overlap(spark):
    from informationretrieval_en_people_cn_spark.operators.pipeline import decontaminate

    bench_text = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, "noise words then alpha beta gamma delta epsilon appears here"),  # 5-gram hit
        (2, "only alpha beta gamma delta overlap of four tokens here today"),  # 4-gram: miss
        (3, "completely unrelated content about spark partitions and shuffles"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = spark.createDataFrame([(100, bench_text)], ["doc_id", "text"])
    got = {r.doc_id: r.bench_hits for r in decontaminate(docs, bench, n=5).collect()}
    assert got == {1: 1}

    # n=4 catches doc 2 as well (two distinct contaminated 4-grams in doc 1)
    got4 = {r.doc_id: r.bench_hits for r in decontaminate(docs, bench, n=4).collect()}
    assert got4 == {1: 2, 2: 1}


def test_stratified_sample_deterministic_under_repartition(spark):
    from informationretrieval_en_people_cn_spark.operators.pipeline import (
        stratified_sample,
    )

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("grp"),
    )
    fr = {"a": 0.5, "b": 0.1}
    for hash_fn in ("xxhash64", "md5"):
        base = {
            r.doc_id
            for r in stratified_sample(
                df, fr, strata_col="grp", hash_fn=hash_fn
            ).collect()
        }
        shuffled = {
            r.doc_id
            for r in stratified_sample(
                df.repartition(13), fr, strata_col="grp", hash_fn=hash_fn
            ).collect()
        }
        assert base == shuffled  # membership is layout-independent
        n_a = sum(1 for d in base if d % 2 == 0)
        n_b = len(base) - n_a
        assert abs(n_a - 1000) < 150, (hash_fn, n_a)  # ~frac within Bernoulli noise
        assert abs(n_b - 200) < 90, (hash_fn, n_b)

    # strata without a configured fraction are dropped entirely
    only_a = stratified_sample(df, {"a": 1.0}, strata_col="grp")
    assert only_a.filter(F.col("grp") == "b").count() == 0
    assert only_a.count() == 2000
