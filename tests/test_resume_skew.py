"""Resume semantics + hot-term sharding (skew defense) + the ranked
placements (driver fast path, bucket plan, block-max) vs the oracle."""

import json
import os

import pytest
from pyspark.sql import functions as F


def test_hot_term_is_sharded(spark, index_dir):
    """Zipf-head terms ('return' dominates the synthetic corpus) must
    span multiple doc-range-disjoint index rows — the skew defense."""
    idx = spark.read.parquet(f"{index_dir}/index")
    hot = idx.filter(F.col("term") == "return").collect()
    assert len(hot) > 1  # sharded
    hot.sort(key=lambda r: r.first_doc)
    # range-disjoint: each shard's block range ends before the next starts
    for a, b in zip(hot, hot[1:]):
        assert a.blocks[-1].last_doc < b.first_doc


def test_resume_skips_tokenize(spark, corpus, tmp_path):
    """After a 'crash' between stage A and the merge, resume must redo
    ONLY the merge: committed run files are not rewritten."""
    from informationretrieval_en_people_cn_spark.operators.build import build_index

    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, slices=2, salt=2)

    # simulate a crash after stage A: drop the merge commit + artifacts
    manifest = os.path.join(out, "manifest.jsonl")
    rows = [json.loads(l) for l in open(manifest)]
    with open(manifest, "w") as f:
        for r in rows:
            if r["stage"] != "merge":
                f.write(json.dumps(r) + "\n")
    import shutil

    shutil.rmtree(os.path.join(out, "index"))

    run_files = []
    for root, _, files in os.walk(os.path.join(out, "runs")):
        for fn in files:
            p = os.path.join(root, fn)
            run_files.append((p, os.path.getmtime(p)))
    assert run_files

    build_index(spark, corpus, out, slices=2, salt=2, resume=True)

    # runs untouched (no re-tokenization), index rebuilt
    for p, mtime in run_files:
        assert os.path.getmtime(p) == mtime, p
    assert os.path.exists(os.path.join(out, "index"))
    assert spark.read.parquet(f"{out}/index").count() > 0


def _oracle_topk(corpus_pdf, terms, k=10):
    from .oracle import bm25_scores, build_oracle_index, topk

    postings, doclen, stats = build_oracle_index(corpus_pdf)
    return topk(bm25_scores(postings, doclen, stats, terms), k)


def test_wand_search_equals_distributed(spark, index_dir, engine, corpus_pdf):
    """The driver fast path and the block-max plan return the oracle's
    top-k, bit for bit."""
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    fast = SearchEngine(spark, index_dir, cache_doclens=True)
    bm = SearchEngine(spark, index_dir, use_blockmax=True)
    for q in ["merge window", "return value index", "compression buffer"]:
        want = _oracle_topk(corpus_pdf, engine._query_terms(q))
        for eng, placement in ((fast, "fast"), (bm, "bucket+blockmax")):
            got = [(r.doc_id, r.score) for r in eng.search(q, 10).collect()]
            assert got == want, (q, placement)
            assert eng.last_trace["placement"] == placement, q


def test_salt_config_invariance(spark, corpus, tmp_path):
    """Different slice/salt configs must produce identical decoded
    postings (sharding changes, content doesn't)."""
    import numpy as np

    from informationretrieval_en_people_cn_spark.functions.codec import decode_frames
    from informationretrieval_en_people_cn_spark.operators.build import build_index

    def postings_map(path):
        acc = {}
        for r in spark.read.parquet(f"{path}/index").collect():
            acc.setdefault(r.term, []).append(r)
        out = {}
        for term, rs in acc.items():
            rs.sort(key=lambda r: r.first_doc)
            d = np.concatenate(
                [decode_frames(bytes(r.postings))[0] for r in rs]
            ).tolist()
            t = np.concatenate(
                [decode_frames(bytes(r.postings))[1] for r in rs]
            ).tolist()
            out[term] = (d, t)
        return out

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    build_index(spark, corpus, a, slices=1, salt=1)
    build_index(spark, corpus, b, slices=3, salt=4)
    pa, pb = postings_map(a), postings_map(b)
    assert set(pa) == set(pb)
    for term in pa:
        assert pa[term] == pb[term], term


def test_wand_search_hot_term_guard(spark, index_dir, engine, corpus_pdf, monkeypatch):
    """A query whose Σdf exceeds the driver budget must take the bucket
    plan (no posting collect), say so in last_trace, and rank like the
    oracle."""
    from informationretrieval_en_people_cn_spark.plans import engine as engine_mod
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    monkeypatch.setattr(engine_mod, "FAST_MAX_POSTINGS", 1)
    fast = SearchEngine(spark, index_dir, cache_doclens=True)
    q = "return value"
    got = [(r.doc_id, r.score) for r in fast.search(q, 10).collect()]
    assert got == _oracle_topk(corpus_pdf, engine._query_terms(q))
    assert fast.last_trace["placement"] == "bucket"
    assert "over FAST_MAX_POSTINGS 1" in fast.last_trace["reason"]


def _postings_map(spark, path):
    import numpy as np

    from informationretrieval_en_people_cn_spark.functions.codec import decode_frames

    acc = {}
    for r in spark.read.parquet(f"{path}/index").collect():
        acc.setdefault(r.term, []).append(r)
    out = {}
    for term, rs in acc.items():
        rs.sort(key=lambda r: r.first_doc)
        d = np.concatenate([decode_frames(bytes(r.postings))[0] for r in rs])
        t = np.concatenate([decode_frames(bytes(r.postings))[1] for r in rs])
        out[term] = (d.tolist(), t.tolist())
    return out


def test_rebuild_with_fewer_slices_no_stale_runs(spark, corpus, tmp_path):
    """Regression (round-1 advice): rebuilding into an existing out_dir
    with a different slice count must not merge stale slice=N run dirs
    (which silently duplicated every doc's postings)."""
    from informationretrieval_en_people_cn_spark.operators.build import build_index

    ref = str(tmp_path / "ref")
    build_index(spark, corpus, ref, slices=2, salt=2)

    out = str(tmp_path / "idx")
    # first build via the per-slice (resume) path so slice dirs exist
    build_index(spark, corpus, out, slices=4, salt=2, resume=True)
    # fresh rebuild with fewer slices into the SAME dir
    build_index(spark, corpus, out, slices=2, salt=2, resume=False)

    assert _postings_map(spark, out) == _postings_map(spark, ref)
    # df/cf not inflated
    import pyspark.sql.functions as SF

    a = {
        r.term: (r.df, r.cf)
        for r in spark.read.parquet(f"{out}/index")
        .groupBy("term").agg(SF.sum("df").alias("df"), SF.sum("cf").alias("cf"))
        .collect()
    }
    b = {
        r.term: (r.df, r.cf)
        for r in spark.read.parquet(f"{ref}/index")
        .groupBy("term").agg(SF.sum("df").alias("df"), SF.sum("cf").alias("cf"))
        .collect()
    }
    assert a == b


def test_resume_with_stale_extra_slice_dirs(spark, corpus, tmp_path):
    """Resume path reads ONLY this config's slice dirs: a stale slice=9
    dir from an older, wider build must not leak into the merge."""
    import shutil

    from informationretrieval_en_people_cn_spark.operators.build import build_index

    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, slices=2, salt=2, resume=True)
    want = _postings_map(spark, out)
    # plant a stale extra slice dir (copy of slice=0) + wipe merge commit
    shutil.copytree(
        os.path.join(out, "runs", "slice=0"), os.path.join(out, "runs", "slice=9")
    )
    manifest = os.path.join(out, "manifest.jsonl")
    rows = [json.loads(l) for l in open(manifest)]
    with open(manifest, "w") as f:
        for r in rows:
            if r["stage"] != "merge":
                f.write(json.dumps(r) + "\n")
    build_index(spark, corpus, out, slices=2, salt=2, resume=True)
    assert _postings_map(spark, out) == want


def test_manifest_torn_line_is_skipped(tmp_path):
    """A crash mid-append leaves a torn final line; the reader must skip
    it (and resume re-runs that unit) instead of raising."""
    from informationretrieval_en_people_cn_spark import checkpoint as ckpt

    out = str(tmp_path / "m")
    ckpt.commit(out, partition_id=0, stage="runs", fingerprint="abc", path="p")
    with open(ckpt.manifest_path(out), "a") as f:
        f.write('{"partition_id": 1, "stage": "runs", "finger')  # torn
    rows = ckpt.read_manifest(out)
    assert len(rows) == 1 and rows[0]["partition_id"] == 0
    assert ckpt.committed(out) == {("runs", 0): "abc"}


def test_hash_sized_doc_ids_bucket_agreement(spark):
    """Regression (round-1 advice): buckets*(doc_id-lo) overflows int64
    for hash-sized ids; the Python bucket must mirror _range_bucket's
    float math and stay in [0, buckets)."""
    from informationretrieval_en_people_cn_spark.functions.codec import decode_frames
    from informationretrieval_en_people_cn_spark.operators.build import (
        _range_bucket,
        partition_runs,
    )

    lo, hi = 3, (1 << 62) + 12345
    span = hi - lo + 1
    buckets = 64
    ids = [lo, lo + 1, hi, hi - 7, (1 << 61) + 99, (1 << 60) - 1, 123456789]
    df = spark.createDataFrame(
        [(i, "hello world tokens") for i in ids], "doc_id long, content string"
    )
    runs = partition_runs(df, lo=lo, span=span, buckets=buckets).collect()
    got = {}
    for r in runs:
        d, _, _ = decode_frames(bytes(r.frame))
        for doc in d:
            got[int(doc)] = r.salt
    want = {
        r.doc_id: r.b
        for r in df.select(
            "doc_id", _range_bucket("doc_id", lo, span, buckets).alias("b")
        ).collect()
    }
    assert set(got) == set(ids)
    for i in ids:
        assert 0 <= got[i] < buckets, i
        assert got[i] == want[i], i


FOURTEEN_SHAPES = [
    "merge",
    "merge window",
    "return value index",
    "'posting merge'",
    "merge AND window",
    "return AND value AND index AND merge",
    "merge NOT window",
    "merge OR 'posting merge'",
    "compr*",
    "'posting mer'*",
    "merge AND compr*",
    "window OR buffer OR shuffle",
    "return NOT value NOT index",
    "merged merging merges",
]


def test_fast_path_equals_distributed_all_shapes(spark, index_dir, engine):
    """The driver-side fast path (driver doclens) must return
    identical results to the distributed plan for every query shape."""
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    fast = SearchEngine(spark, index_dir, cache_doclens=True)
    assert fast.fast_path
    for q in FOURTEEN_SHAPES:
        got = fast.search(q, k=10).collect()
        want = engine.search(q, k=10).collect()
        if got and "score" in got[0].asDict():
            assert [r.doc_id for r in got] == [r.doc_id for r in want], q
            for g, w in zip(got, want):
                assert g.score == pytest.approx(w.score, rel=1e-12), q
        else:
            assert {r.doc_id for r in got} == {r.doc_id for r in want}, q


def test_fast_path_budget_falls_back_to_distributed(spark, index_dir, monkeypatch):
    from informationretrieval_en_people_cn_spark.plans import engine as engine_mod
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    monkeypatch.setattr(engine_mod, "FAST_MAX_POSTINGS", 1)
    fast = SearchEngine(spark, index_dir, cache_doclens=True)
    tiny = fast.search("merge window", k=10).collect()  # falls back
    full = SearchEngine(spark, index_dir).search("merge window", k=10).collect()
    assert [r.doc_id for r in tiny] == [r.doc_id for r in full]


def test_fast_path_stopterm_parity(spark, index_dir):
    """Q8 stop-term skip must behave identically on the fast path
    and the bucket plan (both read cf from the term dictionary)."""
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    slow = SearchEngine(spark, index_dir, stop_cf_fraction=0.03)
    fast = SearchEngine(
        spark, index_dir, stop_cf_fraction=0.03,
        cache_doclens=True,
    )
    assert fast.fast_path
    for q in ("return value", "merge return index"):
        got = fast.search(q, k=10).collect()
        want = slow.search(q, k=10).collect()
        assert [r.doc_id for r in got] == [r.doc_id for r in want], q
        for g, w in zip(got, want):
            assert g.score == pytest.approx(w.score, rel=1e-12), q


def test_fast_path_random_corpora_and_queries(spark, tmp_path):
    """Randomized cross-check: on random corpora and random query
    strings, the fast path and the distributed plan agree exactly."""
    import random

    from informationretrieval_en_people_cn_spark.operators.build import build_index
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine
    from informationretrieval_en_people_cn_spark.sources.corpus import (
        synth_corpus,
        with_doc_ids,
    )

    words = ["merge", "window", "return", "value", "index", "buffer",
             "compression", "posting", "shuffle", "zzznope"]
    for seed in (11, 23):
        corpus = with_doc_ids(synth_corpus(spark, n_docs=80, seed=seed))
        out = str(tmp_path / f"idx{seed}")
        build_index(spark, corpus, out, slices=2, salt=2, block_size=8)
        slow = SearchEngine(spark, out)
        fast = SearchEngine(
            spark, out, cache_doclens=True
        )
        rng = random.Random(seed)
        queries = []
        for _ in range(6):
            kind = rng.choice(["ranked", "and", "or", "not", "prefix"])
            a, b = rng.sample(words, 2)
            queries.append({
                "ranked": f"{a} {b}",
                "and": f"{a} AND {b}",
                "or": f"{a} OR {b}",
                "not": f"{a} NOT {b}",
                "prefix": f"{a[:3]}*",
            }[kind])
        for q in queries:
            got = fast.search(q, k=10).collect()
            want = slow.search(q, k=10).collect()
            if got and "score" in got[0].asDict():
                assert [r.doc_id for r in got] == [r.doc_id for r in want], (seed, q)
                for g, w in zip(got, want):
                    assert g.score == pytest.approx(w.score, rel=1e-12), (seed, q)
            else:
                assert {r.doc_id for r in got} == {r.doc_id for r in want}, (seed, q)


def test_merge_reducer_load_uniform_under_total_skew(spark, tmp_path):
    """The skew-proof claim, pinned structurally: with EVERY doc carrying
    identical Zipf-head content (the worst term skew possible — each
    term's df = n_docs), per-bucket posting bytes must stay uniform,
    because the merge shuffle key is the doc-range bucket, never the
    term.  A repartition-by-term merge would put 100% of each hot
    term's bytes on one reducer; here max/median bucket bytes ≤ 1.5."""
    from pyspark.sql import functions as F

    from informationretrieval_en_people_cn_spark.operators.build import build_index

    n = 256
    text = "return self value for spark merge window data index node " * 20
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("synthetic").alias("repo"),
        F.concat(F.lit("p/"), F.col("id")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.lit("python").alias("lang"),
        F.lit(text).alias("content"),
        F.sha2(F.lit(text), 256).alias("sha256"),
    )
    out = str(tmp_path / "skew_idx")
    build_index(spark, docs, out, slices=4, salt=4, block_size=16)

    per_bucket = (
        spark.read.parquet(f"{out}/index")
        .groupBy("bucket")
        .agg(F.sum(F.length("postings")).alias("nbytes"))
        .collect()
    )
    sizes = sorted(r.nbytes for r in per_bucket)
    assert len(sizes) == 16  # every doc-range bucket materialized
    median = sizes[len(sizes) // 2]
    assert max(sizes) / median <= 1.5, sizes
