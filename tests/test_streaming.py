"""Incremental (Structured Streaming) index maintenance: streamed
micro-batches must produce the same index as one batch build."""

import hashlib
import shutil

import pytest
from pyspark.sql import functions as F


def _digest(spark, path):
    h = hashlib.sha256()
    rows = spark.read.parquet(f"{path}/index").orderBy("term", "first_doc").collect()
    for r in rows:
        h.update(r.term.encode())
        h.update(bytes(r.postings))
    return h.hexdigest()


def test_streamed_equals_batch(spark, corpus, tmp_path):
    from informationretrieval_en_people_cn_spark.operators.build import build_index
    from informationretrieval_en_people_cn_spark.streaming.incremental import (
        CORPUS_SCHEMA,
        incremental_index,
        refresh_index,
    )

    lo, hi = 0, (1 << 62)
    span = hi - lo + 1

    # batch reference build with the same global bucketing
    batch_dir = str(tmp_path / "batch_idx")
    build_index(spark, corpus, batch_dir, slices=4, salt=4)

    # stream the same corpus in as parquet files (two "arrivals")
    in_dir = str(tmp_path / "incoming")
    half1 = corpus.filter(F.col("doc_id") % 2 == 0)
    half2 = corpus.filter(F.col("doc_id") % 2 == 1)
    half1.write.mode("append").parquet(in_dir)

    stream_dir = str(tmp_path / "stream_idx")
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(in_dir)
    q = incremental_index(stream, stream_dir, lo=lo, span=span, buckets=16)
    q.awaitTermination(120)

    half2.write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(in_dir)
    q = incremental_index(stream, stream_dir, lo=lo, span=span, buckets=16)
    q.awaitTermination(120)

    refresh_index(spark, stream_dir)

    # the streamed index must decode to the same postings as the batch
    # one (bucket counts differ -> row sharding differs, so compare the
    # per-term merged posting streams, not raw bytes)
    import numpy as np

    from informationretrieval_en_people_cn_spark.functions.codec import decode_frames

    from informationretrieval_en_people_cn_spark.operators.build import IndexPaths

    def postings_map(path):
        out = {}
        rows = spark.read.parquet(IndexPaths(path).index).collect()
        acc: dict[str, list] = {}
        for r in rows:
            acc.setdefault(r.term, []).append(r)
        for term, rs in acc.items():
            rs.sort(key=lambda r: r.first_doc)
            d = np.concatenate([decode_frames(bytes(r.postings))[0] for r in rs])
            t = np.concatenate([decode_frames(bytes(r.postings))[1] for r in rs])
            out[term] = (d.tolist(), t.tolist())
        return out

    got = postings_map(stream_dir)
    want = postings_map(batch_dir)
    assert set(got) == set(want)
    for term in want:
        assert got[term] == want[term], term

    # a stream-only out_dir must be fully loadable (round-1 advice:
    # refresh never wrote docs/stats, so SearchEngine crashed on load
    # and ranked joins dropped every streamed doc)
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    eng_stream = SearchEngine(spark, stream_dir, corpus=corpus)
    eng_batch = SearchEngine(spark, batch_dir)
    assert eng_stream.n_docs > 0
    kw = {r.doc_id for r in eng_stream.search_page("merge", page_size=10**6).collect()}
    assert kw == {r.doc_id for r in eng_batch.search_page("merge", page_size=10**6).collect()}

    # with the corpus supplied, docs/stats match the batch build exactly
    # and ranked retrieval is rank- and score-identical
    refresh_index(spark, stream_dir, corpus=corpus)
    eng_stream = SearchEngine(spark, stream_dir)
    assert eng_stream.n_docs == eng_batch.n_docs
    assert eng_stream.avgdl == pytest.approx(eng_batch.avgdl, rel=1e-12)
    got_r = [(r.doc_id, r.score) for r in eng_stream.search("merge window", 10).collect()]
    want_r = [(r.doc_id, r.score) for r in eng_batch.search("merge window", 10).collect()]
    assert [d for d, _ in got_r] == [d for d, _ in want_r]
    for (gd, gs), (wd, ws) in zip(got_r, want_r):
        assert gs == pytest.approx(ws, rel=1e-12)

    shutil.rmtree(batch_dir, ignore_errors=True)
    shutil.rmtree(stream_dir, ignore_errors=True)
