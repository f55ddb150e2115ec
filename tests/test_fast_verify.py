"""The fast path's substring-phrase verify: each needle's content hits
fold into the frame collect (one Spark action per query), and the
answers equal the distributed engine and the pure-pandas oracle."""

import numpy as np
import pytest

from informationretrieval_en_people_cn_spark.functions.analyze import analyze_text
from informationretrieval_en_people_cn_spark.operators.build import build_index
from informationretrieval_en_people_cn_spark.plans import engine as engine_mod
from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine, _in_list
from informationretrieval_en_people_cn_spark.session import local_rows_df

from .oracle import build_oracle_index, search_rows

QUERIES = [
    "'return value'",
    "'return val'*",
    "merge OR 'return value'",
    "merge NOT 'return value'",
    "merge buffer 'return value'",                 # mixed ranked
    "'return value' OR 'posting merge'",           # two phrase leaves
    "offset 'return value' 'query merge'",         # two phrase leaves, ranked
    "'return value' OR merge AND 'return value'",  # one needle repeated
    "'Special §¸…· Characters'",                   # capitals, punctuation
    "query 'return parseHttpRequest'",
]


@pytest.fixture(scope="module")
def fast(spark, index_dir):
    return SearchEngine(spark, index_dir, cache_doclens=True)


@pytest.fixture(scope="module")
def answer(corpus_pdf):
    """query -> the oracle's answer: BM25 top-10 rows for ranked
    queries, the sorted doc_id rows for boolean ones."""
    postings, doclen, stats = build_oracle_index(corpus_pdf)
    content = {int(r.doc_id): r.content.lower() for r in corpus_pdf.itertuples()}
    return lambda q: search_rows(q, postings, doclen, stats, content)


def _rows(eng, q):
    return [(r.doc_id, getattr(r, "score", None)) for r in eng.search(q, 10).collect()]


@pytest.mark.parametrize("route", ["folded"])
def test_fast_verify_routes_equal_distributed_and_oracle(engine, fast, answer, route):
    """Every phrase shape through the fast path, its needles folded into
    the frame collect: bit-identical to the distributed engine and the
    oracle."""
    eng = fast
    nonempty = 0
    for q in QUERIES:
        want = answer(q)
        got = _rows(eng, q)
        assert eng.last_trace["placement"] == "fast", q
        assert eng.last_trace["verify"] == route, q
        assert eng.last_trace["postings"] >= eng.last_trace["frames"] > 0, q
        assert got == want, q
        assert _rows(engine, q) == want, q
        nonempty += bool(want)
    assert nonempty == len(QUERIES)
    # a boolean phrase decodes exactly its rare terms' index rows
    rare = eng._rare_terms(analyze_text("return value"))
    eng.search("'return value'", 10)
    assert eng.last_trace["frames"] == len(eng._index_rows(list(rare)).collect())
    assert eng.last_trace["postings"] == sum(rare.values())


def test_folded_phrase_runs_one_job(spark, fast):
    """A folded phrase query is one Spark job (frames + substring hits
    in one UNION ALL collect), as a keyword query is."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for i, q in enumerate(["'return value'", "merge buffer 'return value'", "merge"]):
        gid = f"fast-verify-jobs-{i}"
        sc.setJobGroup(gid, gid)
        try:
            fast.search(q, 10).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(tracker.getJobIdsForGroup(gid)) == 1, q


def test_substring_heavy_needle_stays_in_budget(spark, tmp_path, monkeypatch):
    """A one-term phrase whose needle sits inside other words ('int' in
    'print', 'point', 'interval'): its content hits (every doc) far
    outnumber its term's df (6).  Under a budget the hits exceed, the
    fold brings at most budget + #partitions ids to the driver and the
    query falls back to the bucket plan; with room it folds.  Every
    answer equals the substring oracle and the distributed engine."""
    rows = [
        (i, "r", f"p{i}", "0" * 40, "py",
         ("int print" if i % 10 == 0 else "print point interval start")
         + f" part{i % 3}", "x")
        for i in range(60)
    ]
    corpus = spark.createDataFrame(
        rows,
        "doc_id long, repo string, path string, commit string, "
        "lang string, content string, sha256 string",
    )
    out = str(tmp_path / "subidx")
    build_index(spark, corpus, out, slices=2, salt=2, block_size=8)
    base = SearchEngine(spark, out)
    eng = SearchEngine(spark, out, cache_doclens=True)
    assert eng._sum_df(["int"]) == 6
    parts = eng.content_df.rdd.getNumPartitions()
    roomy = engine_mod.FAST_MAX_POSTINGS

    collected = []
    df_cls = type(eng.index)  # the session's DataFrame implementation
    to_arrow = df_cls.toArrow  # the fast path collects as Arrow

    def spy(df):
        got = to_arrow(df)
        hit = got.column("hit") if "hit" in got.column_names else []
        collected.append(len(hit) - getattr(hit, "null_count", 0))
        return got

    monkeypatch.setattr(df_cls, "toArrow", spy)
    for q in ("'int'", "part0 'int'"):
        ref = _rows(base, q)
        if q == "'int'":  # the docs holding the term, scored
            assert sorted(d for d, _ in ref) == list(range(0, 60, 10))
        collected.clear()
        monkeypatch.setattr(engine_mod, "FAST_MAX_POSTINGS", 30)
        assert _rows(eng, q) == ref, q
        assert eng.last_trace["placement"] == "bucket", q
        assert "'int' hits over FAST_MAX_POSTINGS 30" in eng.last_trace["reason"]
        assert 0 < max(collected) <= 30 + parts, collected
        monkeypatch.setattr(engine_mod, "FAST_MAX_POSTINGS", roomy)
        assert _rows(eng, q) == ref, q
        assert eng.last_trace["placement"] == "fast", q
        assert eng.last_trace["verify"] == "folded", q

def test_in_list_matches_isin(spark):
    """The one-call IN-list keeps exactly the rows whose value is listed:
    analyzed terms, ints (numpy too), strings it must not splice into
    SQL, and no values."""
    rows = [("merg", 1), ("café", 2), ("it's", 3), ("a b", 4), ("x_1", 5)]
    df = local_rows_df(spark, rows, "term string, n long")
    for col, vals in (
        ("term", ["merg", "x_1"]),
        ("term", ["café", "merg"]),
        ("term", ["it's", "') OR ('1'='1"]),
        ("term", ["a b"]),
        ("n", [np.int64(2), 5]),
        ("n", []),
    ):
        i = 0 if col == "term" else 1
        want = sorted(r[1] for r in rows if r[i] in vals)
        assert sorted(r.n for r in df.filter(_in_list(col, vals)).collect()) == want
