"""sf0.1 serving-plan parity soak (VERDICT r4 #8).

Builds the full sf0.1 index (~10x the driver gate's volume) and sweeps
every bench query shape through THREE engines — distributed, driver
fast path, and bucket-local serving (``persist_doclens=True``) —
asserting row-identical results per shape, plus the positional serving
twins.  Slow (several minutes on a quiet box), so it is opt-in:

    IR_SLOW_TESTS=1 python -m pytest tests/test_soak_sf01.py -q

The shapes mirror ``bench.py``'s QUERY_SET (the reference's
queries.txt:1-14 ported to the documents-table vocabulary).
"""

import os
import shutil

import pytest

SOAK = bool(os.environ.get("IR_SLOW_TESTS"))

pytestmark = [
    pytest.mark.slow,
    pytest.mark.skipif(not SOAK, reason="sf0.1 soak; set IR_SLOW_TESTS=1"),
]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SHAPES = [
    "spark",
    "merge window",
    "merge window spark",
    "'value table'",
    "spark AND merge",
    "spark AND merge AND window AND join",
    "spark NOT window",
    "spark OR 'value table'",
    "par*",
    "'value ta'*",
    "merge window 'value table'",
    "merge window par*",
    "'value table' 'zz qq'",
    "merge OR 'value table' OR buffer",
]


@pytest.fixture(scope="module")
def sf01_index(spark, tmp_path_factory):
    from informationretrieval_en_people_cn_spark.operators.build import build_index
    from informationretrieval_en_people_cn_spark.sources.corpus import (
        documents_as_corpus,
    )

    out = str(tmp_path_factory.mktemp("soak") / "idx")
    corpus = documents_as_corpus(spark, SF_DIR)
    build_index(spark, corpus, out, slices=4, salt=4)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _rows(engine, q):
    return [
        (r.doc_id, getattr(r, "score", None)) for r in engine.search(q, 10).collect()
    ]


def test_sf01_serving_parity_all_shapes(spark, sf01_index):
    """serving == distributed == fast path, per shape, at sf0.1."""
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    dist = SearchEngine(spark, sf01_index, fast_path=False)
    fast = SearchEngine(
        spark, sf01_index, cache_doclens=True,
        cache_content=True,
    )
    serv = SearchEngine(
        spark, sf01_index, fast_path=False,
        persist_doclens=True,
    )
    for q in SHAPES:
        want = _rows(dist, q)
        assert _rows(serv, q) == want, f"serving != distributed: {q}"
        assert _rows(fast, q) == want, f"fast path != distributed: {q}"
    serv._doclens_cluster.unpersist()
    serv._bucket_doclens.unpersist()


def test_sf01_positional_serving_parity(spark, sf01_index):
    """positional phrase matching, bucket-local vs distributed, sf0.1."""
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    base = SearchEngine(
        spark, sf01_index, fast_path=False,
        phrase_via_positions=True,
    )
    serv = SearchEngine(
        spark, sf01_index, fast_path=False,
        persist_doclens=True, phrase_via_positions=True,
    )
    for q in ("'value table'", "merge window 'value table'", "'value ta'*"):
        assert _rows(serv, q) == _rows(base, q), q
    serv._doclens_cluster.unpersist()
    serv._bucket_doclens.unpersist()
