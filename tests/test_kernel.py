"""The numpy query kernel (plans/kernel.py), without Spark.

Every placement runs ``score_bucket`` / ``_eval_bucket_tree``: the
serving plans once per doc-range bucket, the driver fast path once over
one virtual bucket holding every collected frame.  These properties pin
that the two layouts agree bit for bit with each other and with the
pure-Python oracle."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from informationretrieval_en_people_cn_spark.functions.codec import encode_frame
from informationretrieval_en_people_cn_spark.plans.kernel import (
    _BucketFrames,
    _bind_ids,
    _eval_bucket_tree,
    bm25_idf,
    bm25_tfp,
    bucket_upper_bounds,
    min_cross_distance,
    score_bucket,
)
from .oracle import bm25_scores, topk

K1, B = 1.2, 0.75
TERMS = ["a", "b", "c", "d", "e"]


def _frame(term, docs, tfs):
    return {
        "term": term,
        "postings": encode_frame(
            np.asarray(docs, dtype=np.int64), np.asarray(tfs, dtype=np.int64)
        ),
    }


@st.composite
def collections(draw):
    """(doclen, postings, bucket cut points): doc ids are sparse and
    ascending; each term holds a random subset of docs."""
    n = draw(st.integers(1, 40))
    ids = sorted(draw(st.sets(st.integers(0, 10_000), min_size=n, max_size=n)))
    doclen = {d: draw(st.integers(1, 60)) for d in ids}
    postings = {}
    for t in TERMS:
        docs = [d for d in ids if draw(st.booleans())]
        if docs:
            postings[t] = [(d, draw(st.integers(1, 9)), []) for d in docs]
    cuts = sorted(draw(st.sets(st.integers(1, max(1, n - 1)), max_size=3)))
    return doclen, postings, [c for c in cuts if c < n]


def _buckets(doclen, postings, cuts):
    """Split the collection into contiguous doc-range buckets:
    [(frames, dl_ids, dl_lens)]."""
    ids = sorted(doclen)
    edges = [0, *cuts, len(ids)]
    out = []
    for lo, hi in zip(edges, edges[1:]):
        bids = ids[lo:hi]
        members = set(bids)
        frames = []
        for t, plist in postings.items():
            rows = [(d, tf) for d, tf, _ in plist if d in members]
            if rows:
                frames.append(_frame(t, *zip(*rows)))
        out.append((frames, bids, [doclen[d] for d in bids]))
    return out


def _topk(pairs, k):
    return sorted(pairs, key=lambda x: (-x[1], x[0]))[:k]


@given(collections(), st.lists(st.sampled_from(TERMS), min_size=1), st.integers(1, 12))
@settings(max_examples=150, deadline=None)
def test_one_virtual_bucket_equals_buckets_and_oracle(coll, query, k):
    doclen, postings, cuts = coll
    n_docs = len(doclen)
    avgdl = sum(doclen.values()) / n_docs
    idf = {t: bm25_idf(n_docs, len(postings[t])) for t in set(query) if t in postings}
    terms = sorted(idf)
    buckets = _buckets(doclen, postings, cuts)

    multi = []
    for bucket, (frames, dl_ids, dl_lens) in enumerate(buckets):
        [(d, s)] = score_bucket(
            _BucketFrames(frames), dl_ids, dl_lens, [(terms, None)],
            idf, K1, B, avgdl, k=k, bucket=bucket,
        )
        multi += zip(d.tolist(), s.tolist())

    # the driver's virtual bucket: every frame (one per bucket and term)
    # against the whole doclen cache
    ids = sorted(doclen)
    frames = [fr for fb, _, _ in buckets for fr in fb]
    [(d, s)] = score_bucket(
        _BucketFrames(frames), ids, [doclen[x] for x in ids], [(terms, None)],
        idf, K1, B, avgdl, k=k,
    )
    virtual = list(zip(d.tolist(), s.tolist()))

    stats = {"n_docs": n_docs, "avgdl": avgdl}
    want = topk(bm25_scores(postings, doclen, stats, query, K1, B), k)
    assert _topk(virtual, k) == _topk(multi, k) == want


@given(collections(), st.lists(st.sampled_from(TERMS), min_size=1), st.randoms(use_true_random=False))
@settings(max_examples=100, deadline=None)
def test_frames_in_any_order_give_the_same_entries_and_scores(coll, query, rnd):
    """A term's frames merge into one ascending entry whatever order
    they arrive in — as records or as an Arrow table (two record
    batches, plus a null-postings row as a folded phrase's hit rows
    carry) — and score_bucket's output does not move by a bit."""
    doclen, postings, cuts = coll
    frames = [fr for fb, _, _ in _buckets(doclen, postings, cuts) for fr in fb]
    shuffled = frames[:]
    rnd.shuffle(shuffled)
    half = len(shuffled) // 2
    schema = pa.schema([("term", pa.string()), ("postings", pa.binary())])
    batches = [
        pa.RecordBatch.from_pylist(part, schema=schema)
        for part in (shuffled[:half], shuffled[half:] + [{"term": "a", "postings": None}])
    ]
    layouts = [
        _BucketFrames(frames),
        _BucketFrames(shuffled),
        _BucketFrames.from_arrow(pa.Table.from_batches(batches)),
    ]
    n_docs = len(doclen)
    avgdl = sum(doclen.values()) / n_docs
    idf = {t: bm25_idf(n_docs, len(postings[t])) for t in set(query) if t in postings}
    ids = sorted(doclen)
    scored = []
    for bf in layouts:
        assert set(bf.by_term) == set(postings)
        assert (bf.n_frames, bf.n_postings) == (len(frames), sum(map(len, postings.values())))
        for t, plist in postings.items():
            d, tf = bf.by_term[t]
            assert d.tolist() == [x for x, _, _ in plist]
            assert tf.tolist() == [x for _, x, _ in plist]
        [(d, s)] = score_bucket(
            bf, ids, [doclen[x] for x in ids], [(sorted(idf), None)], idf, K1, B, avgdl
        )
        scored.append((d.tolist(), s.tobytes()))
    assert scored[0] == scored[1] == scored[2]


@given(
    st.lists(st.floats(0.0, 30.0), min_size=1, max_size=20),
    st.floats(0.01, 20.0),
    st.floats(0.0, 3.0),
    st.floats(0.0, 1.0),
    st.floats(0.1, 1000.0),
)
@settings(max_examples=200, deadline=None)
def test_tfp_at_doclen_zero_is_the_block_upper_bound(tfs, idf, k1, b, avgdl):
    mt = np.asarray(tfs, dtype=np.float64) + 1.0
    old = idf * (mt * (k1 + 1)) / (mt + k1 * (1 - b))
    assert np.array_equal(bm25_tfp(idf, mt, 0.0, k1, b, avgdl), old)
    for x in mt:  # the scalar form bucket_upper_bounds uses
        assert bm25_tfp(idf, float(x), 0.0, k1, b, avgdl) == (
            idf * (float(x) * (k1 + 1)) / (float(x) + k1 * (1 - b))
        )


@given(collections(), st.lists(st.sampled_from(TERMS), min_size=1))
@settings(max_examples=150, deadline=None)
def test_no_doc_scores_above_its_bucket_bound(coll, query):
    """The block-max soundness property: every doc's kernel score is at
    most its bucket's metadata bound, bit for bit."""
    doclen, postings, cuts = coll
    n_docs = len(doclen)
    avgdl = sum(doclen.values()) / n_docs
    idf = {t: bm25_idf(n_docs, len(postings[t])) for t in set(query) if t in postings}
    buckets = [
        (_BucketFrames(frames), dl_ids, dl_lens)
        for frames, dl_ids, dl_lens in _buckets(doclen, postings, cuts)
    ]
    meta = [
        (t, bucket, int(tfs.max()))
        for bucket, (bf, _, _) in enumerate(buckets)
        for t, (_, tfs) in bf.by_term.items()
    ]
    bounds = bucket_upper_bounds(meta, idf, K1, B, avgdl)
    for bucket, (bf, dl_ids, dl_lens) in enumerate(buckets):
        [(d, s)] = score_bucket(
            bf, dl_ids, dl_lens, [(sorted(idf), None)], idf, K1, B, avgdl
        )
        if d.size:
            assert s.max() <= bounds[bucket]


@st.composite
def trees(draw):
    """A bucket's term postings plus a random OR-of-ANDs tree with NOT
    leaves; leaves are term sets or pre-resolved id sets."""
    universe = list(range(30))
    posting_sets = {
        t: sorted(draw(st.sets(st.sampled_from(universe), max_size=20)))
        for t in TERMS
    }

    def leaf():
        if draw(st.booleans()):
            return ("terms", draw(st.lists(st.sampled_from(TERMS), max_size=3)))
        return ("ids", {0: np.array(
            sorted(draw(st.sets(st.sampled_from(universe), max_size=15))),
            dtype=np.int64,
        )})

    tree = []
    for _ in range(draw(st.integers(1, 3))):
        group = [(leaf(), False)]
        for _ in range(draw(st.integers(0, 3))):
            group.append((leaf(), draw(st.booleans())))
        group.sort(key=lambda x: x[1])  # positives first, as compiled
        tree.append(group)
    return posting_sets, tree


@given(trees())
@settings(max_examples=200, deadline=None)
def test_eval_bucket_tree_equals_set_algebra(case):
    posting_sets, tree = case
    frames = [_frame(t, docs, [1] * len(docs)) for t, docs in posting_sets.items() if docs]
    bf = _BucketFrames(frames)

    def leaf_set(spec):
        if spec[0] == "terms":
            return set().union(*(posting_sets[t] for t in spec[1]))
        return set(spec[1][0].tolist())

    want = set()
    for group in tree:
        acc = leaf_set(group[0][0])
        for spec, negated in group[1:]:
            acc = acc - leaf_set(spec) if negated else acc & leaf_set(spec)
        want |= acc
    got = _eval_bucket_tree(bf, tree, 0)
    assert got.tolist() == sorted(want)


@st.composite
def substring_trees(draw):
    """Term postings over docs 0..39, 1-4 contiguous doc-range buckets
    and an OR-of-ANDs tree mixing keyword leaves with substring leaves
    ``("substring", rare terms, ("slot", j))`` over needle hit sets:
    rare terms may be empty, hits may be empty or hold docs outside
    the rare terms' postings."""
    universe = list(range(40))
    posting_sets = {
        t: sorted(draw(st.sets(st.sampled_from(universe), max_size=25)))
        for t in TERMS
    }
    cuts = sorted(draw(st.sets(st.integers(1, 39), max_size=3)))
    hits: list[list[int]] = []

    def leaf():
        if draw(st.booleans()):
            return ("terms", draw(st.lists(st.sampled_from(TERMS), max_size=2)))
        hits.append(sorted(draw(st.sets(st.sampled_from(universe), max_size=30))))
        rare = draw(st.lists(st.sampled_from(TERMS), max_size=2, unique=True))
        return ("substring", rare, ("slot", len(hits) - 1))

    tree = []
    for _ in range(draw(st.integers(1, 3))):
        group = [(leaf(), False)]
        for _ in range(draw(st.integers(0, 3))):
            group.append((leaf(), draw(st.booleans())))
        group.sort(key=lambda x: x[1])
        tree.append(group)
    return posting_sets, cuts, hits, tree


@given(substring_trees())
@settings(max_examples=200, deadline=None)
def test_substring_leaf_equals_set_algebra_on_any_bucketing(case):
    """A substring leaf is the rare terms' common docs among its needle
    hits (none without rare terms), negated whole under NOT; bound per
    bucket by ``_bind_ids`` it gives the same ids on 1-4 doc-range
    buckets as on one virtual bucket, equal to Python sets."""
    posting_sets, cuts, hits, tree = case

    def leaf_set(spec):
        if spec[0] == "terms":
            return set().union(*(posting_sets[t] for t in spec[1]))
        rare = [set(posting_sets[t]) for t in spec[1]]
        return set.intersection(*rare) & set(hits[spec[2][1]]) if rare else set()

    want = set()
    for group in tree:
        acc = leaf_set(group[0][0])
        for spec, negated in group[1:]:
            acc = acc - leaf_set(spec) if negated else acc & leaf_set(spec)
        want |= acc

    def run(lo, hi, bucket):
        frames = [
            _frame(t, sel, [1] * len(sel))
            for t, docs in posting_sets.items()
            if (sel := [d for d in docs if lo <= d < hi])
        ]
        pairs = [(j, d) for j, hs in enumerate(hits) for d in hs if lo <= d < hi]
        slot = np.array([j for j, _ in pairs], dtype=np.int64)
        doc = np.array([d for _, d in pairs], dtype=np.int64)
        bound = _bind_ids(tree, bucket, slot, doc)
        return _eval_bucket_tree(_BucketFrames(frames), bound, bucket).tolist()

    edges = [0, *cuts, 40]
    multi = [d for b, (lo, hi) in enumerate(zip(edges, edges[1:])) for d in run(lo, hi, b)]
    assert run(0, 40, 0) == multi == sorted(want)


def test_posting_doc_missing_from_doclens_raises():
    """A posting doc absent from the doclen arrays fails loudly — on the
    driver's virtual bucket as on a serving bucket."""
    bf = _BucketFrames([_frame("a", [1, 5, 9], [1, 2, 1])])
    idf = {"a": bm25_idf(10, 3)}
    with pytest.raises(ValueError, match="doclen cache is missing"):
        score_bucket(bf, [1, 9], [4, 6], [(["a"], None)], idf, K1, B, 5.0)
    with pytest.raises(ValueError, match="doclen cache is missing"):
        score_bucket(bf, [], [], [(["a"], None)], idf, K1, B, 5.0)


def test_candidates_outside_doclens_score_zero():
    """Candidate ids from an ``ids`` leaf (reply_to on the driver) that
    hold no scoring term score 0.0, also when the doclen arrays do not
    know them."""
    bf = _BucketFrames([_frame("a", [1, 5], [1, 2])])
    idf = {"a": bm25_idf(10, 2)}
    tree = [
        [(("terms", ["a"]), False)],
        [(("ids", {0: np.array([3, 999], dtype=np.int64)}), False)],
    ]
    [(d, s)] = score_bucket(bf, [1, 3, 5], [4, 4, 6], [(["a"], tree)], idf, K1, B, 5.0)
    got = dict(zip(d.tolist(), s.tolist()))
    assert got[3] == 0.0 and got[999] == 0.0
    assert got[1] == bm25_tfp(idf["a"], 1.0, 4.0, K1, B, 5.0)
    assert got[5] == bm25_tfp(idf["a"], 2.0, 6.0, K1, B, 5.0)


def test_batch_queries_allow_and_boost():
    """One call scores several queries; ``allow`` masks docs and
    ``boost`` multiplies the summed score once."""
    bf = _BucketFrames([_frame("a", [1, 2, 3], [1, 2, 3]), _frame("b", [2, 3], [1, 1])])
    idf = {"a": bm25_idf(10, 3), "b": bm25_idf(10, 2)}
    ids, lens, avgdl = [1, 2, 3], [3.0, 5.0, 7.0], 5.0
    [(d1, s1), (d2, s2)] = score_bucket(
        bf, ids, lens, [(["a", "b"], None), (["b"], None)], idf, K1, B, avgdl,
        allow=np.array([2, 3]), boost=(np.array([3]), np.array([2.0])),
    )
    sa = [bm25_tfp(idf["a"], float(tf), dl, K1, B, avgdl) for tf, dl in zip([1, 2, 3], lens)]
    sb = [bm25_tfp(idf["b"], 1.0, dl, K1, B, avgdl) for dl in lens[1:]]
    assert d1.tolist() == [2, 3]
    assert s1.tolist() == [sa[1] + sb[0], (sa[2] + sb[1]) * 2.0]
    assert d2.tolist() == [2, 3] and s2.tolist() == [sb[0], sb[1] * 2.0]


@given(
    st.lists(st.lists(st.sampled_from(TERMS), max_size=30), min_size=1, max_size=12),
    st.lists(st.sampled_from(TERMS), min_size=1, max_size=4, unique=True),
    st.randoms(use_true_random=False),
)
@settings(max_examples=150, deadline=None)
def test_min_cross_distance_equals_brute_force(docs, terms, rnd):
    """Each candidate doc's minimum distance between occurrences of two
    different query terms equals the all-pairs minimum over its token
    sequence; docs with fewer than two distinct query terms, and docs
    that are no candidate, are absent."""
    ids = [3 * i + 1 for i in range(len(docs))]
    frames = []
    for t in TERMS:
        rows = [(d, [i for i, x in enumerate(toks) if x == t]) for d, toks in zip(ids, docs)]
        rows = [(d, p) for d, p in rows if p]
        if rows:
            frames.append({"term": t, "postings": encode_frame(
                np.array([d for d, _ in rows]), np.array([len(p) for _, p in rows]),
                np.array([x for _, p in rows for x in p]),
            )})
    rnd.shuffle(frames)
    cand = np.array(sorted(rnd.sample(ids, rnd.randint(1, len(ids)))), dtype=np.int64)
    want = {}
    for d, toks in zip(ids, docs):
        dists = [
            abs(i - j)
            for i, a in enumerate(toks) for j, b in enumerate(toks)
            if a != b and a in terms and b in terms
        ]
        if d in cand and dists:
            want[d] = min(dists)
    got_d, got_m = min_cross_distance(_BucketFrames(frames, frozenset(terms)), sorted(terms), cand)
    assert dict(zip(got_d.tolist(), got_m.tolist())) == want
    assert got_d.tolist() == sorted(want)
