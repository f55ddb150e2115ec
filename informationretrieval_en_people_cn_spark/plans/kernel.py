"""Numpy query kernels, written once and run by every query placement.

A *bucket* is one of the index's doc-range buckets: every posting of a
doc lives in exactly one, so set algebra, phrase adjacency and BM25
accumulation are bucket-local and compose exactly across buckets.  The
bucket plans run these kernels inside ``mapInPandas`` once per bucket;
the driver fast path runs them once over the postings it collected, as
one *virtual* bucket whose doclen arrays are the engine's driver-side
doclen cache.  Block-max pruning bounds whole buckets from index
metadata (:func:`bucket_upper_bounds`).  No Spark code lives here.

BM25 (Lucene idf variant):

    idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))
    tfp(t,d)= tf*(k1+1) / (tf + k1*(1 - b + b*doclen/avgdl))
    score   = Σ_t idf(t) * tfp(t, d), summed from 0.0 in term order
"""

from __future__ import annotations

import math

import numpy as np

from ..functions.codec import arrow_binary_buffers, decode_many, pack_buffers

_EMPTY_IDS = np.empty(0, dtype=np.int64)
_POS_SHIFT = np.int64(1) << np.int64(32)


def bm25_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_tfp(idf, tf, dl, k1: float, b: float, avgdl: float):
    """idf · tfp for scalars or numpy arrays.  At ``dl = 0`` this is the
    block upper bound (tfp falls as doclen grows), bit for bit the same
    as ``idf * (tf*(k1+1)) / (tf + k1*(1-b))``: ``b*0.0/avgdl`` is 0.0
    and ``(1 - b) + 0.0`` is exactly ``1 - b``."""
    return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))


class _BucketFrames:
    """One bucket's decoded term frames: one ascending ``(doc_ids,
    tfs)`` entry per term (:attr:`by_term`) and, for indexes built
    with ``store_positions=True``, per-(term, doc) position lists.
    ``frames`` are ``{"term", "postings"}`` records — one bucket's
    shuffled frames, or every frame the driver collected (the virtual
    bucket: a term then has one frame per doc-range bucket, each
    ascending, disjoint from the others; :meth:`from_arrow` takes them
    as an Arrow table).  Every frame decodes in one
    :func:`.codec.decode_many` call, and the frames' runs, gathered in
    (term, first doc) order, make each term's entry.

    ``pos_terms`` selects which terms' position payloads are decoded:
    on a positional index every frame CARRIES positions (≈ Σtf values),
    but only phrase-leaf terms need them materialized — for everything
    else the codec skips the payload (want_positions=False).
    ``n_frames`` / ``n_postings`` count the non-empty frames and the
    postings decoded."""

    def __init__(self, frames, pos_terms: frozenset | None = frozenset()):
        frames = list(frames)
        chunks = []  # (term of each buffer, decode_many's output)
        for want in (False, True):
            sel = [
                fr for fr in frames
                if (pos_terms is None or fr["term"] in pos_terms) is want
            ]
            if sel:
                decoded = decode_many(*pack_buffers([fr["postings"] for fr in sel]), want)
                chunks.append(([fr["term"] for fr in sel], decoded))
        self._index(chunks)

    @classmethod
    def from_arrow(cls, table) -> "_BucketFrames":
        """The frames of an Arrow table's ``term`` / ``postings``
        columns (null postings hold no frame), decoded without
        positions one record batch at a time, straight from each
        batch's binary buffers."""
        bf = cls.__new__(cls)
        bf._index(
            [
                (
                    rb.column("term").to_numpy(zero_copy_only=False),
                    decode_many(*arrow_binary_buffers(rb.column("postings"))),
                )
                for rb in table.select(["term", "postings"]).to_batches()
            ]
        )
        return bf

    def _index(self, chunks) -> None:
        """Merge the decoded chunks: ``terms`` (sorted), and per posting
        ``code`` (index into terms), ``docs``, ``tfs`` — sorted by
        (term, doc), so the postings are term-major in sorted term
        order; :attr:`by_term` holds views of each term's run."""
        self.by_term: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self._pstart: dict[str, np.ndarray] = {}
        labels = [np.asarray(t, dtype=object) for t, _ in chunks]
        counts = [dec[3] for _, dec in chunks]
        self.n_frames = int(sum(np.count_nonzero(c) for c in counts))
        self.n_postings = int(sum(c.sum() for c in counts))
        self.terms = np.empty(0, dtype=object)
        self.code = self.docs = self.tfs = _EMPTY_IDS
        if not self.n_postings:
            return
        self.terms, inv = np.unique(np.concatenate(labels), return_inverse=True)
        n = np.concatenate(counts).astype(np.int64)
        code = np.repeat(inv, n)
        docs = np.concatenate([dec[0] for _, dec in chunks])
        tfs = np.concatenate([dec[1] for _, dec in chunks])
        # a term's frames are ascending runs over disjoint doc ranges, so
        # sorting the frames by (term, first doc) and gathering their
        # runs sorts the postings by (term, doc)
        start = np.cumsum(n) - n
        live = n > 0
        start, n = start[live], n[live]
        by = np.lexsort((docs[start], inv[live]))
        start, n = start[by], n[by]
        order = np.repeat(start - (np.cumsum(n) - n), n) + np.arange(n.sum())
        self.code = code[order]
        self.docs = docs[order].astype(np.int64)
        self.tfs = tfs[order].astype(np.int64)
        bounds = np.searchsorted(self.code, np.arange(self.terms.size + 1))
        spans = [
            (t, lo, hi) for t, lo, hi in zip(self.terms, bounds[:-1], bounds[1:]) if hi > lo
        ]
        for t, lo, hi in spans:
            self.by_term[t] = (self.docs[lo:hi], self.tfs[lo:hi])
        if not any(dec[2].size for _, dec in chunks):
            return
        # positions: each posting's start in the concatenated payload,
        # -1 for postings decoded without one
        starts, base = [], 0
        for _, (d, t, p, _) in chunks:
            if p.size:
                if p.size != int(t.sum()):
                    raise ValueError("frames mix positional and tf-only encodings")
                starts.append(np.cumsum(t.astype(np.int64)) - t.astype(np.int64) + base)
                base += p.size
            else:
                starts.append(np.full(d.size, -1, dtype=np.int64))
        self._pos = np.concatenate([dec[2] for _, dec in chunks])
        pstart = np.concatenate(starts)[order]
        for t, lo, hi in spans:
            self._pstart[t] = pstart[lo:hi]

    def ids(self, term: str) -> np.ndarray:
        ent = self.by_term.get(term)
        return _EMPTY_IDS if ent is None else ent[0]

    def union_ids(self, terms) -> np.ndarray:
        arrs = [a for a in (self.ids(t) for t in set(terms)) if a.size]
        if not arrs:
            return _EMPTY_IDS
        if len(arrs) == 1:
            return arrs[0]
        return np.unique(np.concatenate(arrs))

    def doc_pos_keys(self, term: str, cand: np.ndarray) -> np.ndarray:
        """(doc, position) pairs of ``term`` restricted to the sorted
        candidate docs ``cand``, packed as ``idx(cand)·2³² + position``
        int64 keys (positions are bounded by doclen ≪ 2³²).  Sorted
        ascending — the vectorized adjacency chain operates on these.
        Raises if the index was built without positions."""
        ent = self.by_term.get(term)
        if ent is None:
            return _EMPTY_IDS
        d, tl = ent
        loc = np.searchsorted(cand, d)
        sel = (loc < cand.size) & (cand[np.minimum(loc, cand.size - 1)] == d)
        cnt = tl[sel]
        total = int(cnt.sum())
        if total == 0:
            return _EMPTY_IDS
        st = self._pstart.get(term)
        st = None if st is None else st[sel]
        if st is None or (st < 0).any():
            raise ValueError(
                "positional phrase query needs an index built "
                "with store_positions=True"
            )
        offs = np.cumsum(cnt) - cnt
        flat = np.repeat(st - offs, cnt) + np.arange(total)
        # docs ascend, positions ascend per doc: the keys are sorted
        return np.repeat(loc[sel], cnt) * _POS_SHIFT + self._pos[flat].astype(np.int64)


def _sorted_member(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Boolean mask of which elements of sorted ``a`` occur in sorted
    ``b`` — one binary search per element instead of np.isin's
    concatenate+argsort of both arrays.  Every kernel id/key array here
    is sorted by construction (delta decode is strictly increasing; a
    term's frames merge into one sorted entry; unions go through
    np.unique; set ops preserve order)."""
    if a.size == 0 or b.size == 0:
        return np.zeros(a.size, dtype=bool)
    loc = np.searchsorted(b, a)
    np.minimum(loc, b.size - 1, out=loc)
    return b[loc] == a


def _intersect_terms(bf: _BucketFrames, terms) -> np.ndarray:
    """Docs holding every one of ``terms`` (sorted)."""
    cand = None
    for t in set(terms):
        ids = bf.ids(t)
        cand = ids if cand is None else cand[_sorted_member(cand, ids)]
        if cand.size == 0:
            return _EMPTY_IDS
    return _EMPTY_IDS if cand is None else cand


def _pos_phrase_bucket_ids(
    bf: _BucketFrames, seq: list[str], sfx_terms: list[str] | None
) -> np.ndarray:
    """Positional phrase(+prefix) match: docs whose analyzed term
    sequence holds ``seq`` contiguously (followed by any of
    ``sfx_terms`` when given).  Candidate docs = intersection of the
    phrase terms' posting sets; adjacency runs over packed (doc,
    position) int64 keys (+1 on the key = next position in the SAME
    doc, so one vectorized membership probe per phrase slot replaces a
    per-doc loop)."""
    cand = _intersect_terms(bf, seq)
    if cand.size == 0:
        return _EMPTY_IDS
    keys: dict[str, np.ndarray] = {}
    for t in set(seq) | set(sfx_terms or ()):
        keys[t] = bf.doc_pos_keys(t, cand)
    cur = keys[seq[0]]
    for i, t in enumerate(seq[1:], start=1):
        cur = cur[_sorted_member(cur + i, keys[t])]
        if cur.size == 0:
            return _EMPTY_IDS
    if sfx_terms is not None:
        sk = [keys[t] for t in set(sfx_terms) if keys[t].size]
        if not sk:
            return _EMPTY_IDS
        sks = sk[0] if len(sk) == 1 else np.unique(np.concatenate(sk))
        cur = cur[_sorted_member(cur + len(seq), sks)]
        if cur.size == 0:
            return _EMPTY_IDS
    return cand[np.unique(cur >> np.int64(32))]


def min_cross_distance(
    bf: _BucketFrames, terms: list[str], cand: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """``(docs, dist)``: for each of the sorted candidate docs ``cand``
    holding at least two distinct ``terms``, the minimum token distance
    between occurrences of two different terms.  Exact: in a doc's
    merged position-sorted sequence the closest pair of different-term
    occurrences is always adjacent (any element strictly between a
    closest cross pair would form a closer cross pair with one
    endpoint), so one sort of the packed (doc, position) keys and one
    adjacent-label scan over all candidates suffice."""
    keys = [bf.doc_pos_keys(t, cand) for t in terms]
    labels = np.repeat(np.arange(len(keys)), [k.size for k in keys])
    if labels.size < 2:
        return _EMPTY_IDS, _EMPTY_IDS
    allk = np.concatenate(keys)
    order = np.argsort(allk, kind="stable")
    sk, sl = allk[order], labels[order]
    doc = sk >> np.int64(32)
    cross = (doc[1:] == doc[:-1]) & (sl[1:] != sl[:-1])
    gaps, at = (sk[1:] - sk[:-1])[cross], doc[1:][cross]
    best = np.full(cand.size, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(best, at, gaps)
    hit = best < np.iinfo(np.int64).max
    return cand[hit], best[hit]


def _pos_terms(tree: list) -> frozenset:
    """Terms whose position payloads the tree's phrase leaves read."""
    return frozenset(
        t
        for leaves in tree
        for spec, _ in leaves
        if spec[0] == "pos_phrase"
        for t in list(spec[1]) + list(spec[2] or ())
    )


def _leaf_bucket_ids(bf: _BucketFrames, spec: tuple, bucket: int) -> np.ndarray:
    kind = spec[0]
    if kind == "terms":
        return bf.union_ids(spec[1])
    if kind == "ids":  # ids resolved before the kernel runs, per bucket
        return spec[1].get(bucket, _EMPTY_IDS)
    if kind == "substring":  # the rare terms' docs among the needle hits
        cand = _intersect_terms(bf, spec[1])
        return cand[_sorted_member(cand, _leaf_bucket_ids(bf, spec[2], bucket))]
    if kind == "pos_phrase":
        return _pos_phrase_bucket_ids(bf, spec[1], spec[2])
    raise ValueError(kind)


def _bind_ids(tree: list | None, bucket: int, slot, doc) -> list | None:
    """``tree`` with each ``("slot", j)`` leaf, also a substring leaf's
    id leaf, bound to this bucket's ids of id relation j, as ``("ids",
    {bucket: ids})``: ``slot`` / ``doc`` are the bucket's ``(j,
    doc_id)`` pairs, sorted (None: the plan has no id relation)."""
    if tree is None or slot is None:
        return tree
    slot = np.asarray(slot, dtype=np.int64)
    doc = np.asarray(doc, dtype=np.int64)

    def bind(spec):
        if spec[0] == "slot":
            return ("ids", {bucket: doc[slot == spec[1]]})
        if spec[0] == "substring":
            return (*spec[:2], bind(spec[2]))
        return spec

    return [[(bind(spec), neg) for spec, neg in leaves] for leaves in tree]


def _eval_bucket_tree(bf: _BucketFrames, tree: list, bucket: int) -> np.ndarray:
    """OR-of-ANDs over bucket-local leaf id sets.  ``tree`` is a list of
    AND groups, each a list of ``(spec, negated)`` with the positive
    leaves first; a spec is ``("terms", [t...])``, ``("ids", {bucket:
    sorted ids})``, ``("substring", rare terms, id spec)`` (a substring
    phrase: the docs holding every rare term whose content holds the
    needle, the id spec's docs) or ``("pos_phrase", seq, sfx_terms |
    None)``."""
    res = None
    for leaves in tree:
        acc = None
        for spec, negated in leaves:
            li = _leaf_bucket_ids(bf, spec, bucket)
            if acc is None:
                acc = li
            elif negated:
                acc = acc[~_sorted_member(acc, li)]
            else:
                acc = acc[_sorted_member(acc, li)]
        res = acc if res is None else np.union1d(res, acc)
    return res if res is not None else _EMPTY_IDS


def _local_topk(
    ids: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Exact bucket-local top-k under the GLOBAL result order
    (score desc, doc_id asc).  ``np.partition`` finds the k-th score in
    O(n); score ties at the boundary are kept and resolved by a lexsort
    over only the (small) surviving set, so the k rows returned are
    precisely the ones the global TakeOrdered would keep from this
    bucket."""
    if ids.size <= k:
        return ids, scores
    kth = np.partition(scores, ids.size - k)[ids.size - k]
    keep = scores >= kth  # >= keeps boundary ties for the doc_id tiebreak
    cid, cs = ids[keep], scores[keep]
    order = np.lexsort((cid, -cs))[:k]
    return cid[order], cs[order]


def _slots(ids: np.ndarray, docs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Positions of ``docs`` in sorted ``ids`` and which of them are
    really there."""
    pos = np.searchsorted(ids, docs)
    if ids.size == 0:
        return pos, np.zeros(docs.size, dtype=bool)
    np.minimum(pos, ids.size - 1, out=pos)
    return pos, ids[pos] == docs


def score_bucket(
    bf: _BucketFrames,
    dl_ids,
    dl_lens,
    queries: list[tuple[list[str], list | None]],
    idf: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    *,
    k: int | None = None,
    allow=None,
    boost: tuple[np.ndarray, np.ndarray] | None = None,
    bucket: int = 0,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """BM25 over one bucket for every query ``(terms, tree)`` →
    ``[(doc_ids, scores)]``, one pair per query.

    ``dl_ids`` (sorted) / ``dl_lens`` are the bucket's docs and doclens.
    ``terms`` are a query's scoring terms, sorted: each doc sums its
    term scores from 0.0 in that order, so every placement returns
    bit-identical scores.  Every posting is scored once per bucket,
    however many queries name its term.

    With ``tree`` None the results are the docs holding a scoring term;
    otherwise the docs :func:`_eval_bucket_tree` returns, scored 0.0
    where no scoring term occurs (also when a doc is absent from
    ``dl_ids`` — a reply_to id on the driver).  ``allow`` (sorted ids)
    keeps only those docs; ``boost = (sorted ids, factors)`` multiplies
    a boosted doc's score once, after the sum.  With ``k`` set each
    query keeps its exact local top-k (:func:`_local_topk`).

    Raises ValueError when a posting doc is absent from ``dl_ids``: the
    docs table and the index disagree, and scoring on would credit a
    neighbouring doc's accumulator."""
    ids = np.asarray(dl_ids, dtype=np.int64)
    lens = np.asarray(dl_lens, dtype=np.float64)
    pos, hit = _slots(ids, bf.docs)
    if not hit.all():
        raise ValueError(
            "doclen cache is missing posting doc_ids for term "
            f"{bf.terms[bf.code[hit.argmin()]]!r}: the docs table and the "
            "index disagree — rebuild or reload() the engine"
        )
    # one score per posting (NaN for a term without idf, never summed)
    term_idf = np.array([idf.get(t, np.nan) for t in bf.terms], dtype=np.float64)
    s = bm25_tfp(term_idf[bf.code], bf.tfs.astype(np.float64), lens[pos], k1, b, avgdl)
    allow = None if allow is None else np.asarray(allow, dtype=np.int64)
    out = []
    for terms, tree in queries:
        want = set(terms).intersection(idf)
        sel = np.fromiter((t in want for t in bf.terms), bool, bf.terms.size)[bf.code]
        # postings run term by term in sorted term order and bincount
        # adds in array order: each doc sums from 0.0 in term order
        acc = np.bincount(pos[sel], weights=s[sel], minlength=ids.size)
        touched = np.bincount(pos[sel], minlength=ids.size) > 0
        if tree is None:
            if allow is not None:
                touched &= _sorted_member(ids, allow)
            bd, bs = ids[touched], acc[touched]
        else:
            bd = _eval_bucket_tree(bf, tree, bucket)
            if allow is not None:
                bd = bd[_sorted_member(bd, allow)]
            pos, hit = _slots(ids, bd)
            bs = np.zeros(bd.size)
            bs[hit] = acc[pos[hit]]
        if boost is not None:
            m = _sorted_member(bd, boost[0])
            if m.any():
                bs[m] *= boost[1][np.searchsorted(boost[0], bd[m])]
        if k:
            bd, bs = _local_topk(bd, bs, k)
        out.append((bd, bs))
    return out


def bucket_upper_bounds(
    rows, idf: dict[str, float], k1: float, b: float, avgdl: float
) -> dict[int, float]:
    """Per-bucket BM25 upper bounds from index metadata → {bucket: UB}.

    ``rows`` are ``(term, bucket, max block tf)`` triples; terms without
    an ``idf`` entry are not scoring terms and are skipped.  A term's
    bound in a bucket is ``bm25_tfp(idf, max_tf, 0.0, …)`` (tfp rises
    with tf and falls with doclen), and a bucket's bound sums them from
    0.0 in sorted term order — the float64 sequence of a doc's score in
    :func:`score_bucket`.  Float addition is monotone, so no doc in the
    bucket can score above its bound, bit for bit."""
    max_tf: dict[tuple[str, int], float] = {}
    for term, bucket, tf in rows:
        if term in idf:
            key = (term, int(bucket))
            max_tf[key] = max(max_tf.get(key, 0.0), float(tf))
    ub: dict[int, float] = {}
    for (term, bucket), tf in sorted(max_tf.items()):
        ub[bucket] = ub.get(bucket, 0.0) + bm25_tfp(idf[term], tf, 0.0, k1, b, avgdl)
    return ub


def surviving_buckets(ub: dict[int, float], theta: float) -> list[int]:
    """Buckets (ascending) whose bound can reach the k-th score
    ``theta``.  A bound equal to θ survives: a doc scoring exactly θ
    can still win the doc_id tie-break."""
    return sorted(bk for bk, bound in ub.items() if bound >= theta)
