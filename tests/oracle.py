"""Pure-pandas oracle for the IR engine (the regenerated golden source).

The reference's goldens (`data/test/expected_index.csv`) are stale
(separator drift, SURVEY §4.4) — we regenerate goldens from this
independent, single-threaded implementation that shares ONLY the
analyzer with the engine under test.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np

from informationretrieval_en_people_cn_spark.functions.analyze import analyze_text


def build_oracle_index(corpus_pdf, use_stemmer: bool = True):
    """-> (postings: term -> [(doc_id, tf, positions)], doclen, stats)."""
    postings: dict[str, list] = defaultdict(list)
    doclen: dict[int, int] = {}
    for row in corpus_pdf.sort_values("doc_id").itertuples():
        terms = analyze_text(row.content, use_stemmer=use_stemmer)
        doclen[row.doc_id] = len(terms)
        pos: dict[str, list[int]] = defaultdict(list)
        for p, t in enumerate(terms):
            pos[t].append(p)
        for t, plist in pos.items():
            postings[t].append((row.doc_id, len(plist), plist))
    n_docs = len(doclen)
    total = sum(doclen.values())
    avgdl = total / n_docs if n_docs else 1.0
    return postings, doclen, {"n_docs": n_docs, "avgdl": avgdl, "total": total}


def bm25_scores(postings, doclen, stats, terms, k1=1.2, b=0.75):
    """doc_id -> BM25 score over the disjunction of ``terms`` (canonical
    term-sorted summation order, matching the engine)."""
    scores: dict[int, float] = defaultdict(float)
    n = stats["n_docs"]
    avgdl = stats["avgdl"] or 1.0
    for t in sorted(set(terms)):
        plist = postings.get(t, [])
        if not plist:
            continue
        idf = math.log(1.0 + (n - len(plist) + 0.5) / (len(plist) + 0.5))
        for doc_id, tf, _ in plist:
            dl = doclen[doc_id]
            scores[doc_id] += (
                idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
            )
    return dict(scores)


def topk(scores: dict[int, float], k: int):
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def boolean_match(query: str, postings, content: dict[int, str], edges=()) -> list[int]:
    """Sorted doc_ids matching ``query`` — an OR of AND groups, or a
    ranked query's match set (the OR of its leaves) — over the oracle
    index, one leaf at a time:

    * keyword: docs holding any of its analyzed terms;
    * prefix ``tok*``: docs holding a vocabulary term starting with it;
    * phrase ``'a b'`` / phrase-prefix ``'a b'*``: docs holding the
      (<= 2) lowest-df phrase terms whose lowercased ``content`` holds
      the literal ``'a b'`` (``'a b*'`` -> ``'a b'`` plus the suffix);
      a phrase term outside the index matches nothing, and a phrase
      that analyzes to no term keeps prefix semantics on its suffix;
    * ``ReplyTo:n``: the sources of the ``(src, dst)`` ``edges`` with
      ``dst == n``;
    * ``NOT`` removes a leaf's docs from its group.

    Only the parse tree comes from the engine's query parser."""
    from informationretrieval_en_people_cn_spark.plans import querytree as qt

    def holding(terms):
        return {d for t in terms for d, _, _ in postings.get(t, [])}

    def prefix(p):
        return holding([t for t in postings if t.startswith(p.lower())])

    def leaf_docs(leaf):
        if leaf.kind == "keyword":
            return holding(analyze_text(leaf.value))
        if leaf.kind == "prefix":
            return prefix(leaf.value)
        if leaf.kind == "reply_to":
            return {src for src, dst in edges if dst == int(leaf.value)}
        seq = set(analyze_text(leaf.value))
        if not seq:
            return prefix(leaf.suffix) if leaf.suffix else set()
        if any(t not in postings for t in seq):
            return set()
        rare = sorted(seq, key=lambda t: (len(postings[t]), t))[:2]
        cand = set.intersection(*({d for d, _, _ in postings[t]} for t in rare))
        needle = f"{leaf.value} {leaf.suffix}".strip().lower()
        return {d for d in cand if needle in content[d]}

    node = qt.parse(query)
    if isinstance(node, qt.RankedNode):
        node = qt.OrNode([qt.AndNode([c]) for c in node.children])
    out: set[int] = set()
    for group in node.children:
        pos = [leaf_docs(c) for c in group.children if not c.negated]
        got = set.intersection(*pos)
        for c in group.children:
            if c.negated:
                got -= leaf_docs(c)
        out |= got
    return sorted(out)


def search_rows(query: str, postings, doclen, stats, content, edges=(), k: int = 10):
    """The engine's ``search(query, k)`` rows from the oracle: a boolean
    query's ``(doc_id, None)`` match set in doc_id order; a ranked
    query's BM25 top-k over its match set (:func:`boolean_match`), 0.0
    for a candidate no query term occurs in.  The scoring terms are the
    query's tokens with quotes dropped, analyzed, ``tok*`` expanded over
    the vocabulary and ``ReplyTo:`` skipped."""
    from informationretrieval_en_people_cn_spark.plans import querytree as qt

    match = boolean_match(query, postings, content, edges)
    if isinstance(qt.parse(query), qt.OrNode):
        return [(d, None) for d in match]
    terms = []
    for tok in query.replace("'", " ").split():
        if tok.lower().startswith("replyto:"):
            continue
        if tok.endswith("*"):
            p = tok.rstrip("*").lower()
            terms += [t for t in postings if t.startswith(p)]
        else:
            terms += analyze_text(tok)
    scores = bm25_scores(postings, doclen, stats, terms)
    return topk({d: scores.get(d, 0.0) for d in match}, k)


def _vb_decode_reduceat(b: np.ndarray) -> np.ndarray:
    """Varbyte stream -> uint64 values: every byte's 7-bit group
    shifted into place, summed per value with ``np.add.reduceat``."""
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.nonzero((b & 0x80) == 0)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    pos = np.arange(b.size, dtype=np.int64) - np.repeat(starts, ends - starts + 1)
    shifted = (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    return np.add.reduceat(shifted, starts)


def decode_frames_per_frame(buf: bytes, want_positions: bool = True):
    """The codec's frame-by-frame decoder, kept as the oracle of the
    vectorized one: a Python loop over the frames of one buffer, each
    field decoded by its own varbyte call.  -> (doc_ids, tfs,
    positions) uint64; positions only of positional frames, and only
    when wanted."""
    b = np.frombuffer(buf, dtype=np.uint8)
    val_ends = np.nonzero((b & 0x80) == 0)[0]
    docs, tfs, poss = [], [], []

    def field(off: int, count: int):
        i = np.searchsorted(val_ends, off)
        end = val_ends[i + count - 1] + 1
        return _vb_decode_reduceat(b[off:end]), end

    off = 0
    while off < b.size:
        (n, flag), off = field(off, 2)
        n = int(n)
        gaps, off = field(off, n)
        tf, off = field(off, n)
        docs.append(np.cumsum(gaps, dtype=np.uint64))
        tfs.append(tf)
        if flag:
            npos = int(tf.sum())
            pg, off = field(off, npos)
            if want_positions:
                run = np.repeat(np.arange(n), tf.astype(np.int64))
                pos = [np.cumsum(pg[run == j], dtype=np.uint64) for j in range(n)]
                poss.append(np.concatenate(pos) if pos else pg)
    cat = lambda xs: np.concatenate(xs) if xs else np.empty(0, dtype=np.uint64)  # noqa: E731
    return cat(docs), cat(tfs), cat(poss)
