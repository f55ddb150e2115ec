"""Answer checks.

* :class:`SearchOracle` — an independent single-threaded evaluator of the
  query language over the generated documents (in the style of
  ``tests/oracle.py``: it shares only the analyzer with the engine).
  It gives exact BM25 top-k ``(doc_id, score)``, boolean set algebra,
  and substring phrase verification.
* :func:`digest` — the order-insensitive row digest
  ``tools/driver_sim.py`` compares against the DuckDB oracles.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pandas as pd

from informationretrieval_en_people_cn_spark.functions.analyze import (
    analyze_batch,
    analyze_text,
)


class SearchOracle:
    """Evaluates queries over documents given as ``(texts, ids_per_text)``:
    a text shared by several docs (the replicated corpus) is analyzed
    and scored once, and its docs share that score bit for bit."""

    def __init__(self, texts, ids_per_text, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.ids = [list(map(int, ids)) for ids in ids_per_text]
        self.postings: dict[str, dict[int, int]] = defaultdict(dict)  # term -> {text: tf}
        self.content = [t.lower() for t in texts]
        self.doclen: list[int] = []
        total = 0
        for i, terms in enumerate(analyze_batch(pd.Series(list(texts)))):
            self.doclen.append(len(terms))
            total += len(terms) * len(self.ids[i])
            for t, tf in Counter(terms).items():
                self.postings[t][i] = tf
        self.n_docs = sum(map(len, self.ids))
        self.avgdl = (total / self.n_docs) or 1.0
        self.vocab = sorted(self.postings)

    def docs(self, text_idx) -> list[int]:
        return [d for i in text_idx for d in self.ids[i]]

    # ---- leaves ---------------------------------------------------------
    # leaf evaluation works on text indexes; docs() maps them to doc ids
    def _docs_of(self, terms) -> set[int]:
        out: set[int] = set()
        for t in terms:
            out |= self.postings.get(t, {}).keys()
        return out

    def _expand(self, prefix: str) -> list[str]:
        p = prefix.lower()
        return [t for t in self.vocab if t.startswith(p)]

    def _phrase(self, phrase: str, suffix: str) -> set[int]:
        """Docs holding every phrase term whose lowercased content has the
        literal ``"phrase suffix"`` (the engine's documented semantics)."""
        terms = analyze_text(phrase)
        needle = f"{phrase} {suffix}".strip().lower()
        if not terms:
            return self._docs_of(self._expand(suffix)) if suffix else set()
        cand = None
        for t in set(terms):
            ds = set(self.postings.get(t, {}))
            cand = ds if cand is None else cand & ds
        return {i for i in cand if needle in self.content[i]}

    def leaf_docs(self, leaf) -> set[int]:
        kind, value, suffix, _ = leaf
        if kind == "keyword":
            return self._docs_of(analyze_text(value))
        if kind == "prefix":
            return self._docs_of(self._expand(value))
        return self._phrase(value, suffix)

    # ---- queries --------------------------------------------------------
    def bm25(self, terms) -> dict[int, float]:
        """text -> Σ BM25 over ``terms`` in canonical sorted-term order."""
        k1, b = self.k1, self.b
        scores: dict[int, float] = defaultdict(float)
        for t in sorted(set(terms)):
            plist = self.postings.get(t)
            if not plist:
                continue
            df = sum(len(self.ids[i]) for i in plist)
            idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            for i, tf in plist.items():
                dl = self.doclen[i]
                scores[i] += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / self.avgdl))
        return scores

    def answer(self, q, k: int = 10):
        """Boolean queries -> sorted doc ids; ranked -> top-k (doc, score)."""
        if q.op or any(leaf[3] for leaf in q.leaves):
            pos = [leaf for leaf in q.leaves if not leaf[3]]
            neg = [leaf for leaf in q.leaves if leaf[3]]
            if q.op == "OR":
                acc = set().union(*(self.leaf_docs(leaf) for leaf in pos))
            else:
                acc = self.leaf_docs(pos[0])
                for leaf in pos[1:]:
                    acc &= self.leaf_docs(leaf)
            for leaf in neg:
                acc -= self.leaf_docs(leaf)
            return sorted(self.docs(acc))
        # ranking terms: the query's whitespace tokens with quotes blanked;
        # a token ending in "*" expands as a prefix.  A phrase-prefix leaf
        # `'a b'*` therefore contributes `a`, `b` and a bare `*`, whose
        # expansion is the whole vocabulary (see NOTES.md, findings)
        words, terms = [], []
        for tok in q.text.replace("'", " ").split():
            if tok.endswith("*"):
                terms += self._expand(tok.rstrip("*"))
            else:
                words.append(tok)
        terms = analyze_text(" ".join(words)) + terms
        scores = self.bm25(terms)
        if all(leaf[0] == "keyword" for leaf in q.leaves):
            cand = scores.keys()
        else:
            cand = set().union(*(self.leaf_docs(leaf) for leaf in q.leaves))
        # texts by score until k docs are covered, plus every text tied
        # with the last one (its docs may have smaller ids)
        order = sorted(cand, key=lambda i: -scores.get(i, 0.0))
        n = 0
        for i in order:
            n += len(self.ids[i])
            if n >= k:
                thr = scores.get(i, 0.0)
                order = [j for j in order if scores.get(j, 0.0) >= thr]
                break
        ranked = [(d, scores.get(i, 0.0)) for i in order for d in self.ids[i]]
        ranked.sort(key=lambda x: (-x[1], x[0]))
        return ranked[:k]


def compact(rows):
    """Collected engine rows -> the oracle's answer form."""
    if rows and "score" in rows[0].__fields__:
        return [(int(r.doc_id), float(r.score)) for r in rows]
    return [int(r.doc_id) for r in rows]


def digest(rows, cols) -> str:
    """Order-insensitive value digest: columns sorted by name, floats
    rounded to 9 digits, rows sorted (``tools/driver_sim.py``)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(repr(v))
        lines.append("|".join(vals))
    lines.sort()
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(lines)}:{h.hexdigest()}"


def duckdb_digest(con, sql: str) -> str:
    rel = con.sql(sql)
    return digest(rel.fetchall(), list(rel.columns))
