"""Seeded input generation: a documents table shaped like the sf0.1
``documents`` parquet, plus the replicated corpus and the query stream.

The sf0.1 table the engine's tests and ``bench.py`` use has 5 000 rows
of 10-100 words drawn uniformly from a 30-word vocabulary (~300 chars),
five languages (en ~40 %, the rest ~15 % each), 20 sources, and 5 %
near-duplicates (an earlier doc's text + `` dup``).  The generator here
reproduces those statistics from a seed, so the benchmark never reads
data outside its checkout and a seed fixes every input.
"""

from __future__ import annotations

import os
import random

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
DUP_FRACTION = 0.05


def documents(seed: int, n_docs: int):
    """-> pandas DataFrame (doc_id, text, lang, source, n_chars).  Doc ids
    are even, so appended docs can take odd ids inside the build's grid."""
    import pandas as pd

    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < DUP_FRACTION:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))))
    return pd.DataFrame(
        {
            "doc_id": [2 * i for i in range(n_docs)],
            "text": texts,
            "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        }
    )


def write_documents(pdf, sf_dir: str) -> str:
    """Write ``pdf`` as ``<sf_dir>/documents.parquet`` (the layout the
    engine's ``sf_dir`` readers expect) and return ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    pdf.to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    return sf_dir


def replicated_corpus(pdf, times: int, repeat: int = 1):
    """The replicated tier of ``BENCH/scaling.py``, as a corpus-schema
    pandas frame: the same construction as its ``replicated_corpus``
    over ``documents_as_corpus`` (every doc copied ``times`` times with
    ``doc_id * times + rep`` ids and ``path#rep`` paths, content
    repeated ``repeat`` times), without a Spark job."""
    import hashlib

    import pandas as pd

    rows = {k: [] for k in ("doc_id", "repo", "path", "commit", "lang", "content", "sha256")}
    for d, text, lang, source in zip(pdf.doc_id, pdf.text, pdf.lang, pdf.source):
        content = text * repeat
        sha = hashlib.sha256(content.encode()).hexdigest()
        for rep in range(times):
            rows["doc_id"].append(int(d) * times + rep)
            rows["repo"].append(source)
            rows["path"].append(f"doc/{d}#{rep}")
            rows["commit"].append("0" * 40)
            rows["lang"].append(lang)
            rows["content"].append(content)
            rows["sha256"].append(sha)
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# query stream: bench.py's 11 shapes, terms drawn from the corpus text
# ---------------------------------------------------------------------------

# a query is a list of leaves; a leaf is (kind, value, suffix, negated)
# joined by the query's operator ("" = ranked, "AND", "OR")
SHAPES = [
    "q_keyword", "q_ranked_2term", "q_ranked_3term", "q_phrase",
    "q_bool_and", "q_bool_and4", "q_bool_not", "q_bool_or", "q_prefix",
    "q_phrase_prefix", "q_ranked_mixed",
]
_WORDS = [w for w in VOCAB if len(w) >= 2]  # "a" analyzes to no term


class Query:
    __slots__ = ("shape", "op", "leaves", "text")

    def __init__(self, shape: str, op: str, leaves: list[tuple]):
        self.shape, self.op, self.leaves = shape, op, leaves
        parts = []
        for kind, value, suffix, negated in leaves:
            if kind == "keyword":
                tok = value
            elif kind == "prefix":
                tok = value + "*"
            elif kind == "phrase":
                tok = f"'{value}'"
            else:  # phrase_prefix
                tok = f"'{value} {suffix}'*"
            if parts:
                parts.append("NOT" if negated else op)
            parts.append(tok)
        self.text = " ".join(p for p in parts if p)

    @property
    def cls(self) -> str:
        """ranked | boolean | phrase, from the query text alone."""
        kinds = {leaf[0] for leaf in self.leaves}
        if kinds & {"phrase", "phrase_prefix"}:
            return "phrase"
        if self.op or "prefix" in kinds or any(leaf[3] for leaf in self.leaves):
            return "boolean"
        return "ranked"


def _kw(w, negated=False):
    return ("keyword", w, "", negated)


def make_query(shape: str, rng: random.Random, texts: list[str]) -> Query:
    def words(n):
        return rng.sample(_WORDS, n)

    def pair():
        # adjacent words of one corpus document (both indexable)
        while True:
            toks = rng.choice(texts).split()
            i = rng.randrange(len(toks) - 1)
            a, b = toks[i], toks[i + 1]
            if len(a) >= 2 and len(b) >= 3:
                return a, b

    if shape == "q_keyword":
        return Query(shape, "", [_kw(words(1)[0])])
    if shape == "q_ranked_2term":
        return Query(shape, "", [_kw(w) for w in words(2)])
    if shape == "q_ranked_3term":
        return Query(shape, "", [_kw(w) for w in words(3)])
    if shape == "q_phrase":
        return Query(shape, "", [("phrase", " ".join(pair()), "", False)])
    if shape == "q_bool_and":
        return Query(shape, "AND", [_kw(w) for w in words(2)])
    if shape == "q_bool_and4":
        return Query(shape, "AND", [_kw(w) for w in words(4)])
    if shape == "q_bool_not":
        a, b = words(2)
        return Query(shape, "AND", [_kw(a), _kw(b, negated=True)])
    if shape == "q_bool_or":
        return Query(shape, "OR", [_kw(words(1)[0]), ("phrase", " ".join(pair()), "", False)])
    if shape == "q_prefix":
        w = rng.choice([w for w in _WORDS if len(w) >= 3])
        return Query(shape, "", [("prefix", w[:3], "", False)])
    if shape == "q_phrase_prefix":
        a, b = pair()
        return Query(shape, "", [("phrase_prefix", a, b[:2], False)])
    if shape == "q_ranked_mixed":
        return Query(
            shape, "", [_kw(w) for w in words(2)] + [("phrase", " ".join(pair()), "", False)]
        )
    raise ValueError(shape)


def query_rounds(seed: int, texts: list[str]):
    """Endless rounds; each holds every shape once, in a seeded order with
    freshly drawn terms, so every run samples the shapes equally."""
    rng = random.Random(seed)
    while True:
        order = SHAPES[:]
        rng.shuffle(order)
        yield [make_query(s, rng, texts) for s in order]


def append_batch(rng: random.Random, n: int, lo: int, span: int, taken: set):
    """A batch of ``n`` new corpus rows (``CORPUS_SCHEMA`` columns) with
    unused doc ids inside the build's grid ``[lo, lo + span)``.  Every
    doc carries one fresh marker word, so a query for the marker must
    return exactly this batch once it is indexed."""
    import hashlib
    import string

    import pandas as pd

    marker = "zq" + "".join(rng.choice(string.ascii_lowercase) for _ in range(8))
    ids: list[int] = []
    while len(ids) < n:
        d = lo + rng.randrange(span)
        if d not in taken:
            taken.add(d)
            ids.append(d)
    texts = []
    for _ in ids:
        words = rng.choices(VOCAB, k=rng.randint(10, 100))
        words.insert(rng.randrange(len(words) + 1), marker)
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": ids,
            "repo": [f"src{d % N_SOURCES}" for d in ids],
            "path": [f"doc/{d}" for d in ids],
            "commit": ["0" * 40] * n,
            "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=n),
            "content": texts,
            "sha256": [hashlib.sha256(t.encode()).hexdigest() for t in texts],
        }
    ), marker
