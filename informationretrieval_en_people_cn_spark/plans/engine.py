"""Query engine: leaf operators, boolean algebra, BM25 top-k (Q1-Q8).

Rebuild of ``/root/reference/searchengine/SearchEngine.py``.  Scoring is
BM25 (north_rule; replaces the reference's Dirichlet query-likelihood,
SearchEngine.py:80-128) with the Lucene idf variant — the formula,
bucket set algebra and positional adjacency live once, in numpy, in
:mod:`.kernel`.

Every ranked query is scored by :func:`.kernel.score_bucket`, summed
from 0.0 in term-sorted float64 order, so every placement returns
bit-identical ``(doc_id, score)`` rows.  :attr:`SearchEngine.last_trace`
records which placement served a query and why:

* **fast** (``fast_path``; needs the driver doclen cache,
  ``cache_doclens``): one pruned scan collects the query terms' frames
  to the driver as Arrow (with each substring phrase's content hits in
  the same action), decoded in one numpy pass per record batch, and the
  kernel runs them as one virtual bucket — the reference's own
  execution model, behind the Σdf budget :data:`FAST_MAX_POSTINGS`.
* **bucket** (every other query, ranked, boolean or paged): only the
  query terms' compressed frames move, grouped by doc-range bucket with
  the (bucket, doc_id) rows of each id leaf (a substring phrase's
  content hits, a reply_to's sources); the kernel evaluates the
  OR-of-ANDs set algebra per bucket; a ranked query's frames meet the
  per-bucket doclen arrays (a broadcast join for keyword queries), so
  the kernel scores each bucket and emits its exact local top-k, which
  TakeOrderedAndProject merges.  ``persist_doclens`` keeps the doclen
  arrays cluster-cached.
* **bucket+blockmax** (:meth:`SearchEngine.score_terms_blockmax`): the
  bucket plan over only the buckets whose metadata bound
  (:func:`.kernel.bucket_upper_bounds`) can reach the k-th score of the
  most promising bucket — the one block-max WAND.

A substring phrase is one kernel leaf on every placement, ``("substring",
rare terms, id leaf)``: the docs holding its ≤ 2 rarest terms whose
lowercased content holds the needle (the reference's rule,
SearchEngine.py:169-207).  The id leaf is the needle's content hits,
grouped by bucket beside the frames or folded into the fast path's
collect.

Every engine loads the term dictionary (term → df, cf) and its sorted
vocabulary at open — the reference's in-memory seek list (the DAWG's
``keys(prefix)``, SearchEngine.py:210) — so prefix expansion,
completions, stop terms, phrase selectivity, idf and spell-correction
candidates run no index scan.
"""

from __future__ import annotations

import math
import re

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analyze import analyze_text
from ..session import local_rows_df as _local_df
from . import querytree as qt
from .kernel import (
    _BucketFrames,
    _EMPTY_IDS,
    _bind_ids,
    _eval_bucket_tree,
    _pos_terms,
    bm25_idf,
    bucket_upper_bounds,
    min_cross_distance,
    score_bucket,
    surviving_buckets,
)

# the driver fast path's Σdf budget: a query whose terms hold more
# postings (or a phrase needle with more content hits) takes the bucket
# plan
FAST_MAX_POSTINGS = 5_000_000

_SQL_WORD = re.compile(r"[a-z0-9_]+")

_PHRASES = ("phrase", "phrase_prefix")  # the leaf kinds a phrase parses to


def _in_list(col: str, values) -> Column:
    """``col IN (values)`` built in one py4j call (``Column.isin`` makes
    one per literal: ~0.5 s for 1 000 ids): int values, or strings of
    ``[a-z0-9_]+`` (analyzed terms) as quoted literals; any other
    string takes ``isin``."""
    vals = sorted(set(values))
    if not vals:
        return F.lit(False)
    if all(isinstance(v, (int, np.integer)) for v in vals):
        lits = ",".join(str(int(v)) for v in vals)
    elif all(isinstance(v, str) and _SQL_WORD.fullmatch(v) for v in vals):
        lits = ",".join(f"'{v}'" for v in vals)
    else:
        return F.col(col).isin(vals)
    return F.expr(f"{col} IN ({lits})")


def _contains(needle: str) -> Column:
    """The substring-phrase check (the reference's literal verify)."""
    return F.contains(F.lower("content"), F.lit(needle))


class _FastFallback(Exception):
    """Raised when a query exceeds the fast path's Σdf budget (or a
    phrase needle's content hits exceed it) — the
    caller falls back to the bucket plan; the message is the reason
    :attr:`SearchEngine.last_trace` records."""


class SearchEngine:
    """Loads an index built by operators.build.build_index and serves
    the reference query language (14 shapes, SURVEY.md §5)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        *,
        use_stemmer: bool = True,
        k1: float = 1.2,
        b: float = 0.75,
        edges: DataFrame | None = None,
        stop_cf_fraction: float | None = None,
        corpus: DataFrame | None = None,
        cache_term_stats: bool = True,
        cache_doclens: bool = False,
        cache_content: bool = False,
        fast_path: bool | None = None,
        use_blockmax: bool | None = None,
        blockmax_min_sumdf: int = 5_000_000,
        persist_doclens: bool = False,
        phrase_via_positions: bool = False,
        at_version: int | None = None,
        frame_cache: bool = False,
    ):
        """``cache_term_stats``, ``cache_content`` and ``frame_cache`` are
        accepted and ignored: every engine loads the term dictionary,
        every substring phrase checks the needle hits of one content
        scan, and every frame decodes in one :func:`.codec.decode_many`
        pass."""
        self.spark = spark
        self.index_dir = index_dir
        self.use_stemmer = use_stemmer
        self.k1, self.b = k1, b
        self.edges = edges  # (src_doc_id, dst_doc_id) id-lookup relation
        self.stop_cf_fraction = stop_cf_fraction
        # distributed block-max pruning for pure-keyword ranked top-k.
        # None = auto: queries whose Σdf (from the term dictionary) crosses
        # blockmax_min_sumdf take the pruning plan (two extra metadata
        # round-trips only pay off on big skewed indexes); small queries
        # keep the 1-job exhaustive plan.  Results identical — tested.
        self.use_blockmax = use_blockmax
        self.blockmax_min_sumdf = blockmax_min_sumdf
        self.last_blockmax: dict | None = None
        # {"placement": "fast" | "bucket" | "bucket+blockmax",
        #  "reason": why} of the last search() or search_page() call
        self.last_trace: dict | None = None
        # phrase semantics switch: False (default) = the reference's
        # literal-substring verification against the document store;
        # True = TRUE positional matching on the stored position lists
        # (requires store_positions=True at build).  Positional phrase
        # matching is doc-local, hence bucket-local — with it the
        # bucket plans answer phrase shapes with zero content access.
        self.phrase_via_positions = phrase_via_positions
        # cache/strategy knobs, kept so reload() can rebuild the same
        # caches against a new snapshot
        self._corpus = corpus
        self._cache_doclens = cache_doclens
        self._fast_path_req = fast_path
        self._persist_doclens = persist_doclens
        # time travel: pin every query to a historical snapshot
        # (Iceberg VERSION AS OF).  A pinned engine never follows the
        # pointer — reload() is a no-op — and opening a GC'd version
        # fails loudly at construction (IndexPaths raises).
        self.at_version = at_version
        self._bucket_dl: DataFrame | None = None
        self._load()

    def _load(self) -> None:
        """Resolve the snapshot pointer and (re)build every
        snapshot-derived table handle and cache.  Called at construction
        and by :meth:`reload` after ``refresh_index`` commits a new
        snapshot."""
        from ..operators.build import IndexPaths

        spark, corpus = self.spark, self._corpus
        # pointer-aware (snapshot commits); at_version pins time travel
        paths = IndexPaths(self.index_dir, version=self.at_version)
        self.version = paths.version
        self.index = spark.read.parquet(paths.index)
        self.docs = spark.read.parquet(paths.docs)
        # document store for phrase verification: the docs table when it
        # carries content (small scale), else the source corpus table
        # (at scale content is not duplicated into the docs table)
        if "content" in self.docs.columns:
            self.content_df = self.docs.select("doc_id", "content")
        elif corpus is not None:
            self.content_df = corpus.select("doc_id", "content")
        else:
            self.content_df = None
        st = spark.read.parquet(paths.stats).collect()[0]
        self.n_docs = st.n_docs
        self.avgdl = float(st.avg_doclen or 0.0) or 1.0
        self.collection_term_count = st.collection_term_count or 0
        # bucket grid (lo, span, count) the build salted on: doc → bucket
        # is O(1) arithmetic (the same _range_bucket float math), so a
        # cluster-scale grid costs one expression, not a CASE chain
        srow = st.asDict()
        if not srow.get("bucket_count"):
            raise ValueError(
                f"index {self.index_dir!r} predates the bucket grid (its "
                "stats table has no bucket_count): rebuild it with "
                "build_index"
            )
        self._grid = (
            int(srow["bucket_lo"]),
            int(srow["bucket_span"]),
            int(srow["bucket_count"]),
        )
        self._bucket_dl = None  # built on first use (_bucket_doclens)
        # the driver term dictionary (term -> (df, cf)) and its sorted
        # vocabulary for O(log V) prefix expansion (the reference DAWG's
        # keys(prefix)): one groupBy collect at open, after which no
        # dictionary question (prefix, completion, stop term, phrase
        # selectivity, idf) costs a Spark job.  |vocab| must fit the
        # driver — the reference keeps the same seek list in memory.
        # Both driver tables arrive as Arrow columns, not Row objects.
        ts = (
            self.index.groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            .toArrow()
        )
        df_cf = zip(*(ts.column(c).to_numpy().tolist() for c in ("df", "cf")))
        self.term_stats: dict[str, tuple[int, int]] = dict(
            zip(ts.column("term").to_pylist(), df_cf)
        )
        self._term_arr: list[str] = sorted(self.term_stats)
        # optional driver-side doclen arrays (sorted ids + lengths): they
        # enable the driver fast path.  Opt in while n_docs fits.
        self._doclen_ids: np.ndarray | None = None
        self._doclen_vals: np.ndarray | None = None
        if self._cache_doclens:
            dl = self.docs.select("doc_id", "doclen").toArrow()
            ids = dl.column("doc_id").to_numpy().astype(np.int64)
            order = np.argsort(ids)
            self._doclen_ids = ids[order]
            self._doclen_vals = dl.column("doclen").to_numpy()[order].astype(np.float64)
        # fast path: evaluate small queries driver-side over the decoded
        # (pruned) postings — the reference's own execution model, kept
        # behind a Σdf budget; the bucket plan is always the fallback
        # and the default without the driver doclens.
        fast_path = self._fast_path_req
        if fast_path is None:
            fast_path = self._doclen_ids is not None
        elif fast_path and self._doclen_ids is None:
            # ADVICE r2: without the doclen cache the fast path would
            # score every doc with doclen 0 (silently wrong BM25) —
            # refuse loudly instead of degrading.
            raise ValueError(
                "fast_path=True requires cache_doclens=True (fast scoring "
                "needs the driver doclens)"
            )
        self.fast_path = fast_path

    def reload(self) -> bool:
        """Re-resolve the snapshot pointer; when ``refresh_index`` has
        committed a newer version, swap the table handles and rebuild
        the term dictionary and every cache this engine was configured
        with (driver doclens, serving bucket arrays),
        unpersisting the superseded cluster caches.  Returns True if a
        new snapshot was loaded, False if already current.

        A long-lived serving engine resolves the pointer ONCE at open;
        without reload it would keep serving the old version forever —
        and the refresh after next garbage-collects that version's
        directories, after which a stale engine breaks.  Call reload()
        (or poll it) after each refresh; concurrent in-flight queries
        on the old handles stay safe for exactly one refresh cycle (the
        GC keeps the immediately-previous version on disk)."""
        from ..operators.build import IndexPaths

        if self.at_version is not None:  # time-travel pin: never follow
            return False  # the pointer past the pinned snapshot
        if IndexPaths(self.index_dir).version == self.version:
            return False
        if self._bucket_dl is not None:
            self._bucket_dl.unpersist()
        self._load()
        return True

    def _bexpr(self):
        """doc_id → grid bucket, the build's ``_range_bucket`` math."""
        from ..operators.build import _range_bucket

        return _range_bucket("doc_id", *self._grid)

    @property
    def _bucket_doclens(self) -> DataFrame:
        """(bucket, dl_ids, dl_lens): each grid bucket's sorted doc_ids
        and their doclens — the kernel's doclen side.  Built on first
        use, so opening an engine costs no Spark or py4j work for it;
        ``persist_doclens`` keeps it cluster-cached and partitioned by
        bucket (|docs| entries spread over slices × salt buckets)."""
        if self._bucket_dl is None:
            z = (
                self.docs.select("doc_id", "doclen")
                .withColumn("bucket", self._bexpr())
                .groupBy("bucket")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "doclen"))
                    ).alias("z")
                )
            )
            rel = z.select(
                "bucket",
                F.col("z.doc_id").alias("dl_ids"),
                F.col("z.doclen").alias("dl_lens"),
            )
            if self._persist_doclens:
                n_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
                rel = rel.repartition(n_parts, "bucket").persist()
            self._bucket_dl = rel
        return self._bucket_dl

    @_bucket_doclens.setter
    def _bucket_doclens(self, rel: DataFrame) -> None:
        self._bucket_dl = rel

    @property
    def _doclens_cluster(self) -> DataFrame:
        """Alias of :attr:`_bucket_doclens`, the one doclen relation
        (callers written for the old per-doc cache unpersist it)."""
        return self._bucket_doclens

    # ---- analysis (MUST mirror the build path) -------------------------
    def _q(self, text: str) -> list[str]:
        return analyze_text(text, use_stemmer=self.use_stemmer)

    # ---- leaf operators -------------------------------------------------
    def _index_rows(self, terms: list[str]) -> DataFrame:
        if not terms:
            return self.index.limit(0)
        return self.index.filter(_in_list("term", terms))

    def prefix_docids(self, prefix: str) -> DataFrame:
        """Q2 (reference SearchEngine.py:209-214): the docs holding a
        dictionary expansion of ``prefix``, by the bucket plan."""
        t = self.expand_prefix(prefix)
        return self._bucketed_eval([[(("terms", t), False)]], set(t))

    def phrase_docids(self, phrase: str, suffix: str = "") -> DataFrame:
        """Q3/Q4 (reference SearchEngine.py:169-207): the docs whose
        lowercased content holds ``'{phrase} {suffix}'``
        (:meth:`phrase_docids_bucketed`).  A phrase that analyzes to no
        term keeps prefix semantics on ``suffix``."""
        if self._q(phrase):
            return self.phrase_docids_bucketed(phrase, suffix).select("doc_id")
        if suffix:
            return self.prefix_docids(suffix)
        return _local_df(self.spark, [], "doc_id long")

    def _content_store(self) -> DataFrame:
        if self.content_df is None:
            raise ValueError(
                "phrase verification needs a document store: docs table "
                "has no content column and no corpus was provided"
            )
        return self.content_df

    def phrase_docids_positional(self, phrase: str) -> DataFrame:
        """TRUE positional phrase matching from the stored position
        lists — the capability the reference indexes for but never uses
        (positions stored at IndexCreator.py:95-99; verification falls
        back to substring at SearchEngine.py:201-207).

        Semantics: the doc's analyzed term sequence contains the
        phrase's analyzed term sequence contiguously.  Plan: only the
        phrase terms' compressed frames shuffle, grouped by doc-range
        bucket; candidates intersect and position-verify inside each
        bucket (:func:`.kernel._pos_phrase_bucket_ids`) — zero content
        access.  Needs an index built with ``store_positions=True``."""
        seq = self._q(phrase)
        if not seq:
            return _local_df(self.spark, [], "doc_id long")
        return self._bucketed_eval(
            [[(("pos_phrase", seq, None), False)]], set(seq)
        )

    def phrase_prefix_docids_positional(self, phrase: str, suffix: str) -> DataFrame:
        """Positional phrase-prefix (Q4's positional variant): the doc's
        analyzed term sequence contains the phrase terms contiguously,
        immediately followed by a term starting with ``suffix``.  The
        reference never has this — its Q4 substring-verifies the literal
        text (SearchEngine.py:169-172,202).  The suffix expands over the
        term dictionary (the reference DAWG's ``keys(prefix)``,
        SearchEngine.py:210); the bucket-local plan of
        :meth:`phrase_docids_positional` then lets ANY expansion term
        fill the final slot."""
        seq = self._q(phrase)
        if not seq:
            return self.prefix_docids(suffix)
        sfx_terms = self.expand_prefix(suffix)
        if not sfx_terms:
            return _local_df(self.spark, [], "doc_id long")
        return self._bucketed_eval(
            [[(("pos_phrase", seq, sfx_terms), False)]],
            set(seq) | set(sfx_terms),
        )

    def reply_to_docids(self, target: str) -> DataFrame:
        """Q5 generalized id-lookup (the reference's ReplyTo crashes as
        shipped — SearchEngine.py:221 uses an attribute load_index never
        sets; rebuilt correctly as an equi-join over an edge relation)."""
        if self.edges is None:
            raise ValueError("no edges relation configured for ReplyTo")
        return (
            self.edges.filter(F.col("dst_doc_id") == int(target))
            .select(F.col("src_doc_id").alias("doc_id"))
            .distinct()
        )

    def _serving_leaf(self, leaf: qt.Leaf) -> tuple[tuple, set]:
        """Compile one query leaf for the bucket kernel.

        Returns ``(spec, frame_terms)`` where spec is one of
        ``("terms", [t...])`` (keyword / prefix / degenerate phrase),
        ``("pos_phrase", seq, sfx_terms|None)`` (positional phrase
        matching, phrase_via_positions=True), ``("substring", rare
        terms, ("rel", needle))`` (a substring phrase: its ≤ 2 rarest
        terms and its lowercased needle) or ``("rel", relation)``: the
        (bucket, doc_id) rows of a reply_to's sources.  A ``rel`` is an
        id source, lowered to a slot by :meth:`_compile_tree`."""
        if leaf.kind == "keyword":
            t = self._q(leaf.value)
            return ("terms", t), set(t)
        if leaf.kind == "prefix":
            t = self.expand_prefix(leaf.value)
            return ("terms", t), set(t)
        if leaf.kind == "reply_to":
            rel = self.reply_to_docids(leaf.value)
            return ("rel", rel.select(self._bexpr().alias("bucket"), "doc_id")), set()
        if leaf.kind not in _PHRASES:
            raise ValueError(leaf.kind)
        sfx = leaf.suffix if leaf.kind == "phrase_prefix" else ""
        seq = self._q(leaf.value)
        if not seq:  # phrase analyzed away: prefix semantics
            t = self.expand_prefix(sfx) if sfx else []
            return ("terms", t), set(t)
        if self.phrase_via_positions:
            sfx_terms = self.expand_prefix(sfx) if sfx else None
            if sfx and not sfx_terms:  # suffix matches no term
                return ("terms", []), set()
            ft = set(seq) | set(sfx_terms or ())
            return ("pos_phrase", seq, sfx_terms), ft
        return self._substring_leaf(leaf)

    def _substring_leaf(self, leaf: qt.Leaf) -> tuple[tuple, set]:
        """A phrase leaf's substring spec: its ≤ 2 rarest terms and its
        lowercased needle ``'{value} {suffix}'``; a phrase term outside
        the index (or no term at all) matches nothing."""
        rare = sorted(self._rare_terms(self._q(leaf.value)))
        if not rare:
            return ("terms", []), set()
        needle = f"{leaf.value} {leaf.suffix}".strip().lower()
        return ("substring", rare, ("rel", needle)), set(rare)

    def _driver_leaf(self, leaf: qt.Leaf) -> tuple[tuple, set]:
        """Compile one query leaf for the driver's virtual bucket
        (bucket 0): reply_to resolves to an id set; every other leaf
        compiles as for the bucket kernel."""
        if leaf.kind == "reply_to":
            rows = self.reply_to_docids(leaf.value).collect()
            ids = np.array(sorted(r.doc_id for r in rows), dtype=np.int64)
            return ("ids", {0: ids}), set()
        return self._serving_leaf(leaf)

    def _compile_tree(self, node, compile_leaf) -> tuple[list, set[str], list]:
        """Lower a parse tree to the kernel's OR-of-ANDs leaf specs +
        the index terms whose frames the kernel needs + the id sources:
        each ``("rel", source)`` spec, also a substring leaf's id leaf,
        becomes ``("slot", j)`` over ``sources[j]`` (one slot per
        distinct needle), bound per bucket by :func:`_bind_ids`.  A
        source is a (bucket, doc_id) relation or a needle, whose content
        hits are one.  A ranked query's leaves become one single-leaf
        group each (its candidates are the union of the leaves)."""
        if isinstance(node, qt.OrNode):
            groups = [and_node.children for and_node in node.children]
        else:
            groups = [[c] for c in node.children]
        tree: list[list[tuple[tuple, bool]]] = []
        frame_terms: set[str] = set()
        rels: list = []

        def lower(spec):
            if spec[0] == "substring":
                return (*spec[:2], lower(spec[2]))
            if spec[0] != "rel":
                return spec
            if spec[1] not in rels:
                rels.append(spec[1])
            return ("slot", rels.index(spec[1]))

        for children in groups:
            leaves = []
            for c in children:
                spec, ft = compile_leaf(c)
                leaves.append((lower(spec), c.negated))
                frame_terms.update(ft)
            # positives first (the parser guarantees at least one)
            leaves.sort(key=lambda x: x[1])
            tree.append(leaves)
        return tree, frame_terms, rels

    def _frames_by_bucket(
        self,
        terms,
        min_bucket: int | None = None,
        buckets: list[int] | None = None,
        id_rels: list = (),
    ) -> DataFrame:
        """(bucket, frames[, id_slot, id_doc]): the terms' compressed
        frames grouped by doc-range bucket — the only index rows a
        bucket-local plan shuffles.  With ``id_rels`` the (bucket,
        doc_id) rows of each id source j (:meth:`_compile_tree`; a
        needle's rows are the content scan's hits) join the same groups
        as ``(j, doc_id)`` pairs, sorted and distinct, so a bucket
        holding ids is visited even when no frame lands there."""
        frame = F.struct("term", "postings")
        rows = self._index_rows(sorted(terms)).select("bucket", "term", "postings")
        aggs = []
        if id_rels:
            rows = rows.select("*", F.lit(None).cast("int").alias("slot"),
                               F.lit(None).cast("long").alias("doc_id"))
            for j, rel in enumerate(id_rels):
                if isinstance(rel, str):
                    rel = self._content_store().filter(_contains(rel)).select(
                        self._bexpr().alias("bucket"), "doc_id"
                    )
                rows = rows.unionByName(rel.select(
                    F.col("bucket").cast("int"), F.lit(None).cast("string").alias("term"),
                    F.lit(None).cast("binary").alias("postings"),
                    F.lit(j).alias("slot"), F.col("doc_id").cast("long"),
                ))
            frame = F.when(F.col("term").isNotNull(), frame)
            ids = F.when(F.col("slot").isNotNull(), F.struct("slot", "doc_id"))
            aggs.append(F.array_sort(F.collect_set(ids)).alias("z"))
        if min_bucket:
            rows = rows.filter(F.col("bucket") >= min_bucket)
        if buckets is not None:
            rows = rows.filter(_in_list("bucket", buckets))
        out = rows.groupBy("bucket").agg(F.collect_list(frame).alias("frames"), *aggs)
        if id_rels:
            out = out.select("bucket", "frames", F.col("z.slot").alias("id_slot"),
                             F.col("z.doc_id").alias("id_doc"))
        return out

    def _bucketed_eval(
        self,
        tree: list,
        frame_terms: set[str],
        id_rels: list = (),
        after: int | None = None,
        cap: int | None = None,
        min_bucket: int | None = None,
    ) -> DataFrame:
        """Run the compiled OR-of-ANDs tree bucket-locally: shuffle only
        the leaves' compressed frames and id rows, evaluate per-bucket
        numpy set algebra (see _eval_bucket_tree), return the doc_id
        relation.  Buckets are disjoint doc ranges, so no global
        distinct is needed.  Needs no serving cache: only the index's
        ``bucket`` column.

        Keyset pagination hooks: ``after`` drops ids <= after inside the
        kernel, ``cap`` emits at most cap ids per bucket (exact for a
        global ORDER BY doc_id LIMIT cap — per-bucket results are
        ascending and buckets are disjoint ranges, so each bucket's
        first cap survivors are a superset of its contribution to the
        global page), and ``min_bucket`` prunes whole buckets below the
        keyset frontier BEFORE their frames shuffle."""
        import pandas as pd

        schema = "doc_id long"
        if not frame_terms and not id_rels:
            return _local_df(self.spark, [], schema)
        joined = self._frames_by_bucket(frame_terms, min_bucket, id_rels=id_rels)
        pos_terms = _pos_terms(tree)

        def gen(batches):
            for pdf in batches:
                d_out = []
                none = [None] * len(pdf)
                for bucket, frames, slot, doc in zip(
                    pdf["bucket"], pdf["frames"], pdf.get("id_slot", none),
                    pdf.get("id_doc", none),
                ):
                    bucket = int(bucket)
                    bf = _BucketFrames(frames, pos_terms)
                    res = _eval_bucket_tree(bf, _bind_ids(tree, bucket, slot, doc), bucket)
                    if after is not None and res.size:
                        res = res[np.searchsorted(res, after, side="right"):]
                    if cap is not None:
                        res = res[:cap]
                    if res.size:
                        d_out.append(res)
                if d_out:
                    yield pd.DataFrame({"doc_id": np.concatenate(d_out)})

        return joined.mapInPandas(gen, schema)

    def boolean_docids_bucketed(self, node: qt.OrNode) -> DataFrame:
        """Bucket-local boolean algebra — the twin of
        :meth:`score_terms`.  Doc membership is bucket-local
        (all of a doc's postings live in its one doc-range bucket), so
        per-bucket numpy set ops compose to the exact global result:
        AND = intersect, NOT = setdiff, OR = union, keyword = union of
        its analyzed terms' postings, prefix = union of its dictionary
        expansion, phrase = positional in-bucket match
        (phrase_via_positions) or the rare terms' docs among the
        needle's content hits, reply_to = its sources grouped by bucket.
        Only the leaves' compressed frames and id rows shuffle."""
        return self._bucketed_eval(*self._compile_tree(node, self._serving_leaf))

    def _bucket_of(self, doc_id: int) -> int:
        """Scalar mirror of the build's ``_range_bucket`` double math:
        the grid bucket whose contiguous doc range holds ``doc_id``."""
        glo, gspan, gn = self._grid
        frac = float(doc_id - glo) / float(gspan)
        return max(0, min(gn - 1, math.floor(float(gn) * frac)))

    def phrase_docids_bucketed(self, phrase: str, suffix: str = "") -> DataFrame:
        """(bucket, doc_id) of the docs whose lowercased content holds
        ``'{phrase} {suffix}'`` (the reference's substring semantics),
        by the bucket kernel's substring leaf: the rare terms' frames and
        the needle's content hits meet in their buckets.  A phrase that
        analyzes to no term, or holds a term outside the index, matches
        nothing here."""
        leaf = qt.Leaf("phrase_prefix", phrase, suffix=suffix)
        node = qt.OrNode([qt.AndNode([leaf])])
        ids = self._bucketed_eval(*self._compile_tree(node, self._substring_leaf))
        return ids.select(self._bexpr().alias("bucket"), "doc_id")

    def _rare_terms(self, terms: list[str]) -> dict[str, int]:
        """The (≤2) lowest-df distinct ``terms`` → their df, rarest
        first — a phrase's candidate terms (the reference's selectivity
        planning, SearchEngine.py:189-194); {} when a term is not in the
        index."""
        dfs = self._term_dfs(terms)
        if len(dfs) < len(set(terms)):
            return {}
        return dict(sorted(dfs.items(), key=lambda x: (x[1], x[0]))[:2])

    # ---- ranked retrieval (Q7) ------------------------------------------
    def expand_prefix(self, prefix: str) -> list[str]:
        """Dictionary prefix enumeration (reference DAWG ``keys(prefix)``,
        SearchEngine.py:210): two binary searches on the sorted
        vocabulary — O(log V + matches), no Spark job."""
        import bisect

        p = prefix.lower()
        arr = self._term_arr
        lo_i = bisect.bisect_left(arr, p)
        # successor string of the prefix: bump the rightmost non-max
        # char and truncate — everything in [p, succ) starts with p.
        # All-max-char prefixes (impossible for analyzed terms) fall back
        # to end-of-vocab.
        succ = None
        for j in range(len(p) - 1, -1, -1):
            if ord(p[j]) < 0x10FFFF:
                succ = p[:j] + chr(ord(p[j]) + 1)
                break
        hi_i = len(arr) if succ is None else bisect.bisect_left(arr, succ, lo_i)
        return arr[lo_i:hi_i]

    def completions(self, prefix: str, k: int = 10) -> DataFrame:
        """Autocomplete: top-``k`` dictionary completions of ``prefix``
        ranked by collection frequency (cf desc, term asc) — the query
        the reference's DAWG seek list answers for prefix search
        (SearchEngine.py:210 ``keys(prefix)``), ranked the way a search
        box wants it: an O(log V + matches) sorted-vocabulary slice plus
        a driver-side heap, no Spark job."""
        import heapq

        best = heapq.nsmallest(
            k, ((-self.term_stats[t][1], t) for t in self.expand_prefix(prefix))
        )
        return _local_df(
            self.spark, [(t, int(-ncf)) for ncf, t in best], "term string, cf long"
        )

    def correct_terms(self, inputs: list[str], max_dist: int = 2) -> DataFrame:
        """Dictionary spell correction: for each input term, the best
        dictionary term within ``max_dist`` edits, ranked
        (distance asc, cf desc, term asc) — "did you mean" over the
        index's own vocabulary, weighted by how often the candidate
        actually occurs in the corpus.

        Plan: the vocabulary side is the driver term dictionary
        (:attr:`term_stats`) as a local relation — no index scan; the
        tiny input list broadcasts into a nested-loop join
        whose ``|length(term) - length(input)| <= max_dist`` predicate
        prunes candidates before the JVM ``levenshtein`` runs (edit
        distance can never beat a length gap); one row per input
        survives a window rank.  No Python in the loop.  Inputs with no
        candidate within budget are absent from the result.  Returns
        (input, term, dist, cf)."""
        from pyspark.sql.window import Window

        inp = _local_df(self.spark, 
            [(t,) for t in sorted(set(inputs))], "input string"
        )
        vocab = _local_df(
            self.spark, [(t, cf) for t, (_, cf) in self.term_stats.items()],
            "term string, cf long",
        )
        cand = (
            vocab.join(
                F.broadcast(inp),
                F.abs(F.length("term") - F.length("input")) <= max_dist,
            )
            .withColumn("dist", F.levenshtein("input", "term"))
            .filter(F.col("dist") <= max_dist)
        )
        w = Window.partitionBy("input").orderBy(
            F.asc("dist"), F.desc("cf"), F.asc("term")
        )
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("input", "term", "dist", "cf")
        )

    def correct_query(self, query: str, max_dist: int = 2) -> str:
        """Free-text query correction: analyzed terms absent from the
        dictionary are replaced by their best :meth:`correct_terms`
        correction (terms with no correction in budget pass through —
        they simply match nothing, the engine's normal unknown-term
        behavior).  Known terms are a term-dictionary probe, not a job."""
        toks = self._q(query)
        unknown = sorted({t for t in toks if t not in self.term_stats})
        if not unknown:
            return " ".join(toks)
        fixes = {
            r.input: r.term
            for r in self.correct_terms(unknown, max_dist).collect()
        }
        return " ".join(fixes.get(t, t) for t in toks)

    def facet_counts(self, query: str, meta: DataFrame, col: str) -> DataFrame:
        """Faceted search: the distribution of metadata column ``col``
        over the FULL result set of ``query`` (boolean queries return
        every match; ranked queries facet their top-k page) — the
        result-refinement sidebar every search UI derives from the
        engine.  Plan: result doc_ids join the metadata relation on
        doc_id (the meta scan is column-pruned to (doc_id, col);
        AQE broadcasts whichever side is small — a top-k page always
        is), then a partial-agg count per value: the final shuffle
        carries one row per (partition, value), not per doc.
        Returns (value, cnt) ordered (cnt desc, value asc)."""
        ids = self.search(query).select("doc_id")
        return (
            meta.select("doc_id", F.col(col).alias("value"))
            .join(ids, "doc_id")
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("value"))
        )

    def search_snippets(
        self, query: str, k: int = 10, *, width: int = 80, context: int = 30
    ) -> DataFrame:
        """Top-``k`` search results with a result snippet — a
        ``width``-char window of the ORIGINAL content starting
        ``context`` chars before the earliest query-term occurrence
        (the engine analogue of the reference printing each matching
        comment's text, SearchEngine.py:241-248 ``print_comments`` with
        ``printIdsOnly=False`` via ``load_comment``).  Docs where no term
        occurs literally (stemmed index / position-only match) snippet
        from the start.  Content access is an IN-list parquet pushdown
        on the k result ids — one pruned scan, no content shuffle."""
        rows = self.search(query, k).collect()  # k rows by contract
        schema = "doc_id long, score double, snippet string"
        if not rows:
            return _local_df(self.spark, [], schema)
        if self.content_df is None:
            raise qt.QueryError(
                "snippets need document content: the index was built with "
                "store_content=False and no corpus was provided"
            )
        terms = self._query_terms(query)
        hay = F.lower(F.col("content"))
        locs = [F.when(F.locate(t, hay) > 0, F.locate(t, hay)) for t in terms]
        if not locs:
            first = F.lit(None).cast("int")
        elif len(locs) == 1:
            first = locs[0]
        else:
            first = F.least(*locs)
        start = F.greatest(F.coalesce(first, F.lit(1)) - context, F.lit(1))
        scored = _local_df(self.spark, 
            [(int(r.doc_id), float(getattr(r, "score", 0.0))) for r in rows],
            "doc_id long, score double",
        )
        return (
            self.content_df.filter(_in_list("doc_id", [r.doc_id for r in rows]))
            .select(
                "doc_id",
                F.col("content").substr(start, F.lit(width)).alias("snippet"),
            )
            .join(F.broadcast(scored), "doc_id")
            .select("doc_id", "score", "snippet")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def _query_terms(self, raw_query: str) -> list[str]:
        toks = []
        prefix_terms: list[str] = []
        for leaf_tok in raw_query.replace("'", " ").split():
            if leaf_tok.lower().startswith("replyto:"):
                continue
            if leaf_tok.endswith("*"):
                prefix_terms.extend(self.expand_prefix(leaf_tok.rstrip("*")))
            else:
                toks.append(leaf_tok)
        terms = self._q(" ".join(toks)) + prefix_terms
        # stop-term skip (Q8; reference SearchEngine.py:88-91 — redefined
        # on true cf, see SURVEY §4.4): drop Zipf-head terms unless that
        # would empty the query.
        if self.stop_cf_fraction and self.collection_term_count:
            thr = self.collection_term_count * self.stop_cf_fraction
            kept = [t for t in terms if self.term_stats.get(t, (0, 0))[1] <= thr]
            if kept:
                terms = kept
        return terms

    def _term_meta(self, terms) -> list:
        """(term, bucket, df, max_tf) of every index row of ``terms``:
        one pruned metadata collect — block maxima, no posting decode."""
        if not terms:
            return []
        max_tf = F.array_max(F.transform("blocks", lambda bl: bl["max_tf"]))
        return (
            self._index_rows(sorted(set(terms)))
            .select("term", "bucket", "df", max_tf.alias("max_tf"))
            .collect()
        )

    def _term_dfs(self, terms) -> dict[str, int]:
        """Global df of each distinct query term the index holds."""
        return {t: self.term_stats[t][0] for t in set(terms) if t in self.term_stats}

    def _scoring_idf(self, terms) -> dict[str, float]:
        """idf of each distinct query term the index holds — the
        scoring terms of every placement."""
        return {
            t: bm25_idf(self.n_docs, df)
            for t, df in self._term_dfs(terms).items()
            if df > 0
        }

    def _sum_df(self, terms) -> int:
        """Σdf of the distinct ``terms``."""
        return sum(self._term_dfs(terms).values())

    def _where_cond(self, where):
        return F.expr(where) if isinstance(where, str) else where

    def _allowed_docs(self, where) -> DataFrame:
        """doc_ids passing a metadata predicate (``where``: SQL boolean
        expression string or Column over the docs-table columns — repo,
        path, commit, lang, ...).  The filter reaches the parquet scan
        (predicate pushdown + column pruning to the referenced cols),
        so selectivity is paid at the source, not post-join."""
        return self.docs.filter(self._where_cond(where)).select("doc_id")

    def _boost_factors(self, boost) -> DataFrame:
        """(doc_id, factor) for docs matched by at least one boost
        predicate; ``boost`` = list of (predicate, factor) pairs.  A
        doc matching several predicates multiplies their factors (the
        Lucene/Elasticsearch boost composition).  Docs matching none
        are ABSENT (the kernel leaves their summed score as is), so the
        boost side stays O(boosted docs), not O(corpus)."""
        fac = F.lit(1.0)
        cond = F.lit(False)
        for pred, factor in boost:
            c = self._where_cond(pred)
            fac = fac * F.when(c, F.lit(float(factor))).otherwise(F.lit(1.0))
            cond = cond | c
        return self.docs.filter(cond).select(
            "doc_id", fac.alias("factor")
        )

    def _score_bucketed(
        self,
        queries: list[tuple[int, list[str], list | None]],
        idf: dict[str, float],
        k: int | None,
        *,
        where=None,
        boost=None,
        frame_terms: set[str] = frozenset(),
        id_rels: list = (),
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Bucket-local DAAT — the one BM25 plan, for one query or a
        batch → (qid, doc_id, score).

        The classic distributed IR architecture (one shard per doc
        range, local scoring, global top-k merge) falls out of the
        index's own salted-merge grid: ALL of a doc's postings live in
        exactly one doc-range bucket.  Only the compressed frames of the
        union of the queries' terms (plus ``frame_terms``, the leaves'
        terms) move — grouped by bucket and broadcast into the
        per-bucket doclen arrays (:attr:`_bucket_doclens`), never
        decoded postings — and each bucket task decodes each term once
        and runs :func:`.kernel.score_bucket` for every query ``(qid,
        sorted scoring terms, tree | None)``, emitting each query's
        exact local top-k (O(k × buckets) rows cross Arrow, not
        O(touched docs)).  ``id_rels`` are the trees' id sources
        (:meth:`_frames_by_bucket`); with them the frames LEFT-join the
        doclen arrays, so an id outside every doc bucket still scores
        0.0.  ``buckets`` restricts the plan to those grid buckets
        (block-max probe and survivors).

        ``where`` scopes results to a metadata predicate: allowed
        doc_ids arrive as per-bucket sorted arrays (pushdown-filtered
        docs scan, grid-bucketed; INNER join, so buckets with no
        allowed docs never ship their frames).  ``boost`` arrives the
        same way as per-bucket (sorted ids, factors), LEFT-joined."""
        import pandas as pd

        schema = "qid int, doc_id long, score double"
        all_terms = set(idf) | set(frame_terms)
        if not all_terms and not id_rels:
            return _local_df(self.spark, [], schema)
        doclens = self._bucket_doclens
        if buckets is not None:
            doclens = doclens.filter(_in_list("bucket", buckets))
        frames = self._frames_by_bucket(all_terms, buckets=buckets, id_rels=id_rels)
        cols = ["bucket", "frames", "dl_ids", "dl_lens"]
        if id_rels:
            joined = frames.join(doclens, "bucket", "left")
            cols += ["id_slot", "id_doc"]
        else:
            # frames are query-sized by construction: broadcasting them
            # keeps the doclen side where it is (no SortMergeJoin shuffle)
            joined = F.broadcast(frames).join(doclens, "bucket")
        if where is not None:
            allowed = (
                self.docs.filter(self._where_cond(where))
                .select("doc_id")
                .withColumn("bucket", self._bexpr())
                .groupBy("bucket")
                .agg(F.sort_array(F.collect_list("doc_id")).alias("allow_ids"))
            )
            joined = joined.join(allowed, "bucket")
            cols.append("allow_ids")
        if boost:
            bfac = (
                self._boost_factors(boost)
                .withColumn("bucket", self._bexpr())
                .groupBy("bucket")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "factor"))
                    ).alias("bz")
                )
                .select(
                    "bucket",
                    F.col("bz.doc_id").alias("boost_ids"),
                    F.col("bz.factor").alias("boost_f"),
                )
            )
            joined = joined.join(bfac, "bucket", "left")
            cols += ["boost_ids", "boost_f"]
        joined = joined.select(*cols)
        qids = [qid for qid, _, _ in queries]
        kq = [(terms, tree) for _, terms, tree in queries]
        pos_terms = frozenset().union(*(_pos_terms(tree) for _, tree in kq if tree))
        k1, b, avgdl = self.k1, self.b, self.avgdl

        def gen(batches):
            for pdf in batches:
                out_q, out_d, out_s = [], [], []
                none = [None] * len(pdf)
                for bucket, frames, dl_ids, dl_lens, allow, bids, bfs, slot, doc in zip(
                    pdf["bucket"], pdf["frames"], pdf["dl_ids"], pdf["dl_lens"],
                    pdf.get("allow_ids", none), pdf.get("boost_ids", none),
                    pdf.get("boost_f", none), pdf.get("id_slot", none),
                    pdf.get("id_doc", none),
                ):
                    bucket = int(bucket)
                    bf = _BucketFrames(frames, pos_terms)
                    bst = None
                    if bids is not None and len(bids):
                        bst = (
                            np.asarray(bids, dtype=np.int64),
                            np.asarray(bfs, dtype=np.float64),
                        )
                    res = score_bucket(
                        bf, _EMPTY_IDS if dl_ids is None else dl_ids,
                        _EMPTY_IDS if dl_lens is None else dl_lens,
                        [(terms, _bind_ids(tree, bucket, slot, doc)) for terms, tree in kq],
                        idf, k1, b, avgdl, k=k, allow=allow, boost=bst, bucket=bucket,
                    )
                    for qid, (bd, bs) in zip(qids, res):
                        if bd.size:
                            out_q.append(np.full(bd.size, qid, dtype=np.int32))
                            out_d.append(bd)
                            out_s.append(bs)
                if out_q:
                    yield pd.DataFrame(
                        {
                            "qid": np.concatenate(out_q),
                            "doc_id": np.concatenate(out_d),
                            "score": np.concatenate(out_s),
                        }
                    )

        return joined.mapInPandas(gen, schema)

    def score_terms(
        self,
        terms: list[str],
        k: int | None = None,
        where=None,
        boost=None,
        *,
        node: qt.RankedNode | None = None,
        idf: dict[str, float] | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """BM25 over the disjunction of ``terms`` → (doc_id, score),
        ordered (score desc, doc_id asc): :meth:`_score_bucketed` with
        one query.

        ``where`` restricts results to docs passing a metadata
        predicate; BM25 stats (idf, avgdl, N) stay GLOBAL — the
        standard filtered-search semantics.  ``boost`` (list of
        (predicate, factor)) multiplies each doc's FINAL summed score by
        the product of its matching predicates' factors (sum first, one
        multiply after).  ``node``, a mixed-leaf ranked query (phrase /
        prefix / reply_to leaves beside keywords), makes the candidates
        the union of its leaves — evaluated in the same bucket task,
        scored 0.0 where none of ``terms`` occurs.  ``idf`` / ``buckets``
        let the block-max plan reuse its metadata and restrict the
        buckets scored."""
        tree, frame_terms, rels = None, set(), []
        if node is not None:
            tree, frame_terms, rels = self._compile_tree(node, self._serving_leaf)
        if idf is None:
            idf = self._scoring_idf(terms)
        scored = self._score_bucketed(
            [(0, sorted(idf), tree)], idf, k, where=where, boost=boost,
            frame_terms=frame_terms, id_rels=rels, buckets=buckets,
        )
        return _top(scored, k)

    def score_terms_blockmax(self, terms: list[str], k: int) -> DataFrame:
        """Top-k with bucket-grid block-max pruning (REPOSE's
        bound-pruned distributed top-k over the build's doc-range grid).

        A doc's postings for ALL terms live in one bucket, so a bucket's
        sum of per-term bounds bounds every doc score in it
        (:func:`.kernel.bucket_upper_bounds`).  Phase 1: one pruned
        metadata collect of (term, bucket, df, max block tf) — no
        posting decode.  Phase 2: θ = the k-th true score inside the
        most promising bucket (the bucket plan restricted to it).
        Phase 3: the bucket plan over only the buckets whose bound
        reaches θ (:func:`.kernel.surviving_buckets`; ties are scored).
        Identical results to :meth:`score_terms` (tested); pruning stats
        land in :attr:`last_blockmax`.  Frames decode whole, so blocks
        inside a surviving bucket are not skipped."""
        meta = self._term_meta(terms)
        idf = self._scoring_idf(terms)
        ub = bucket_upper_bounds(
            [(r.term, r.bucket, r.max_tf) for r in meta], idf,
            self.k1, self.b, self.avgdl,
        )
        if not ub:
            return _local_df(self.spark, [], "doc_id long, score double")
        best = max(ub, key=ub.get)
        probe = self.score_terms(terms, k, idf=idf, buckets=[best]).collect()
        theta = probe[-1].score if len(probe) == k else -math.inf
        surv = surviving_buckets(ub, theta)
        self.last_blockmax = {
            "buckets_total": len(ub),
            "buckets_scored": len(surv),
            "theta": theta,
        }
        if len(probe) == k and surv == [best]:
            # the probe bucket is the only survivor: its top-k IS the
            # answer — skip the redundant final scoring job
            return _local_df(
                self.spark,
                [(int(r.doc_id), float(r.score)) for r in probe],
                "doc_id long, score double",
            )
        return self.score_terms(terms, k, idf=idf, buckets=surv)

    def _want_blockmax(self, terms: list[str]) -> bool:
        """Auto-select the bucket-pruning plan: explicit True wins;
        None = on when the term dictionary's Σdf crosses the threshold
        (the same budget notion that bounds the driver fast path — big
        skewed queries prune, small queries keep the 1-job plan)."""
        if self.use_blockmax is not None:
            return self.use_blockmax
        return self._sum_df(terms) >= self.blockmax_min_sumdf

    def _trace(self, placement: str, reason: str) -> None:
        self.last_trace = {"placement": placement, "reason": reason}

    def ranked(
        self,
        node: qt.RankedNode,
        raw_query: str,
        k: int = 10,
        where=None,
        boost=None,
    ) -> DataFrame:
        terms = self._query_terms(raw_query)
        if all(leaf.kind == "keyword" for leaf in node.children):
            # a metadata scope thins every bucket below its bound
            # (pruning stays sound but stops paying); a boost can RAISE
            # a doc past its bucket's bound, which would make pruning
            # unsound — both keep the exhaustive bucket plan
            if where is None and boost is None and self._want_blockmax(terms):
                self._trace(
                    "bucket+blockmax",
                    "use_blockmax=True" if self.use_blockmax
                    else f"Σdf ≥ blockmax_min_sumdf {self.blockmax_min_sumdf}",
                )
                return self.score_terms_blockmax(terms, k)
            return self.score_terms(terms, k, where=where, boost=boost)
        return self.score_terms(terms, k, where, boost, node=node)

    # ---- driver-side fast path (low-latency small queries) ---------------
    # The bucket plan costs a few Spark stages at any size; for queries
    # whose pruned postings fit a Σdf budget, the reference's own
    # execution model — decode on the driver, run the bucket kernel over
    # one virtual bucket — answers in ONE Spark action: the pruned index
    # scan, plus one content scan per substring-phrase needle in the same
    # UNION ALL.  Results are identical (tested per shape); over the
    # budget the bucket plan, the scale path, answers.

    def _postings_arrays(
        self, terms, needles=()
    ) -> tuple[_BucketFrames, np.ndarray | None, np.ndarray | None]:
        """The terms' frames, collected to the driver in ONE pruned scan
        as Arrow and decoded as one virtual bucket from its binary
        buffers, + the ``(slot, doc_id)`` pairs (None without needles)
        of the docs whose lowercased content holds needle ``slot`` —
        each needle's content scan is UNION ALL'd into the same action
        (the rows with a ``hit``).
        Raises :class:`_FastFallback` when the terms' Σdf exceeds
        ``budget`` (:data:`FAST_MAX_POSTINGS`), or a needle's hits may:
        each needle branch keeps at most ``cap = budget // #content
        partitions + 1`` rows per partition (the per-partition record
        number is the low 33 bits of ``monotonically_increasing_id``),
        so it brings at most ``budget`` + #partitions ids to the
        driver, and a needle with ``cap`` ids may have been cut."""
        budget = FAST_MAX_POSTINGS
        uniq = sorted(set(terms))
        sum_df = self._sum_df(uniq)
        if sum_df > budget:
            raise _FastFallback(f"Σdf {sum_df} over FAST_MAX_POSTINGS {budget}")
        if not uniq:
            return _BucketFrames([]), None, None
        rows = self._index_rows(uniq).select("term", "postings")
        if needles:
            store = self._content_store()
            cap = budget // store.rdd.getNumPartitions() + 1
            nth = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
            rows = rows.withColumn("hit", F.lit(None).cast("long"))
            for nd in needles:
                # a separate Filter: Catalyst never merges or reorders a
                # nondeterministic one, so nth counts only the hits
                rows = rows.union(
                    store.filter(_contains(nd)).filter(nth < cap).select(
                        F.lit(nd), F.lit(None).cast("binary"),
                        F.col("doc_id").cast("long"),
                    )
                )
        table = rows.toArrow()
        slot = doc = None
        if needles:
            found = table.filter(table.column("hit").is_valid())
            by = found.column("term").to_numpy(zero_copy_only=False)
            ids = found.column("hit").to_numpy()
            hits = [np.unique(ids[by == nd]) for nd in needles]
            for nd, h in zip(needles, hits):
                if h.size >= cap:
                    raise _FastFallback(f"phrase {nd!r} hits over FAST_MAX_POSTINGS {budget}")
            slot = np.repeat(np.arange(len(hits)), [h.size for h in hits])
            doc = np.concatenate(hits)
        return _BucketFrames.from_arrow(table), slot, doc

    def _search_fast(self, node, query: str, k: int) -> DataFrame | None:
        """The kernel over one virtual bucket (bucket 0): its frames are
        the postings :meth:`_postings_arrays` collected for every term
        the query reads, its doclen arrays the driver doclen cache, and
        its id sources the needles' hits folded into the same collect.
        None over the Σdf budget (recorded in :attr:`last_trace`)."""
        ranked = isinstance(node, qt.RankedNode)
        terms = self._query_terms(query) if ranked else []
        tree, frame_terms, needles = None, set(), []
        if not ranked or any(leaf.kind != "keyword" for leaf in node.children):
            tree, frame_terms, needles = self._compile_tree(node, self._driver_leaf)
        try:
            bf, slot, doc = self._postings_arrays(set(terms) | frame_terms, needles)
        except _FastFallback as e:
            self._trace("bucket", str(e))
            return None
        self._trace("fast", f"Σdf within FAST_MAX_POSTINGS {FAST_MAX_POSTINGS}")
        self.last_trace.update(frames=bf.n_frames, postings=bf.n_postings)
        if needles:
            self.last_trace["verify"] = "folded"
        tree = _bind_ids(tree, 0, slot, doc)
        if not ranked:
            ids = _eval_bucket_tree(bf, tree, 0)
            return _local_df(self.spark, [(x,) for x in ids.tolist()], "doc_id long")
        idf = self._scoring_idf(terms)
        [(d, s)] = score_bucket(
            bf, self._doclen_ids, self._doclen_vals, [(sorted(idf), tree)],
            idf, self.k1, self.b, self.avgdl, k=k,
        )
        order = np.lexsort((d, -s))[:k]
        return _local_df(
            self.spark,
            list(zip(d[order].tolist(), s[order].tolist())),
            "doc_id long, score double",
        )

    # ---- entry point -----------------------------------------------------
    def search(self, query: str, k: int = 10, where=None, boost=None) -> DataFrame:
        """Boolean queries → unranked doc_id set; else BM25 top-k
        (reference dispatch SearchEngine.py:251-292).  Routes through
        the driver-side fast path when its caches are loaded and the
        query fits the Σdf budget; identical results either way.

        ``where`` scopes results to docs passing a metadata predicate
        over the docs-table columns (e.g. ``"lang = 'py'"``,
        ``"repo = 'org/x' AND path LIKE 'src/%'"``) — the code-search
        facility the input table's (repo, path, lang) columns exist
        for.  BM25 stats stay global; scoped queries skip the driver
        fast path (its caches carry no metadata) and take the bucket
        plan.

        ``boost`` (list of (predicate, factor) pairs) multiplies a
        matching doc's summed BM25 score by the product of its
        predicates' factors before top-k — recency/source/language
        boosting, the standard serving-side ranking control.  Ranked
        queries only (boolean shapes have no score to boost)."""
        node = qt.parse(query)
        if boost and isinstance(node, qt.OrNode):
            raise qt.QueryError(
                "boost applies to ranked queries; boolean shapes have "
                "no score to boost"
            )
        if not self.fast_path:
            self._trace("bucket", "fast path off (needs cache_doclens)")
        elif where is not None or boost is not None:
            self._trace("bucket", "where/boost: the driver caches carry no metadata")
        elif self.phrase_via_positions and _has_phrase(node):
            # the driver fast path verifies phrases by substring
            self._trace("bucket", "phrase_via_positions: positional phrase plans")
        else:
            res = self._search_fast(node, query, k)
            if res is not None:
                return res
        # NOTE (round 6): a prepared-plan cache (returning the same
        # DataFrame for a repeated query) was prototyped and REJECTED:
        # repeats collapsed to ~0.05 s because AQE reuses the shared
        # DataFrame's already-materialized shuffle stages — i.e. the
        # second run no longer computes from the parquet inputs, which
        # is persisted-intermediate reuse, not planning reuse.  Every
        # search() therefore builds a fresh DataFrame.
        if isinstance(node, qt.OrNode):
            res = self.boolean_docids_bucketed(node)
            if where is not None:
                res = res.join(self._allowed_docs(where), "doc_id", "left_semi")
            return res.orderBy("doc_id")
        return self.ranked(node, query, k, where=where, boost=boost)

    def search_page(
        self,
        query: str,
        page_size: int = 100,
        after_doc_id: int | None = None,
        where=None,
    ) -> DataFrame:
        """Keyset-paginated match set: the ``page_size`` smallest
        doc_ids matching ``query`` that are strictly greater than
        ``after_doc_id`` (the last id of the previous page), ordered
        ascending.

        Web-scale serving never ships O(matches) rows per request — a
        Zipf-head boolean query matches most of the corpus.  The page
        key drives three bounds in the bucket plan: the kernel drops
        ids <= key before they leave numpy, each bucket emits at most
        page_size ids (exact, because per-bucket results are ascending
        over disjoint contiguous doc ranges), and every bucket strictly
        below the key's grid bucket is pruned BEFORE its compressed
        frames shuffle — deep pages cost O(frontier buckets), not
        O(rows already paged).  Ranked (operator-free) queries page
        their MATCH SET — the docs BM25 would score, the OR of the
        leaves; relevance-ordered paging is ``search(query, k)`` with a
        larger k."""
        node = qt.parse(query)
        if isinstance(node, qt.RankedNode):
            if any(c.negated for c in node.children):
                raise qt.QueryError("cannot paginate a negated ranked query")
            node = qt.OrNode([qt.AndNode([c]) for c in node.children])
        self._trace("bucket", "search_page: the bucket kernel pages the match set")
        page = self._bucketed_eval(
            *self._compile_tree(node, self._serving_leaf),
            after=after_doc_id,
            # a metadata scope filters after the kernel, so its pages
            # run uncapped: a capped-away id might be in-page once the
            # scope drops others
            cap=page_size if where is None else None,
            min_bucket=None if after_doc_id is None else self._bucket_of(after_doc_id),
        )
        if where is not None:
            page = page.join(self._allowed_docs(where), "doc_id", "left_semi")
        return page.orderBy("doc_id").limit(page_size)

    def proximity_rerank(
        self, query: str, k: int = 10, pool: int = 100, weight: float = 0.5
    ) -> DataFrame:
        """Two-stage retrieve-then-rerank — the standard serving
        architecture for position-aware relevance at scale: stage 1
        retrieves the BM25 top-``pool`` candidates (:meth:`score_terms`),
        stage 2 reads only the query terms' frames of the buckets holding
        a candidate, beside the candidates' (bucket, doc_id) rows, and
        adds a proximity bonus ``weight / (1 + d)`` where ``d`` is the
        minimum token distance between occurrences of two DISTINCT
        query terms in the doc (:func:`.kernel.min_cross_distance`, one
        numpy pass per bucket).  Docs containing fewer than two distinct
        query terms keep their BM25 score unchanged.  The positional
        work is O(pool buckets), never O(corpus) — at 10^12 docs the
        rerank cost is fixed by the pool knob.

        Requires ``store_positions=True`` at build; ranked keyword
        queries only."""
        import pandas as pd

        node = qt.parse(query)
        if not isinstance(node, qt.RankedNode) or any(
            c.kind != "keyword" for c in node.children
        ):
            raise qt.QueryError(
                "proximity_rerank reranks ranked keyword queries"
            )
        terms = sorted(set(self._query_terms(query)))
        base = [(int(r.doc_id), float(r.score)) for r in self.score_terms(terms, k=pool).collect()]
        schema = "doc_id long, score double"
        if not base:
            return _local_df(self.spark, [], schema)
        cand = [(self._bucket_of(d), d) for d, _ in base]
        frames = self._frames_by_bucket(
            terms,
            buckets=sorted({bk for bk, _ in cand}),
            id_rels=[_local_df(self.spark, cand, "bucket int, doc_id long")],
        )
        pos_terms = frozenset(terms)

        def gen(batches):
            for pdf in batches:
                out_d, out_m = [], []
                for fr, doc in zip(pdf["frames"], pdf["id_doc"]):
                    d, m = min_cross_distance(
                        _BucketFrames(fr, pos_terms), terms, np.asarray(doc, dtype=np.int64)
                    )
                    out_d.append(d)
                    out_m.append(m)
                if out_d:
                    yield pd.DataFrame({"doc_id": np.concatenate(out_d), "mind": np.concatenate(out_m)})

        mind = {
            int(r.doc_id): int(r.mind)
            for r in frames.mapInPandas(gen, "doc_id long, mind long").collect()
        }
        rows = [
            (d, s + weight / (1.0 + mind[d]) if d in mind else s) for d, s in base
        ]
        rows.sort(key=lambda x: (-x[1], x[0]))
        return _local_df(self.spark, rows[:k], schema)

    def search_batch(
        self, queries: list[str], k: int = 10, where=None
    ) -> DataFrame:
        """Execute MANY ranked queries in one Spark job →
        (qid, doc_id, score), qid = position in ``queries``, top-k per
        query under (score desc, doc_id asc).

        A serving tier amortizes per-job overhead across concurrent
        requests: Q queries one-at-a-time pay Q × (planning + stage
        launch + frame shuffle), and buckets touched by several queries
        ship the shared terms' frames repeatedly.  Batched, the UNION
        of all queries' terms shuffles ONCE, each bucket decodes each
        term once, and every query reuses the decoded (positions,
        scores) vectors — per-query cost approaches the pure numpy
        accumulation.  Per-query results are bit-identical to
        :meth:`score_terms` (same term-sorted float64 accumulation per
        query; tested).

        ``where`` applies one metadata scope to every query in the
        batch (per-bucket allowed-id arrays masked in the shared
        kernel, exactly as in :meth:`score_terms`).

        Shapes: pure-keyword ranked queries ride the shared kernel;
        ranked queries with phrase/prefix/reply leaves fall back to
        their per-query plans and union in (qid tagged); boolean
        queries are rejected (no score — batch their matched PAGES via
        :meth:`search_page` instead)."""
        parsed = []
        for i, q in enumerate(queries):
            node = qt.parse(q)
            if isinstance(node, qt.OrNode):
                raise qt.QueryError(
                    f"search_batch executes ranked queries; query {i} "
                    f"is boolean: {q!r}"
                )
            parsed.append((i, node, q))
        batched: list[tuple[int, list[str]]] = []
        fallback: list[tuple[int, "qt.RankedNode", str]] = []
        for i, node, raw in parsed:
            if all(c.kind == "keyword" for c in node.children):
                batched.append((i, self._query_terms(raw)))
            else:
                fallback.append((i, node, raw))
        outs = []
        if batched:
            idf = self._scoring_idf([t for _, ts in batched for t in ts])
            scored = self._score_bucketed(
                [(i, sorted(idf.keys() & set(ts)), None) for i, ts in batched],
                idf, k, where=where,
            )
            if k:  # global per-query top-k over O(k × buckets × Q) rows
                from pyspark.sql import Window

                w = Window.partitionBy("qid").orderBy(
                    F.desc("score"), F.asc("doc_id")
                )
                scored = (
                    scored.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") <= k)
                    .drop("rn")
                )
            outs.append(scored)
        for i, node, raw in fallback:
            outs.append(
                self.ranked(node, raw, k, where=where).select(
                    F.lit(i).cast("int").alias("qid"), "doc_id", "score"
                )
            )
        if not outs:
            return _local_df(self.spark, 
                [], "qid int, doc_id long, score double"
            )
        res = outs[0]
        for o in outs[1:]:
            res = res.unionByName(o)
        return res.orderBy("qid", F.desc("score"), F.asc("doc_id"))


def _top(scored: DataFrame, k: int | None) -> DataFrame:
    """(doc_id, score) ordered (score desc, doc_id asc), top-``k``."""
    out = scored.select("doc_id", "score").orderBy(F.desc("score"), F.asc("doc_id"))
    return out.limit(k) if k else out


def _has_phrase(node) -> bool:
    """True if the parsed tree contains a phrase / phrase_prefix leaf."""
    if isinstance(node, qt.RankedNode):
        return any(c.kind in _PHRASES for c in node.children)
    return any(c.kind in _PHRASES for a in node.children for c in a.children)
