"""Distributed inverted-index build (rebuilds IndexCreator.create_index).

Reference pipeline (`/root/reference/searchengine/IndexCreator.py`):
byte-split the CSV (py:159-168) → ≤2 worker processes tokenize+stem and
write sorted partial-index runs of 200k comments (py:23-133) → the
driver k-way-merges all runs single-threaded (py:259-348) → Huffman
compression pass (py:364-440).

Spark-first rebuild — the key scaling decision is that **posting rows
never shuffle**.  A row-level ``groupBy(doc, term)`` shuffle moves
|docs × terms| rows; at 10^12 files that is the whole corpus again.
Instead each input partition tokenizes AND encodes locally (the
reference's "partial index run", IndexCreator.py:87-133, made narrow),
so the only shuffle carries already-compressed varbyte frames — bytes
proportional to the final index, orders of magnitude smaller.

1. **Slices** = contiguous doc_id ranges (analogue of the reference's
   byte-range splits).  Each slice is one narrow ``mapInPandas`` pass
   producing per-partition encoded runs, checkpointed with a manifest
   row so a killed build resumes without re-tokenizing committed slices
   (north_rule; reference analogue: `{end_offset}_file_number.pickle`,
   IndexCreator.py:75-84,183-191).
2. **Salted merge** (north_rule): runs carry a ``salt`` = global
   doc-range bucket (``slices × salt`` buckets), assigned per posting
   INSIDE the tokenizer UDF.  The merge groups by ``(term, salt)`` so a
   Zipf-head term ("return" in code) splits across ``salt`` reducers
   instead of melting one — AQE does not split groupBy skew, so this is
   explicit.  Because buckets are doc ranges, the per-(term, salt)
   merged rows are doc-range-disjoint: the index may keep hot terms as
   MULTIPLE rows and a query concatenates them in first_doc order.
   Bucket count is the skew knob: size it so df(hot)/buckets fits one
   task (e.g. 4096 buckets at 10^12 docs).
3. The merged index is range-partitioned + sorted by term so point /
   prefix lookups prune to one file via parquet min/max stats (the
   Spark-native seek list; the reference uses a DAWG,
   IndexCreator.py:340).
4. Postings are delta+varbyte `BinaryType` (north_rule; replaces the
   reference's digit-level Huffman, IndexCreator.py:400-410) with
   block-max metadata every `block_size` docs for WAND pruning.

Determinism: bucket assignment is a pure function of doc_id, and each
(term, salt) group is fully re-sorted by doc_id before the final
encode — the index content is byte-identical across parallelism levels
and across resume boundaries.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import checkpoint as ckpt
from ..functions.analyze import analyze_batch
from ..functions.codec import decode_frames, decode_many, encode_frame, pack_buffers
from ..session import local_rows_df

POSTING_ROW_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), False),
    ]
)

RUN_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)

BLOCKS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("last_doc", T.LongType(), False),
            T.StructField("max_tf", T.IntegerType(), False),
        ]
    )
)

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),
        T.StructField("postings", T.BinaryType(), False),
        T.StructField("blocks", BLOCKS_TYPE, False),
    ]
)

# collection stats + the doc-range bucket grid (lo/span/count) the build
# salted on — stored so query-time bucket assignment is O(1) arithmetic
# (not an O(buckets) interval lookup).  Loaders tolerate the pre-grid
# 3-column layout (older indexes fall back to metadata-derived ranges).
STATS_SCHEMA = (
    "n_docs long, collection_term_count long, avg_doclen double, "
    "bucket_lo long, bucket_span long, bucket_count int"
)


def partition_runs(
    corpus: DataFrame,
    *,
    lo: int,
    span: int,
    buckets: int,
    use_stemmer: bool = True,
    store_positions: bool = True,
    flush_tokens: int = 4_000_000,
) -> DataFrame:
    """One NARROW pass: tokenize each input partition and emit encoded
    posting-frame runs keyed by (term, salt-bucket).

    This is the reference's partial-index run (IndexCreator.py:87-133)
    re-expressed: buffer up to ``flush_tokens`` tokens (the reference
    buffers 200k comments, py:23-24), then emit one varbyte frame per
    (term, bucket) with docs sorted ascending.  The shuffle that
    follows carries only these compressed frames.
    """

    def gen(batches):
        import pandas as pd

        acc: dict[tuple[str, int], tuple[list, list, list]] = {}
        n_tok = 0

        def flush():
            nonlocal acc, n_tok
            if not acc:
                return None
            cols = {k: [] for k in ("term", "salt", "first_doc", "df", "cf", "frame")}
            for (term, bucket), (docs, tfs, plists) in acc.items():
                d = np.asarray(docs, dtype=np.uint64)
                t = np.asarray(tfs, dtype=np.uint64)
                order = np.argsort(d, kind="stable")
                d, t = d[order], t[order]
                pos = None
                if store_positions:
                    pos = np.concatenate(
                        [np.asarray(plists[i], dtype=np.uint64) for i in order]
                    )
                cols["term"].append(term)
                cols["salt"].append(bucket)
                cols["first_doc"].append(int(d[0]))
                cols["df"].append(len(d))
                cols["cf"].append(int(t.sum()))
                cols["frame"].append(encode_frame(d, t, pos))
            acc = {}
            n_tok = 0
            return pd.DataFrame(cols)

        from collections import Counter

        for pdf in batches:
            terms_lists = analyze_batch(pdf["content"], use_stemmer=use_stemmer)
            for doc_id, terms in zip(pdf["doc_id"], terms_lists):
                # float math mirrors _range_bucket: buckets*(doc_id-lo) in
                # numpy int64 silently overflows for hash-sized ids and
                # would disagree with the Catalyst slice assignment
                bucket = min(buckets - 1, int(buckets * ((int(doc_id) - lo) / span)))
                if store_positions:
                    groups: dict[str, list[int]] = {}
                    for p, term in enumerate(terms):
                        groups.setdefault(term, []).append(p)
                    for term, plist in groups.items():
                        e = acc.setdefault((term, bucket), ([], [], []))
                        e[0].append(doc_id)
                        e[1].append(len(plist))
                        e[2].append(plist)
                else:  # tf-only: C-speed multiset count
                    for term, tf in Counter(terms).items():
                        e = acc.setdefault((term, bucket), ([], [], []))
                        e[0].append(doc_id)
                        e[1].append(tf)
                        e[2].append(None)
                n_tok += len(terms)
            if n_tok >= flush_tokens:
                out = flush()
                if out is not None:
                    yield out
        out = flush()
        if out is not None:
            yield out

    return corpus.select("doc_id", "content").mapInPandas(gen, RUN_SCHEMA)


def _reorder_positions(pos: np.ndarray, tfs: np.ndarray, order: np.ndarray) -> np.ndarray:
    """Gather doc-major position runs into ``order`` — fully vectorized."""
    ends = np.cumsum(tfs)
    starts = (ends - tfs).astype(np.int64)
    sel_starts = starts[order]
    sel_lens = tfs[order].astype(np.int64)
    total = int(sel_lens.sum())
    offsets = np.concatenate(([0], np.cumsum(sel_lens)[:-1])).astype(np.int64)
    idx = (
        np.arange(total, dtype=np.int64)
        - np.repeat(offsets, sel_lens)
        + np.repeat(sel_starts, sel_lens)
    )
    return pos[idx]


def _merge_bucket(block_size: int):
    """applyInPandas fn: merge ONE doc-range bucket's runs — all terms.

    The shuffle key is the doc-range salt bucket, so reducer load is
    |index| / buckets **regardless of term skew**: a Zipf-head term's
    postings spread evenly over every bucket by construction (the
    doc-range refinement of the salted repartition-by-term merge).
    Inside the bucket, terms merge with a fast pandas groupby + numpy
    loop — per-term Spark group overhead would dominate at 10^4-10^6
    (term, bucket) micro-groups, so grouping happens HERE, not in the
    shuffle key.

    Frames per term hold disjoint doc sets (each doc is tokenized by
    exactly one run), so merging is decode → argsort → re-encode; the
    output is byte-identical no matter how the corpus was partitioned.
    """

    def fn(pdf):
        import pandas as pd

        cols = {
            "term": [], "bucket": [], "first_doc": [], "df": [], "cf": [],
            "postings": [], "blocks": [],
        }
        # all rows in this group share one doc-range bucket (the group
        # key); stored so queries can align rows ACROSS terms on the
        # shared bucket grid (distributed block-max pruning)
        bucket = int(pdf["salt"].iloc[0])
        for term, g in pdf.groupby("term", sort=True):
            all_d, all_t, all_p = [], [], []
            for frame in g["frame"]:
                d, t, p = decode_frames(bytes(frame))
                all_d.append(d)
                all_t.append(t)
                all_p.append(p)
            d0 = np.concatenate(all_d)
            t0 = np.concatenate(all_t)
            p = np.concatenate(all_p)
            order = np.argsort(d0, kind="stable")
            d, t = d0[order], t0[order]
            pos = _reorder_positions(p, t0, order) if p.size else None
            cols["term"].append(term)
            cols["bucket"].append(bucket)
            cols["first_doc"].append(int(d[0]))
            cols["df"].append(len(d))
            cols["cf"].append(int(t.sum()))
            cols["postings"].append(encode_frame(d, t, pos))
            cols["blocks"].append(
                [
                    {
                        "last_doc": int(d[min(i + block_size, len(d)) - 1]),
                        "max_tf": int(t[i : i + block_size].max()),
                    }
                    for i in range(0, len(d), block_size)
                ]
            )
        return pd.DataFrame(cols)

    return fn


def _range_bucket(col: str, lo: int, span: int, n: int):
    """Monotone doc-range bucket in [0, n) — double math (no int64
    overflow for hash-sized ids); monotone in doc_id, so every bucket is
    a contiguous, disjoint doc range (the multi-row-per-term invariant)."""
    frac = (F.col(col) - F.lit(lo)).cast("double") / F.lit(float(span))
    return F.least(F.lit(n - 1), F.floor(F.lit(float(n)) * frac).cast("int"))


def _doclens_from_runs(runs: DataFrame) -> DataFrame:
    """Explode encoded run frames back to (doc_id, tf) rows (one numpy
    decode per Arrow batch).  Used so resume/merge never re-tokenizes:
    doc lengths are derived from committed artifacts only."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("tf", T.LongType(), False),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            d, t, _, _ = decode_many(*pack_buffers(pdf["frame"]))
            if d.size:
                yield pd.DataFrame({"doc_id": d.astype(np.int64), "tf": t.astype(np.int64)})

    return runs.select("frame").mapInPandas(gen, schema)


POINTER_NAME = "_current.json"
SNAPLOG_NAME = "_snapshots.jsonl"


def snapshots(out_dir: str) -> list[dict]:
    """Committed snapshot history, oldest→newest (the Iceberg
    ``snapshots`` metadata-table analogue).  One row per
    ``refresh_index`` commit from the append-only ``_snapshots.jsonl``
    log, plus the implicit v0 row when a fresh-build layout exists.
    ``retained`` flags whether the snapshot's directories are still on
    disk (GC keeps the newest ``retain_versions``; see
    ``refresh_index``) — only retained versions are time-travel
    openable."""
    import json

    rows: dict[int, dict] = {}
    if os.path.isdir(os.path.join(out_dir, "index")):
        rows[0] = {"version": 0, "index": "index", "docs": "docs",
                   "stats": "stats", "ts": None}
    log = os.path.join(out_dir, SNAPLOG_NAME)
    if os.path.exists(log):
        with open(log, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                r = json.loads(line)
                rows[int(r["version"])] = r
    out = []
    for v in sorted(rows):
        r = rows[v]
        r["retained"] = all(
            os.path.isdir(os.path.join(out_dir, r[k]))
            for k in ("index", "docs", "stats")
        )
        out.append(r)
    return out


class IndexPaths:
    """Resolves the index-dir table paths through the manifest POINTER
    when one exists (written by ``refresh_index``'s snapshot commit —
    the Iceberg-style atomic pointer that also works on object stores,
    where rename-as-swap does not).  Without a pointer the default
    table names apply (a fresh ``build_index`` layout).

    ``version`` pins resolution to a HISTORICAL snapshot (Iceberg
    ``VERSION AS OF`` time travel): names come from the snapshot log,
    and a version whose directories the refresh GC already dropped
    raises ``FileNotFoundError`` instead of silently serving the
    current tables."""

    def __init__(self, out_dir: str, version: int | None = None):
        import json

        self.out_dir = out_dir
        names = {"index": "index", "docs": "docs", "stats": "stats"}
        self.version = 0
        if version is None:
            ptr = os.path.join(out_dir, POINTER_NAME)
            if os.path.exists(ptr):
                with open(ptr, encoding="utf-8") as f:
                    snap = json.load(f)  # atomic replace ⇒ never torn
                names.update({k: snap[k] for k in names if k in snap})
                self.version = int(snap.get("version", 0))
        else:
            hist = {s["version"]: s for s in snapshots(out_dir)}
            snap = hist.get(int(version))
            if snap is None and int(version) > 0:
                # log predates this dir (pre-time-travel commits): the
                # refresh naming scheme is deterministic — derive it
                snap = {k: f"{k}_v{int(version)}" for k in names}
            if snap is None:
                raise FileNotFoundError(
                    f"no snapshot v{version} recorded under {out_dir}"
                )
            names.update({k: snap[k] for k in names if k in snap})
            self.version = int(version)
            missing = [
                k for k in names
                if not os.path.isdir(os.path.join(out_dir, names[k]))
            ]
            if missing:
                raise FileNotFoundError(
                    f"snapshot v{version} is not retained (GC dropped "
                    f"{', '.join(names[k] for k in missing)}); raise "
                    "retain_versions on refresh_index to keep deeper "
                    "history"
                )
        self.docs = os.path.join(out_dir, names["docs"])
        self.index = os.path.join(out_dir, names["index"])
        self.stats = os.path.join(out_dir, names["stats"])
        self.runs = os.path.join(out_dir, "runs")


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    *,
    use_stemmer: bool = True,
    store_positions: bool = True,
    slices: int = 4,
    salt: int = 4,
    block_size: int = 128,
    index_files: int = 8,
    resume: bool = False,
    sorted_input: bool = False,
    store_content: bool = True,
) -> IndexPaths:
    """Build the full index at ``out_dir``.

    ``corpus`` must carry (doc_id, content, sha256, repo, path, commit,
    lang) — see sources.corpus.  Deterministic: same corpus + config →
    byte-identical postings regardless of parallelism or resume.
    ``slices × salt`` = global doc-range bucket count (the skew knob).

    ``sorted_input=True`` declares the corpus already doc_id-range-
    partitioned (a doc_id-sorted Iceberg table — the layout our own
    docs table is written in): stage A skips its per-slice range
    shuffle AND the slice filter prunes files via parquet doc_id
    min/max stats.  ``store_content=False`` keeps the bulky content
    column out of the docs table (at scale it stays in the source
    table; phrase verification joins that instead — pass ``corpus`` to
    SearchEngine).
    """
    paths = IndexPaths(out_dir)
    done = ckpt.committed(out_dir) if resume else {}
    debug = os.environ.get("IR_BUILD_DEBUG")
    _t = time.time()

    def _mark(label):
        nonlocal _t
        if debug:
            with open(debug, "a") as fh:
                fh.write(f"[build] {label}: {time.time() - _t:.2f}s\n")
        _t = time.time()

    bounds = corpus.agg(
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.count("*").alias("n"),
    ).collect()[0]
    lo, hi, n_docs = bounds.lo, bounds.hi, bounds.n
    if n_docs == 0:  # empty corpus: write empty artifacts, stay loadable
        spark.createDataFrame([], INDEX_SCHEMA).write.mode("overwrite").parquet(
            paths.index
        )
        corpus.withColumn("doclen", F.lit(0).cast("long")).write.mode(
            "overwrite"
        ).parquet(paths.docs)
        spark.createDataFrame(
            [(0, 0, 0.0, 0, 1, slices * salt)], STATS_SCHEMA
        ).write.mode("overwrite").parquet(paths.stats)
        return paths
    span = max(hi - lo + 1, 1)
    buckets = slices * salt
    cfg_fp = ckpt.fingerprint_of(
        use_stemmer=use_stemmer,
        store_positions=store_positions,
        slices=slices,
        salt=salt,
        block_size=block_size,
        lo=lo,
        hi=hi,
        n=n_docs,
        store_content=store_content,
    )

    _mark("bounds")
    fp_all = ckpt.fingerprint_of(cfg=cfg_fp, stage="runs_all")
    if not resume:
        # fresh build: wipe stale runs + manifest — a previous build into
        # this out_dir with a different slice count would otherwise be
        # merged in, silently duplicating every doc's postings
        import shutil

        shutil.rmtree(paths.runs, ignore_errors=True)
        mp = ckpt.manifest_path(out_dir)
        if os.path.exists(mp):
            os.remove(mp)
        done = {}

    # -- Stage A: narrow tokenize+encode into runs.
    # Fast path (resume=False): ONE job over the whole corpus — the
    # per-slice loop exists only for checkpoint granularity, and each
    # slice job carries fixed scheduling cost that dominates small
    # builds.  Resume path: per-slice jobs, each committed in the
    # manifest so a killed build never re-tokenizes finished slices.
    if not resume:
        t0 = time.time()
        part = corpus
        if not sorted_input:
            # 4 task waves per core: a single wave is straggler-bound
            # (one slow task = the whole stage), and range partitioning
            # keeps each task on ~1 salt bucket (frames stay ~|vocab|).
            # Scale-adaptive floor (guide §2): n_docs is already known
            # from the bounds pass, so small corpora don't get split
            # into hundreds of sub-Arrow-batch tasks whose scheduling
            # overhead dominates — at least ~one full Arrow batch
            # (1024 docs) per task, never fewer tasks than cores or
            # salt buckets, never more than 4 waves per core.
            waves_cap = max(spark.sparkContext.defaultParallelism * 4, buckets)
            floor = max(spark.sparkContext.defaultParallelism, buckets)
            nparts = min(waves_cap, max(floor, int(n_docs // 1024)))
            part = part.repartitionByRange(nparts, "doc_id")
        runs = partition_runs(
            part,
            lo=lo,
            span=span,
            buckets=buckets,
            use_stemmer=use_stemmer,
            store_positions=store_positions,
        )
        runs.write.mode("overwrite").parquet(paths.runs)
        _mark("tokenize+encode+write (single job)")
        ckpt.commit(
            out_dir,
            partition_id=-2,
            stage="runs_all",
            fingerprint=fp_all,
            path=paths.runs,
            n_docs=n_docs,
            wall_ms=int((time.time() - t0) * 1000),
        )
        run_inputs = [paths.runs]
    elif done.get(("runs_all", -2)) == fp_all:
        # a completed fresh build of the same config: nothing to do
        run_inputs = [paths.runs]
    else:
        corpus_s = corpus.withColumn(
            "slice", _range_bucket("doc_id", lo, span, slices)
        )
        # one job for all per-slice doc counts (manifest metrics)
        slice_counts = {
            r.slice: r.n
            for r in corpus_s.groupBy("slice").agg(F.count("*").alias("n")).collect()
        }
        _mark("slice_counts")
        for s in range(slices):
            fp = ckpt.fingerprint_of(cfg=cfg_fp, slice=s)
            run_path = os.path.join(paths.runs, f"slice={s}")
            if done.get(("runs", s)) == fp:
                continue
            t0 = time.time()
            # Range-partition the slice by doc_id before tokenizing: each
            # task then covers a contiguous doc range touching ~1 salt
            # bucket, so it emits ~|vocab| frames instead of |vocab × salt|
            # (an unsorted input would multiply run rows by the bucket
            # count).  This is the Spark analogue of writing the corpus as
            # a doc_id-sorted Iceberg table — which the docs table below
            # does, so a rebuild from our own layout skips the sort.
            part = corpus_s.filter(F.col("slice") == s)
            if not sorted_input:
                nparts = max(spark.sparkContext.defaultParallelism, salt)
                part = part.repartitionByRange(nparts, "doc_id")
            runs = partition_runs(
                part,
                lo=lo,
                span=span,
                buckets=buckets,
                use_stemmer=use_stemmer,
                store_positions=store_positions,
            )
            runs.write.mode("overwrite").parquet(run_path)
            _mark(f"slice{s} tokenize+encode+write")
            ckpt.commit(
                out_dir,
                partition_id=s,
                stage="runs",
                fingerprint=fp,
                path=run_path,
                n_docs=slice_counts.get(s, 0),
                wall_ms=int((time.time() - t0) * 1000),
            )
        # read ONLY this config's slice dirs — stale slice=N dirs from an
        # older build with more slices must not leak into the merge
        run_inputs = [os.path.join(paths.runs, f"slice={s}") for s in range(slices)]

    # -- Stage B: distributed salted merge (replaces the single-threaded
    # k-way merge, IndexCreator.py:259-348).  Group = (term, salt); a
    # hot term spreads over `buckets` reducers; output rows per term are
    # doc-range-disjoint (ordered by first_doc).
    fp_merge = ckpt.fingerprint_of(cfg=cfg_fp, stage="merge")
    if not (resume and done.get(("merge", -1)) == fp_merge):
        t0 = time.time()
        all_runs = spark.read.parquet(*run_inputs)
        # persist before repartitionByRange: range partitioning samples
        # its child, which would otherwise recompute the merge twice
        merged = (
            all_runs.groupBy("salt")
            .applyInPandas(_merge_bucket(block_size), INDEX_SCHEMA)
            .persist()
        )
        (
            merged.repartitionByRange(index_files, "term")
            .sortWithinPartitions("term", "first_doc")
            .write.mode("overwrite")
            .parquet(paths.index)
        )
        merged.unpersist()
        _mark("merge index write")

        # docs table: doclen = Σtf of indexed terms per doc (post-filter
        # length, consistent with BM25's |d|); zero-term docs kept.
        # Derived by DECODING the committed runs, never by re-tokenizing
        # (tokenize+stem is the expensive Python stage; resume must not
        # repeat it — north_rule).
        dl = _doclens_from_runs(all_runs).groupBy("doc_id").agg(
            F.sum("tf").alias("doclen")
        ).persist()
        # content kept in the docs table: it is the document store that
        # phrase verification re-reads (reference re-reads comments.csv
        # by offset, SearchEngine.py:131-147). At petabyte scale this
        # column stays in the source Iceberg table and the join targets
        # that table instead — same plan shape.
        doc_cols = ["doc_id", "repo", "path", "commit", "lang", "sha256"]
        if store_content:
            doc_cols.insert(5, "content")
        docs = (
            corpus.select(*doc_cols)
            .join(dl, "doc_id", "left")
            .withColumn("doclen", F.coalesce("doclen", F.lit(0)))
        )
        docs.repartitionByRange(index_files, "doc_id").sortWithinPartitions(
            "doc_id"
        ).write.mode("overwrite").parquet(paths.docs)
        _mark("docs write")

        # stats from the cached doclen relation + the bounds count — no
        # docs-table re-read job; zero-term docs contribute doclen 0, so
        # only n_docs (from bounds) differs from dl's row count.  The
        # bucket-grid params (lo, span, count) ride along so a serving
        # engine can assign doc→bucket arithmetically (the same
        # _range_bucket float math partition_runs used) instead of
        # reconstructing ranges from index metadata.
        dl_tot = dl.agg(F.sum("doclen").alias("s")).collect()[0].s or 0
        local_rows_df(
            spark,
            [(n_docs, int(dl_tot), float(dl_tot) / n_docs,
              int(lo), int(span), int(buckets))],
            STATS_SCHEMA,
        ).write.mode("overwrite").parquet(paths.stats)
        dl.unpersist()
        _mark("stats write")
        ckpt.commit(
            out_dir,
            partition_id=-1,
            stage="merge",
            fingerprint=fp_merge,
            path=paths.index,
            n_docs=n_docs,
            wall_ms=int((time.time() - t0) * 1000),
        )
        # record the EXACT run paths this merge consumed: refresh_index
        # re-merges from this list (+ streamed runs), never from a
        # recursive directory listing — stale run artifacts a config
        # change left on disk (root-level files after fresh→resume, or
        # slice=N dirs from an older slice count) must not be re-merged
        # (they would duplicate postings).  ADVICE r2.
        import json as _json

        ckpt.commit(
            out_dir,
            partition_id=-3,
            stage="run_inputs",
            fingerprint=fp_merge,
            path=_json.dumps(run_inputs),
        )
        # record the bucket grid in the manifest too: refresh_index
        # rebuilds the stats table and must propagate the grid (its runs
        # were salted on exactly this grid)
        ckpt.commit(
            out_dir,
            partition_id=-4,
            stage="grid",
            fingerprint=cfg_fp,
            path=_json.dumps(
                {"lo": int(lo), "span": int(span), "buckets": int(buckets)}
            ),
        )
    return paths
