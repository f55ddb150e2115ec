"""The two workloads and the phases of a run.

A run, on either workload, is one closed-loop client in one process on
``local[nproc]``:

1. inputs: the seeded documents table (on ``search-large`` replicated
   as ``BENCH/scaling.py`` does) and the seeded query stream;
2. one timed ``build_index`` with default arguments (``build_docs_per_s``);
3. set-up, ``SETUP_CYCLES`` times: the engine opened as the CLI's
   ``--fast`` mode opens it, then one warm-up query of every shape
   (``setup_s`` is the median cycle), then ``WARM_SECONDS`` of further
   warm-up queries on the last engine;
4. the timed query loop for ``--seconds``: rounds of the 11 shapes;
5. answer checks of every query against the oracle (untimed).

A traced run adds the write-side and pipeline layers:

6. direct ``analyze`` / ``codec`` probes on this run's data;
7. ingest: seeded appends through ``incremental_index`` ->
   ``refresh_index`` -> ``SearchEngine.reload()`` -> a freshness query;
8. dedup: the catalog's ``ngram_jaccard``, ``minhash_pairs`` and
   ``decontaminate`` — a warm-up pass, then a timed pass checked against
   the DuckDB oracles.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import random
import statistics
import time
import traceback

from . import corpus as C
from .oracle import SearchOracle, compact, digest, duckdb_digest
from .trace import JobGroups, Tracer, calibrate, read_build_stages

WORKLOADS = {
    # the sf0.1-shaped table
    "search-small": dict(replicate=1, repeat=1),
    # the BENCH/scaling.py replication of the same table: 2 copies of
    # each doc, content doubled (4x the postings and positions per term)
    "search-large": dict(replicate=2, repeat=2),
}

# per-layer metrics read from Spark's event log
EVENT_LOG_METRICS = (
    "spark.job_ms", "spark.wait_ms", "engine.driver_ms",
    "spark.shuffle_write_bytes_per_query", "spark.input_bytes_per_query",
    "python.data_sent_bytes", "python.run_ms", "python.boot_ms",
    "spark.jvm_gc_ms", "build.shuffle_write_bytes", "pipeline.shuffle_write_bytes",
)

BUILD_STAGES = {
    "bounds": "build.bounds_s",
    "tokenize+encode+write (single job)": "build.tokenize_encode_s",
    "merge index write": "build.merge_s",
    "docs write": "build.docs_write_s",
    "stats write": "build.stats_write_s",
}

BASE_DOCS = 5000
SETUP_CYCLES = 3
# seconds of further warm-up queries on the last engine before the timed
# loop: after the set-up cycles and one more round, search-small latencies
# still fell ~10 % from the first half of an 18 s loop to the second
WARM_SECONDS = 5.0
APPEND_DOCS = 50
INGEST_OPS = 2
DEDUP_DOCS = 400
# catalog query -> per-layer metric of its timed pass
DEDUP_QUERIES = {
    "ngram_jaccard": "pipeline.ngram_jaccard_s",
    "minhash_pairs": "pipeline.minhash_s",
    "decontaminate": "pipeline.decontaminate_s",
}


def open_engine(spark, index_dir: str):
    """The engine exactly as the CLI constructs it for ``--fast``
    (``__main__.py``: no edges, no ``--blockmax``/``--serving``)."""
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    return SearchEngine(
        spark,
        index_dir,
        edges=None,
        cache_term_stats=True,
        cache_doclens=True,
        fast_path=True,
        use_blockmax=False,
        persist_doclens=False,
        at_version=None,
    )


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _mean(xs):
    return sum(xs) / len(xs) if xs else None


def geomean(xs: list[float]) -> float:
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else float("nan")


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Run:
    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 tmp: str, trace: bool, log):
        self.spark = spark
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.trace = trace
        self.log = log
        self.tracer = Tracer(f"{workload}-{seed}", trace)
        self.groups = JobGroups(spark, trace)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}  # end-to-end metrics
        self.layer: dict[str, float] = {}  # per-layer raw values
        self.queries: list[dict] = []  # timed loop records

    # ---- bookkeeping ------------------------------------------------------
    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    # ---- phase 1: inputs --------------------------------------------------
    def make_inputs(self) -> None:
        from informationretrieval_en_people_cn_spark.sources.corpus import (
            documents_as_corpus,
        )

        rep, repeat = self.cfg["replicate"], self.cfg["repeat"]
        self.base = C.documents(self.seed, BASE_DOCS)
        sf = C.write_documents(self.base, os.path.join(self.tmp, "sf"))
        if rep == repeat == 1:
            self.corpus = documents_as_corpus(self.spark, sf)
        else:
            src = os.path.join(self.tmp, "corpus.parquet")
            C.replicated_corpus(self.base, rep, repeat).to_parquet(src, index=False)
            self.corpus = self.spark.read.parquet(src)
        # the corpus doc ids of each base doc (BENCH/scaling.py's id scheme)
        self.doc_ids = [[d * rep + r for r in range(rep)] for d in self.base.doc_id.tolist()]
        self.n_docs = BASE_DOCS * rep
        self.content_bytes = rep * repeat * sum(len(t.encode()) for t in self.base.text)
        texts = list(self.base.text)
        self.warm_rounds = list(itertools.islice(C.query_rounds(self.seed * 7 + 1, texts), SETUP_CYCLES))
        self.warm_stream = C.query_rounds(self.seed * 7 + 3, texts)
        self.rounds = C.query_rounds(self.seed * 7 + 2, texts)
        self.shape_cls = {q.shape: q.cls for q in self.warm_rounds[0]}

    # ---- phase 2: index build + set-up --------------------------------------
    def build(self) -> None:
        """One ``build_index`` with default arguments, timed: the first
        heavy job of the Spark session, as a CLI ``build`` pays it."""
        from informationretrieval_en_people_cn_spark.operators.build import build_index

        self.index_dir = os.path.join(self.tmp, "index")
        stage_log = os.path.join(self.tmp, "build.stages")
        if self.trace:
            os.environ["IR_BUILD_DEBUG"] = stage_log
        t0 = time.perf_counter()
        with self.groups.group("build"), self.tracer.span("build.build_index"):
            build_index(self.spark, self.corpus, self.index_dir)
        build_s = time.perf_counter() - t0
        os.environ.pop("IR_BUILD_DEBUG", None)
        self.build_stages = read_build_stages(stage_log)
        self.e2e["build_docs_per_s"] = self.n_docs / build_s
        self.e2e["stored_bytes_per_input_byte"] = _dir_bytes(self.index_dir) / self.content_bytes
        st = self.spark.read.parquet(os.path.join(self.index_dir, "stats")).collect()[0]
        self.grid = (int(st.bucket_lo), int(st.bucket_span), int(st.bucket_count))
        self.log(f"build: {build_s:.2f}s")

    def setup(self) -> None:
        """``SETUP_CYCLES`` engine set-ups on the built index: open as the
        CLI's ``--fast`` mode does, then one warm-up query of every shape."""
        setup_s, open_s = [], []
        for i in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            with self.tracer.span("engine.open"):
                self.engine = open_engine(self.spark, self.index_dir)
            t1 = time.perf_counter()
            for q in self.warm_rounds[i]:
                self.engine.search(q.text, k=10).collect()
            setup_s.append(time.perf_counter() - t0)
            open_s.append(t1 - t0)
        self.e2e["setup_s"] = _median(setup_s)
        self.layer["engine.open_s"] = _median(open_s)
        self.log(f"set-up cycles: {', '.join(f'{x:.2f}' for x in setup_s)}s")

    def warm_up(self) -> None:
        """Seeded queries of every shape on the last engine for
        ``WARM_SECONDS``, untimed: the end of set-up."""
        t0 = time.perf_counter()
        n = 0
        for q in (q for rnd in self.warm_stream for q in rnd):
            self.engine.search(q.text, k=10).collect()
            n += 1
            if time.perf_counter() - t0 >= WARM_SECONDS:
                break
        self.log(f"warm-up: {n} queries in {time.perf_counter() - t0:.2f}s")

    # ---- phase 3: timed query loop -------------------------------------------
    def query_loop(self) -> None:
        eng = self.engine
        stream = ((r, q) for r, rnd in enumerate(self.rounds) for q in rnd)
        t_start = time.perf_counter()
        deadline = t_start + self.seconds
        for qn, (r, q) in enumerate(stream):
            # trace mode: even rounds traced (job group + spans), odd plain,
            # so the same run gives the tracing overhead
            traced = self.trace and r % 2 == 0
            gid = f"q{qn}"
            rec = {"qid": gid, "round": r, "shape": q.shape, "cls": q.cls, "q": q,
                   "traced": traced, "ans": None, "err": None}
            t0 = time.perf_counter()
            w0 = time.time()
            try:
                if traced:
                    with self.groups.group(gid), self.tracer.span("engine.query", gid):
                        with self.tracer.span("engine.search_call", gid):
                            df = eng.search(q.text, k=10)
                        with self.tracer.span("engine.collect", gid):
                            rows = df.collect()
                else:
                    rows = eng.search(q.text, k=10).collect()
                rec["lat"] = time.perf_counter() - t0
                rec["ans"] = compact(rows)
            except Exception as e:  # a failed query counts, the loop goes on
                rec["lat"] = time.perf_counter() - t0
                rec["err"] = f"{type(e).__name__}: {e}"
            rec["wall"] = (w0, time.time())
            self.queries.append(rec)
            if time.perf_counter() >= deadline:
                break
        loop_s = time.perf_counter() - t_start
        ok = [x for x in self.queries if x["err"] is None]
        # a class holds shapes of different cost, so its raw median jumps
        # between shape modes as the mix shifts, and the slowest shape is
        # 1/11 of the stream, so the pooled p90 sits on the boundary of its
        # mode.  Both are reported per shape and combined by geometric mean:
        # every shape weighs the same in relative terms, and the slowest one
        # (a few samples a run) does not carry the sampling noise of the sum
        by_shape: dict[str, list[float]] = {}
        for x in ok:
            by_shape.setdefault(x["shape"], []).append(x["lat"])
        for cls in ("ranked", "boolean", "phrase"):
            meds = [_median(v) for k, v in by_shape.items() if self.shape_cls[k] == cls]
            self.e2e[f"{cls}_p50_ms"] = 1000 * geomean(meds)
        self.e2e["latency_p90_ms"] = 1000 * geomean([p90(v) for v in by_shape.values()])
        self.e2e["qps"] = len(ok) / loop_s
        self.log(f"query loop: {len(self.queries)} queries in {loop_s:.2f}s")
        self.log("latencies ms by shape: " + json.dumps(
            {k: [round(1000 * t, 1) for t in v] for k, v in sorted(by_shape.items())}))

    # ---- phase 4: search answer checks ----------------------------------------
    def check_search(self) -> None:
        self.attempted += len(self.queries)
        for x in self.queries:
            if x["err"] is not None:
                self.fail(f"{x['q'].text!r}: {x['err']}")
        oracle = SearchOracle([t * self.cfg["repeat"] for t in self.base.text], self.doc_ids)
        checked = [x for x in self.queries if x["err"] is None]
        want = {id(x): oracle.answer(x["q"]) for x in checked}
        for x in checked:
            if x["ans"] != want[id(x)]:
                self.fail(f"wrong answer {x['q'].text!r}")
        self.log(f"search checks: {len(checked)} answers compared")

    # ---- phase 5: ingest (traced run) ------------------------------------------
    def ingest(self) -> None:
        """Seeded appends of new docs inside the build's bucket grid, each
        ``incremental_index`` -> ``refresh_index`` -> ``reload()`` -> a
        query for the batch's marker word, which must return the batch.
        The first append warms the streaming path; the last is reported."""
        in_dir = os.path.join(self.tmp, "incoming")
        os.makedirs(in_dir)
        rng = random.Random(self.seed * 7 + 4)
        taken = {d for ids in self.doc_ids for d in ids}
        for j in range(INGEST_OPS):
            self.attempted += 1
            batch, marker = C.append_batch(rng, APPEND_DOCS, *self.grid[:2], taken)
            try:
                with self.groups.group(f"ingest{j}"), self.tracer.span("ingest.op"):
                    marks = self.append(batch, os.path.join(in_dir, f"batch{j}.parquet"))
                    rows = self.engine.search(marker, k=2 * APPEND_DOCS).collect()
                    marks.append(time.perf_counter())
            except Exception as e:
                self.fail(f"ingest: {type(e).__name__}: {e}")
                self.log(traceback.format_exc())
                return
            got = sorted(int(r.doc_id) for r in rows)
            if got != sorted(batch.doc_id.tolist()):
                self.fail(f"freshness query {marker!r}: {len(got)} docs, want {len(batch)}")
        t0, t1, t2, t3, t4 = marks
        self.layer["ingest.refresh_s"] = t4 - t0
        self.layer["incremental.append_s"] = t1 - t0
        self.layer["incremental.refresh_index_s"] = t2 - t1
        self.layer["engine.reload_s"] = t3 - t2
        self.log(f"ingest: refresh {t4 - t0:.2f}s")

    def append(self, batch, path: str) -> list[float]:
        """Stream ``batch`` into the index, refresh, reload the engine;
        -> time marks before, and after each of the three steps."""
        from informationretrieval_en_people_cn_spark.streaming.incremental import (
            CORPUS_SCHEMA,
            incremental_index,
            refresh_index,
        )

        spark = self.spark
        lo, span, buckets = self.grid
        in_dir = os.path.dirname(path)
        t0 = time.perf_counter()
        batch.to_parquet(path, index=False)
        with self.tracer.span("incremental.append"):
            q = incremental_index(
                spark.readStream.schema(CORPUS_SCHEMA).parquet(in_dir),
                self.index_dir, lo=lo, span=span, buckets=buckets,
            )
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError("append stream did not finish in 120 s")
        t1 = time.perf_counter()
        with self.tracer.span("incremental.refresh_index"):
            refresh_index(
                spark, self.index_dir,
                corpus=self.corpus.unionByName(spark.read.parquet(in_dir)),
            )
        t2 = time.perf_counter()
        with self.tracer.span("engine.reload"):
            if not self.engine.reload():
                raise RuntimeError("reload() saw no new snapshot")
        return [t0, t1, t2, time.perf_counter()]

    # ---- phase 6: dedup (traced run) -------------------------------------------
    def dedup(self) -> None:
        """The three dedup queries over the first ``DEDUP_DOCS`` docs: one
        warm-up pass into a ``noop`` sink, then one timed pass whose
        collected results are compared, as order-insensitive digests,
        with the DuckDB oracles (untimed)."""
        import duckdb

        from informationretrieval_en_people_cn_spark import api

        sf = C.write_documents(self.base.head(DEDUP_DOCS), os.path.join(self.tmp, "dedup_sf"))
        for name in DEDUP_QUERIES:
            try:
                api.QUERIES[name](self.spark, sf).write.format("noop").mode("overwrite").save()
            except Exception as e:  # the timed pass below records the failure
                self.log(f"dedup warm-up {name}: {type(e).__name__}: {e}")
        results, total = {}, 0.0
        for name in DEDUP_QUERIES:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.groups.group(f"dedup.{name}"), self.tracer.span(f"pipeline.{name}"):
                    df = api.QUERIES[name](self.spark, sf)
                    rows = df.collect()
            except Exception as e:
                self.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            dt = time.perf_counter() - t0
            self.layer[DEDUP_QUERIES[name]] = dt
            total += dt
            results[name] = digest([tuple(r) for r in rows], df.columns)
        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
            for name, got in results.items():
                if got != duckdb_digest(con, api.ORACLES[name]):
                    self.fail(f"{name}: digest differs from the DuckDB oracle")
        finally:
            con.close()
        self.layer["pipeline.dedup_docs_per_s"] = DEDUP_DOCS / total
        self.log(f"dedup pass: {total:.2f}s")

    # ---- the whole run --------------------------------------------------------
    def execute(self) -> None:
        self.layer["host.cal_mops"] = calibrate()
        phases = [self.make_inputs, self.build, self.setup, self.warm_up,
                  self.query_loop, self.check_search]
        if self.trace:  # the write-side and pipeline layers
            phases += [self.probe_kernels, self.ingest, self.dedup]
        for phase in phases:
            t0 = time.perf_counter()
            phase()
            self.log(f"phase {phase.__name__}: {time.perf_counter() - t0:.2f}s")
        self.e2e["ok_rate"] = 1.0 - self.failed / max(self.attempted, 1)
        self.log(f"host.cal_mops {self.layer['host.cal_mops']:.1f}")

    # ---- traced run only: direct kernel probes ------------------------------------
    def probe_kernels(self) -> None:
        """analyze / codec throughput on inputs taken from this run's data
        (the built index's frames, a seeded text sample)."""
        import pandas as pd
        import pyarrow.parquet as pq

        from informationretrieval_en_people_cn_spark.functions.analyze import analyze_batch
        from informationretrieval_en_people_cn_spark.functions.codec import (
            decode_frames,
            encode_frame,
        )

        texts = pd.Series(self.base.text.sample(2000, random_state=self.seed).tolist())
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.tracer.span("analyze.analyze_batch"):
                analyze_batch(texts)
            runs.append(time.perf_counter() - t0)
        self.layer["analyze.docs_per_s"] = len(texts) / _median(runs)

        tbl = pq.read_table(os.path.join(self.index_dir, "index"), columns=["df", "postings"])
        frames = [bytes(b) for b in tbl.column("postings").to_pylist()]
        n_post = int(sum(tbl.column("df").to_pylist()))
        self.layer["index.bytes_per_posting"] = sum(map(len, frames)) / n_post
        dec, enc = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.tracer.span("codec.decode_frames"):
                decoded = [decode_frames(f) for f in frames]
            t1 = time.perf_counter()
            with self.tracer.span("codec.encode_frame"):
                for d, t, p in decoded:
                    encode_frame(d, t, p)
            t2 = time.perf_counter()
            dec.append(t1 - t0)
            enc.append(t2 - t1)
        self.layer["codec.decode_postings_per_s"] = n_post / _median(dec)
        self.layer["codec.encode_postings_per_s"] = n_post / _median(enc)

    # ---- per-layer table (traced run) -------------------------------------------
    def layer_metrics(self, groups: dict) -> dict[str, float | None]:
        """Per-layer values from the spans, the probes and the event log's
        job-group totals (``trace.parse_event_log``); None = not measured."""
        med = lambda xs: statistics.median(xs) if xs else None  # noqa: E731
        out: dict[str, float | None] = dict(self.layer)
        out["engine.search_call_ms"] = med([1000 * d for d in self.tracer.durations("engine.search_call")])
        out["engine.collect_ms"] = med([1000 * d for d in self.tracer.durations("engine.collect")])
        ok = [x for x in self.queries if x["err"] is None]
        for shape in C.SHAPES:
            out[f"shape.{shape}.p50_ms"] = med([1000 * x["lat"] for x in ok if x["shape"] == shape])

        per_q = []
        for x in ok:
            if not x["traced"]:
                continue
            g = groups.get(x["qid"], {})
            wall_ms = 1000 * (x["wall"][1] - x["wall"][0])
            per_q.append({
                **g, **self.groups.status.get(x["qid"], {}),  # counts: statusTracker
                "driver_ms": wall_ms - g.get("job_ms", 0.0), "wall_ms": wall_ms,
            })
        for name, key in (
            ("spark.jobs_per_query", "jobs"), ("spark.stages_per_query", "stages"),
            ("spark.tasks_per_query", "tasks"), ("spark.job_ms", "job_ms"),
            ("spark.wait_ms", "wait_ms"), ("engine.driver_ms", "driver_ms"),
            ("spark.shuffle_write_bytes_per_query", "shuffle_write_bytes"),
            ("spark.input_bytes_per_query", "input_bytes"),
            ("spark.jvm_gc_ms", "jvm_gc_ms"),
        ):
            out[name] = _mean([q.get(key, 0.0) for q in per_q])
        # every job of a query's group must lie inside the query's span;
        # then driver_ms + job_ms accounts for the wall by construction
        outside = sum(q.get("job_ms", 0.0) > 1.1 * q["wall_ms"] for q in per_q)
        self.log(f"trace: {len(per_q)} traced queries, {outside} with job time beyond their wall")
        # the --fast path runs no Python UDF per query, so the Python-worker
        # layer is reported for the whole run (build, ingest, dedup)
        run_total = groups.get("*", {})
        out["python.boot_ms"] = run_total.get("python_boot_ms")
        out["python.run_ms"] = run_total.get("python_run_ms")
        out["python.data_sent_bytes"] = run_total.get("python_data_sent")
        for label, name in BUILD_STAGES.items():
            out[name] = self.build_stages.get(label)
        out["build.shuffle_write_bytes"] = groups.get("build", {}).get("shuffle_write_bytes")
        dedup = [v for g, v in groups.items() if g.startswith("dedup.")]
        out["pipeline.shuffle_write_bytes"] = (
            sum(v.get("shuffle_write_bytes", 0.0) for v in dedup) if dedup else None
        )
        # tracing overhead: each traced round against the untraced round
        # after it (both hold every shape once)
        rounds: dict[int, list[float]] = {}
        for x in self.queries:
            rounds.setdefault(x["round"], []).append(x["lat"])
        full = [
            (sum(rounds[r]), sum(rounds[r + 1]))
            for r in range(0, len(rounds) - 1, 2)
            if len(rounds[r]) == len(rounds[r + 1]) == len(C.SHAPES)
        ]
        u_sum = sum(u for _, u in full)
        out["trace.overhead_frac"] = sum(t for t, _ in full) / u_sum - 1.0 if u_sum else None
        if not groups:
            for k in EVENT_LOG_METRICS:
                out[k] = None
        return out
