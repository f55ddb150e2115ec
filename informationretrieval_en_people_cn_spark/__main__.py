"""CLI — the spark-submit surface (north_rule: runs via
``spark-submit --py-files engine.zip -m`` on a real cluster; plain
``python -m informationretrieval_en_people_cn_spark`` locally).

Reference analogue: ``SearchEngine.py:298-313`` (``Index:comments.csv``
verb + queries-from-file loop).

    python -m informationretrieval_en_people_cn_spark build  --corpus DIR --out DIR [--resume]
    python -m informationretrieval_en_people_cn_spark search --index DIR "merge window" [-k 10] [--fast | --blockmax]
        [--where "lang = 'py'"] [--boost "lang = 'py'=2.0"] [--at-version N] [--serving]
    python -m informationretrieval_en_people_cn_spark queries --index DIR --file queries.txt [--batch]
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="informationretrieval_en_people_cn_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--corpus", required=True, help="parquet dir of the input_hint table")
    b.add_argument("--out", required=True)
    b.add_argument("--slices", type=int, default=4)
    b.add_argument("--salt", type=int, default=4)
    b.add_argument("--no-positions", action="store_true")
    b.add_argument("--no-content", action="store_true")
    b.add_argument("--sorted-input", action="store_true")
    b.add_argument("--resume", action="store_true")

    s = sub.add_parser("search", help="run one query")
    s.add_argument("--index", required=True)
    s.add_argument("query")
    s.add_argument("-k", type=int, default=10)

    sn = sub.add_parser("snapshots", help="list index snapshot history")
    sn.add_argument("--index", required=True)

    q = sub.add_parser("queries", help="run a query file (one per line)")
    q.add_argument("--index", required=True)
    q.add_argument("--file", required=True)
    q.add_argument("-k", type=int, default=10)
    q.add_argument(
        "--batch",
        action="store_true",
        help="execute the file's ranked queries as ONE search_batch job "
        "(shared serving kernel; implies --serving)",
    )
    for sp in (s, q):
        sp.add_argument(
            "--edges",
            help="parquet of (src_doc_id, dst_doc_id) for ReplyTo queries",
        )
        sp.add_argument(
            "--fast",
            action="store_true",
            help="low-latency driver-side path (caches doclens; falls "
            "back to the bucket plan over the Σdf budget)",
        )
        sp.add_argument(
            "--blockmax",
            action="store_true",
            help="block-max pruning for ranked top-k (bucket-grid "
            "upper bounds; identical results)",
        )
        sp.add_argument(
            "--serving",
            action="store_true",
            help="serving mode: cluster-cached per-bucket doclens "
            "(bucket-local plans)",
        )
        sp.add_argument(
            "--where",
            help="metadata scope, a SQL predicate over the docs-table "
            "columns (repo, path, commit, lang), e.g. \"lang = 'py'\"",
        )
        sp.add_argument(
            "--boost",
            action="append",
            metavar="PRED=FACTOR",
            help="score boost, repeatable: docs matching PRED multiply "
            "their BM25 score by FACTOR (ranked queries only)",
        )
        sp.add_argument(
            "--at-version",
            type=int,
            help="time travel: pin to a historical snapshot version",
        )

    args = p.parse_args(argv)

    if args.cmd == "snapshots":  # pure metadata read: no Spark session
        import json as _json

        from .operators.build import snapshots

        for snap in snapshots(args.index):
            print(_json.dumps(snap))
        return 0

    from .session import get_spark

    spark = get_spark(app_name=f"ir-{args.cmd}")
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.cmd == "build":
            from .operators.build import build_index
            from .sources.corpus import with_doc_ids

            corpus = spark.read.parquet(args.corpus)
            if "doc_id" not in corpus.columns:
                corpus = with_doc_ids(corpus)
            paths = build_index(
                spark,
                corpus,
                args.out,
                slices=args.slices,
                salt=args.salt,
                store_positions=not args.no_positions,
                store_content=not args.no_content,
                sorted_input=args.sorted_input,
                resume=args.resume,
            )
            print(f"index written to {paths.out_dir}")
        else:
            from .plans.engine import SearchEngine

            edges = spark.read.parquet(args.edges) if args.edges else None
            serving = args.serving or getattr(args, "batch", False)
            boost = None
            if args.boost:
                boost = []
                for spec in args.boost:
                    pred, _, factor = spec.rpartition("=")
                    if not pred:
                        raise SystemExit(
                            f"--boost expects PRED=FACTOR, got {spec!r}"
                        )
                    boost.append((pred, float(factor)))
            eng = SearchEngine(
                spark,
                args.index,
                edges=edges,
                cache_doclens=args.fast,
                fast_path=args.fast or None,
                use_blockmax=args.blockmax,
                persist_doclens=serving,
                at_version=args.at_version,
            )
            queries = (
                [args.query]
                if args.cmd == "search"
                else [
                    l.strip()
                    for l in open(args.file, encoding="utf-8")
                    if l.strip()
                ]
            )
            if getattr(args, "batch", False):
                if boost:
                    # search_batch has no boost parameter, so --batch
                    # --boost would silently return unboosted scores
                    raise SystemExit(
                        "--batch does not support --boost; run boosted "
                        "queries without --batch"
                    )
                rows = eng.search_batch(
                    queries, k=args.k, where=args.where
                ).collect()
                by_q: dict[int, list] = {}
                for r in rows:
                    by_q.setdefault(r.qid, []).append(r)
                for i, query in enumerate(queries):
                    print(f"# {query}")
                    for r in by_q.get(i, ()):
                        print(f"{r.doc_id}\t{r.score:.6f}")
                return 0
            for query in queries:
                print(f"# {query}")
                try:
                    res = eng.search(query, k=args.k, where=args.where, boost=boost)
                    for r in res.collect():
                        if hasattr(r, "score"):
                            print(f"{r.doc_id}\t{r.score:.6f}")
                        else:
                            print(r.doc_id)
                except Exception as e:  # one bad query must not kill the file
                    print(f"error: {type(e).__name__}: {e}")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
