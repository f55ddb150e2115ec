"""Benchmark entry point.

    python3 perfbench/run.py --workload search-small --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository.  Prints, as the last
line of standard output, one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (see ``perfbench/NOTES.md``).
Everything the run writes goes to a fresh directory under
``.perfbench/`` in the checkout, removed at exit; a traced run also
leaves its spans in ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "informationretrieval_en_people_cn_spark"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv, workloads):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(tmp: str, trace: bool) -> str | None:
    """Point every writer at ``tmp`` and configure the session before
    the JVM starts.  Returns the event-log directory in trace mode."""
    local = os.path.join(tmp, "spark-local")
    jtmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(local)
    os.makedirs(jtmp)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    # Python workers import the engine package: they need the root on the path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)  # get_spark's local[N], as for the CLI
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")  # the inputs are small
    os.environ.pop("IR_BUILD_DEBUG", None)
    tempfile.tempdir = None
    confs = ["spark.ui.showConsoleProgress=false"]
    event_dir = None
    if trace:
        event_dir = os.path.join(tmp, "eventlog")
        os.makedirs(event_dir)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_dir}",
            "spark.eventLog.compress=false",
        ]
    args = []
    for c in confs:
        args += ["--conf", c]
    # no hsperfdata file in the system temp dir
    args += ["--driver-java-options", f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)
    return event_dir


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    # BENCHMARK.json names the workloads and every metric with its unit
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    args = parse_args(argv, [w["name"] for w in spec["workloads"]])
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ beside perfbench/: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    t_run = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=work)
    spark = None
    try:
        event_dir = prepare_env(tmp, bool(args.trace))
        from informationretrieval_en_people_cn_spark.session import get_spark

        from perfbench.trace import parse_event_log
        from perfbench.workload import EVENT_LOG_METRICS, Run

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        log(f"session start {time.perf_counter() - t0:.2f}s "
            f"(local[{os.environ['SPARK_GRAFT_CPUS']}])")
        run = Run(spark, args.workload, args.seed, args.seconds, tmp, bool(args.trace), log)
        run.execute()
        stop_spark(spark)  # flushes and closes the event log
        spark = None
        for f in run.failures:
            log(f"FAIL {f}")
        if args.trace:
            try:
                groups = parse_event_log(event_dir)
            except (OSError, ValueError, KeyError) as e:
                groups = {}
                log(f"event log unreadable: {type(e).__name__}: {e}")
            values = run.layer_metrics(groups)
            metrics = {}
            for m in spec["per_layer"]:
                v = values.get(m["name"])
                metrics[m["name"]] = {"value": v, "unit": m["unit"]}
                if v is None:  # recorded as missing, with the reason
                    metrics[m["name"]]["missing"] = (
                        "event log unreadable or empty"
                        if not groups and m["name"] in EVENT_LOG_METRICS
                        else "no sample in this run"
                    )
            with open(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({
                    "metrics": metrics, "e2e": run.e2e, "failures": run.failures,
                    "job_groups": {
                        g: {k: v for k, v in t.items() if not k.endswith("intervals")}
                        for g, t in groups.items()
                    },
                    "spans": run.tracer.dump(),
                }, fh)
        else:
            metrics = {
                m["name"]: {"value": run.e2e[m["name"]], "unit": m["unit"]}
                for m in spec["end_to_end"]
            }
        log(f"run wall {time.perf_counter() - t_run:.1f}s")
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
