"""Benchmark of the lucene_spark engine: one seeded workload per run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. The run starts its own Spark
session (local[nproc]) in a fresh directory under ``.perfbench_runs/``,
does an untimed set-up and warm-up, measures for ``--seconds``, checks
every output outside the timed part and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` its per-layer metrics: the run then also turns on Spark's
event log, tags every call with a job group and times the analysis and
codec layers in its own process. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_DOCS = 3_000  # corpus rows per run, ~3.9 MB of content
DRIVER_MEM = "1g"  # JVM heap; the whole process tree peaks near 2.4 GB

now = time.perf_counter


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_env(run_dir: str, trace: bool) -> None:
    """Session settings made from outside the engine, before the JVM starts."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)  # Python workers
    os.environ["LUCENE_SPARK_DRIVER_MEM"] = DRIVER_MEM
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(run_dir, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # the whole heap committed and touched at start, so the JVM's resident
    # size does not depend on when the collector chose to grow the heap
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, (os.environ.get("SPARK_SUBMIT_OPTS"),
                      f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                      f"-Xms{DRIVER_MEM}", "-XX:+AlwaysPreTouch")))
    args = []
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        args = ["--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{log_dir}",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def measure(args, run_dir: str) -> tuple[dict, object]:
    from lucene_spark.corpus import make_corpus
    from lucene_spark.session import get_spark
    from perfbench.trace import JobGroups, event_log_counters, stop_spark
    from perfbench.workloads import WORKLOADS, Run, codec_and_analysis, layer_metrics, log

    spark_env(run_dir, args.trace)
    t0 = now()
    spark = get_spark(f"perfbench-{args.workload}", cpus=len(os.sched_getaffinity(0)))
    spark.range(1).count()  # executors up
    session_s = now() - t0
    log(f"session {session_s:.1f}s")
    try:
        t = now()
        pdf = make_corpus(N_DOCS, seed=args.seed)
        run = Run(spark, JobGroups(spark, args.workload, bool(args.trace)), run_dir,
                  args.seed, args.seconds, pdf)
        run.setup_s = session_s + now() - t
        e2e = WORKLOADS[args.workload](run)
        e2e["setup_s"] = run.setup_s
        if args.trace:
            run.layers["micro"] = codec_and_analysis(run)
    finally:
        stop_spark(spark)
        log("session stopped")
    if not args.trace:
        return e2e, run
    counters = event_log_counters(os.path.join(run_dir, "eventlog"))
    layers = layer_metrics(run, session_s, counters)
    layers.update({f"trace.{k}": v for k, v in e2e.items()})
    return layers, run


def report_overhead(workload: str, e2e: dict, traced: bool) -> None:
    """Keep untraced figures; a traced run compares its own to their median."""
    path = os.path.join(ROOT, ".perfbench_runs", f"untraced-{workload}.jsonl")
    if not traced:
        with open(path, "a") as f:
            f.write(json.dumps(e2e) + "\n")
        return
    if not os.path.exists(path):
        return
    with open(path) as f:
        past = [json.loads(line) for line in f]
    for k, v in e2e.items():
        base = statistics.median(p[k] for p in past if k in p) if past else None
        if base:
            print(f"tracing overhead {k}: {100 * (v / base - 1):+.1f}% "
                  f"({v:.4g} traced vs median {base:.4g} of {len(past)} untraced)",
                  file=sys.stderr)


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import lucene_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.trace import wait_for_stale_jvms

    wait_for_stale_jvms(ROOT)
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    steal0, total0 = host_steal()
    try:
        values, run = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1, total1 = host_steal()
    print(f"CPU time stolen by the hypervisor during the run: "
          f"{100 * (steal1 - steal0) / max(1, total1 - total0):.1f}%", file=sys.stderr)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    e2e = {k[len("trace."):] if args.trace else k: v for k, v in values.items()
           if not args.trace or k.startswith("trace.")}
    report_overhead(args.workload, e2e, bool(args.trace))
    result = {
        "correct": not run.failed and not missing,
        "attempted": len(run.ops),
        "failed": len(run.failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted if m["name"] in values},
    }
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
    print(json.dumps(result))
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
