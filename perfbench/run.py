"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload index_build --seed 1 --seconds 5 --trace 0

One process, one closed-loop client, ``local[nproc]``. The run generates
(or reuses) the inputs for ``--seed``, starts the session ``SETUPS`` times
and reports the median set-up, runs untimed warm-up operations, then
runs unit operations back to back for ``--seconds`` and checks each
output. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns
on Spark's event log, alternates plain and traced operations and prints
the per-layer metrics. The last line of standard output is one JSON
object; everything else goes to standard error. Inputs are cached under
``.perfbench_cache/`` and working space lives under ``.perfbench_work/``,
both in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3

# name -> unit; BENCHMARK.json lists the same names (checked by the tests)
END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "input_mb_per_s": "MB/s",
    "stored_bytes_per_input_byte": "ratio",
    "success_ratio": "ratio",
}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.first_op_s": "s",
    "text.scan_s": "s",
    "text.lines": "count",
    "textprep.self_s": "s",
    "textprep.tokens_accepted": "count",
    "index.counts_self_s": "s",
    "index.postings_self_s": "s",
    "index.format_sort_self_s": "s",
    "index.postings": "count",
    "index.terms": "count",
    "sinks.self_s": "s",
    "sinks.bytes_written": "bytes",
    "dedup.shingle_s": "s",
    "dedup.signature_self_s": "s",
    "dedup.shingles": "count",
    "dedup.pairs_self_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pairs_kept": "count",
    "dedup.kept_ratio": "ratio",
    **{
        f"maintain.{phase}_{k}": unit
        for phase in ("build", "query", "append", "compact")
        for k, unit in (("s", "s"), ("jobs", "count"), ("tasks", "count"), ("driver_gap_s", "s"))
    },
    "maintain.build_overlap": "ratio",
    "maintain.ingest_bytes_per_input_byte": "ratio",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "driver_gap_s": "s",
    "trace.op_s": "s",
    "trace.plain_op_s": "s",
    "trace.overhead_s": "s",
}


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_jvm() -> None:
    """End the Py4J gateway JVM that the first session launched and wait
    for it: it exits when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args: argparse.Namespace, work: str) -> dict:
    from hadoop_invertedindexer_spark.caching import release_persisted
    from hadoop_invertedindexer_spark.session import get_spark
    from perfbench.gen import ensure_inputs
    from perfbench.trace import RssSampler, SparkActivity, Tracer
    from perfbench.workloads import WORKLOADS

    inputs = ensure_inputs(args.seed, os.path.join(ROOT, ".perfbench_cache"))
    with open(os.path.join(inputs, "inputs.json")) as f:
        info = json.load(f)
    sizes = {k: v for k, v in info.items() if k != "near_planted"}
    print(f"inputs: {json.dumps(sizes)}", file=sys.stderr)
    wl = WORKLOADS[args.workload](inputs, info)
    trace = bool(args.trace)
    conf = session_conf(work, trace)
    if trace:
        os.makedirs(f"{work}/eventlog")
    tracer = Tracer()
    spark = None
    with RssSampler() if trace else contextlib.nullcontext() as rss:
        try:
            setups = []
            for i in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
                if i == 0:
                    session_start = time.perf_counter() - t0
                wl.register(spark)
                setups.append(time.perf_counter() - t0)

            warm_ups = []
            for _ in range(wl.warm_ups):
                t0 = time.perf_counter()
                wl.op(spark, f"{work}/warm-up")
                warm_ups.append(time.perf_counter() - t0)
                release_persisted()
                shutil.rmtree(f"{work}/warm-up")

            stored, failed, attempted = [], 0, 0
            last_traced = None
            deadline = time.perf_counter() + args.seconds
            while attempted < (2 if trace else 1) or time.perf_counter() < deadline:
                traced = trace and attempted % 2 == 1
                out = f"{work}/op-{attempted}"
                attempted += 1
                problems = ["raised"]
                try:
                    with tracer.span("traced_op" if traced else "op") as span:
                        result = (
                            wl.traced_op(spark, out, tracer) if traced else wl.op(spark, out)
                        )
                    release_persisted()
                    problems = wl.check(result)
                    if not traced:
                        stored.append(wl.stored_bytes(result))
                except Exception:
                    traceback.print_exc()
                if problems:
                    failed += 1
                    print(f"{wl.name} op {attempted} failed: {problems}", file=sys.stderr)
                if traced and not problems:
                    if last_traced is not None:
                        shutil.rmtree(last_traced[0])
                    last_traced = (out, result)
                else:
                    shutil.rmtree(out, ignore_errors=True)
            counts = wl.layer_counts(spark) if trace else {}
            app_id = spark.sparkContext.applicationId
            print(
                f"setups {setups}, warm-ups {warm_ups}, ops "
                f"{[round(s.seconds, 2) for s in tracer.spans if s.name.endswith('op')]}",
                file=sys.stderr,
            )
        finally:
            if spark is not None:
                spark.stop()
            stop_jvm()

    report = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    op_s = statistics.median(s.seconds for s in tracer.named("op"))
    if not trace:
        metrics = {
            "setup_s": statistics.median(setups),
            "op_s": op_s,
            "input_mb_per_s": wl.input_bytes / 1e6 / op_s,
            "stored_bytes_per_input_byte": statistics.median(stored or [0]) / wl.input_bytes,
            "success_ratio": 1 - failed / attempted,
        }
        units = END_TO_END
    else:
        activity = SparkActivity.read(os.path.join(work, "eventlog", app_id))
        metrics = dict.fromkeys(PER_LAYER, 0)
        metrics["peak_rss_mb"] = rss.peak / 2**20
        metrics["session.start_s"] = session_start
        metrics["session.first_op_s"] = warm_ups[0]
        metrics.update(counts)
        if last_traced is not None:
            metrics.update(wl.layer_metrics(tracer, activity, last_traced[1]))
        plain = [activity.within(s) for s in tracer.named("op")]
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "driver_gap_s"):
            metrics[k] = statistics.median(p[k] for p in plain)
        traced_s = statistics.median(s.seconds for s in tracer.named("traced_op"))
        metrics["trace.op_s"] = traced_s
        metrics["trace.plain_op_s"] = op_s
        metrics["trace.overhead_s"] = traced_s - op_s
        units = PER_LAYER
    report["metrics"] = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    return report


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["index_build", "near_dup", "index_maintain"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hadoop_invertedindexer_spark")):
        print("perfbench: no hadoop_invertedindexer_spark package in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(f"{work}/tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    # every JVM, the launcher's too, keeps its temporary files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    try:
        report = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
