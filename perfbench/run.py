#!/usr/bin/env python3
"""km-spark benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 25 --trace 0

Run from the root of a km-spark checkout. The run generates its inputs from
the seed, drives km-spark on local[4] from this one process, checks the
outputs against independent references outside the timed region, and
prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics of a traced run, whose spans are written to
``.perfbench_out/``. The line before it holds the run's details (per-
workload timings, counts, host noise, input fingerprint). Exit status: 0
when every check passed, 1 when a check failed or the run broke, 2 when the
checkout holds no km-spark package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
WORKLOADS = ["stream_ingest", "query_mix"]

# name -> unit; the same list as BENCHMARK.json's end_to_end
END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "stored_bytes_ratio": "ratio",
    "batch_p50_or_hybrid_p50_s": "s",
    "refresh_or_fts_p50_s": "s",
}
# Every workload reports every end-to-end metric, but the two workloads run
# different operations, so the per-operation metrics are shared slots: each
# names one operation of stream_ingest and one of query_mix, in that order.
# slot -> the workload's timing it reports, by workload
SLOTS = {
    "batch_p50_or_hybrid_p50_s": ("stream_batch_p50_s", "hybrid_p50_s"),
    "refresh_or_fts_p50_s": ("refresh_s", "fts_p50_s"),
}


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _stop(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, waiting for each."""
    from pyspark import SparkContext

    import hostinfo

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = hostinfo.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    for pid in pids:
        while time.time() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _counts(run) -> dict:
    """Counts timing noise cannot move: per operation kind, the jobs,
    stages and tasks of each run of it; rows of every committed table."""
    ops: dict = {}
    for o in run.ops:
        if "jobs" in o:
            ops.setdefault(o["name"], []).append(
                [o["jobs"], o["stages"], o["tasks"]])
    return {"ops": ops, "rows": run.extra.get("rows", {})}


def _op_seconds(run) -> dict:
    """Per operation kind, the wall time of each run of it, in order."""
    out: dict = {}
    for o in run.ops:
        out.setdefault(o["name"], []).append(round(o["s"], 4))
    return out


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kernel_memory_spark", "__init__.py")):
        print("perfbench: run from the root of a km-spark checkout "
              "(no kernel_memory_spark/ here)", file=sys.stderr)
        return 2
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [HERE, root]

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    try:
        return _run(args, root, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, work: str, out_dir: str) -> int:
    import hostinfo
    import inputs
    import tracing
    import workloads

    host_before = hostinfo.host_probe(root)

    # set-up = generating the seeded inputs plus starting the Spark session
    t0 = time.perf_counter()
    data = inputs.generate(args.seed, os.path.join(work, "inputs"))
    inputs_s = time.perf_counter() - t0

    from kernel_memory_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temporary files inside the checkout; no
        # /tmp/hsperfdata_<user> file
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=MASTER,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark import SparkContext

    jvm = getattr(SparkContext._gateway, "proc", None)
    peak = {}
    run = workloads.Run(spark, work, data, args.seconds)
    timed_end = []

    def on_timed_end():
        timed_end.append(time.perf_counter())
        peak.update(hostinfo.peak_rss_mb(jvm.pid if jvm is not None else None))

    run.on_timed_end = on_timed_end
    tracer = None
    if args.trace:
        tracer = tracing.Tracer(spark)
        tracer.install(type(spark.range(1)))
        run.tracer = tracer
    crashed = None
    try:
        workloads.WORKLOADS[args.workload](run)
        run.timings["checks_s"] = time.perf_counter() - timed_end[0]
    except Exception:
        crashed = traceback.format_exc()
    finally:
        if tracer is not None:
            tracer.uninstall()
        _stop(spark)
    if crashed:
        print(crashed, file=sys.stderr)
        return 1
    # the probe takes a second or two; after the run only the load is read
    host_after = {"load_1m": round(os.getloadavg()[0], 2)}

    t = run.timings
    slot = WORKLOADS.index(args.workload)
    values = {
        "setup_s": inputs_s + session_s,
        "build_docs_per_s": len(data.base_docs) / t["build_s"],
        "stored_bytes_ratio": run.extra["stored_bytes_ratio"],
        **{name: t[keys[slot]] for name, keys in SLOTS.items()},
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "master": MASTER,
        "input_fingerprint": data.fingerprint,
        "inputs_s": inputs_s, "session_s": session_s,
        "timings": t, "op_s": _op_seconds(run), "peak_rss": peak,
        "counts": _counts(run),
        "host": {"before": host_before, "after": host_after},
        "problems": run.problems, "errors": run.errors,
        "end_to_end": values,
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        events = tracing.parse_event_log(os.path.join(work, "eventlog"))
        layer = tracing.layer_metrics(tracer.spans, events, run.extra)
        layer["trace.overhead_s"] = tracer.overhead_s
        span_file = os.path.join(out_dir, f"spans-{tag}.jsonl")
        tracer.write(span_file, {"workload": args.workload, "seed": args.seed,
                                 "end_to_end_traced": values})
        detail["span_file"] = os.path.relpath(span_file, root)
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in tracing.PER_LAYER.items()}
    else:
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}

    result_file = os.path.join(out_dir, f"result-{tag}.json")
    if os.path.exists(result_file):
        with open(result_file) as f:
            previous = json.load(f)
        detail["counts_repeat_identical"] = (
            previous["input_fingerprint"] == data.fingerprint
            and previous["counts"] == json.loads(json.dumps(detail["counts"])))
    with open(result_file, "w") as f:
        json.dump(detail, f, indent=1, default=str)

    correct = not run.problems and not run.failed
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
