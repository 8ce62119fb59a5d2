"""Benchmark of the CDC engine: one workload per run, one JSON result line.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload sync_loop --seed 1 --seconds 8 --trace 0

``--trace 0`` prints the end-to-end metrics, measured without spans.
``--trace 1`` installs spans on the engine's public calls and prints the
per-layer metrics. Either way the last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; a summary with the
sample counts, set-up samples and any failed check goes to standard error.
Everything the run writes stays under ``.perfbench_run/`` (deleted at the
end) and, for traced runs, the span dump under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import traceback

from workloads import ANALYTICS_QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: end-to-end metrics: name -> unit (every workload reports all of them)
END_TO_END = {"setup_s": "s", "batch_p50_s": "s", "throughput_per_s": "1/s"}

#: per-layer metrics: name -> unit (a layer a workload does not run reports 0)
PER_LAYER = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "capture.calls": "count", "capture.self_s": "s", "capture.p50_s": "s",
    "capture.jobs_per_call": "count", "capture.log_files": "count",
    "replicate.self_s": "s", "replicate.jobs_per_batch": "count",
    "replicate.log_bytes_rewritten_per_batch": "B", "replicate.zone_refresh_s": "s",
    "merge.self_s": "s", "merge.jobs_per_batch": "count", "merge.net_keys_per_change": "ratio",
    "snapshot.write_s": "s", "snapshot.read_s": "s", "snapshot.jobs_per_write": "count",
    "snapshot.bytes_written_per_batch": "B", "snapshot.versions": "count",
    "monitor.report_s": "s", "monitor.jobs_per_report": "count",
    "streaming.batches": "count", "streaming.batch_self_s": "s",
    "streaming.jobs_per_batch": "count", "streaming.rows_in": "count",
    "streaming.dead_lettered": "count",
    **{f"queries.{q}.{m}": u for q in ANALYTICS_QUERIES for m, u in (("s", "s"), ("jobs", "count"))},
    **{f"{layer}.failed": "count" for layer in (
        "session", "capture", "replicate", "merge", "snapshot", "monitor", "streaming",
        "queries")},
    "storage.amplification": "ratio", "loop.freshness_p50_s": "s",
    "trace.overhead_s": "s", "trace.wrapper_s": "s", "trace.jobs_match": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["sync_loop", "stream_catchup", "analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM), in MB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def start_session(work: str):
    from cdc_system_spark import session

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    return session.get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops the JVM and deletes its data root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "cdc_system_spark")):
        print(f"perfbench: no cdc_system_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from spans import Tracer

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR

    spark = None
    crashed = False
    tracer = Tracer(job_counter=lambda: 0)
    ctx = None
    e2e, layers = {}, {}
    try:
        if args.trace:
            from cdc_system_spark import session

            tracer.install(session, "get_spark", "session")
            workloads.install_cdc_spans(tracer)
            tracer.enabled = True
        spark = start_session(work)
        tracer.enabled = False
        tracer.cost_s = 0.0  # count the wrappers' cost from the workload on
        spark.sparkContext.setLogLevel("ERROR")
        scheduler = spark.sparkContext._jsc.sc().dagScheduler()
        tracer.job_counter = scheduler.nextJobId
        ctx = workloads.Context(spark, args.seed, args.seconds, bool(args.trace), tracer, work)
        e2e, layers = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            (s,) = tracer.named("session")
            layers["session.start_s"] = tracer.spans[s].duration
            jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            layers["session.peak_rss_mb"] = peak_rss_mb([os.getpid(), int(jvm)])
            for s in tracer.spans:
                key = s.name.split(".")[0] + ".failed"
                layers[key] = layers.get(key, 0) + int(s.failed)
    except Exception:
        traceback.print_exc()
        crashed = True
    finally:
        tracer.uninstall()
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    attempted = ctx.attempted if ctx else 0
    failed = (ctx.failed if ctx else 0) + int(crashed)
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
            json.dump(tracer.dump(), f)
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "end_to_end": e2e, "per_layer": layers,
               "problems": ctx.problems if ctx else [], **(ctx.info if ctx else {})}
    print("perfbench summary: " + json.dumps(summary), file=sys.stderr)
    names = PER_LAYER if args.trace else END_TO_END
    source = layers if args.trace else e2e
    result = {
        "correct": failed == 0,
        "attempted": max(1, attempted + int(crashed)),
        "failed": failed,
        "metrics": {n: {"value": float(source.get(n, 0.0)), "unit": u} for n, u in names.items()},
    }
    print(json.dumps(result))
    return 1 if crashed else 0


if __name__ == "__main__":
    sys.exit(main())
