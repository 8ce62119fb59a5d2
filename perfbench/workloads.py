"""The workloads: ``sync_loop``, ``stream_catchup`` and ``analytics``.

``BENCHMARK.json`` lists the first two; ``analytics`` is run by hand, as
three workloads do not fit a full measurement's time budget (NOTES.md).

Each workload sets up its inputs several times (``setup_s`` is the
median), runs untimed warm-up units, then timed units until ``seconds``
have passed, then checks its outputs outside the timed part. A unit is
one closed-loop iteration, one micro-batch or one pass over the query
list. With tracing on, timed units run untraced, traced, traced,
untraced (and so on): end-to-end numbers come from untraced units only,
per-layer numbers from the spans of traced units, and the two halves
give the tracing overhead and the job-count comparison.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from gen import (BASIC_DEMO_MIX, StreamGen, SyncLoopGen, analytics_tables, replay,
                 rows_table, write_file)
from checks import compare_table, oracle_connection, parquet_rows
from spans import Tracer, dir_bytes, median, tail_percentile

#: set-ups per run (``setup_s`` is their median): the CDC set-ups cost
#: 4-20 s each, the analytics one well under a second
SETUP_REPS = 2
ANALYTICS_SETUP_REPS = 3

#: sync_loop: a ~100k-row target; each iteration is the reference basic
#: demo's 10 INSERT : 5 UPDATE : 2 DELETE, twelve times over (204 changes)
SYNC_BASE = 100_000
SYNC_INSERTS, SYNC_UPDATES, SYNC_DELETES = (12 * BASIC_DEMO_MIX[op]
                                            for op in ("INSERT", "UPDATE", "DELETE"))
#: untimed iterations, run between the two set-ups: the first iterations
#: run 30-50 % slow while the JVM warms (NOTES.md, "Warm-up")
SYNC_WARMUP = 3
#: timed iterations at least, so that the median outlasts one slow unit
SYNC_MIN_UNITS = 3
#: storage is measured after this many timed iterations (a fixed point,
#: so that it does not depend on how many iterations fit in the run)
SYNC_STORAGE_AT = 2
#: a traced run runs two untraced-traced-traced-untraced cycles of units,
#: so that neither median rests on one slow unit
TRACED_UNITS = 8

#: stream_catchup: a 50k-row target, one change file per micro-batch
STREAM_BASE = 50_000
STREAM_ROWS_PER_FILE = 1_000
STREAM_WARMUP_FILES = 2
#: timed micro-batches at least, and per second of --seconds
STREAM_MIN_UNITS = 4
STREAM_FILES_PER_S = 1.0

#: the TPC-H-like tables at this scale; the events table, which feeds the
#: merge and changelog queries, has the test data's sf0.1 size instead
ANALYTICS_SCALE = 0.005
ANALYTICS_EVENTS = 100_000
#: two passes average out the machine's short noise
ANALYTICS_MIN_PASSES = 2
#: The query mix, in order. q_curation_pipeline and the two
#: q_leakage_split_* queries are left out: their DuckDB oracles are
#: recursive SQL that takes 25-40 s of CPU even on a 100-document corpus,
#: which does not fit a run's time budget (see NOTES.md).
ANALYTICS_QUERIES = (
    "q_pricing_summary q_shipping_priority q_merge_apply q_snapshot_diff "
    "q_scd2_history q_pending_changes q_change_stats q_log_pruned_read "
    "q_minhash_lsh_pairs q_pagerank q_neardup_ingest"
).split()

class Context:
    """What a workload run needs: session, seed, budget, tracer, scratch."""

    def __init__(self, spark, seed: int, seconds: float, traced: bool,
                 tracer: Tracer, work: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.tracer = tracer
        self.work = work
        self.clock = time.perf_counter
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.info: dict = {}

    def jobs(self) -> int:
        return self.tracer.job_counter()

    def root(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def op(self, ok: bool = True, what: str = "") -> None:
        """Count one attempted operation or check; record it if it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def trace_units(self, i: int) -> bool:
        """Whether timed unit ``i`` is traced: in a traced run the units go
        untraced, traced, traced, untraced, so linear drift cancels in the
        traced-minus-untraced overhead."""
        return self.traced and i % 4 in (1, 2)


def row_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("balance", T.DoubleType(), True),
        T.StructField("qty", T.IntegerType(), True),
    ])


def frame(spark, images: list[dict]):
    return spark.createDataFrame(rows_table(images).to_pandas(), row_schema())


def read_rows(df) -> list[dict]:
    return df.toArrow().to_pylist()


def compact_bytes(ctx: Context, df) -> int:
    """Bytes of a single-file parquet copy of ``df`` (storage baseline)."""
    path = ctx.root("compact")
    df.coalesce(1).write.parquet(path)
    size = dir_bytes(path)
    shutil.rmtree(path, ignore_errors=True)
    return size


def install_cdc_spans(tracer: Tracer) -> None:
    """Spans on the public boundaries of the CDC layers."""
    from cdc_system_spark import api
    from cdc_system_spark.operators.capture import LogCapture
    from cdc_system_spark.streaming import replicator as streaming

    def own_path(args):
        return args[0].path

    for attr in ("capture_insert", "capture_update", "capture_delete"):
        tracer.install(LogCapture, attr, "capture", watch=own_path)
    tracer.install(LogCapture, "refresh_zone_state", "replicate.zone_refresh")
    tracer.install(api.CDCReplicator, "replicate_changes", "replicate",
                   watch=lambda args: args[0].source.capture.path)
    tracer.install(api, "apply_changes", "merge")
    tracer.install(streaming, "apply_changes", "merge")
    tracer.install(api.SnapshotTable, "read", "snapshot.read")
    tracer.install(api.SnapshotTable, "write", "snapshot.write", watch=own_path)
    tracer.install(api.CDCMonitor, "get_health_report", "monitor")


def layer_stats(tracer: Tracer, batches: set[int]) -> dict:
    """Per-batch medians of the CDC layers' spans in the given batches."""
    spans = tracer.spans

    def pick(name):
        return [i for i in tracer.named(name) if spans[i].batch in batches]

    def med(name, f):
        return median([f(i) for i in pick(name)])

    capture = pick("capture")
    per_iter: dict[int, float] = {}
    for i in capture:
        per_iter[spans[i].batch] = per_iter.get(spans[i].batch, 0.0) + tracer.self_time(i)
    return {
        "capture.calls": len(capture),
        "capture.self_s": median(list(per_iter.values())),
        "capture.p50_s": median([spans[i].duration for i in capture]),
        "capture.jobs_per_call": median([tracer.self_jobs(i) for i in capture]),
        "replicate.self_s": med("replicate", tracer.self_time),
        "replicate.jobs_per_batch": med("replicate", tracer.self_jobs),
        "replicate.log_bytes_rewritten_per_batch": med(
            "replicate", lambda i: spans[i].bytes_written),
        "replicate.zone_refresh_s": med("replicate.zone_refresh", lambda i: spans[i].duration),
        "merge.self_s": med("merge", tracer.self_time),
        "merge.jobs_per_batch": med("merge", tracer.self_jobs),
        "snapshot.write_s": med("snapshot.write", lambda i: spans[i].duration),
        "snapshot.read_s": med("snapshot.read", lambda i: spans[i].duration),
        "snapshot.jobs_per_write": med("snapshot.write", lambda i: spans[i].jobs),
        "snapshot.bytes_written_per_batch": med(
            "snapshot.write", lambda i: spans[i].bytes_written),
        "monitor.report_s": med("monitor", lambda i: spans[i].duration),
        "monitor.jobs_per_report": med("monitor", lambda i: spans[i].jobs),
    }


def jobs_match(ctx: Context, units: list[dict], keys: tuple[str, ...]) -> int:
    """1 if traced and untraced units submitted the same Spark jobs, else 0."""
    match = 1
    for k in keys:
        traced = sorted({u[k] for u in units if u["traced"]})
        plain = sorted({u[k] for u in units if not u["traced"]})
        ctx.op(traced == plain, f"{k}: traced units ran {traced} jobs, untraced {plain}")
        ctx.info.setdefault("jobs_per_unit", {})[k] = plain
        match &= traced == plain
    return match


def overhead(tracer: Tracer, units: list[dict]) -> dict:
    """``trace.overhead_s``, the median traced unit minus the median
    untraced unit, and ``trace.wrapper_s``, the time the span wrappers
    spent outside the spans they record, per traced unit."""
    traced = [u["wall"] for u in units if u["traced"]]
    plain = [u["wall"] for u in units if not u["traced"]]
    return {"trace.overhead_s": median(traced) - median(plain),
            "trace.wrapper_s": tracer.cost_s / len(traced)}


def timing_summary(ctx: Context, name: str, values: list[float]) -> None:
    ctx.info[f"{name}_samples"] = len(values)
    tail = tail_percentile(values)
    ctx.info[f"{name}_tail"] = None if tail is None else {"percentile": tail[0],
                                                           "value_s": tail[1]}


# -- sync_loop ----------------------------------------------------------------


def sync_loop(ctx: Context) -> tuple[dict, dict]:
    from cdc_system_spark import CDCConfig
    from cdc_system_spark.api import CDCMonitor, CDCReplicator, CDCSystem, SnapshotTable

    spark, clock, tracer = ctx.spark, ctx.clock, ctx.tracer
    schema = row_schema()
    iter_size = SYNC_UPDATES + SYNC_INSERTS + SYNC_DELETES
    setups: list[float] = []

    def set_up(rep: int) -> dict:
        root = ctx.root(f"sync{rep}")
        g = SyncLoopGen(ctx.seed, SYNC_BASE, SYNC_UPDATES, SYNC_INSERTS, SYNC_DELETES)
        base = g.base()
        t0 = clock()
        system = CDCSystem(spark, root, "accounts", CDCConfig(batch_size=iter_size))
        cap = system.setup_cdc(schema, key="id")
        cap.capture_insert(frame(spark, base))
        target = SnapshotTable(spark, os.path.join(root, "replica"), schema)
        repl = CDCReplicator(system, target, key="id")
        n = repl.replicate_changes(SYNC_BASE)
        setups.append(clock() - t0)
        ctx.op(n == SYNC_BASE, f"seed replicate applied {n} of {SYNC_BASE}")
        return {"root": root, "g": g, "cap": cap, "target": target, "repl": repl,
                "monitor": CDCMonitor(system), "report": None}

    def iterate(sys_: dict, i: int, traced: bool) -> dict:
        """One closed-loop iteration: capture, replicate, health report."""
        cap, repl = sys_["cap"], sys_["repl"]
        ch = sys_["g"].iteration()
        upd, old, ins, dels = (frame(spark, ch[k]) for k in
                               ("update", "update_old", "insert", "delete"))
        tracer.enabled, tracer.batch = traced, i
        j0, t0 = ctx.jobs(), clock()
        cap.capture_update(upd, old)
        cap.capture_insert(ins)
        cap.capture_delete(dels)
        j1, t1 = ctx.jobs(), clock()
        n = repl.replicate_changes(iter_size)
        j2, t2 = ctx.jobs(), clock()
        report = sys_["monitor"].get_health_report()
        j3, t3 = ctx.jobs(), clock()
        tracer.enabled = False
        sys_["report"] = report
        ctx.op(True)  # capture_update
        ctx.op(True)  # capture_insert
        ctx.op(True)  # capture_delete
        ctx.op(n == iter_size, f"iteration {i}: replicate applied {n} of {iter_size}")
        ctx.op(report["pending_changes"] == 0,
               f"iteration {i}: {report['pending_changes']} changes left pending")
        return {"traced": traced, "batch": i, "freshness": t2 - t0, "replicate": t2 - t1,
                "wall": t3 - t0, "changes": n, "keys": ch["keys"], "capture_jobs": j1 - j0,
                "replicate_jobs": j2 - j1, "monitor_jobs": j3 - j2}

    # The warm-up iterations run on the first set-up's system, before the
    # last set-up, so that set-up and the timed iterations both start warm;
    # the timed iterations run on the last set-up's system.
    warmup: list[float] = []
    i = 0
    for rep in range(SETUP_REPS):
        sys_ = set_up(rep)
        if rep == 0:
            for _ in range(SYNC_WARMUP):
                warmup.append(iterate(sys_, i, False)["wall"])
                i += 1
        if rep < SETUP_REPS - 1:
            shutil.rmtree(sys_["root"], ignore_errors=True)
    root, g, cap, target = sys_["root"], sys_["g"], sys_["cap"], sys_["target"]

    units: list[dict] = []
    storage = None
    while True:
        units.append(iterate(sys_, i, ctx.trace_units(len(units))))
        if len(units) == SYNC_STORAGE_AT:
            storage = (dir_bytes(root), target.list_versions()[-1])
        i += 1
        if (len(units) >= (TRACED_UNITS if ctx.traced else SYNC_MIN_UNITS)
                and sum(u["wall"] for u in units) >= ctx.seconds):
            break
    report = sys_["report"]

    ctx.info.update(setup_samples_s=setups, warmup_units=SYNC_WARMUP, warmup_s=warmup,
                    timed_units=len(units), unit_s=[u["wall"] for u in units])
    base_bytes = compact_bytes(ctx, target.read_version(storage[1]))

    # correctness, outside the timed part
    want = replay(g.log)
    ctx.op(not (p := compare_table(read_rows(target.read()), want)),
           f"target differs from replay: {p}")
    n_log = len(parquet_rows(cap.path, ["cdc_id"]))
    ctx.op(n_log == len(g.log), f"log holds {n_log} rows, generator made {len(g.log)}")
    totals = {op: s["total"] for op, s in report["statistics"].items()}
    ctx.op(totals == g.op_counts and report["pending_changes"] == 0,
           f"health report totals {totals} != generated {g.op_counts}")

    plain = [u for u in units if not u["traced"]]
    timing_summary(ctx, "freshness", [u["freshness"] for u in plain])
    timing_summary(ctx, "batch", [u["replicate"] for u in plain])
    e2e = {
        "setup_s": median(setups),
        "batch_p50_s": median([u["replicate"] for u in plain]),
        "throughput_per_s": sum(u["changes"] for u in plain) / sum(u["wall"] for u in plain),
    }
    layers = {"storage.amplification": storage[0] / base_bytes,
              "loop.freshness_p50_s": median([u["freshness"] for u in plain])}
    if ctx.traced:
        traced = {u["batch"] for u in units if u["traced"]}
        layers.update(layer_stats(tracer, traced))
        layers["trace.jobs_match"] = jobs_match(
            ctx, units, ("capture_jobs", "replicate_jobs", "monitor_jobs"))
        layers["capture.log_files"] = sum(
            1 for f in os.listdir(cap.path) if f.endswith(".parquet"))
        layers["merge.net_keys_per_change"] = median(
            [u["keys"] / u["changes"] for u in units if u["traced"]])
        layers["snapshot.versions"] = len(target.list_versions())
        layers.update(overhead(tracer, units))
        parts = ("replicate.self_s", "merge.self_s", "snapshot.read_s", "snapshot.write_s",
                 "replicate.zone_refresh_s")
        ctx.info["batch_accounting"] = {
            "sum_of_layer_medians_s": sum(layers[k] for k in parts),
            "traced_replicate_p50_s": median(
                [tracer.spans[s].duration for s in tracer.named("replicate")
                 if tracer.spans[s].batch in traced]),
            "untraced_batch_p50_s": e2e["batch_p50_s"],
            "overhead_s": layers["trace.overhead_s"],
            "wrapper_s": layers["trace.wrapper_s"],
        }
    return e2e, layers


# -- stream_catchup -----------------------------------------------------------


def stream_catchup(ctx: Context) -> tuple[dict, dict]:
    from cdc_system_spark import CDCConfig
    from cdc_system_spark.api import CDCSystem, SnapshotTable
    from cdc_system_spark.streaming.replicator import StreamingReplicator

    spark, clock, tracer = ctx.spark, ctx.clock, ctx.tracer
    schema = row_schema()
    config = CDCConfig(metrics_interval_seconds=0)
    setups: list[float] = []
    stamp = [time.time_ns()]

    def set_up(rep: int) -> dict:
        root = ctx.root(f"stream{rep}")
        g = StreamGen(ctx.seed, STREAM_BASE, STREAM_ROWS_PER_FILE)
        base = g.base()
        t0 = clock()
        system = CDCSystem(spark, root, "accounts")
        cap = system.setup_cdc(schema, key="id")
        cap.capture_insert(frame(spark, base))
        target = SnapshotTable(spark, os.path.join(root, "replica"), schema)
        paths = {"checkpoint_path": os.path.join(root, "checkpoint"),
                 "dead_letter_path": os.path.join(root, "dead_letter")}
        StreamingReplicator(spark, cap.path, target, schema, key="id", config=config,
                            **paths).run_available_now()
        setups.append(clock() - t0)
        ctx.op(True)
        next_id = max(r["cdc_id"] for r in parquet_rows(cap.path, ["cdc_id"])) + 1
        return {"root": root, "g": g, "base": base, "cap": cap, "target": target,
                "paths": paths, "next_id": next_id}

    def write_files(st: dict, n: int) -> int:
        rows = 0
        for k in range(n):
            t = st["g"].next_file(st["next_id"], stamp[0] // 1000)
            st["next_id"] += t.num_rows
            rows += t.num_rows
            stamp[0] = max(time.time_ns(), stamp[0] + 10_000_000)
            write_file(t, os.path.join(st["cap"].path, f"part-bench-{k:05d}.parquet"),
                       stamp[0])
        return rows

    marks: list[tuple[float, int]] = []
    open_batch: list[int] = []
    timed = [False]

    def traced_batch(b: int) -> bool:
        # batch 0 carries the query start and is not a unit
        return timed[0] and b > 0 and ctx.trace_units(b - 1)

    def on_report(report: dict) -> None:
        marks.append((clock(), ctx.jobs()))
        if open_batch:
            tracer.close(open_batch.pop())
        tracer.enabled = False
        b = len(marks)  # index of the batch that starts now
        if traced_batch(b):
            tracer.batch = b
            tracer.enabled = True
            open_batch.append(tracer.open("streaming.batch"))

    def drain(st: dict) -> tuple[float, float]:
        marks.clear()
        rep = StreamingReplicator(spark, st["cap"].path, st["target"], schema, key="id",
                                  config=config, max_files_per_trigger=1,
                                  on_report=on_report, **st["paths"])
        t0 = clock()
        rep.run_available_now()
        return t0, clock()

    # The warm-up drain runs on the first set-up's system, before the last
    # set-up; the timed drain runs on the last set-up's system.
    warmup: list[float] = []
    for rep in range(SETUP_REPS):
        st = set_up(rep)
        if rep == 0:
            write_files(st, STREAM_WARMUP_FILES)
            w0, w1 = drain(st)
            warmup.append(w1 - w0)
            ctx.op(len(marks) == STREAM_WARMUP_FILES, f"warm-up drain ran {len(marks)} "
                   f"micro-batches for {STREAM_WARMUP_FILES} files")
        if rep < SETUP_REPS - 1:
            shutil.rmtree(st["root"], ignore_errors=True)
    root, g, target, paths = st["root"], st["g"], st["target"], st["paths"]

    # the first micro-batch carries the query start and is not a unit
    n_files = 1 + max(TRACED_UNITS if ctx.traced else STREAM_MIN_UNITS,
                      round(ctx.seconds * STREAM_FILES_PER_S))
    rows_in = write_files(st, n_files)
    timed[0] = True
    j_start = ctx.jobs()
    t_start, t_end = drain(st)
    tracer.enabled = False
    if open_batch:
        tracer.close(open_batch.pop())
    for _ in marks:
        ctx.op(True)  # one micro-batch
    ctx.op(len(marks) == n_files, f"drain ran {len(marks)} micro-batches for {n_files} files")

    # batch 0 carries the query start: it counts toward throughput only
    units = []
    prev_t, prev_j = t_start, j_start
    for b, (t, j) in enumerate(marks):
        if b:
            units.append({"traced": traced_batch(b), "batch": b, "wall": t - prev_t,
                          "jobs": j - prev_j})
        prev_t, prev_j = t, j
    ctx.info.update(setup_samples_s=setups, warmup_units=STREAM_WARMUP_FILES,
                    warmup_s=warmup, timed_units=len(marks),
                    unit_s=[u["wall"] for u in units])
    storage = dir_bytes(root)
    base_bytes = compact_bytes(ctx, target.read())

    want = replay(g.valid, {img["id"]: img for img in st["base"]})
    ctx.op(not (p := compare_table(read_rows(target.read()), want)),
           f"target differs from replay: {p}")
    dead = [r["cdc_id"] for r in parquet_rows(paths["dead_letter_path"], ["cdc_id"])]
    ctx.op(sorted(dead) == sorted(g.bad_ids),
           f"dead-letter sink holds {len(dead)} rows, {len(g.bad_ids)} were malformed")

    plain = [u for u in units if not u["traced"]]
    timing_summary(ctx, "batch", [u["wall"] for u in plain])
    e2e = {
        "setup_s": median(setups),
        "batch_p50_s": median([u["wall"] for u in plain]),
        "throughput_per_s": len(g.valid) / (t_end - t_start),
    }
    layers = {"storage.amplification": storage / base_bytes}
    if ctx.traced:
        traced = {u["batch"] for u in units if u["traced"]}
        layers.update(layer_stats(tracer, traced))
        layers["trace.jobs_match"] = jobs_match(ctx, units, ("jobs",))
        batch_spans = [i for i in tracer.named("streaming.batch")
                       if tracer.spans[i].batch in traced]
        layers["streaming.batches"] = len(marks)
        layers["streaming.batch_self_s"] = median([tracer.self_time(i) for i in batch_spans])
        layers["streaming.jobs_per_batch"] = median([tracer.self_jobs(i) for i in batch_spans])
        layers["streaming.rows_in"] = rows_in
        layers["streaming.dead_lettered"] = len(dead)
        layers["snapshot.versions"] = len(target.list_versions())
        layers.update(overhead(tracer, units))
    return e2e, layers


# -- analytics ----------------------------------------------------------------


def analytics(ctx: Context) -> tuple[dict, dict]:
    from cdc_system_spark.queries import QUERY_REGISTRY
    from cdc_system_spark.sources.catalog import TABLES, TableCatalog
    from tools.verify_local import compare

    spark, clock, tracer = ctx.spark, ctx.clock, ctx.tracer
    setups = []
    for rep in range(ANALYTICS_SETUP_REPS):
        tables = ctx.root(f"tables{rep}")
        if rep:
            shutil.rmtree(os.path.join(ctx.work, f"tables{rep - 1}"), ignore_errors=True)
        analytics_tables(ctx.seed, tables, ANALYTICS_SCALE, ANALYTICS_EVENTS)
        t0 = clock()
        catalog = TableCatalog(spark, tables)
        for t in TABLES:
            catalog[t]  # the engine's table load: path check and schema read
        setups.append(clock() - t0)

    def oracles():
        con = oracle_connection(tables, TABLES)
        con.execute("SET threads TO 1")
        try:
            return {n: con.execute(QUERY_REGISTRY[n].sql).fetchdf() for n in ANALYTICS_QUERIES}
        finally:
            con.close()

    # The untimed warm-up runs the query list concurrently and collects every
    # result for the oracle check, with the DuckDB oracles beside it. Per
    # second this warms the JVM more than a serial pass (NOTES.md, "Warm-up").
    t0 = clock()
    with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0)) + 1) as pool:
        want = pool.submit(oracles)
        running = {name: pool.submit(_collect, QUERY_REGISTRY[name].fn, spark, tables)
                   for name in ANALYTICS_QUERIES}
        got = {name: f.result() for name, f in running.items()}
        warm_s = clock() - t0
        want = want.result()
    for name in ANALYTICS_QUERIES:
        ctx.op(True)  # the warm-up query
        p = compare(name, got[name], want[name])
        ctx.op(not p, f"{name}: {p}")

    units = []
    elapsed = 0.0
    while True:
        traced = ctx.trace_units(len(units))
        tracer.batch = len(units)
        times, jobs = {}, {}
        for name in ANALYTICS_QUERIES:
            fn = QUERY_REGISTRY[name].fn
            j0, t0 = ctx.jobs(), clock()
            if traced:
                tracer.enabled = True
                tracer.call(f"queries.{name}", _run_noop, (fn, spark, tables), {})
                tracer.enabled = False
            else:
                _run_noop(fn, spark, tables)
            times[name], jobs[name] = clock() - t0, ctx.jobs() - j0
            ctx.op(True)
        units.append({"traced": traced, "wall": sum(times.values()), "times": times,
                      **{f"jobs.{n}": j for n, j in jobs.items()}})
        elapsed += units[-1]["wall"]
        if (elapsed >= ctx.seconds
                and len(units) >= (TRACED_UNITS if ctx.traced else ANALYTICS_MIN_PASSES)):
            break
    ctx.info.update(setup_samples_s=setups, warmup_units=1, warmup_s=[warm_s],
                    timed_units=len(units), unit_s=[u["wall"] for u in units],
                    query_s={n: [u["times"][n] for u in units] for n in ANALYTICS_QUERIES})

    plain = [u for u in units if not u["traced"]]
    e2e = {
        "setup_s": median(setups),
        "batch_p50_s": sum(median([u["times"][n] for u in plain]) for n in ANALYTICS_QUERIES),
        "throughput_per_s": len(ANALYTICS_QUERIES) * len(plain) / sum(u["wall"] for u in plain),
    }
    layers = {}
    if ctx.traced:
        layers["trace.jobs_match"] = jobs_match(
            ctx, units, tuple(f"jobs.{n}" for n in ANALYTICS_QUERIES))
        for name in ANALYTICS_QUERIES:
            spans = [tracer.spans[i] for i in tracer.named(f"queries.{name}")]
            layers[f"queries.{name}.s"] = median([s.duration for s in spans])
            layers[f"queries.{name}.jobs"] = median([s.jobs for s in spans])
        layers.update(overhead(tracer, units))
    return e2e, layers


def _collect(fn, spark, tables: str):
    return fn(spark, tables).toPandas()


def _run_noop(fn, spark, tables: str) -> None:
    fn(spark, tables).write.format("noop").mode("overwrite").save()


WORKLOADS = {"sync_loop": sync_loop, "stream_catchup": stream_catchup,
             "analytics": analytics}
