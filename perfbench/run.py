"""Benchmark of the paper's pipeline: CDC changelog -> primary-key staging
tables -> the maintained revenue view -> lakehouse reads, plus one HEADLINE
batch query per ``plans`` module.

    python3 perfbench/run.py --workload cdc_pipeline --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints a record line, then as the last line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics with ``--trace 0``, the per-layer ones (from a
separate traced phase, after an untraced one that prices the tracing) with
``--trace 1``; a traced run also writes its spans to
``.bench_work/<workload>.spans.json``. Workloads and metrics are listed in
BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from stats import quantile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PLAN_MODULES = (
    "text_queries", "relational", "similarity_queries", "pipeline_queries",
    "multimodal_queries", "changelog_queries", "betting_queries", "temporal_queries",
)
SPARK_STATS = ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def calibrate() -> float:
    """Ambient-load floor: median time of a fixed pure-Python loop."""
    def once() -> float:
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(5))


def pin_environment(work: str, trace: bool) -> dict:
    """Run Spark on every CPU this process may use, keep every file it
    writes inside ``work``, and make the engine importable by the Python
    workers. Returns the environment part of the record."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {"spark.ui.enabled": "false", "spark.local.dir": os.path.join(work, "spark-local")}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": conf["spark.local.dir"],
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms4g'"]
            + [f"--conf {k}={v}" for k, v in conf.items()] + ["pyspark-shell"]
        ),
    })
    return {"nproc": nproc, **conf}


def descendants() -> list[int]:
    """Every process started under this one, at any depth."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus every descendant: the driver
    JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of everything started under it, so a
    Spark worker orphaned by the JVM's exit is re-parented here (and
    waited for by ``stop_processes``) instead of outliving the run."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap() -> None:
    """Wait for every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(timeout: float = 30.0) -> None:
    """Stop Spark, end its gateway JVM and every other process started
    under this one, and wait until each has ended."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception:  # noqa: BLE001 -- the JVM is ended below either way
                pass
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        reap()
        pids = descendants()
        if not pids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def latency_gm(ph) -> float:
    return statistics.geometric_mean(quantile(xs, 50) for xs in ph.samples.values() if xs)


def end_to_end(workload, ph, ctx, setup_s: float) -> tuple[dict, dict]:
    """The gated metrics, and in the record the workload's metrics under
    the names of the pipeline they measure.

    ``latency_p50_gm_s`` is the geometric mean, over the workload's kinds of
    operation, of each kind's median latency, so that kinds of very
    different cost weigh alike and the median never falls between them.
    A run's sample is too small for a tail above the median, so tails are
    reported in the record only, each with its percentile and sample count
    (value None when none is supported); so is peak RSS, which follows the
    JVM's heap growth more than the workload."""
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_gm_s": (latency_gm(ph), "s"),
        "throughput_per_s": (ph.work / ph.work_s, "1/s"),
    }
    named = {
        "setup_s": {"value": setup_s, "unit": "s"},
        **workload.named(ph),
        "failed_ratio": {"unit": "ratio"},  # filled in when the run ends
        "peak_rss_mb": {"value": peak_rss_mb(), "unit": "MB"},
    }
    samples = {k: [round(x, 4) for x in v] for k, v in ph.samples.items()}
    return metrics, {"latency_n": len(ph.latencies), "named": named, "samples": samples}


def per_layer(ctx, workload, tracer, streams, spark_by_window, ph, calib, start_s,
              overhead_pct) -> dict:
    from oracle import STAGING
    from tracing import dir_stats, manifest
    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import MANIFEST

    s = tracer
    merges = s.by_name("pk_table.merge")
    staging_merges = sum(1 for m in merges if m.attrs.get("table") in STAGING)
    stores = getattr(getattr(workload, "eng", None), "stores", {})
    live_files = live_bytes = manifest_bytes = 0

    for store in stores.values():
        files, size = dir_stats(os.path.join(store.path, d)
                                for d in manifest(store)["buckets"].values())
        live_files += files
        live_bytes += size
        manifest_bytes += os.path.getsize(os.path.join(store.path, MANIFEST))
    view = getattr(workload, "eng", None) and workload.eng.views.get("movie_revenue_realtime")
    affected = sum(r["n_affected"] for r in view.refresh_stats[s.refresh_mark:]) if view else 0
    ms = streams.ms
    spark_all = spark_by_window(None)
    m = {
        "sources.input_rows": (streams.input_rows, "count"),
        "sources.latest_offset_s": (ms["latestOffset"] / 1e3, "s"),
        "sources.get_batch_s": (ms["getBatch"] / 1e3, "s"),
        "streaming.batches": (streams.batches, "count"),
        "streaming.trigger_s": (ms["triggerExecution"] / 1e3, "s"),
        "streaming.add_batch_s": (ms["addBatch"] / 1e3, "s"),
        "streaming.query_planning_s": (ms["queryPlanning"] / 1e3, "s"),
        "streaming.wal_commit_s": (ms["walCommit"] / 1e3, "s"),
        "streaming.commit_offsets_s": (ms["commitOffsets"] / 1e3, "s"),
        "pk_table.merge_calls": (len(merges), "count"),
        "pk_table.merges_per_epoch": (staging_merges / ph.epochs if ph.epochs else 0.0, "ratio"),
        "pk_table.noop_merges": (sum(1 for x in merges if x.attrs.get("noop")), "count"),
        "pk_table.merge_s": (s.total("pk_table.merge"), "s"),
        "pk_table.merge_self_s": (s.self_time("pk_table.merge"), "s"),
        "pk_table.bytes_written": (s.merge_stats["bytes_written"], "bytes"),
        "pk_table.snapshot_s": (s.total("pk_table.snapshot"), "s"),
        "pk_table.lookup_s": (s.total("pk_table.lookup"), "s"),
        "pk_table.live_files": (live_files, "count"),
        "pk_table.live_bytes": (live_bytes, "bytes"),
        "pk_table.manifest_bytes": (manifest_bytes, "bytes"),
        "sql_frontend.execute_s": (s.total("sql_frontend.execute"), "s"),
        "sql_frontend.await_s": (s.total("sql_frontend.await"), "s"),
        "sql_frontend.await_self_s": (s.self_time("sql_frontend.await"), "s"),
        "sql_frontend.refresh_calls": (len(s.by_name("sql_frontend.refresh")), "count"),
        "sql_frontend.refresh_s": (s.total("sql_frontend.refresh"), "s"),
        "sql_frontend.refresh_self_s": (s.self_time("sql_frontend.refresh"), "s"),
        "sql_frontend.affected_keys": (affected, "count"),
        "sql_frontend.query_s": (s.total("sql_frontend.query"), "s"),
    }
    queries = getattr(workload, "QUERIES", {})
    for mod in PLAN_MODULES:
        q = queries.get(mod)
        ev = spark_by_window(q) if q else {}
        qs = s.query_stats.get(q, {})
        m.update({
            f"plans.{mod}.wall_s": (s.total(q) if q else 0.0, "s"),
            f"plans.{mod}.plan_s": (qs.get("plan_s", 0.0), "s"),
            f"plans.{mod}.compile_s": (qs.get("compile_s", 0.0), "s"),
            f"plans.{mod}.exec_cpu_s": (ev.get("executor_cpu_s", 0.0), "s"),
            f"plans.{mod}.shuffle_bytes": (ev.get("shuffle_write_bytes", 0.0), "bytes"),
            f"plans.{mod}.jobs": (ev.get("jobs", 0), "count"),
        })
    units = {"jobs": "count", "stages": "count", "tasks": "count"}
    for k in SPARK_STATS:
        unit = units.get(k, "s" if k.endswith("_s") else "bytes")
        m[f"spark.{k}"] = (spark_all.get(k, 0), unit)
    m["spark.jobs_per_epoch"] = (spark_all.get("jobs", 0) / ph.epochs if ph.epochs else 0.0,
                                 "ratio")
    m["session.start_s"] = (start_s, "s")
    m["session.calibration_s"] = (calib, "s")
    m["trace.overhead_pct"] = (overhead_pct, "%")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_main = time.perf_counter()
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda sig, _: sys.exit(128 + sig))
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work, t_main)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, t_main: float) -> int:
    calib = calibrate()
    env = pin_environment(work, bool(args.trace))
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)

    import pyspark

    from flink_cdc_fluss_quickstart_spark.session import get_spark
    from tracing import NullTracer, StreamingStats, Tracer, event_log_metrics
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        ctx = Ctx(spark, ROOT, work, args.seed, args.seconds)
        workload = WORKLOADS[args.workload]()
        workload.setup(ctx)
        setup_s = time.perf_counter() - t_main
        ph = workload.measure(ctx, NullTracer())
        metrics, stats = end_to_end(workload, ph, ctx, setup_s)
        if args.trace:
            tracer = Tracer()
            view = getattr(workload, "eng", None) and workload.eng.views.get(
                "movie_revenue_realtime")
            tracer.refresh_mark = len(view.refresh_stats) if view else 0
            streams = StreamingStats(spark)
            tracer.install()
            try:
                with tracer.window("traced"):
                    ph_t = workload.measure(ctx, tracer)
            finally:
                tracer.uninstall()
                streams.close()
            untraced_gm, traced_gm = metrics["latency_p50_gm_s"][0], latency_gm(ph_t)
            overhead = (traced_gm / untraced_gm - 1) * 100
            app_id = spark.sparkContext.applicationId
            spark.stop()  # finalizes the event log
            log_dir = env["spark.eventLog.dir"]

            def spark_by_window(name):
                wins = [(a, b) for n, a, b in tracer.windows
                        if (n == "traced" if name is None else n == name)]
                return event_log_metrics(log_dir, wins)

            metrics = per_layer(ctx, workload, tracer, streams, spark_by_window, ph_t,
                                calib, start_s, overhead)
            spans = os.path.join(os.path.dirname(work), f"{args.workload}.spans.json")
            tracer.dump(spans)
            stats.update(spans=os.path.relpath(spans, ROOT), traced_latency_n=len(ph_t.latencies), traced_ops=ph_t.ops,
                         traced_epochs=ph_t.epochs, app_id=app_id,
                         untraced_latency_p50_gm_s=untraced_gm,
                         traced_latency_p50_gm_s=traced_gm)
    finally:
        spark.stop()

    stats["named"]["failed_ratio"].update(
        value=ctx.failed / ctx.attempted, failed=ctx.failed, attempted=ctx.attempted)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "master": f"local[{env['nproc']}]", "nproc": env["nproc"],
        "shuffle_partitions": int(shuffle_partitions),
        "spark_version": pyspark.__version__, "session.calibration_s": calib,
        "ops": ph.ops, "epochs": ph.epochs, **stats,
    }
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
