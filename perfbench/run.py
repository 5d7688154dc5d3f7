"""CDC ingest benchmark: a bulk copy-on-write replay and a small-epoch
merge-on-read tail, each ending in a read burst, driven through the engine's
public API from outside the package.

Usage (from the repository root):

    python3 perfbench/run.py --workload bulk_replay_cow --seed 1 --seconds 21 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1``
the per-layer ones, taken from spans around each layer's public functions and
from Spark's event log.  The line before it is a detail record (seed, host,
load average, sample counts, errors).

Inputs are made from ``--seed``; each run works in ``.perfbench/work/<run>``
and removes it when done.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

sys.path.insert(0, HERE)

import host  # noqa: E402
import spans as tracing  # noqa: E402
import workloads as wl  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "ingest_events_per_s": "events/s",
    "freshness_s.p50": "s",
    "lookup_s.p50": "s",
    "scan_s.p50": "s",
    "feed_s.p50": "s",
    "stored_bytes_per_live_byte": "ratio",
    "driver_peak_rss_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.SPECS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str, heap: int) -> None:
    """Keep Spark's and the JVM's scratch files inside ``work`` and commit
    the whole driver heap at start, so the process tree's peak RSS does not
    depend on when the collector chose to grow the heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # overrides spark.local.dir, so a caller's value would otherwise win
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the engine appends this to its JVM flags; fixed here so that the
    # caller's environment cannot change the measured configuration
    os.environ["SPARK_GRAFT_GC_OPTS"] = f"-Djava.io.tmpdir={tmp} -Xms{heap}g -XX:+AlwaysPreTouch"
    for k in ("SPARK_GRAFT_GC", "SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(k, None)
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def execute(args, spec: wl.Spec, work: str, heap: int, tracer) -> dict:
    from data_pipeline_spark.cdc.replay import ReplayRunner
    from data_pipeline_spark.session import get_spark
    from data_pipeline_spark.table.matview import create_matview

    n_cores = host.cores()
    master, shuffle, conf = host.spark_conf(work, n_cores, heap)
    events_dir = os.path.join(work, "events")
    if tracer.enabled:
        os.makedirs(events_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{events_dir}",
                     "spark.eventLog.compress": "false"})
    out: dict = {"cores": n_cores, "master": master, "load_start": host.loadavg(),
                 "ticks_start": host.cpu_ticks()}
    t = time.time()
    inputs = wl.make_inputs(spec, args.seed, work, args.seconds)
    out["input_s"] = time.time() - t
    t = time.time()
    spark = get_spark(f"perfbench-{spec.name}", master=master, shuffle_partitions=shuffle, extra_conf=conf)
    out["session_s"] = time.time() - t
    try:
        t = time.time()
        table = wl.start_table(spark, inputs, os.path.join(work, "table"))
        build_s = time.time() - t
        runner = ReplayRunner(table, os.path.join(work, "ckpt.json"), mode=spec.mode,
                              compact_ratio=spec.compact_ratio)
        run = wl.Run(spark, spec, args.seed, inputs, table, runner, work, tracer)
        view_s = 0.0
        if spec.matview:
            t = time.time()
            run.mv = create_matview(spark, os.path.join(work, "mv"), table, ["source"], "n_tok")
            view_s = time.time() - t
        warm_s = 0.0
        if spec.warm_sizes:
            t = time.time()
            for _ in range(spec.warm_cycles):
                run.cycle(time.time(), run.next_epochs())
            if spec.cycle_reads:
                run.read_block(spec.cycle_reads)
            warm_s = time.time() - t
            run.reset()
        out["setup_parts"] = {"session_s": out["session_s"], "build_s": build_s, "view_s": view_s,
                              "warm_s": warm_s}
        out["setup_s"] = out["session_s"] + build_s + view_s + warm_s

        data_dir, meta_dir = os.path.join(table.root, "data"), os.path.join(table.root, "metadata")
        before = {"data": host.du(data_dir), "meta": host.du(meta_dir), "version": table.version,
                  "gc": tracing.jvm_gc_seconds(spark)}
        with tracer:
            if tracer.enabled:
                tracing.install(tracer)
            out["wall_s"] = run.measure(args.seconds)
            t = time.time()
            run.read_block(spec.reads)
            out["burst_s"] = time.time() - t
            out["gc_s"] = tracing.jvm_gc_seconds(spark) - before["gc"]
            out["resume_s"] = run.resume_probe()
        out["data_written"] = host.du(data_dir) - before["data"]
        out["meta_bytes"] = host.du(meta_dir)
        out["meta_growth"] = (out["meta_bytes"] - before["meta"]) / max(table.version - before["version"], 1)
        t = time.time()
        live_bytes = run.verify()
        out["verify_s"] = time.time() - t
        out["stored_ratio"] = wl.snapshot_bytes(table) / live_bytes if live_bytes else 0.0
        out["run"] = run
        first = inputs.run_log.first_epoch + len(spec.warm_sizes)
        out["epoch_keys"] = sum(inputs.run_log.record(e)["keys"] for e in range(first, run.last_epoch + 1))
    finally:
        stop_spark(spark)
    out["load_end"] = host.loadavg()
    (busy0, stolen0), (busy1, stolen1) = out["ticks_start"], host.cpu_ticks()
    out["steal_share"] = (stolen1 - stolen0) / max(busy1 - busy0 + stolen1 - stolen0, 1)
    if tracer.enabled:
        out["spark"] = tracing.spark_counters(events_dir)
    return out


def end_to_end(out: dict, peak_rss: int) -> dict[str, float]:
    run = out["run"]
    return {
        "setup_s": out["setup_s"],
        "ingest_events_per_s": run.events / sum(run.ingest_s) if run.ingest_s else 0.0,
        "freshness_s.p50": wl.median(run.samples["freshness"]),
        "lookup_s.p50": wl.median(run.samples["lookup"]),
        "scan_s.p50": wl.median(run.samples["scan"]),
        "feed_s.p50": wl.median(run.samples["feed"]),
        "stored_bytes_per_live_byte": out["stored_ratio"],
        "driver_peak_rss_mb": peak_rss / float(1 << 20),
    }


def per_layer(out: dict, tracer: tracing.Tracer, workload: str) -> dict[str, tuple[float, str]]:
    run = out["run"]
    epochs = max(run.epochs_done, 1)
    spans = [s for s in tracer.spans if not s.has_ancestor("bench.resume") and s.name != "bench.resume"]

    def total(name: str, *, under: tuple = (), not_under: tuple = ()) -> float:
        return sum(
            s.seconds for s in spans
            if s.name == name and (not under or s.has_ancestor(*under))
            and not s.has_ancestor(*not_under)
        )

    applies = [s for s in spans if s.name == "apply.apply"]
    events_in = sum(s.attrs.get("events_in", 0) for s in applies)
    reads = run.read_info
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (out["session_s"], "s"),
        "replay.fence_s": ((total("icehouse.epoch_committed", under=("replay.run",))
                            + total("replay.checkpoint")) / epochs, "s/epoch"),
        "replay.resume_s": (out["resume_s"], "s"),
        "apply.part_stats_s": (total("apply.part_stats", not_under=("matview.refresh",)) / epochs,
                               "s/epoch"),
        "apply.self_s": (sum(s.self_seconds for s in applies) / epochs, "s/epoch"),
        "apply.events_in": (events_in / epochs, "events/epoch"),
        "apply.events_applied": (sum(s.attrs.get("events_applied", 0) for s in applies) / epochs,
                                 "events/epoch"),
        "apply.reduce_ratio": (out["epoch_keys"] / events_in if events_in else 0.0, "ratio"),
        "apply.cas_retries": (float(sum(s.attrs.get("cas_retries", 0) for s in applies)), "count"),
        "icehouse.write_s": (total("icehouse.write", under=("apply.apply",)) / epochs, "s/epoch"),
        "icehouse.refresh_s": (total("icehouse.refresh", not_under=("icehouse.refresh",)) / epochs,
                               "s/epoch"),
        "icehouse.meta_bytes": (float(out["meta_bytes"]), "bytes"),
        "icehouse.meta_growth_per_commit": (out["meta_growth"], "bytes"),
        "icehouse.compact_s": (total("icehouse.compact", not_under=("matview.refresh",)) / epochs,
                               "s/epoch"),
        "icehouse.compact_bytes_rewritten": (
            sum(s.attrs.get("bytes_rewritten", 0) for s in spans
                if s.name == "icehouse.compact" and not s.has_ancestor("matview.refresh")) / epochs,
            "bytes/epoch"),
        "icehouse.delta_files_pending": (wl.mean([r["pending"] for r in reads]), "files"),
        "icehouse.read_plan_s": (wl.mean([r["plan_s"] for r in reads]), "s/read"),
        "icehouse.read_exec_s": (wl.mean([r["exec_s"] for r in reads]), "s/read"),
        "icehouse.bytes_written_per_event": (out["data_written"] / max(run.events, 1), "bytes/event"),
        "matview.refresh_s": (wl.mean([s.seconds for s in spans if s.name == "matview.refresh"]), "s"),
        "spark.gc_s": (out["gc_s"], "s"),
        "bench.generator_lag_s": (max(run.lags, default=0.0), "s"),
        "bench.input_s": (out["input_s"], "s"),
        "bench.tracing_overhead_s": (tracing_overhead(run, workload), "s/cycle"),
    }
    for kind in ("lookup", "scan", "feed"):
        rs = [r for r in reads if r["kind"] == kind]
        m[f"icehouse.files_scanned.{kind}"] = (wl.mean([r["files"] for r in rs]), "files/read")
        m[f"icehouse.file_skip_ratio.{kind}"] = (
            wl.mean([1 - r["files"] / r["total_files"] for r in rs if r["total_files"]]), "ratio")
    spark = tracing.spark_layer(
        out["spark"], run.ingest_windows, run.read_windows, run.epochs_done, run.events,
        len(run.read_windows), host.task_threads(out["cores"]),
    )
    units = {"spark.jobs_per_epoch": "jobs/epoch", "spark.stages_per_epoch": "stages/epoch",
             "spark.jobs_per_read": "jobs/read", "spark.shuffle_write_bytes_per_event": "bytes/event",
             "spark.spill_bytes": "bytes", "spark.task_skew": "ratio", "spark.executor_busy_ratio": "ratio"}
    m.update({k: (v, units[k]) for k, v in spark.items()})
    return m


def _history(workload: str) -> str:
    return os.path.join(STATE, "history", f"{workload}.json")


def record_untraced(run: wl.Run, workload: str) -> None:
    path = _history(workload)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    hist = []
    if os.path.exists(path):
        with open(path) as fh:
            hist = json.load(fh)
    hist = (hist + [wl.median(run.cycle_s)])[-50:]
    with open(path, "w") as fh:
        json.dump(hist, fh)


def tracing_overhead(run: wl.Run, workload: str) -> float:
    """Median traced cycle time minus the median of the untraced runs'
    median cycle times recorded in this checkout (0 before any)."""
    path = _history(workload)
    if not os.path.exists(path):
        return 0.0
    with open(path) as fh:
        hist = json.load(fh)
    return wl.median(run.cycle_s) - wl.median(hist) if hist else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_pipeline_spark")):
        print(f"perfbench: no data_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = wl.SPECS[args.workload]
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    heap = host.heap_gib()
    isolate(work, heap)
    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    try:
        with host.PeakRss() as rss:
            out = execute(args, spec, work, heap, tracer)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    run = out["run"]
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer(out, tracer, args.workload).items()}
    else:
        record_untraced(run, args.workload)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(out, rss.peak).items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": out["cores"],
        "master": out["master"], "load_start": out["load_start"], "load_end": out["load_end"],
        "steal_share": out["steal_share"],
        "wall_s": out["wall_s"], "setup": out["setup_parts"], "input_s": out["input_s"],
        "burst_s": out["burst_s"], "resume_s": out["resume_s"], "verify_s": out["verify_s"],
        "epochs": run.epochs_done, "events": run.events, "cycles": len(run.cycle_s),
        "samples": {k: len(v) for k, v in run.samples.items()},
        "cycle_s": run.cycle_s, "ingest_s": run.ingest_s, "freshness_s": run.samples["freshness"],
        "read_s": {k: run.samples[k] for k in ("lookup", "scan", "feed", "poll")},
        "ops_failed_ratio": run.failed / max(run.ops, 1), "errors": run.errors,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.ops, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
