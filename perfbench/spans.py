"""Spans around the engine's public functions, recorded from outside it.

A :class:`Tracer` replaces each traced function with a wrapper at the name
it is looked up under and restores the originals on exit.  Spans
``(name, start, end, parent)`` stay in memory; a span's parent is the span
open on the same thread when it started, and its self time is its duration
minus the part covered by its children.  Spark's own task counters come
from the event log of the traced run (:func:`spark_counters`).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from host import du


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    children: list = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        covered, last = 0.0, self.start
        for c in sorted(self.children, key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, self.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return self.seconds - covered

    def has_ancestor(self, *names: str) -> bool:
        p = self.parent
        while p is not None:
            if p.name in names:
                return True
            p = p.parent
        return False


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(name, time.time(), parent=parent, attrs=dict(attrs))
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(s)
                if parent is not None:
                    parent.children.append(s)

    # -- patching -------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Trace ``owner.attr`` (a module function, method or classmethod).
        ``on_result(span, args, kwargs, result)`` may add attributes."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, kwargs, result)
                return result

        wrapper.__wrapped__ = fn
        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._patches.append((owner, attr, raw))

    def __exit__(self, *exc):
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()
        return False


def _apply_result(span: Span, args, kwargs, result) -> None:
    span.attrs.update(
        events_in=result.events_in,
        events_applied=result.events_applied,
        cas_retries=result.cas_retries,
    )


def _compact_result(span: Span, args, kwargs, result) -> None:
    table = args[0]
    parts = table.meta["partitions"]
    span.attrs["bytes_rewritten"] = sum(
        du(os.path.join(table.root, parts[str(p)]["path"]))
        for p in result.partitions_rewritten
        if str(p) in parts
    )


def install(tracer: Tracer) -> None:
    """Wrap each layer's public functions where callers look them up:
    ``cdc.replay`` imported ``apply_changes_with_evolution`` by name, while
    ``apply_changes``, ``apply_changes_mor`` and ``batch_part_stats`` are
    resolved through the ``cdc.apply`` module at call time."""
    from data_pipeline_spark.cdc import apply as apply_mod
    from data_pipeline_spark.cdc import replay as replay_mod
    from data_pipeline_spark.table import matview as mv_mod
    from data_pipeline_spark.table.icehouse import IcehouseTable

    tracer.wrap(replay_mod.ReplayRunner, "run", "replay.run")
    tracer.wrap(replay_mod, "apply_changes_with_evolution", "replay.apply")
    tracer.wrap(replay_mod.Checkpoint, "write", "replay.checkpoint")
    tracer.wrap(apply_mod, "apply_changes", "apply.apply", _apply_result)
    tracer.wrap(apply_mod, "apply_changes_mor", "apply.apply", _apply_result)
    tracer.wrap(apply_mod, "batch_part_stats", "apply.part_stats")
    tracer.wrap(IcehouseTable, "epoch_committed", "icehouse.epoch_committed")
    tracer.wrap(IcehouseTable, "overwrite_partitions", "icehouse.write")
    tracer.wrap(IcehouseTable, "append_deltas", "icehouse.write")
    tracer.wrap(IcehouseTable, "compact_partitions", "icehouse.compact", _compact_result)
    tracer.wrap(IcehouseTable, "refresh", "icehouse.refresh")
    tracer.wrap(IcehouseTable, "load", "icehouse.refresh")
    for attr in ("read", "read_for_keys", "read_changed_since"):
        tracer.wrap(IcehouseTable, attr, "icehouse.read_plan")
    tracer.wrap(mv_mod, "refresh_matview", "matview.refresh")


# -- Spark event log --------------------------------------------------------


def spark_counters(event_dir: str) -> dict:
    """Jobs and stages from the Spark event log under ``event_dir``:
    ``jobs`` holds each job's submission time (s); ``stages`` holds each
    stage's submission time and its tasks' run time, shuffle bytes read and
    written, and bytes spilled to disk."""
    jobs, stages, tasks = [], {}, {}
    paths = [p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = {
                        "submit": info.get("Submission Time", 0) / 1000.0,
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    tasks.setdefault(key, []).append(
                        {
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "shuffle_read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                            "shuffle_write": wr.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Disk Bytes Spilled", 0),
                        }
                    )
    for key, st in stages.items():
        st["tasks"] = tasks.get(key, [])
    return {"jobs": jobs, "stages": list(stages.values())}


def _within(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(lo <= t <= hi for lo, hi in windows)


def spark_layer(counters: dict, ingest: list[tuple[float, float]], reads: list[tuple[float, float]],
                epochs: int, events: int, n_reads: int, cores: int) -> dict[str, float]:
    """Per-epoch and per-read Spark figures, attributing jobs and stages
    to the benchmark's ingest and read windows by submission time."""
    jobs_ingest = sum(1 for t in counters["jobs"] if _within(t, ingest))
    jobs_read = sum(1 for t in counters["jobs"] if _within(t, reads))
    st_ingest = [s for s in counters["stages"] if _within(s["submit"], ingest)]
    tasks = [t for s in st_ingest for t in s["tasks"]]
    busy = sum(t["run_s"] for t in tasks)
    wall = sum(hi - lo for lo, hi in ingest)
    # the LWW reduce: per epoch window, the shuffle-reading stage with the
    # most task time
    skews = []
    for lo, hi in ingest:
        cand = [
            s for s in st_ingest
            if lo <= s["submit"] <= hi and len(s["tasks"]) > 1
            and any(t["shuffle_read"] for t in s["tasks"])
        ]
        if cand:
            top = max(cand, key=lambda s: sum(t["run_s"] for t in s["tasks"]))
            runs = [t["run_s"] for t in top["tasks"]]
            med = statistics.median(runs)
            if med > 0:
                skews.append(max(runs) / med)
    return {
        "spark.jobs_per_epoch": jobs_ingest / max(epochs, 1),
        "spark.stages_per_epoch": len(st_ingest) / max(epochs, 1),
        "spark.jobs_per_read": jobs_read / max(n_reads, 1),
        "spark.shuffle_write_bytes_per_event": sum(t["shuffle_write"] for t in tasks) / max(events, 1),
        "spark.spill_bytes": float(sum(t["spill"] for t in tasks)),
        "spark.task_skew": statistics.median(skews) if skews else 0.0,
        "spark.executor_busy_ratio": busy / (wall * cores) if wall else 0.0,
    }


def jvm_gc_seconds(spark) -> float:
    """Cumulative GC time of the (single, local-mode) JVM."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0
