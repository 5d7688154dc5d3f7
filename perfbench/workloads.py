"""The workloads and the cycle loop they share.

Both workloads drive the same pipeline at two operating points.  Each cycle
commits change-log epochs through ``ReplayRunner`` and polls the
changed-since feed from the previous cycle's high-water LSN.  A reader
issues rounds of point lookups, stats-filtered range scans and feeds:

- ``bulk_replay_cow``: closed loop, large copy-on-write epochs from an
  empty table (a backfill), two read rounds after each cycle.  Its reads
  hit clean buckets only.  The first two cycles and one read round are
  its warm-up and belong to set-up.
- ``tail_mor_small``: open loop, one small merge-on-read epoch due every
  ``interval_s`` on a table that already holds data, ratio compaction, and
  one ``refresh_matview`` of a by-``source`` view per epoch.  A burst of
  read rounds follows the timed cycles; its reads resolve pending deltas at
  read time.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass

import numpy as np

import host
import loggen
from oracle import Oracle, feed_signature, live_signature, row_set

N_BUCKETS = 8
TABLE_PROPS = {
    "write.stats-columns": "source,doc_id",
    "write.sort-order": "source",
    "write.max-file-rows": "2000",
}
SOURCES = [f"src{i}" for i in range(loggen.N_SOURCES)]
LOOKUP_KEYS = 4

# the table the tail starts from: BASE_EPOCHS copy-on-write epochs over
# BASE_DOCS keys
BASE_DOCS = 15_000
BASE_EPOCHS = [30_000]


READ_ROUND = ("lookup", "scan", "feed", "lookup", "scan", "feed")


@dataclass(frozen=True)
class Spec:
    name: str
    mode: str
    epoch_events: int
    epochs_per_cycle: int
    n_docs: int
    start: str  # "empty" | "base"
    interval_s: float | None = None  # open loop when set
    compact_ratio: float | None = None
    matview: bool = False
    # the read burst after the cycles, in this interleaved order
    reads: tuple[str, ...] = ()
    # reads after each closed-loop cycle, so that the samples spread over
    # the whole run instead of one burst at its end
    cycle_reads: tuple[str, ...] = ()
    # sizes of the warm-up cycles' epochs
    warm_sizes: tuple[int, ...] = ()
    # closed loop: a cycle's time, reads included, on a quiet 4-core host
    cycle_s: float = 6.0

    @property
    def warm_cycles(self) -> int:
        return len(self.warm_sizes) // self.epochs_per_cycle

    def cycles_for(self, seconds: float) -> int:
        """Timed cycles in a run of ``seconds``: the epochs due before
        ``seconds`` in the open loop.  A closed loop runs as many cycles as
        fit in ``seconds`` at ``cycle_s`` each, whatever the host's speed:
        the cycles keep getting faster as the JIT warms up, so a run cut at
        a deadline would drop its fastest cycles exactly when the host is
        slow, and widen the spread between runs."""
        return max(1, math.ceil(seconds / (self.interval_s or self.cycle_s)))

    def epochs_for(self, seconds: float) -> int:
        """Epochs in a run's log: the warm-up cycles' and the timed cycles'."""
        return (self.warm_cycles + self.cycles_for(seconds)) * self.epochs_per_cycle


SPECS = {
    "bulk_replay_cow": Spec(
        "bulk_replay_cow", "cow", epoch_events=200_000, epochs_per_cycle=1,
        n_docs=60_000, start="empty", warm_sizes=(2_000, 200_000),
        cycle_reads=READ_ROUND * 2,
    ),
    "tail_mor_small": Spec(
        "tail_mor_small", "mor", epoch_events=1_000, epochs_per_cycle=1,
        n_docs=BASE_DOCS, start="base", interval_s=10.0, compact_ratio=0.05,
        matview=True, reads=READ_ROUND * 6,
    ),
}


def table_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
            T.StructField("n_tok", T.IntegerType(), True),
            T.StructField("source", T.StringType(), True),
        ]
    )


# -- inputs -------------------------------------------------------------------


class LogSource:
    """A seeded change log written under ``root`` on demand; ``records``
    hold each epoch's LSN range, events and distinct keys.  The first
    ``len(lead_sizes)`` epochs take their sizes from ``lead_sizes``."""

    def __init__(self, root: str, seed: int, n_docs: int, epoch_events: int,
                 first_epoch: int = 0, first_lsn: int = 0,
                 lead_sizes: tuple[int, ...] = ()):
        self.root, self.seed, self.n_docs = root, seed, n_docs
        self.epoch_events, self.lead_sizes = epoch_events, lead_sizes
        self.first_epoch, self.first_lsn = first_epoch, first_lsn
        self.records: list[dict] = []

    def ensure(self, n_epochs: int) -> None:
        """Make sure the first ``n_epochs`` epochs exist; the k-th epoch's
        content depends only on the seed and k."""
        while len(self.records) < n_epochs:
            k = len(self.records)
            nxt = self.records[-1]["lsn_hi"] + 1 if self.records else self.first_lsn
            size = self.lead_sizes[k] if k < len(self.lead_sizes) else self.epoch_events
            self.records += loggen.write_epochs(
                self.root, self.seed, self.n_docs, [size],
                first_epoch=self.first_epoch + k, first_lsn=nxt,
            )

    def record(self, epoch: int) -> dict:
        return self.records[epoch - self.first_epoch]


@dataclass
class Inputs:
    sources: list  # LogSource per log root, oldest first; the last one is the run's
    start_epochs: list[int]  # epochs the starting table is built from

    @property
    def run_log(self) -> LogSource:
        return self.sources[-1]

    def lsn_hi(self, epoch: int) -> int:
        for src in reversed(self.sources):
            if epoch >= src.first_epoch:
                return src.record(epoch)["lsn_hi"]
        return -1


def make_inputs(spec: Spec, seed: int, work: str, seconds: float) -> Inputs:
    """Write the seed's change logs under ``work``: the starting table's
    epochs, if any, and the run's own ``spec.epochs_for(seconds)``."""
    sources, start_epochs, first_epoch, first_lsn = [], [], 0, 0
    if spec.start == "base":
        base = LogSource(os.path.join(work, "base-log"), seed, BASE_DOCS, BASE_EPOCHS[-1],
                         lead_sizes=tuple(BASE_EPOCHS))
        base.ensure(len(BASE_EPOCHS))
        sources.append(base)
        start_epochs = [r["epoch"] for r in base.records]
        first_epoch, first_lsn = start_epochs[-1] + 1, base.records[-1]["lsn_hi"] + 1
    run_log = LogSource(os.path.join(work, "run-log"), seed, spec.n_docs, spec.epoch_events,
                        first_epoch=first_epoch, first_lsn=first_lsn, lead_sizes=spec.warm_sizes)
    run_log.ensure(spec.epochs_for(seconds))
    return Inputs(sources + [run_log], start_epochs)


def _new_table(root: str):
    from data_pipeline_spark.table.icehouse import IcehouseTable

    return IcehouseTable.create(root, table_schema(), key_col="doc_id", n_buckets=N_BUCKETS,
                                properties=dict(TABLE_PROPS))


def read_log(spark, *roots: str):
    from data_pipeline_spark.cdc.changelog import read_change_log

    dfs = [read_change_log(spark, r) for r in roots]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def start_table(spark, inputs: Inputs, root: str):
    """The run's starting table at ``root``: empty, or the starting epochs
    replayed copy-on-write."""
    from data_pipeline_spark.cdc.replay import ReplayRunner

    table = _new_table(root)
    if inputs.start_epochs:
        ReplayRunner(table, root + ".ckpt.json", mode="cow").run(
            read_log(spark, inputs.sources[0].root), epochs=inputs.start_epochs)
    return table


# -- table accounting ---------------------------------------------------------


def live_dirs(table) -> list[str]:
    """Directories holding the current snapshot's base and delta files."""
    out = [os.path.join(table.root, e["path"]) for e in table.meta["partitions"].values()]
    out += [os.path.join(table.root, d["path"]) for ds in table.meta.get("deltas", {}).values() for d in ds]
    return out


def snapshot_bytes(table) -> int:
    """Bytes of the current snapshot's data files plus the metadata."""
    return sum(host.du(p) for p in live_dirs(table)) + host.du(os.path.join(table.root, "metadata"))


def snapshot_files(table) -> int:
    return sum(host.count_parquet(p) for p in live_dirs(table))


def pending_delta_files(table) -> int:
    return sum(len(ds) for ds in table.meta.get("deltas", {}).values())


# -- the run ------------------------------------------------------------------


class Run:
    """One workload run: the cycle loop plus the checks after it.

    A cycle commits ``epochs_per_cycle`` epochs, polls the changed-since
    feed from the previous cycle's high-water LSN and refreshes the view
    when the workload has one.  An epoch's freshness runs from its due time
    to the end of the cycle."""

    def __init__(self, spark, spec: Spec, seed: int, inputs: Inputs, table, runner, work: str,
                 tracer):
        self.spark, self.spec, self.inputs = spark, spec, inputs
        self.table, self.runner, self.work, self.tracer = table, runner, work, tracer
        self.log = read_log(spark, *[s.root for s in inputs.sources])
        self.rng = np.random.default_rng([seed, 7])
        # scans take the sources in turn from a seeded start, so every run
        # scans each source about equally often
        self.scans = int(self.rng.integers(0, len(SOURCES)))
        self.next_epoch = inputs.run_log.first_epoch
        self.last_epoch = inputs.start_epochs[-1] if inputs.start_epochs else -1
        self.watermark = inputs.lsn_hi(self.last_epoch)
        self.mv = None
        self.reads_warm = False
        self.ops = 0
        self.failed = 0
        self.errors: list[str] = []
        self.reset()

    def reset(self) -> None:
        """Forget the samples taken so far (the warm-up cycles')."""
        self.samples: dict[str, list[float]] = {
            k: [] for k in ("lookup", "scan", "feed", "poll", "freshness")
        }
        self.ingest_s: list[float] = []
        self.events = 0
        self.epochs_done = 0
        self.lags: list[float] = []
        self.cycle_s: list[float] = []
        self.ingest_windows: list[tuple[float, float]] = []
        self.read_windows: list[tuple[float, float]] = []
        self.read_info: list[dict] = []
        self.last_reads: dict[str, dict] = {}

    def _op(self, fn, *args):
        self.ops += 1
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 -- a failed op is counted, reported, and the run goes on
            self.failed += 1
            self.errors.append(f"{getattr(fn, '__name__', fn)}: {type(exc).__name__}: {exc}"[:500])
            return None

    # -- operations -------------------------------------------------------------

    def ingest(self, epochs: list[int]) -> list[int]:
        t0 = time.time()
        with self.tracer.span("bench.ingest"):
            report = self.runner.run(self.log, epochs=epochs)
        t1 = time.time()
        self.ingest_windows.append((t0, t1))
        if [e.epoch for e in report.epochs if not e.skipped] != epochs:
            raise RuntimeError(f"epochs {epochs} not all applied: {report.epochs}")
        self.ingest_s.append(t1 - t0)
        self.events += sum(e.events for e in report.epochs)
        self.epochs_done += len(epochs)
        self.last_epoch = epochs[-1]
        return epochs

    def _read(self, kind: str, make_df, action, params: dict, sample: str | None = None):
        info = {"kind": kind, "pending": pending_delta_files(self.table)}
        t0 = time.time()
        with self.tracer.span("bench.read", kind=kind):
            df = make_df()
            t1 = time.time()
            with self.tracer.span("bench.read_exec"):
                out = action(df)
        t2 = time.time()
        self.read_windows.append((t0, t2))
        self.samples[sample or kind].append(t2 - t0)
        if self.tracer.enabled:
            info.update(plan_s=t1 - t0, exec_s=t2 - t1, files=len(df.inputFiles()),
                        total_files=snapshot_files(self.table))
            self.read_info.append(info)
        self.last_reads[kind] = {"params": params, "result": out, "epoch": self.last_epoch}
        return out

    def lookup(self):
        n_hot = max(self.spec.n_docs // 100, 1)
        nums = [int(self.rng.integers(0, n_hot)) for _ in range(LOOKUP_KEYS // 2)]
        nums += [int(self.rng.integers(0, self.spec.n_docs)) for _ in range(LOOKUP_KEYS - len(nums))]
        keys = sorted({f"doc_{i:08d}" for i in nums})
        return self._read("lookup", lambda: self.table.read_for_keys(self.spark, keys),
                          lambda df: row_set(df.collect()), {"keys": keys})

    def scan(self):
        src = SOURCES[self.scans % len(SOURCES)]
        self.scans += 1
        return self._read("scan", lambda: self.table.read(self.spark, stats_filters={"source": (src, src)}),
                          live_signature, {"lo": src, "hi": src})

    def feed(self, watermark: int, sample: str = "feed"):
        return self._read("feed", lambda: self.table.read_changed_since(self.spark, watermark),
                          feed_signature, {"watermark": watermark}, sample)

    def refresh_view(self):
        from data_pipeline_spark.table import matview

        with self.tracer.span("bench.matview"):
            return matview.refresh_matview(self.spark, self.mv)

    # -- loop --------------------------------------------------------------------

    def next_epochs(self) -> list[int]:
        return list(range(self.next_epoch, self.next_epoch + self.spec.epochs_per_cycle))

    def cycle(self, due: float, epochs: list[int]) -> bool:
        spec = self.spec
        began = time.time()
        self.lags.append(began - due)
        self.next_epoch = epochs[-1] + 1
        if self._op(self.ingest, epochs) is None:
            return False
        self._op(self.feed, self.watermark, "poll")
        self.watermark = self.inputs.lsn_hi(self.last_epoch)
        if self.mv is not None:
            self._op(self.refresh_view)
        self.samples["freshness"] += [time.time() - due] * len(epochs)
        self.cycle_s.append(time.time() - began)
        return True

    def read_round(self, kinds: tuple[str, ...]) -> None:
        """Lookups, scans and feeds (from two epochs back) in the given
        order.  The run's first round warms the read paths up: it is checked
        like any other but not sampled."""
        marks = {k: len(v) for k, v in self.samples.items()}
        n_windows, n_info = len(self.read_windows), len(self.read_info)
        for kind in kinds:
            if kind == "lookup":
                self._op(self.lookup)
            elif kind == "scan":
                self._op(self.scan)
            else:
                self._op(self.feed, self.inputs.lsn_hi(self.last_epoch - 2))
        if not self.reads_warm:
            self.reads_warm = True
            for k, n in marks.items():
                del self.samples[k][n:]
            del self.read_windows[n_windows:]
            del self.read_info[n_info:]

    def read_block(self, kinds: tuple[str, ...]) -> None:
        """``kinds`` in rounds of ``len(READ_ROUND)``, which interleave the
        kinds so that a passing slowdown does not land on one kind only.  A
        full JVM collection first, so that the garbage of the cycles before
        does not land in the reads."""
        self.spark.sparkContext._jvm.java.lang.System.gc()
        n = len(READ_ROUND)
        for i in range(0, len(kinds), n):
            self.read_round(kinds[i:i + n])

    def measure(self, seconds: float) -> float:
        """Run the timed cycles of a run of ``seconds``: closed loops start
        the next cycle as soon as one ends, the open loop starts epoch k at
        ``k * interval_s`` (late if the previous cycle overran).  Returns
        the wall time."""
        start = time.time()
        for k in range(self.spec.cycles_for(seconds)):
            epochs = self.next_epochs()
            if self.spec.interval_s is None:
                due = time.time()
            else:
                due = start + k * self.spec.interval_s
                time.sleep(max(0.0, due - time.time()))
            if not self.cycle(due, epochs):
                break
            if self.spec.cycle_reads:
                self.read_block(self.spec.cycle_reads)
        return time.time() - start

    # -- checks after the timed window -------------------------------------------

    def verify(self) -> int:
        """Final state, the last read of each kind and the view against the
        oracle; every mismatch is a failed op.  Returns the live bytes."""
        oracle = Oracle(self.spark, self.log)
        try:
            want = oracle.final(self.last_epoch)
            got = live_signature(self.table.read(self.spark))
            self._check("final_state", got == want, got, want)
            for kind, rec in self.last_reads.items():
                ep, p = rec["epoch"], rec["params"]
                if kind == "lookup":
                    expect = oracle.lookup(ep, p["keys"])
                elif kind == "scan":
                    expect = oracle.scan(ep, p["lo"], p["hi"])
                else:
                    expect = oracle.feed(ep, p["watermark"])
                self._check(f"read_{kind}", rec["result"] == expect, rec["result"], expect)
            if self.mv is not None:
                self._check_view(oracle)
            return want[2]
        finally:
            oracle.close()

    def _check(self, what: str, ok: bool, got, want) -> None:
        self.ops += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"oracle mismatch in {what}: got {str(got)[:200]} want {str(want)[:200]}")

    def _check_view(self, oracle: Oracle) -> None:
        from pyspark.sql import functions as F

        from data_pipeline_spark.table.matview import read_matview

        got = {r["source"]: (r["n_rows"], r["n_vals"])
               for r in read_matview(self.spark, self.mv).collect() if r["n_rows"]}
        rows = (
            oracle.latest(self.last_epoch).where(~F.col("deleted")).groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"), F.count("n_tok").alias("v")).collect()
        )
        want = {r["source"]: (r["n"], r["v"]) for r in rows}
        self._check("matview", got == want, got, want)

    def resume_probe(self) -> float:
        """A new ReplayRunner with a fresh checkpoint over the whole log:
        every epoch must report ``skipped`` and the table version must not
        move.  Returns its wall time."""
        from data_pipeline_spark.cdc.replay import ReplayRunner

        epochs = self.inputs.start_epochs + list(range(self.inputs.run_log.first_epoch, self.last_epoch + 1))
        before = self.table.version
        t0 = time.time()
        with self.tracer.span("bench.resume"):
            report = ReplayRunner(self.table, os.path.join(self.work, "resume-ckpt.json"),
                                  mode=self.spec.mode).run(self.log, epochs=epochs)
        dt = time.time() - t0
        skipped = [e.skipped for e in report.epochs]
        self._check("resume", all(skipped) and len(skipped) == len(epochs) and self.table.version == before,
                    skipped, "every epoch skipped")
        return dt


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0
