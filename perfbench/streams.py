"""The stream workload: a closed-loop drain of the OWID-shaped replay.

Each epoch is one JSON-lines file.  The loop moves the next file into the
source directory only after every query of the pipeline has committed the
previous one (``processAllAvailable``), so the engine is never offered
more than it can take and a slower engine simply completes fewer epochs
in the timed region.  The queries run with a zero processing-time
trigger: the 30-s trigger wait of the reference is configuration, not
engine work.

The pipeline runs in ``streaming`` mode (watermarked dedup plus the two
stateful window rollups, so three queries) into ``IdempotentParquetSink``,
with the hotspot table routed to an append ``FileSink`` so both sink
kinds are on the measured path.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import math
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import NamedTuple

from perfbench import common, owid

#: The shares are path-coverage choices (see ``owid``): each sends some
#: rows down one path of the pipeline -- dedup, PERMISSIVE parse, the two
#: cast outcomes, the three hotspot branches, a state update of a still-open
#: window and a drop by the watermark.
TRAFFIC = owid.Traffic(
    rows_per_epoch=20_000,
    epochs=0,
    locations=250,
    dates_per_location=1200,
    dup_share=0.02,
    malformed_share=0.005,
    sentinel_share=0.03,
    uncastable_share=0.01,
    hotspot_share=0.05,
    ooo_share=0.05,
    late_share=0.01,
)
#: The first epoch pays JIT and state-store set-up (about three times a
#: warm epoch); it is set-up, not measurement.
WARMUP_EPOCHS = 1
#: The timed region runs at least this many epochs, however long.
MIN_TIMED_EPOCHS = 3
#: Lower bound on one epoch's wall time, used only to size the backlog.
MIN_EPOCH_S = 2.5
#: Epochs of the single-threaded baseline drain (the first is warm-up).
LOCAL1_EPOCHS = 2

PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"]
REALTIME, PREDICTIONS, CONTINENT, HOTSPOTS, WINDOWED = (
    "covid_realtime_stats",
    "covid_predictions",
    "continent_covid_stats",
    "covid_hotspots",
    "windowed_covid_stats",
)
TABLES = [REALTIME, PREDICTIONS, CONTINENT, HOTSPOTS, WINDOWED]
#: Tables the fan-out query writes; the other two come from the rollups.
FANOUT_TABLES = [REALTIME, PREDICTIONS, HOTSPOTS]


class Write(NamedTuple):
    table: str
    epoch_id: int
    seconds: float
    jobs: int


class TracingSink:
    """A ``Sink`` that times each write and labels its jobs with a job
    group, so jobs per write come from Spark's status tracker."""

    def __init__(self, inner, sc, writes: list[Write]) -> None:
        self.inner = inner
        self.sc = sc
        self.on = False
        self.writes = writes

    def write(self, df, epoch_id: int, table: str) -> None:
        if not self.on:
            self.inner.write(df, epoch_id, table)
            return
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        group = f"perfbench-sink-{uuid.uuid4().hex}"
        self.sc.setJobGroup(group, f"{table} epoch {epoch_id}")
        t0 = time.perf_counter()
        try:
            self.inner.write(df, epoch_id, table)
        finally:
            elapsed = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
        self.writes.append(Write(table, epoch_id, elapsed, common.jobs_in_group(self.sc, group)))


@dataclass
class Epoch:
    rows: int
    in_bytes: int
    wall_s: float
    #: per query name, the progress entries of the batches this epoch ran
    progress: dict[str, list[dict]] = field(default_factory=dict)

    def engine_s(self) -> float:
        """The slowest query's summed triggerExecution: the engine's share
        of this epoch's event-to-sink latency."""
        return max(
            sum(p["durationMs"].get("triggerExecution", 0) for p in entries) / 1000
            for entries in self.progress.values()
        )


class EpochLoop:
    def __init__(self, queries, paths: list[str], src: str) -> None:
        self.queries = queries
        self.paths = paths
        self.src = src
        self.next = 0
        self.last_batch = {q.name: -1 for q in queries}
        self.epochs: list[Epoch] = []

    def step(self) -> Epoch:
        """Release the next backlog file and wait until every query has
        committed it."""
        path = self.paths[self.next]
        self.next += 1
        size = os.path.getsize(path)
        with open(path) as f:
            rows = sum(1 for _ in f)
        t0 = time.perf_counter()
        os.rename(path, os.path.join(self.src, os.path.basename(path)))
        for q in self.queries:
            q.processAllAvailable()
        epoch = Epoch(rows, size, time.perf_counter() - t0)
        for q in self.queries:
            new = [p for p in q.recentProgress if p["batchId"] > self.last_batch[q.name]]
            if new:
                self.last_batch[q.name] = new[-1]["batchId"]
            epoch.progress[q.name] = new
        self.epochs.append(epoch)
        return epoch

    def run_for(self, seconds: float, min_epochs: int) -> list[Epoch]:
        out: list[Epoch] = []
        t0 = time.perf_counter()
        while self.next < len(self.paths) and (
            len(out) < min_epochs or time.perf_counter() - t0 < seconds
        ):
            out.append(self.step())
        return out


def end_to_end(epochs: list[Epoch]) -> dict[str, float]:
    walls = [e.wall_s for e in epochs]
    engine = [e.engine_s() for e in epochs]
    return {
        "rows_per_s": sum(e.rows for e in epochs) / sum(walls),
        "op_p50_s": common.p50(engine),
        "op_p75_s": common.p75(engine),
        "total_s": common.p50(walls),
    }


def _data_batches(epoch: Epoch, query: str) -> list[dict]:
    return [p for p in epoch.progress.get(query, []) if p["numInputRows"] > 0]


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _surviving(replay: owid.Replay, epochs: int) -> list[tuple[list, list]]:
    """Per epoch, the rows (and their event times) the watermarked dedup
    passes on: the first on-time occurrence of each (location, date) key,
    and the all-NULL rows of malformed lines, whose NULL event time the
    watermark neither drops nor expires."""
    seen: set = set()
    out = []
    for k in range(epochs):
        recs, stamps = [], []
        for r, t in zip(replay.records[k], replay.stamps[k]):
            if r is not None:
                key = (r[owid.FIELD["location"]], r[owid.FIELD["date"]])
                if t < replay.watermarks[k] or key in seen:
                    continue
                seen.add(key)
            recs.append(r)
            stamps.append(t)
        out.append((recs, stamps))
    return out


def check(spark, sink_dir: str, replay: owid.Replay, data_batches: list[int]) -> dict[int, list[str]]:
    """Sink contents against the generator's counts over the rows the dedup
    must pass on: per epoch for the epoch-partitioned realtime and
    prediction tables, in total for the appended hotspot table, plus unique
    (location, date) and the on-time key count in the realtime table, and
    the distinct window keys of the two stateful rollups.
    Returns mismatches by epoch index (-1 for table-wide ones)."""
    from pyspark.sql import functions as F

    expected = [owid.parity_counts(*s) for s in _surviving(replay, len(data_batches))]
    bad: dict[int, list[str]] = {}

    def table(name):
        return spark.read.parquet(os.path.join(sink_dir, name))

    for name in (REALTIME, PREDICTIONS):
        got = {r["epoch"]: r["count"] for r in table(name).groupBy("epoch").count().collect()}
        for k, batch in enumerate(data_batches):
            if got.get(batch, 0) != expected[k][name]:
                bad.setdefault(k, []).append(
                    f"{name} epoch {k}: {got.get(batch, 0)} rows, expected {expected[k][name]}"
                )
    hotspots, want_hot = table(HOTSPOTS).count(), sum(e[HOTSPOTS] for e in expected)
    if hotspots != want_hot:
        bad.setdefault(-1, []).append(f"{HOTSPOTS}: {hotspots} rows, expected {want_hot}")
    keys = table(REALTIME).select("location", "date").where(F.col("location").isNotNull())
    n_rows, n_keys = keys.count(), keys.distinct().count()
    want = len(owid.on_time_keys(replay, len(data_batches)))
    if n_rows != n_keys or n_keys != want:
        bad.setdefault(-1, []).append(
            f"realtime keys: {n_rows} rows, {n_keys} distinct, expected {want} on-time keys"
        )
    # the stateful rollups: every window key the on-time rows open, and no other
    start = int(owid.START_STAMP.replace(tzinfo=dt.timezone.utc).timestamp())
    want_keys = owid.rollup_keys(replay, len(data_batches))
    for (name, ts, key), want in zip(
        [(CONTINENT, "continent_window_start", "continent"), (WINDOWED, "window_start", "location")],
        want_keys,
    ):
        slot = F.floor((F.col(ts).cast("long") - start) / owid.WINDOW_S)
        got = {(r[0], r[1]) for r in table(name).select(slot, key).distinct().collect()}
        if got != want:
            bad.setdefault(-1, []).append(
                f"{name}: {len(got)} window keys, expected {len(want)}"
                f" ({len(want - got)} missing, {len(got - want)} unexpected)"
            )
    return bad


# ---------------------------------------------------------------------------
# one drain
# ---------------------------------------------------------------------------


class Drain:
    """One pipeline over fresh source, sink and checkpoint directories."""

    def __init__(self, spark, paths: list[str], work: str, trace: bool):
        from bigdata_covid19_real_time_spark.sinks.registry import (
            FileSink,
            IdempotentParquetSink,
        )
        from bigdata_covid19_real_time_spark.streaming.runner import CovidPipeline
        from bigdata_covid19_real_time_spark.streaming.sources import read_jsonl_stream

        self.src = os.path.join(work, "src")
        self.sink_dir = os.path.join(work, "sink")
        self.ckpt = os.path.join(work, "checkpoint")
        os.makedirs(self.src)
        sink = IdempotentParquetSink(self.sink_dir)
        appended = FileSink(self.sink_dir)
        self.writes: list[Write] = []
        self.tracers = []
        if trace:
            sc = spark.sparkContext
            sink = TracingSink(sink, sc, self.writes)
            appended = TracingSink(appended, sc, self.writes)
            self.tracers = [sink, appended]
        pipeline = CovidPipeline(sink=sink, sinks={HOTSPOTS: appended}, mode="streaming")
        self.queries = pipeline.run(
            read_jsonl_stream(spark, self.src),
            self.ckpt,
            trigger={"processingTime": "0 seconds"},
        )
        self.fanout = self.queries[0].name
        self.loop = EpochLoop(self.queries, paths, self.src)

    def tracing(self, on: bool) -> None:
        for t in self.tracers:
            t.on = on

    def stop(self) -> None:
        for q in self.queries:
            q.stop()

    def data_batch_ids(self) -> list[int]:
        return [p["batchId"] for e in self.loop.epochs for p in _data_batches(e, self.fanout)]


def _backlog(stage: list[str], work: str) -> list[str]:
    """Private copies of the epoch files: releasing a file moves it."""
    os.makedirs(work)
    paths = [os.path.join(work, os.path.basename(p)) for p in stage]
    for src, dst in zip(stage, paths):
        shutil.copyfile(src, dst)
    return paths


def _backlog_epochs(seconds: float, trace: bool) -> int:
    timed = max(math.ceil(seconds / MIN_EPOCH_S), MIN_TIMED_EPOCHS)
    return WARMUP_EPOCHS + timed * (2 if trace else 1)


def run(seed: int, seconds: float, trace: bool, work: str) -> dict:
    traffic = dataclasses.replace(TRAFFIC, epochs=_backlog_epochs(seconds, trace))
    replay = owid.generate(traffic, seed)
    stage = owid.write_epochs(replay, os.path.join(work, "stage"))
    backlog = _backlog(stage, os.path.join(work, "backlog"))

    t0 = time.perf_counter()
    session = {}
    session["spark"], session_s = common.start_spark(work)
    try:
        return _measure(session, replay, stage, backlog, seconds, trace, work, t0, session_s)
    finally:
        common.stop_spark(session["spark"])


def _measure(session, replay, stage, backlog, seconds, trace, work, t0, session_s) -> dict:
    """The drain, its checks and, traced, its layer metrics; ``session``
    holds the live SparkSession, which the single-threaded baseline
    replaces."""
    spark = session["spark"]
    drain = Drain(spark, backlog, os.path.join(work, "drain"), trace)
    for _ in range(WARMUP_EPOCHS):
        drain.loop.step()
    setup_s = time.perf_counter() - t0
    timed = drain.loop.run_for(seconds, MIN_TIMED_EPOCHS)
    peak_rss_mb = common.peak_rss_mb(spark)
    if trace:
        drain.tracing(True)
        load_tracer = common.LoadTableTracer(spark.sparkContext)
        with load_tracer:
            traced = drain.loop.run_for(seconds, MIN_TIMED_EPOCHS)
        drain.tracing(False)
    drain.stop()

    failures = check(spark, drain.sink_dir, replay, drain.data_batch_ids())
    attempted = len(drain.loop.epochs)
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": attempted if -1 in failures else len(failures),
        "metrics": {
            "setup_s": setup_s,
            **end_to_end(timed),
            "peak_rss_mb": peak_rss_mb,
        },
        "samples": {"epochs": len(timed), "batches": sum(len(e.progress) for e in timed)},
        "failures": [m for ms in failures.values() for m in ms],
        "traffic": owid.manifest(replay),
    }
    if trace:
        # single-threaded baseline in the same (warm) JVM
        spark.stop()
        spark, _ = common.start_spark(work, cores=1)
        session["spark"] = spark
        paths = _backlog(stage[:LOCAL1_EPOCHS], os.path.join(work, "local1-backlog"))
        local1 = Drain(spark, paths, os.path.join(work, "local1"), False)
        for _ in range(LOCAL1_EPOCHS):
            local1.loop.step()
        local1.stop()
        bad = check(spark, local1.sink_dir, replay, local1.data_batch_ids())
        result["attempted"] += LOCAL1_EPOCHS
        result["failed"] += LOCAL1_EPOCHS if -1 in bad else len(bad)
        result["correct"] = result["correct"] and not bad
        result["failures"] += [m for ms in bad.values() for m in ms]
        result["layers"] = layers(
            drain, timed, traced, local1, session_s, setup_s - session_s, load_tracer
        )
    return result


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------


def layers(drain: Drain, untraced, traced, local1, session_s, warmup_s, load) -> dict:
    """Per-layer metrics of the traced segment."""
    fan = [p for e in traced for p in _data_batches(e, drain.fanout)]
    writes = drain.writes
    epochs = drain.loop.epochs

    def state_ops(epoch_list, last_only=False):
        return [
            op
            for e in epoch_list
            for entries in e.progress.values()
            for p in (entries[-1:] if last_only else entries)
            for op in p.get("stateOperators", [])
        ]

    last = state_ops(traced[-1:], last_only=True)
    base = end_to_end(untraced)["total_s"]
    m = {
        "session.get_spark_s": session_s,
        "setup.warmup_s": warmup_s,
        "sinks.jobs_per_write": sum(w.jobs for w in writes) / len(writes),
        "runner.jobs_per_epoch": sum(w.jobs for w in writes) / len(traced),
        "runner.fanout_other_s": common.p50(
            [
                p["durationMs"].get("addBatch", 0) / 1000
                - sum(
                    w.seconds
                    for w in writes
                    if w.epoch_id == p["batchId"] and w.table in FANOUT_TABLES
                )
                for p in fan
            ]
        ),
        "sinks.bytes_per_input_byte": common.dir_bytes(drain.sink_dir)
        / sum(e.in_bytes for e in epochs),
        "sinks.files_per_epoch": common.dir_files(drain.sink_dir, ".parquet") / len(epochs),
        "checkpoint.bytes": common.dir_bytes(drain.ckpt),
        "state.rows_total": sum(op["numRowsTotal"] for op in last),
        "state.memory_mb": sum(op["memoryUsedBytes"] for op in last) / 2**20,
        "state.commit_s": common.p50(
            [sum(op["commitTimeMs"] for op in state_ops([e])) / 1000 for e in traced]
        ),
        "state.rows_dropped_late": sum(
            op.get("numRowsDroppedByWatermark", 0) for op in state_ops(epochs)
        ),
        "sources.load_table_calls": load.calls,
        "sources.load_table_s": load.seconds,
        "sources.load_table_jobs": load.jobs,
        "trace.overhead_share": (end_to_end(traced)["total_s"] - base) / base,
        "scaling.local1_rows_per_s": end_to_end(local1.loop.epochs[1:])["rows_per_s"],
    }
    for phase in PHASES:
        m[f"trigger.{phase}_s"] = common.p50([p["durationMs"].get(phase, 0) / 1000 for p in fan])
    for name in TABLES:
        m[f"sinks.write_s.{name}"] = common.p50([w.seconds for w in writes if w.table == name])
    return m
