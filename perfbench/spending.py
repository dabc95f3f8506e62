"""The two spending workloads, driven from outside the program through
``streaming.pipeline.run_spending_pipeline`` with a ``write_daily`` that
wraps ``sources.jdbc.write_jdbc_append`` into embedded in-memory Derby.

``trickle``: open loop.  One load-generator thread moves pre-written
producer-format files into the source directory on a fixed schedule.
Each file's latency runs from its due time to the return of the sink
write that committed the batch holding it.

``catchup``: closed drain after a restart.  A pre-outage phase builds
dedup and window state, the query stops, a backlog sized to the
measuring time lands, and the query restarts on the same checkpoint.
Each backlog file's latency runs from the restart to the sink return
of the batch holding it; the drain ends with the last such return.

Set-up (a fresh checkpoint, Derby table and source directory, the
query start and the warm-up triggers) runs once; the warmed query runs
on into the timed window.  Outputs are checked after the window on
every run.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import threading
import time
from dataclasses import dataclass, replace

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kafka_sparkstreaming_sbt_spark.operators.rollup import daily_spending_direct
from kafka_sparkstreaming_sbt_spark.schemas import TRANSACTION_SCHEMA
from kafka_sparkstreaming_sbt_spark.sources.jdbc import (
    JdbcConfig,
    jdbc_reader,
    write_jdbc_append,
)
from kafka_sparkstreaming_sbt_spark.sources.kafka import parse_transactions
from kafka_sparkstreaming_sbt_spark.streaming.pipeline import run_spending_pipeline

import inputs
import querymix
import stats
from workload import Ctx, Outcome

#: open loop at a fixed schedule, a quarter of the sustainable rate
#: measured on a 4-core machine (NOTES.md).  Warm-up runs closed loop
#: before the window, ``warmup_files_per_trigger`` files per drain, so
#: the JVM and the query's code have run a fixed number of triggers
#: however fast the machine is when the window opens.
TRICKLE = {
    "files_per_s": 5,
    "rows_per_file": 20,
    "file_step_s": 1,
    "warmup_files": 32,
    "warmup_files_per_trigger": 4,
}

#: one restart drain: Zipf-skewed customers so the window and rollup
#: shuffles see hot keys.  A pre-outage phase of ``pre_groups`` triggers
#: and one warm-up restart precede it in set-up.  The backlog holds
#: ``backlog_files_per_s`` files per measured second, read at most
#: ``max_files_per_trigger`` files (10k rows) per trigger, as a Kafka
#: catch-up is bounded by ``maxOffsetsPerTrigger``.
CATCHUP = {
    "rows_per_file": 500,
    "pre_files": 20,
    "pre_groups": 2,
    "warmup_files": 20,
    "backlog_files_per_s": 20,
    "max_files_per_trigger": 20,
    "file_step_s": 30,
    "zipf_s": 1.1,
}

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class DerbySink:
    """The daily-spending table in an in-memory Derby database, and a
    ``write_daily`` that times each ``write_jdbc_append`` by batch id.

    The table has no primary key: the pipeline appends one partial
    total per (customer, date) per batch, and the check sums them."""

    def __init__(self, spark: SparkSession, name: str) -> None:
        self.spark = spark
        self.name = name
        self.cfg = JdbcConfig(
            url=f"jdbc:derby:memory:{name};create=true", table="daily", driver=DERBY_DRIVER
        )
        self._exec(
            self.cfg.url,
            "CREATE TABLE daily (customer_id VARCHAR(32) NOT NULL, "
            "transaction_date DATE NOT NULL, total_spent DOUBLE)",
        )
        self.writes: dict[int, tuple[float, float]] = {}
        self.failed = 0

    def _exec(self, url: str, sql: str) -> None:
        conn = self.spark._jvm.java.sql.DriverManager.getConnection(url)
        try:
            st = conn.createStatement()
            st.executeUpdate(sql)
            st.close()
        finally:
            conn.close()

    def write(self, daily) -> None:
        batch_id = int(self.spark.sparkContext.getLocalProperty("streaming.sql.batchId"))
        t0 = time.perf_counter()
        try:
            write_jdbc_append(daily, self.cfg)
        except Exception:
            self.failed += 1
            raise
        self.writes[batch_id] = (t0, time.perf_counter())

    def returns(self) -> dict[int, float]:
        return {b: t1 for b, (_, t1) in self.writes.items()}

    def totals(self) -> dict[tuple[str, str], float]:
        rows = (
            jdbc_reader(self.spark, self.cfg)
            .load()
            .groupBy("customer_id", "transaction_date")
            .agg(F.sum("total_spent").alias("t"))
            .collect()
        )
        return {(r.customer_id, r.transaction_date.isoformat()): r.t for r in rows}

    def row_count(self) -> int:
        return jdbc_reader(self.spark, self.cfg).load().count()

    def drop(self) -> None:
        conn = self.spark._jvm.java.sql.DriverManager
        try:
            conn.getConnection(f"jdbc:derby:memory:{self.name};drop=true")
        except Exception as exc:  # Derby reports a successful drop as SQLState 08006
            if "08006" not in str(exc):
                raise


class Query:
    """One start of the spending pipeline over ``src``.  The source
    frame observes the file names each batch reads, so every result can
    be attributed to its input files from outside."""

    def __init__(
        self, ctx: Ctx, src: str, ckpt: str, sink: DerbySink, max_files: int | None = None
    ) -> None:
        reader = ctx.spark.readStream.format("text")
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", max_files)
        raw = (
            reader.load(src)
            .select("value", F.col("_metadata.file_name").alias("file"))
            .observe("files", F.collect_set("file").alias("files"))
        )
        self.started = time.perf_counter()
        self.q = run_spending_pipeline(
            parse_transactions(raw.select("value")), sink.write, ckpt, swallow_errors=False
        )
        self.run_id = str(self.q.runId)

    def drain(self) -> None:
        self.q.processAllAvailable()

    def last_batch(self) -> int:
        p = self.q.lastProgress
        return -1 if p is None else p["batchId"]

    def stop(self) -> None:
        self.q.stop()

    def progress(self) -> list[dict]:
        """Every progress record of this start; the session keeps the
        last 1000 (``numRecentProgressUpdates``)."""
        return [json.loads(p.json) for p in self.q.recentProgress]


def batch_files(progress: list[dict]) -> dict[int, list[str]]:
    return {
        p["batchId"]: p.get("observedMetrics", {}).get("files", {}).get("files", [])
        for p in progress
    }


def late_rows(progress: list[dict]) -> int:
    return sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p["stateOperators"]
    )


def expected_totals(spark: SparkSession, txns: list[inputs.Txn]) -> dict[tuple[str, str], float]:
    """``daily_spending_direct`` over the distinct generated
    transactions: the reference the Derby rows must equal."""
    pdf = pd.DataFrame(
        {
            "transaction_id": [t.transaction_id for t in txns],
            "customer_id": [str(t.customer_id) for t in txns],
            "merchant_id": pd.array([t.merchant_id for t in txns], dtype="int32"),
            "timestamp": pd.to_datetime([t.timestamp for t in txns], utc=True),
            "amount": [t.amount for t in txns],
            "payment_method": [t.payment_method for t in txns],
            "status": [t.status for t in txns],
        }
    )
    rows = daily_spending_direct(spark.createDataFrame(pdf, TRANSACTION_SCHEMA)).collect()
    return {(r.customer_id, r.transaction_date.isoformat()): r.total_spent for r in rows}


def check(ctx: Ctx, sink: DerbySink, delivered: list[list[inputs.Txn]], progress: list[dict]) -> list[str]:
    problems = stats.daily_mismatches(
        sink.totals(), expected_totals(ctx.spark, inputs.distinct(delivered))
    )
    late = late_rows(progress)
    if late:
        problems.append(f"windows dropped {late} late rows")
    return problems


class Dropper(threading.Thread):
    """The load generator: moves pre-written files from ``stage`` into
    ``src`` at ``t0 + i * interval``, setting each file's modification
    time at the drop.

    The file source reads files in modification-time order at
    millisecond resolution, so files dropped within one millisecond
    could be read out of order and fall behind the watermark.  Each
    file's time is therefore at least 1 ms after the previous one's;
    a bulk drop (``interval == 0``) is back-dated by one millisecond per
    later file, the way a Kafka backlog keeps its offset order."""

    def __init__(self, stage: str, src: str, names: list[str], t0: float, interval: float) -> None:
        super().__init__(daemon=True)
        self.stage, self.src, self.names = stage, src, names
        self.due = {n: t0 + i * interval for i, n in enumerate(names)}
        self.dropped: dict[str, float] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            last_ms = time.time_ns() // 1_000_000 - len(self.names)
            for name in self.names:
                wait = self.due[name] - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                staged = os.path.join(self.stage, name)
                last_ms = max(last_ms + 1, time.time_ns() // 1_000_000 - len(self.names))
                os.utime(staged, ns=(last_ms * 1_000_000, last_ms * 1_000_000))
                os.rename(staged, os.path.join(self.src, name))
                self.dropped[name] = time.perf_counter()
        except BaseException as exc:  # re-raised by finish() in the main thread
            self.error = exc

    def finish(self) -> None:
        self.join()
        if self.error is not None:
            raise self.error


def drop_now(stage: str, src: str, names: list[str]) -> Dropper:
    d = Dropper(stage, src, names, time.perf_counter(), 0.0)
    d.run()
    if d.error is not None:
        raise d.error
    return d


@dataclass
class Rig:
    """A fresh source directory, checkpoint and Derby table."""

    src: str
    ckpt: str
    sink: DerbySink

    @classmethod
    def fresh(cls, ctx: Ctx) -> "Rig":
        src = os.path.join(ctx.work, "src")
        os.makedirs(src)
        return cls(src, os.path.join(ctx.work, "ckpt"), DerbySink(ctx.spark, "perfbench"))

    def discard(self) -> None:
        self.sink.drop()


def _phase_means(progress: list[dict]) -> dict[str, float]:
    n = max(len(progress), 1)
    total = {k: 0.0 for k in PHASES + ("triggerExecution",)}
    for p in progress:
        for k in total:
            total[k] += p["durationMs"].get(k, 0)
    return {k: v / n for k, v in total.items()}


def _ops(p: dict, name: str) -> dict:
    return next(op for op in p["stateOperators"] if op["operatorName"] == name)


def engine_layers(ctx: Ctx, window: list[dict], window_s: float, jobs: set[int]) -> dict[str, float]:
    """Per-layer numbers from the window's progress records and jobs.
    ``engine.busy_frac`` is trigger time over the window's wall time."""
    tasks = ctx.tasks_of(jobs)
    n = max(len(window), 1)
    ph = _phase_means(window)
    last = window[-1]
    dedupe = [_ops(p, "dedupe") for p in window]
    agg = [_ops(p, "stateStoreSave") for p in window]
    rows_in = sum(p["numInputRows"] for p in window)
    return {
        "sources.input_rows": rows_in,
        "sources.latest_offset_ms": ph["latestOffset"],
        "sources.get_batch_ms": ph["getBatch"],
        "engine.triggers": len(window),
        "engine.trigger_ms": ph["triggerExecution"],
        "engine.query_planning_ms": ph["queryPlanning"],
        "engine.wal_commit_ms": ph["walCommit"],
        "engine.commit_offsets_ms": ph["commitOffsets"],
        "engine.add_batch_ms": ph["addBatch"],
        "engine.unaccounted_ms": ph["triggerExecution"] - sum(ph[k] for k in PHASES),
        "engine.busy_frac": sum(p["durationMs"]["triggerExecution"] for p in window) / 1000.0 / window_s,
        "engine.jobs_per_trigger": len(jobs) / n,
        "engine.tasks_per_trigger": tasks / n,
        "dedup.state_rows": _ops(last, "dedupe")["numRowsTotal"],
        "dedup.state_bytes": _ops(last, "dedupe")["memoryUsedBytes"],
        "dedup.state_commit_ms": sum(op["commitTimeMs"] for op in dedupe) / n,
        "dedup.unique_frac": sum(op["numRowsUpdated"] for op in dedupe) / max(rows_in, 1),
        "windows.state_rows": _ops(last, "stateStoreSave")["numRowsTotal"],
        "windows.state_bytes": _ops(last, "stateStoreSave")["memoryUsedBytes"],
        "windows.state_commit_ms": sum(op["commitTimeMs"] for op in agg) / n,
        "windows.late_rows": late_rows(window),
    }


def _wall_to_perf(ctx: Ctx, iso: str) -> float:
    wall = dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
    return wall - ctx.wall_offset


def trigger_spans(ctx: Ctx, progress: list[dict], sink: DerbySink, parent: int | None) -> None:
    """Spans for each trigger and its phases from the progress records.

    Phase durations are Spark's; their starts are laid end to end in
    Spark's execution order, so only the durations are exact.  The sink
    write, timed live, nests under ``addBatch``."""
    tr = ctx.tracer
    for p in progress:
        start = _wall_to_perf(ctx, p["timestamp"])
        d = p["durationMs"]
        tid = tr.add("engine.trigger", start, start + d["triggerExecution"] / 1000.0, parent)
        t = start
        for ph in PHASES:
            end = t + d.get(ph, 0) / 1000.0
            pid = tr.add(f"engine.{ph}", t, end, tid)
            if ph == "addBatch" and p["batchId"] in sink.writes:
                w0, w1 = sink.writes[p["batchId"]]
                tr.add("jdbc.write_daily", w0, w1, pid)
            t = end


def traced_layers(
    ctx: Ctx,
    window: list[dict],
    sink: DerbySink,
    jobs: set[int],
    window_s: float,
    dropped: dict[str, float],
    late: list[float],
) -> dict[str, float]:
    """Every per-layer number of a traced run except the Derby row count."""
    out = engine_layers(ctx, window, window_s, jobs)
    returns = sink.returns()
    committed = {
        n: returns[b] for b, names in batch_files(window).items() if b in returns for n in names
    }
    starts = sorted(_wall_to_perf(ctx, q["timestamp"]) for q in window)
    backlog = [stats.backlog_at(s, dropped, committed) for s in starts]
    quarter = max(len(backlog) // 4, 1)
    writes = [t1 - t0 for b, (t0, t1) in sink.writes.items() if b in {q["batchId"] for q in window}]
    out.update(
        {
            "loadgen.late_p50_s": stats.median(late),
            "loadgen.late_max_s": max(late),
            "sources.backlog_files": sum(backlog) / len(backlog),
            "sources.backlog_files_q1": sum(backlog[:quarter]) / quarter,
            "sources.backlog_files_q4": sum(backlog[-quarter:]) / quarter,
            "jdbc.write_s": sum(writes) / max(len(writes), 1),
            "jdbc.failed": sink.failed,
        }
    )
    return out


def write_inputs(ctx: Ctx, files: list[list[inputs.Txn]]) -> tuple[str, list[str]]:
    """Write every input file before set-up, and return the staging
    directory and the file names in drop order."""
    stage = os.path.join(ctx.work, "stage")
    os.makedirs(stage)
    names = [f"part-{i:06d}.json" for i in range(len(files))]
    for name, rows in zip(names, files):
        inputs.write_file(os.path.join(stage, name), rows)
    return stage, names


def run_trickle(ctx: Ctx, seed: int, seconds: int) -> Outcome:
    p = TRICKLE
    rate = p["files_per_s"]
    n_warm, n_win = p["warmup_files"], seconds * rate
    t = time.perf_counter()
    with ctx.span("inputs.generate"):
        files = inputs.transaction_files(seed, n_warm + n_win, p["rows_per_file"], p["file_step_s"])
        stage, names = write_inputs(ctx, files)
    inputs_s = time.perf_counter() - t

    t = time.perf_counter()
    with ctx.span("setup.warmup"):
        rig = Rig.fresh(ctx)
        query = Query(ctx, rig.src, rig.ckpt, rig.sink)
        # closed loop: drop a group of files and drain it (a data trigger
        # and the no-data trigger that moves the watermark), so the
        # number of warm-up triggers does not depend on how fast they run
        step = p["warmup_files_per_trigger"]
        for g in range(0, n_warm, step):
            drop_now(stage, rig.src, names[g:g + step])
            query.drain()
    warmup_s = time.perf_counter() - t
    first_window_batch = query.last_batch() + 1
    jobs_before = ctx.jobs_in_group(query.run_id) if ctx.tracer else set()

    with ctx.span("window") as wspan:
        t0 = time.perf_counter()
        gen = Dropper(stage, rig.src, names[n_warm:], t0, 1.0 / rate)
        gen.start()
        gen.finish()
        query.drain()
    window_s = time.perf_counter() - t0
    last_batch = query.last_batch()
    jobs = (ctx.jobs_in_group(query.run_id) - jobs_before) if ctx.tracer else set()
    progress = query.progress()
    query.stop()

    commits = rig.sink.returns()
    lat = stats.attribute_latency(gen.due, batch_files(progress), commits)
    window = [q for q in progress if first_window_batch <= q["batchId"] <= last_batch]
    end = max(commits[b] for b in (q["batchId"] for q in window) if b in commits)
    rows = n_win * p["rows_per_file"]
    late = stats.lateness(gen.due, gen.dropped)

    with ctx.span("check"):
        problems = check(ctx, rig.sink, files, progress)
        rows_written = rig.sink.row_count()
    layers: dict[str, float] = {}
    if ctx.tracer is not None:
        layers = traced_layers(ctx, window, rig.sink, jobs, window_s, gen.dropped, late)
        layers["jdbc.rows_written"] = rows_written
        trigger_spans(ctx, window, rig.sink, wspan)
    rig.discard()
    if ctx.tracer is not None:
        # the batch operators (retrieval, simhash, dedup_fuzzy, graph,
        # rollup) have no workload of their own: the traced run times
        # the query mix after the window and the check, outside every
        # end-to-end figure, and checks its results as well
        with ctx.span("query_mix") as mspan:
            mix = querymix.run_query_mix(replace(ctx, root_span=mspan, prefix="query_mix/"), seed, 1)
        layers.update({k: v for k, v in mix.layers.items() if k.startswith("query.")})
        problems += [f"query mix: {m}" for m in mix.problems]
    return Outcome(
        inputs_s=inputs_s,
        warmup_s=warmup_s,
        warmup_count=first_window_batch,
        window_t0=t0,
        latencies=list(lat.values()),
        throughput_per_s=rows / (end - t0),
        attempted=len(window),
        failed=rig.sink.failed,
        problems=problems,
        layers=layers,
        details={
            "offered_files_per_s": rate,
            "offered_rows_per_s": rate * p["rows_per_file"],
            "window_files": n_win,
            "warmup_files": n_warm,
            "warmup_triggers": first_window_batch,
            "loadgen_late_max_s": round(max(late), 6),
            "throughput_of": "window rows over window start to last commit",
            "attempts_are": "sink writes",
        },
    )


def run_catchup(ctx: Ctx, seed: int, seconds: int) -> Outcome:
    p = CATCHUP
    n_pre, n_warm = p["pre_files"], p["warmup_files"]
    n_back = seconds * p["backlog_files_per_s"]
    t = time.perf_counter()
    with ctx.span("inputs.generate"):
        files = inputs.transaction_files(
            seed, n_pre + n_warm + n_back, p["rows_per_file"], p["file_step_s"], zipf_s=p["zipf_s"]
        )
        stage, names = write_inputs(ctx, files)
    inputs_s = time.perf_counter() - t
    pre, warm, backlog = names[:n_pre], names[n_pre:n_pre + n_warm], names[n_pre + n_warm:]

    def restart_drain(rig: Rig, block: list[str]):
        """Land ``block`` while the query is down, restart it on the
        same checkpoint and drain.  Returns the query, its progress
        records, each file's latency from the restart and the drops."""
        drop = drop_now(stage, rig.src, block)
        query = Query(ctx, rig.src, rig.ckpt, rig.sink, p["max_files_per_trigger"])
        query.drain()
        progress = query.progress()
        query.stop()
        due = {n: query.started for n in block}
        lat = stats.attribute_latency(due, batch_files(progress), rig.sink.returns())
        return query, progress, lat, drop

    t = time.perf_counter()
    with ctx.span("setup.warmup"):
        rig = Rig.fresh(ctx)
        query = Query(ctx, rig.src, rig.ckpt, rig.sink, p["max_files_per_trigger"])
        group = math.ceil(n_pre / p["pre_groups"])
        for g in range(0, n_pre, group):
            drop_now(stage, rig.src, pre[g: g + group])
            query.drain()
        setup_progress = query.progress()
        query.stop()
        setup_progress += restart_drain(rig, warm)[1]
    warmup_s = time.perf_counter() - t

    with ctx.span("window") as wspan:
        t0 = time.perf_counter()
        query, window, lat, drop = restart_drain(rig, backlog)
    window_s = time.perf_counter() - t0
    drain_s = max(lat.values())

    with ctx.span("check"):
        problems = check(ctx, rig.sink, files, setup_progress + window)
        rows_written = rig.sink.row_count()
    layers: dict[str, float] = {}
    if ctx.tracer is not None:
        late = stats.lateness(drop.due, drop.dropped)
        layers = traced_layers(ctx, window, rig.sink, ctx.jobs_in_group(query.run_id), window_s, drop.dropped, late)
        layers["jdbc.rows_written"] = rows_written
        trigger_spans(ctx, window, rig.sink, wspan)
    rig.discard()
    return Outcome(
        inputs_s=inputs_s,
        warmup_s=warmup_s,
        warmup_count=len(setup_progress),
        window_t0=t0,
        latencies=list(lat.values()),
        throughput_per_s=n_back * p["rows_per_file"] / drain_s,
        attempted=len(window),
        failed=rig.sink.failed,
        problems=problems,
        layers=layers,
        details={
            "backlog_files": n_back,
            "backlog_rows": n_back * p["rows_per_file"],
            "pre_outage_rows": n_pre * p["rows_per_file"],
            "warmup_rows": n_warm * p["rows_per_file"],
            "warmup_triggers": len(setup_progress),
            "drain_s": drain_s,
            "throughput_of": "backlog rows over the drain",
            "attempts_are": "sink writes",
        },
    )


WORKLOADS = {"spending_trickle": run_trickle, "spending_catchup": run_catchup}
