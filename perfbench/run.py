"""Benchmark of the streaming and batch pipelines.

    python3 perfbench/run.py --workload spending_trickle --seed 1 --seconds 10 --trace 0

Runs one workload (``spending_trickle`` and ``spending_catchup`` in
``spending.py``, ``curation_ingest`` in ``curation.py``, ``query_mix``
in ``querymix.py``) from the root of a checkout, checks its outputs,
and prints a readable summary followed by one JSON result line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, spans are kept in memory and written to
``.perfbench_out/`` when the run ends, and a self-time table is printed.

The runner pins the environment itself, so the program's defaults are
untouched: one Spark slot per available CPU, a 2 GiB driver heap, the
checkout on ``PYTHONPATH`` for Python workers, no console progress bars,
and fresh temp, checkpoint and Derby state under ``.perfbench_work/``,
removed at exit.  All reads and writes stay inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "kafka_sparkstreaming_sbt_spark"
DRIVER_MEM = "2g"
#: the run gives up (exit 1, no result) after this many seconds
DEADLINE_S = 170
#: workload name -> module that runs it
WORKLOADS = {
    "spending_trickle": "spending",
    "spending_catchup": "spending",
    "curation_ingest": "curation",
    "query_mix": "querymix",
}

sys.path.insert(0, str(HERE))

import stats  # noqa: E402
from spans import Tracer  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup.inputs_s": "s",
    "setup.warmup_s": "s",
    "setup.warmup_count": "count",
    "loadgen.late_p50_s": "s",
    "loadgen.late_max_s": "s",
    "sources.input_rows": "count",
    "sources.backlog_files": "count",
    "sources.backlog_files_q1": "count",
    "sources.backlog_files_q4": "count",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "engine.triggers": "count",
    "engine.trigger_ms": "ms",
    "engine.query_planning_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.commit_offsets_ms": "ms",
    "engine.add_batch_ms": "ms",
    "engine.unaccounted_ms": "ms",
    "engine.busy_frac": "1",
    "engine.jobs_per_trigger": "count",
    "engine.tasks_per_trigger": "count",
    "dedup.state_rows": "count",
    "dedup.state_bytes": "B",
    "dedup.state_commit_ms": "ms",
    "dedup.unique_frac": "1",
    "windows.state_rows": "count",
    "windows.state_bytes": "B",
    "windows.state_commit_ms": "ms",
    "windows.late_rows": "count",
    "jdbc.write_s": "s",
    "jdbc.rows_written": "count",
    "jdbc.failed": "count",
    **{f"ingest.{k}_s": "s" for k in ("drift", "quality", "batch_ckpt", "exact", "span", "near_dup", "semantic", "write_accept", "increments")},
    "ingest.accept_frac": "1",
    "ingest.jobs_per_trigger": "count",
    "ingest.tasks_per_trigger": "count",
    "ingest.lake_files": "count",
    "ingest.lake_bytes": "B",
    "ingest.artifact_build_s": "s",
    **{
        f"query.{name}{suffix}": unit
        for name in ("bm25_multi_query", "simhash_near_dup", "near_dup_groups", "daily_spending_rollup")
        for suffix, unit in (("_s", "s"), (".jobs", "count"))
    },
    "jvm.peak_rss_mb": "MB",
    "trace.setup_s": "s",
    "trace.latency_p50_s": "s",
    "trace.latency_tail_s": "s",
    "trace.spans": "count",
}


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def pin_environment(work: Path) -> int:
    """Set what the program reads from the environment, before the
    package or pyspark is imported.  Returns the slot count."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("local", "tmp", "derby"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return cpus


def start_session(work: Path):
    from kafka_sparkstreaming_sbt_spark.session import get_spark

    java_opts = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'derby'} "
        f"-Dderby.stream.error.file={work / 'derby' / 'derby.log'}"
    )
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def sentinel() -> float:
    return min(stats.cpu_sentinel() for _ in range(3))


def summarize(outcome, session_s: float, setup_s: float) -> tuple[dict, dict]:
    """End-to-end metrics and the facts printed beside them."""
    # a run too short for 11 samples reports its maximum
    tail = stats.tail_percentile(outcome.latencies) or (
        max(outcome.latencies), 100.0, len(outcome.latencies)
    )
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": stats.median(outcome.latencies),
        "latency_tail_s": tail[0],
    }
    facts = {
        "latency_tail_percentile": tail[1],
        "latency_samples": tail[2],
        "throughput_per_s": outcome.throughput_per_s,
        "failed_frac": outcome.failed / outcome.attempted,
        "session_start_s": session_s,
        "setup_inputs_s": outcome.inputs_s,
        "setup_warmup_s": outcome.warmup_s,
        "setup_warmup_count": outcome.warmup_count,
    }
    return metrics, facts


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE} not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    sentinel_before = sentinel()
    t_start = time.perf_counter()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    cpus = pin_environment(work)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    sys.path.insert(0, str(ROOT))
    import importlib

    from workload import Ctx

    run_workload = getattr(importlib.import_module(WORKLOADS[args.workload]), "WORKLOADS")[args.workload]

    tracer = Tracer() if args.trace else None
    spark = None
    try:
        root_span = tracer.add("run", t_start, float("nan")) if tracer else None
        t = time.perf_counter()
        spark = start_session(work)
        session_done = time.perf_counter()
        if tracer:
            tracer.add("session.start", t, session_done, root_span)
        ctx = Ctx(spark, str(work), tracer, root_span)
        outcome = run_workload(ctx, args.seed, args.seconds)
        unknown = set(outcome.layers) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
        rss = jvm_peak_rss_mb(spark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass
    sentinel_after = sentinel()

    session_s = session_done - t_start
    # from the runner's start (after its CPU sentinel) to the opening
    # of the timed window: session, inputs, artifacts and warm-up
    setup_s = outcome.window_t0 - t_start
    e2e, facts = summarize(outcome, session_s, setup_s)
    label = stats.contention_label(sentinel_before, sentinel_after)

    print(
        f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} slots={cpus} record={label} "
        f"sentinel={sentinel_before:.4f}/{sentinel_after:.4f}s"
    )
    for name, value in e2e.items():
        print(f"  {name:<18} {value:.6g} {END_TO_END[name]}")
    print(f"  {'throughput_per_s':<18} {facts['throughput_per_s']:.6g} 1/s ({outcome.details['throughput_of']})")
    print(f"  {'failed_frac':<18} {facts['failed_frac']:.6g} 1 ({outcome.failed} of {outcome.attempted} {outcome.details['attempts_are']})")
    print(f"  {'correct':<18} {'yes' if not outcome.problems else 'NO'}")
    for problem in outcome.problems[:20]:
        print(f"    mismatch: {problem}")
    print("detail " + json.dumps({**facts, **outcome.details, "record": label}))

    if tracer:
        tracer.spans[root_span].end = time.perf_counter()
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        path = out / f"trace-{args.workload}-{args.seed}.json"
        tracer.dump(str(path))
        print(f"spans written to {path.relative_to(ROOT)}; self time by span:")
        for row in tracer.table():
            print(f"  {row['name']:<24} n={row['count']:<5} total={row['total_s']:.4f}s self={row['self_s']:.4f}s")
        # a layer this workload does not exercise reads 0
        layers = {
            **dict.fromkeys(PER_LAYER, 0),
            "session.start_s": session_s,
            "setup.inputs_s": outcome.inputs_s,
            "setup.warmup_s": outcome.warmup_s,
            "setup.warmup_count": outcome.warmup_count,
            **outcome.layers,
            "jvm.peak_rss_mb": rss,
            **{f"trace.{k}": v for k, v in e2e.items()},
            "trace.spans": len(tracer.spans),
        }
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    print(
        json.dumps(
            {
                "correct": not outcome.problems,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if not outcome.problems else 1


if __name__ == "__main__":
    sys.exit(main())
