"""What every workload shares: the run context it is handed and the
outcome it hands back to the runner."""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from spans import Tracer


@dataclass
class Ctx:
    """One run's session, work directory and (traced runs) tracer."""

    spark: SparkSession
    work: str
    tracer: Tracer | None
    root_span: int | None = None
    #: put before every span name, so a workload nested in another's
    #: run keeps its spans apart in the self-time table
    prefix: str = ""
    # perf_counter = time.time() - wall_offset
    wall_offset: float = field(default_factory=lambda: time.time() - time.perf_counter())

    def span(self, name: str, parent: int | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(self.prefix + name, self.root_span if parent is None else parent)

    def jobs_in_group(self, group: str) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def tasks_of(self, jobs: set[int]) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = tracker.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return tasks


@dataclass
class Outcome:
    """What a workload reports back to the runner.

    ``window_t0`` is the ``perf_counter`` time the timed window opened;
    everything before it is set-up.  ``latencies`` are the per-result
    latencies (files, waves or mix passes).  ``throughput_per_s`` is
    printed beside the metrics; ``layers`` holds the per-layer numbers
    of a traced run."""

    inputs_s: float
    warmup_s: float
    warmup_count: int
    window_t0: float
    latencies: list[float]
    throughput_per_s: float
    attempted: int
    failed: int
    problems: list[str]
    layers: dict[str, float]
    details: dict
