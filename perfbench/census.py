"""Per-call layer census read from Spark's status store.

``Census.span(name)`` wraps one call into the engine. Around it the census
drains the listener bus, diffs the status store by job and stage id (so
jobs run under any job group -- streaming run-id groups included -- are
counted), and records one ``Call`` with the jobs the call launched and the
stages, tasks, executor CPU, shuffle-write and input bytes of the stages
it ran. Stages and tasks are counted from the stage records the call
created and ran, not from the jobs' skipped-stage counts: under adaptive
execution whether a shared shuffle stage is re-listed as skipped depends on
the order concurrent query-stage jobs are submitted in. Busy
time is the union of the jobs' [submission, completion] intervals, not
their sum, because jobs of one call overlap; driver time is the rest of
the call's wall.

The status store is read through one Jackson serialization per list, so
a census costs a handful of py4j round trips whatever the job count.
The time the census itself takes is kept apart from the call's wall.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Call:
    name: str
    wall_s: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_ms: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    busy_s: float = 0.0

    @property
    def driver_s(self) -> float:
        return self.wall_s - self.busy_s


def union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


@dataclass
class Census:
    """Records one ``Call`` per ``span``; ``enabled=False`` records wall
    time only and never touches the status store."""

    spark: object
    enabled: bool = True
    calls: list[Call] = field(default_factory=list)
    overhead_s: list[float] = field(default_factory=list)

    def __post_init__(self) -> None:
        if not self.enabled:
            return
        jvm = self.spark.sparkContext._jvm
        self._sc = self.spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
        )
        self._no_quantiles = self.spark.sparkContext._gateway.new_array(
            jvm.double, 0
        )

    def _lists(self):
        """(jobs, stages) of the status store, each sorted newest first."""
        return (
            self._store.jobsList(None),
            self._store.stageList(None, False, False, self._no_quantiles,
                                  None),
        )

    def _head(self, seq, n: int) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(seq.take(n)))

    def _newer(self, seq, key: str, frontier: int) -> list[dict]:
        """The entries of a newest-first list whose ``key`` > frontier."""
        n = 64
        while True:
            rows = self._head(seq, n)
            if len(rows) < n or rows[-1][key] <= frontier:
                return [r for r in rows if r[key] > frontier]
            n *= 4

    def _frontiers(self) -> tuple[int, int]:
        """Newest job id and newest stage id, once the listener caught up."""
        self._sc.listenerBus().waitUntilEmpty()
        heads = [self._head(seq, 1) for seq in self._lists()]
        return tuple(
            rows[0][key] if rows else -1
            for rows, key in zip(heads, ("jobId", "stageId"))
        )

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            t0 = time.perf_counter()
            yield
            self.calls.append(Call(name, time.perf_counter() - t0))
            return
        c0 = time.perf_counter()
        job_frontier, stage_frontier = self._frontiers()
        t0 = time.perf_counter()
        yield
        wall = time.perf_counter() - t0
        c1 = time.perf_counter()
        self._sc.listenerBus().waitUntilEmpty()
        jobs_seq, stages_seq = self._lists()
        jobs = self._newer(jobs_seq, "jobId", job_frontier)
        call = Call(name, wall, jobs=len(jobs))
        # only stages created by this call: a skipped stage that reuses an
        # earlier call's shuffle keeps that call's COMPLETE status
        for s in self._newer(stages_seq, "stageId", stage_frontier):
            if s["status"] in ("SKIPPED", "PENDING"):
                continue
            call.stages += 1
            call.tasks += s["numTasks"]
            call.executor_cpu_ms += s["executorCpuTime"] / 1e6
            call.shuffle_write_bytes += s["shuffleWriteBytes"]
            call.input_bytes += s["inputBytes"]
        call.busy_s = union_seconds(
            [
                (j["submissionTime"], j["completionTime"])
                for j in jobs
                if j.get("submissionTime") and j.get("completionTime")
            ]
        )
        self.calls.append(call)
        self.overhead_s.append((t0 - c0) + (time.perf_counter() - c1))
