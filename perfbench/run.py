#!/usr/bin/env python3
"""Benchmark entry point: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Run from the repository root. The run

1. pins the process shape: ``local[nproc]`` via ``SPARK_GRAFT_CPUS``, a
   2 GB driver heap, and fresh Spark-local, temp and work directories under
   ``.perfbench_tmp/`` that are removed at exit;
2. starts the session, then sets the workload up ``SETUP_REPS`` times from
   inputs generated by ``tools/gen_sf.generate(dir, sf, seed)``;
3. warms up with one untimed round, then runs seeded rounds until
   ``--seconds`` have passed and the workload's ``MIN_ROUNDS`` are done
   (``setup_s`` is start-up + the median set-up + the warm-up);
4. checks every answer against an oracle and prints, as the last stdout
   line, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer census with ``--trace 1``.

Metric names and units come from ``BENCHMARK.json``; README.md in this
directory defines each metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from statistics import median

T0 = time.perf_counter()  # process start, for setup_s
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.build import Build  # noqa: E402
from perfbench.census import Census  # noqa: E402
from perfbench.checks import matches  # noqa: E402
from perfbench.measure import (  # noqa: E402
    cpu_ticks,
    geomean,
    host_probe_s,
    peak_rss_mb,
    steal_pct,
)
from perfbench.serve import Serve  # noqa: E402
from projet_data_engineering_spark.session import get_spark  # noqa: E402
from tools.gen_sf import generate  # noqa: E402

WORKLOADS = {"serve": Serve, "build": Build}

DRIVER_MEM = "2g"
SETUP_LAYERS = (
    "session.get_spark",
    "tools.gen_sf.generate",
    "io.load_table",
    "search.build_search_index",
    "similarity.build_ann_index",
    "versioned.versioned_upsert",
    "versioned.versioned_delete",
)
COUNT_COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "input_bytes",
)
TIME_COUNTERS = ("executor_cpu_ms", "busy_s", "driver_s")


def pin_process(work_dir: str) -> None:
    """Fix the core count and give this run its own scratch directories."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
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
        proc.stdin.close()
        proc.wait(timeout=60)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Runner:
    """Set-up, warm-up, timed rounds and output checks of one workload."""

    def __init__(self, spark, workload_cls, seed: int, work_dir: str,
                 trace: bool, setup_walls):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.setup_walls = setup_walls
        self.wl = workload_cls(spark, seed, self.timer)
        self.layer_of = workload_cls.LAYERS
        self.census = Census(spark, enabled=trace)
        self.attempted = 0
        self.failed = 0
        self.outputs: list[tuple[str, object, object]] = []
        self.rounds: list[list[tuple[str, object]]] = []
        self.once: list[tuple[str, object]] = []  # the workload's ONCE calls
        self.probes: list[float] = []

    @contextlib.contextmanager
    def timer(self, layer: str):
        t0 = time.perf_counter()
        yield
        self.setup_walls[layer].append(time.perf_counter() - t0)

    def setup(self) -> list[float]:
        times = []
        for rep in range(self.wl.SETUP_REPS):
            base = os.path.join(self.work_dir, f"rep{rep}")
            t0 = time.perf_counter()
            with self.timer("tools.gen_sf.generate"), \
                    contextlib.redirect_stdout(sys.stderr):
                generate(f"{base}/data", self.wl.SF, self.seed)
            self.wl.setup(f"{base}/data", f"{base}/state")
            times.append(time.perf_counter() - t0)
            self.probes.append(host_probe_s())
            log(f"set-up {rep}: {times[-1]:.2f}s")
        return times

    def run_round(self, census, plan) -> list[tuple[str, object]]:
        calls = []
        for kind, key in plan:
            self.attempted += 1
            try:
                with census.span(self.layer_of[kind]):
                    out = self.wl.request(kind, key)
            except Exception:
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
                continue
            calls.append((kind, census.calls[-1]))
            if out is not None:
                self.outputs.append((kind, key, out))
        return calls

    def _log_calls(self, what: str, calls) -> None:
        log(f"{what}: " + " ".join(
            f"{kind}={call.wall_s:.3f}" for kind, call in calls
        ) + f" probe={self.probes[-1]:.4f}")

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        self.run_round(Census(self.spark, enabled=False),
                       self.wl.round_plan())
        self.setup_walls["perfbench.warm_up"].append(time.perf_counter() - t0)
        log(f"warm-up: {time.perf_counter() - t0:.2f}s")
        self.ticks = [cpu_ticks()]
        t0 = time.perf_counter()
        while (len(self.rounds) < self.wl.MIN_ROUNDS
               or time.perf_counter() - t0 < seconds):
            self.rounds.append(self.run_round(self.census,
                                              self.wl.round_plan()))
            self.probes.append(host_probe_s())
            self._log_calls(f"round {len(self.rounds)}", self.rounds[-1])
        if self.wl.ONCE and self.census.enabled:
            # after the rounds, so the traced rounds see the same process
            # history as the untraced ones (trace.type_p50_geomean_s)
            self.wl.prepare_once()
            self.once = self.run_round(
                self.census, [(kind, None) for kind in self.wl.ONCE])
            self.probes.append(host_probe_s())
            self._log_calls("once", self.once)
        self.ticks.append(cpu_ticks())
        if not self.full_rounds():
            raise RuntimeError(
                f"no timed round completed ({self.failed} of "
                f"{self.attempted} operations failed), so no metric exists"
            )

    def full_rounds(self) -> list[list[tuple[str, object]]]:
        return [calls for calls in self.rounds
                if len(calls) == len(self.wl.ROUND)]

    def check(self) -> int:
        """Compare every kept answer with its oracle; returns mismatches."""
        want = self.wl.expected({(k, key) for k, key, _out in self.outputs})
        bad = 0
        for kind, key, out in self.outputs:
            if callable(out):  # an answer read back after its timed call
                out = out()
            if not matches(out, want[kind, key]):
                print(f"output check failed: {kind} {key}", file=sys.stderr)
                bad += 1
        return bad

    # ---- metrics ------------------------------------------------------
    def type_walls(self) -> dict[str, list[float]]:
        walls = defaultdict(list)
        for calls in self.rounds:
            for kind, call in calls:
                walls[kind].append(call.wall_s)
        return walls

    def type_p50_geomean_s(self) -> float:
        return geomean([median(w) for w in self.type_walls().values()])

    def end_to_end(self, startup_s: float, setup_times) -> dict[str, float]:
        """``setup_s`` = process start to session ready, plus the median
        set-up repetition, plus the warm-up round."""
        full = [sum(c.wall_s for _k, c in calls)
                for calls in self.full_rounds()]
        return {
            "setup_s": startup_s + median(setup_times)
            + self.setup_walls["perfbench.warm_up"][0],
            "type_p50_geomean_s": self.type_p50_geomean_s(),
            "docs_per_s": self.wl.n_docs / median(full),
            "stored_bytes_per_input_byte":
                self.wl.stored_bytes_per_input_byte(),
        }

    def per_layer(self, all_layers, rss_mb: float) -> dict[str, float]:
        out: dict[str, float] = {}
        counted = [c for calls in self.rounds[:self.wl.MIN_ROUNDS]
                   + [self.once] for _k, c in calls]
        every = [c for calls in self.rounds + [self.once]
                 for _k, c in calls]
        for layer in all_layers:
            first = [c for c in counted if c.name == layer]
            mine = [c for c in every if c.name == layer]
            for counter in COUNT_COUNTERS:
                out[f"{layer}.{counter}"] = (
                    sum(getattr(c, counter) for c in first) / len(first)
                    if first else 0
                )
            for counter in TIME_COUNTERS:
                out[f"{layer}.{counter}"] = (
                    median([getattr(c, counter) for c in mine]) if mine else 0
                )
        for layer in SETUP_LAYERS + ("perfbench.warm_up",):
            walls = self.setup_walls.get(layer)
            out[f"{layer}.wall_s"] = median(walls) if walls else 0
        out["streaming.stack.state_bytes"] = (
            self.wl.state_bytes() if self.once else 0
        )
        out["process.peak_rss_mb"] = rss_mb
        out["host.probe_s"] = median(self.probes)
        out["host.steal_pct"] = steal_pct(*self.ticks)
        out["trace.census_s"] = median(self.census.overhead_s)
        out["trace.type_p50_geomean_s"] = self.type_p50_geomean_s()
        return out


def run(args, work_dir: str) -> dict:
    spec = load_spec()
    setup_walls: dict[str, list[float]] = defaultdict(list)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    setup_walls["session.get_spark"].append(time.perf_counter() - t0)
    startup_s = time.perf_counter() - T0
    log(f"session: {time.perf_counter() - t0:.2f}s")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        runner = Runner(spark, WORKLOADS[args.workload], args.seed, work_dir,
                        bool(args.trace), setup_walls)
        setup_times = runner.setup()
        runner.measure(args.seconds)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current() \
            .pid()
        rss_mb = peak_rss_mb(jvm_pid)
        mismatches = runner.check()
        log(f"checked {len(runner.outputs)} answers, {mismatches} wrong")
        if args.trace:
            layers = [layer for w in WORKLOADS.values()
                      for layer in w.LAYERS.values()]
            values = runner.per_layer(layers, rss_mb)
            names = spec["per_layer"]
        else:
            values = runner.end_to_end(startup_s, setup_times)
            names = spec["end_to_end"]
    finally:
        stop_spark(spark)
        log("stopped")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in names}
    return {
        "correct": mismatches == 0 and runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed + mismatches,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    work_dir = os.path.join(tmp_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        pin_process(work_dir)
        result = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(tmp_root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
