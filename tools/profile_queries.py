#!/usr/bin/env python
"""Per-query job/stage/task census: how much of a bench line is fixed
per-job overhead vs actual compute (guide §1 — decide WHERE the time goes
before touching anything).

For each named query: one untimed warm run, then a timed run inside a
``perfbench.census.Census`` span, which counts every job the run launched
(streaming micro-batch jobs included), the stages and tasks it ran, and
splits its wall into busy seconds (inside Spark jobs) and driver seconds.
A query whose wall is ~(n_jobs x per-job floor) is JOB-BOUND — the fix is
fewer passes/rounds, not faster per-row code. ``codegen_compiles`` and
``codegen_ms`` are the classes the counted run generated and compiled and
the time spent compiling them; a warm run should compile none, since the
session's class cache holds them (``session.get_spark``). ``py4j_calls``
is the number of py4j commands the driver sent during the counted run:
building a plan costs one per SQL-text expression but 3-8 per Column-API
node, so a large count on a cheap query points at driver-side plan
building. ``dataframes`` is the number of DataFrames the counted run
constructed on the Python side: each construction is one eager analysis
in the JVM, a few milliseconds warm, so it counts plan-building work that
``py4j_calls`` does not weigh.

Usage: python tools/profile_queries.py [sf_dir] q_a q_b ...
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.clientserver import ClientServerConnection  # noqa: E402
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from perfbench.census import Census  # noqa: E402
from projet_data_engineering_spark.session import get_spark  # noqa: E402


def run(spark, fn, sf_dir):
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def codegen(spark) -> tuple[int, float]:
    """(classes compiled, ms spent compiling) so far in this JVM. The count
    is that of CodegenMetrics' compilation-time histogram; the time is
    CodeGenerator's running nanosecond total, because the histogram keeps
    a 1028-value sample of whole milliseconds, whose sum is no total."""
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen
    return (
        metrics.METRIC_COMPILATION_TIME().getCount(),
        generator.CodeGenerator.compileTime() / 1e6,
    )


def count_py4j() -> list[int]:
    """Count every py4j command the driver sends from now on, into the
    returned one-element list."""
    sent = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        sent[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    return sent


def count_dataframes() -> list[int]:
    """Count every DataFrame constructed from now on, into the returned
    one-element list. ``__new__`` runs once per construction; ``__init__``
    runs twice, since ``__new__`` calls it before Python does."""
    made = [0]
    new = DataFrame.__new__

    def counted(cls, *args, **kwargs):
        made[0] += 1
        return new(cls, *args, **kwargs)

    DataFrame.__new__ = counted
    return made


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:]
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    # JVM warmup on the fact table
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    census = Census(spark)
    sent = count_py4j()
    made = count_dataframes()
    out = {}
    for name in names:
        fn = qs[name]
        run(spark, fn, sf_dir)  # warm
        compiles0, ms0 = codegen(spark)
        with census.span(name):
            sent0, made0 = sent[0], made[0]
            run(spark, fn, sf_dir)
            py4j_calls = sent[0] - sent0
            dataframes = made[0] - made0
        compiles1, ms1 = codegen(spark)
        c = census.calls[-1]
        out[name] = {
            "wall_s": round(c.wall_s, 3),
            "jobs": c.jobs,
            "stages": c.stages,
            "tasks": c.tasks,
            "ms_per_job": round(1000 * c.wall_s / max(c.jobs, 1), 1),
            "busy_s": round(c.busy_s, 3),
            "driver_s": round(c.driver_s, 3),
            "codegen_compiles": compiles1 - compiles0,
            "codegen_ms": round(ms1 - ms0, 1),
            "py4j_calls": py4j_calls,
            "dataframes": dataframes,
        }
        print(name, json.dumps(out[name]))
        spark.catalog.clearCache()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
