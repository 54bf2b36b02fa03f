"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` but every setting is chosen to also be the
right default on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting), so the
  same plan survives a 100x scale-up without re-tuning shuffle.partitions;
- broadcast threshold raised so star-schema dimension tables (region, nation,
  customer at small SF; any <64 MB dim at scale) broadcast instead of shuffling
  the fact table;
- Arrow enabled for the (rare, clearly-marked) Pandas-UDF paths — everything
  else stays JVM-side in whole-stage codegen;
- the generated-class cache (``spark.sql.codegen.cache.maxEntries``) holds
  1024 classes, not Spark's default 100. The cache is JVM-wide, keyed by
  the generated source and evicted per Guava segment, and one curation
  build plus one request of each serve type compiles about 190 classes
  (sf0.001). At 100 entries every class was evicted before its next use,
  so each warm request compiled its code again (32-101 classes and
  70-290 ms of a warm ``serve`` round at sf0.01). At about 4x the working
  set, warm requests compile nothing. A failed compile is never cached,
  so a bigger cache masks no codegen fallback;
- PySpark's DataFrame debugging is off
  (``spark.python.sql.dataFrameDebugging.enabled``, a static conf). With
  it on, every Column-API call also captures its Python call site and
  sends it to the JVM (``getActiveSession``, ``PySparkCurrentOrigin``
  set/clear), only so that an error can name the Python line that built
  the failing expression. Off, errors still carry Spark's own message and
  the Python traceback of the call that raised, without that line. A warm
  ``curate_corpus`` at sf0.01 (4 cores) sends about 780 py4j commands with
  it off against about 950 with it on; with its expressions written as
  Column-API calls, as they were before, it sent about 2,600 against
  about 4,300.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def get_spark(app_name: str = "projet-data-engineering-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Python workers unpickle mapInPandas/pandas_udf closures by importing
    # this package — make sure they can, wherever the driver was launched.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: coalesce post-shuffle partitions and split skewed joins at
        # runtime — the scale knob that replaces hand-tuning per SF.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        # Dimension tables broadcast (region/nation/supplier/part at test SF;
        # threshold scales to real dims on a cluster).
        .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
        # Arrow for the pandas_udf vector-math paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects;
        # read as long and convert (io.load_table) — DuckDB likewise truncates
        # nanos to its micro-resolution timestamps, so the engines agree.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Static conf, read once per JVM; sized in the module docstring.
        .config("spark.sql.codegen.cache.maxEntries", 1024)
        # No Python call-site capture per Column call; see the docstring.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def _rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s logical plan as a frame of ``session``, built JVM-side (no
    Python round trip; on a checkpointed frame the plan is a scan of its
    stored blocks, so nothing is recomputed)."""
    jvm = session.sparkContext._jvm
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            session._jsparkSession, df._jdf.logicalPlan()
        ),
        session,
    )


@dataclass(frozen=True)
class GraphLoop:
    """What an iterative graph loop reads inside :func:`graph_loop`."""

    edges: DataFrame  # the loop's edge frame, in the session it runs in
    small: bool
    width: int  # round-shuffle width on a small graph, always >= 1
    caller: SparkSession

    def pin(self, df: DataFrame, *keys: str) -> DataFrame:
        """Small graph: ``df`` hash-partitioned to the loop width, so a
        following groupBy/distinct reuses the exchange. Large: ``df``
        unchanged, AQE sizes the exchange."""
        return df.repartition(self.width, *keys) if self.small else df

    def group(self, df: DataFrame, *keys: str):
        return self.pin(df, *keys).groupBy(*keys)

    def hint(self, df: DataFrame) -> DataFrame:
        """Small graph: node-sized frames always fit a broadcast. Large:
        AQE decides from runtime sizes."""
        return F.broadcast(df) if self.small else df

    def bind(self, df: DataFrame) -> DataFrame:
        """Another materialized frame of the caller's, as a frame of the
        session the loop runs in."""
        return _rebind(df, self.edges.sparkSession) if self.small else df

    def result(self, df: DataFrame) -> DataFrame:
        """The loop's output as a frame of the caller's session. Call it on
        materialized output (a checkpoint): only the planning session
        changes, nothing is recomputed."""
        return _rebind(df, self.caller) if self.small else df


@contextmanager
def graph_loop(edges: DataFrame, count_edges: bool = False) -> Iterator[GraphLoop]:
    """Scope of an iterative graph loop (connected components, PageRank)
    over ``edges``, a checkpointed edge frame whose blocks are stored.

    **Small graphs run with AQE off.** Every round of such a loop is a
    handful of tiny exchanges, and AQE runs every exchange of every
    materialization as its own stage job (~100 ms each): 4-7 jobs a round
    on graphs that fit one partition, all fixed cost. With AQE off, every
    round shuffle pinned to one width (:meth:`GraphLoop.pin`) and the
    node-sized frames broadcast (:meth:`GraphLoop.hint`), a round is one
    job for its convergence aggregate plus one per broadcast frame: 2 jobs
    in each of CC, LSS and PageRank. Large graphs keep AQE: there the stage
    jobs are noise against real shuffle work, and skew handling on the
    round joins matters more than round latency. The loops fold integer
    labels or replay the same IEEE operations in the same order, so the
    layout never changes an output row.

    **The width is data-derived, never a core count.** It is read from the
    checkpoint's RDD, which is metadata-only once the frame is stored. An
    edge frame that ends in an aggregate has the width AQE coalesced it to,
    which tracks its bytes: ``<= 4`` partitions is small. An edge frame
    that ends in a map (``count_edges=True``) inherits whatever width its
    upstream had, so one count job over the stored blocks decides instead:
    ``<= 200,000`` edges is small, one partition per 50,000 edges. An empty
    edge set coalesces to 0 partitions, and ``repartition(0)`` raises, so
    the width is never below 1.

    **A small graph's loop runs in a child session.** SQL conf is
    per-session, so turning AQE off on the caller's session would make
    every query planned there meanwhile, by any thread, plan without it,
    and a loop that raised would have to restore it. The child is a clone
    of the caller's session (every other setting kept) with AQE off; the
    edge frame is re-bound into it JVM-side (another stored frame through
    :meth:`GraphLoop.bind`), and the loop returns its materialized output
    through :meth:`GraphLoop.result`. A large graph
    runs in the caller's session, with no child."""
    spark = edges.sparkSession
    nparts = edges.rdd.getNumPartitions()
    if count_edges:
        n = edges.count() if nparts <= 64 else None
        small = n is not None and n <= 200_000
        width = min(nparts, n // 50_000 + 1) if small else nparts
    else:
        small, width = nparts <= 4, nparts
    width = max(1, width)
    if small:
        child = SparkSession(
            spark.sparkContext, spark._jsparkSession.cloneSession()
        )
        child.conf.set("spark.sql.adaptive.enabled", "false")
        edges = _rebind(edges, child)
    yield GraphLoop(edges, small, width, spark)
