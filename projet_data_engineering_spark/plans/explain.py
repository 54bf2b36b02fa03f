"""Physical-plan introspection helpers.

The engine's scale story rests on Catalyst choosing the right physical plan:
filters pushed into the parquet scan, columns pruned, small dims broadcast,
top-k as TakeOrderedAndProject, expressions inside whole-stage codegen.
These helpers make those properties assertable in tests (tests/test_plans.py)
so a regression that silently de-optimizes a plan fails CI, not the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan reports a pushed filter containing fragment."""
    plan = formatted_plan(df)
    return any(
        "PushedFilters" in line and fragment in line and "[]" not in line
        for line in plan.splitlines()
    )


def read_schema_columns(df: DataFrame, table_fragment: str) -> list[str]:
    """Columns actually read from the scan whose location matches fragment —
    verifies column pruning reached the reader."""
    plan = formatted_plan(df)
    lines = plan.splitlines()
    cols: list[str] = []
    in_scan = False
    for i, line in enumerate(lines):
        if "Location:" in line and table_fragment in line:
            in_scan = True
        elif in_scan and "ReadSchema" in line:
            schema = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols = [f.split(":")[0] for f in schema.split(",") if f]
            break
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def uses_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in formatted_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen stages (the ``*(N)`` markers) in the
    executed plan. Triggers execution — call on test-scale data only."""
    import re

    df.collect()  # materializes THIS plan (count() would plan a new query)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the plan — the unit of cluster cost. Asserted
    upper bounds in tests keep operators from growing accidental shuffles."""
    import re

    plan = formatted_plan(df)
    # count detail-section headers only — the tree section repeats each node
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.MULTILINE))


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """Partition-less Window nodes whose input is NOT aggregate-bounded.

    A global window (``Window.partitionBy()`` empty) serializes its entire
    input onto one task — fine over an aggregate-sized intermediate (e.g.
    window-over-groupBy in TPC-H Q15), fatal over a fact-sized input at
    100 TB. This walks the optimized logical plan: for every Window with an
    empty partitionSpec, its child subtree must reach an Aggregate /
    Limit / Deduplicate (or a one-row relation) on EVERY path to a leaf —
    i.e. the window's input cardinality is group-count-sized, not
    row-count-sized. Returns one descriptive string per offending node
    (empty list = clean); linted repo-wide by tools/plan_audit.py and
    pinned in tests/test_plans.py."""
    plan = df._jdf.queryExecution().optimizedPlan()

    def children(node):
        cs = node.children()
        return [cs.apply(i) for i in range(cs.size())]

    def bounded(node) -> bool:
        name = node.getClass().getSimpleName()
        if (
            "Aggregate" in name
            or "Limit" in name
            or "Deduplicate" in name
            or "OneRowRelation" in name
        ):
            return True
        cs = children(node)
        if not cs:
            return False  # leaf relation: fact-sized
        return all(bounded(c) for c in cs)

    bad: list[str] = []
    stack = [plan]
    while stack:
        node = stack.pop()
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
            and not all(bounded(c) for c in children(node))
        ):
            bad.append(node.simpleString(10))
        stack.extend(children(node))
    return bad


def scan_partitions_read(df: DataFrame) -> dict[str, int]:
    """{scan location: partitions read} for every partitioned file scan of
    ``df``'s EXECUTED plan, from the scans' ``number of partitions read``
    metric — so partitions a dynamic partition filter pruned at run time
    are not counted. Walks into adaptive query stages and reused
    exchanges. Call after ``df`` has run, on test-scale data only."""
    out: dict[str, int] = {}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        metric = node.metrics().get("numPartitions")
        if name == "FileSourceScanExec" and metric.isDefined():
            loc = node.relation().location().rootPaths()
            roots = ",".join(loc.apply(i).toString() for i in range(loc.size()))
            out[roots] = int(metric.get().value())
        cs = node.children()
        stack.extend(cs.apply(i) for i in range(cs.size()))
    return out


def lambda_bodies(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` of a plan string, nested ones included.
    A body runs once per array element, so a tokenizer or a fold found in
    one is re-run per element; Catalyst's CollapseProject puts a projected
    column back into a lambda when that lambda is its only reader."""
    bodies = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth = 0
        for end in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        bodies.append(plan[start:end + 1])
        start = plan.find("lambdafunction(", start + 1)
    return bodies


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()
