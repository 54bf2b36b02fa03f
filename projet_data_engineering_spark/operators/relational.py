"""Relational operators: scans, filters, projections, aggregations, joins,
windows, set ops (SURVEY.md §2.1–2.6).

The reference delegates these to MongoDB + client-side pandas
(``app/main.py:41-68``): predicate executes server-side, everything else after
full materialization. Here each is one declarative DataFrame chain — Catalyst
pushes the predicate into the parquet scan, prunes columns, and plans
partial+final hash aggregation; only aggregated results reach the driver.

Scale notes per operator are inline. Conventions for oracle parity:
- every computed column is aliased identically in Spark and SQL;
- floating aggregates are rounded (4 dp; money 2 dp) on BOTH sides so
  summation-order differences between engines can't flip the value hash;
- top-k / limit queries carry a deterministic total order (unique tie-break
  key) so the returned SET matches the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import load_table, merge_upsert
from projet_data_engineering_spark.registry import query


# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------


@query(
    "q_filter_isin",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def q_filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — IN-list predicate (reference ``app/main.py:41``:
    ``{"category": {"$in": cats}}``). Pushes to the parquet scan."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@query(
    "q_project",
    oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer",
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — column projection (reference ``app/main.py:68``). Catalyst prunes
    the parquet ReadSchema to exactly these columns."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_filter_neq",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer WHERE c_mktsegment <> 'BUILDING'
    """,
)
def q_filter_neq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — inequality/validity filter (reference ``scraper/main.py:141-142``
    drops rows whose title failed to parse)."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") != "BUILDING")
        .select("c_custkey", "c_acctbal")
    )


@query(
    "q_coalesce",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           COALESCE(NULLIF(l_discount, 0.0), 0.05) AS discount_eff
    FROM lineitem
    """,
)
def q_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — default-on-missing (reference ``app/main.py:52,167,182-184``:
    ``.get('duration_min', 0)`` column-fallback semantics)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.nullif(F.col("l_discount"), F.lit(0.0)), F.lit(0.05)).alias(
            "discount_eff"
        ),
    )


@query(
    "q_filter_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20 AND l_discount >= 0.02
    """,
)
def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — range predicate (reference README.md:133-134 declares rating /
    duration_min range searchability). Both bounds push down to row-groups."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity").between(10, 20)) & (F.col("l_discount") >= 0.02)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@query(
    "q_filter_prefix",
    oracle="SELECT p_partkey, p_name FROM part WHERE p_name LIKE 'small%'",
)
def q_filter_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — prefix predicate (reference ``app/main.py:177``:
    ``img_url.startswith("http")``). StartsWith pushes down to parquet."""
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey", "p_name")
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@query("q_count", oracle="SELECT COUNT(*) AS n_rows FROM lineitem")
def q_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — COUNT(*) KPI (reference ``app/main.py:48``: ``len(df)``).
    Plans as partial counts per partition + one final sum — no data movement
    beyond one long per partition, at any scale."""
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@query(
    "q_avg",
    oracle="""
    SELECT ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price
    FROM lineitem
    """,
)
def q_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — mean KPIs (reference ``app/main.py:49,56-57``)."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
    )


@query(
    "q_mode",
    oracle="""
    SELECT o_orderpriority AS mode_value
    FROM (
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY n DESC, o_orderpriority ASC
        LIMIT 1
    )
    """,
)
def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — mode / most frequent value (reference ``app/main.py:52``:
    ``df['difficulty'].mode()[0]``). Deterministic tie-break on the value
    itself. Hash-agg then a 1-row top-k: the heavy lifting is the group-by,
    which partial-aggregates map-side; the sort sees only |distinct| rows."""
    o = load_table(spark, sf_dir, "orders")
    counted = o.groupBy("o_orderpriority").agg(F.count("*").alias("n"))
    return (
        counted.orderBy(F.desc("n"), F.asc("o_orderpriority"))
        .limit(1)
        .select(F.col("o_orderpriority").alias("mode_value"))
    )


@query(
    "q_value_counts",
    oracle="""
    SELECT l_returnflag AS value, COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — value_counts (reference ``app/main.py:61``). Classic partial+final
    hash aggregation; low-cardinality key means the shuffle is tiny."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("value"))
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_value_counts_num",
    oracle="""
    SELECT l_quantity AS value, COUNT(*) AS n
    FROM lineitem GROUP BY l_quantity
    """,
)
def q_value_counts_num(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — value_counts over a numeric key (reference ``app/main.py:65``)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_quantity").alias("value"))
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_count_distinct",
    oracle="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — distinct count per group (reference ``scraper/main.py:108-124``
    dedups URLs per category via a ``seen`` set). Spark expands to a
    two-phase aggregate; at 100 TB prefer ``approx_count_distinct`` (HLL)
    when exactness isn't required."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


@query(
    "q_should_score",
    oracle="""
    SELECT o_orderkey, matched_clauses
    FROM (
        SELECT o_orderkey,
               (CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END
                + CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                + CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS matched_clauses
        FROM orders
    )
    WHERE matched_clauses >= 1
    """,
)
def q_should_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — bool.should clause-hit scoring with minimum_should_match
    (reference ``app/main.py:142-154``): score = number of matching clauses,
    keep rows with >= 1. Pure column algebra, no shuffle at all."""
    o = load_table(spark, sf_dir, "orders")
    clauses = [
        F.col("o_totalprice") > 100000,
        F.col("o_orderpriority") == "1-URGENT",
        F.col("o_orderstatus") == "F",
    ]
    score = sum(F.when(c, 1).otherwise(0) for c in clauses)
    return (
        o.withColumn("matched_clauses", score)
        .filter(F.col("matched_clauses") >= 1)
        .select("o_orderkey", "matched_clauses")
    )


@query(
    "q_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary — the dashboard-KPI pattern
    (§3.1: filter → groupBy → many aggregates) at fact-table scale.

    Scale: filter pushes to parquet; 6 aggregates over 4 groups partial-
    aggregate map-side, so the shuffle carries ~|groups| rows per partition
    regardless of SF. This is the plan shape that survives 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 Windows / sorts / limits / top-k
# ---------------------------------------------------------------------------


@query(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — top-K by score (reference ``app/main.py:96,153``: ES ``size: 500``
    heap top-k). ``orderBy().limit()`` plans as TakeOrderedAndProject — each
    partition keeps a 100-row heap, no full sort, at any scale. Unique
    tie-break (o_orderkey) makes the result set deterministic."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q_limit",
    oracle="SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 10",
)
def q_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — head/limit preview (reference ``app/main.py:68``: ``head(10)``),
    made deterministic by ordering on the unique key."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q_first",
    oracle="""
    SELECT MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
           CAST(MIN(o_orderdate) AS VARCHAR) AS first_date
    FROM orders
    """,
)
def q_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — first-match extraction (reference ``app/main.py:52``,
    ``scraper/main.py:213``: ``mode()[0]``, ``nums[0]``)."""
    return load_table(spark, sf_dir, "orders").agg(
        F.min("o_orderkey").alias("first_key"),
        F.max("o_orderkey").alias("last_key"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("first_date"),
    )


@query(
    "q_window_rank",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — rank within group (reference ``app/main.py:52``'s mode is rank-1
    by count; SURVEY registers top-k-per-category). One shuffle on the
    partition key; at scale, skewed partition keys are split by AQE."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "q_window_lag",
    oracle="""
    SELECT event_id, user_id,
           ROUND(value - COALESCE(LAG(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id), 0.0), 4) AS delta
    FROM events
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window (lag) over the events stream table — the per-user
    delta pattern the streaming surface needs (SURVEY.md §2.5 note)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0)), 4
        ).alias("delta"),
    )


@query(
    "q_window_frame",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum
    FROM events
    """,
)
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame window — running sum per user (cumulative-metric pattern)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_sum"),
    )


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@query(
    "q_join_inner",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact→dim + aggregate. Customer is the small side —
    ``broadcast()`` eliminates the fact-table shuffle entirely; on a cluster
    this is the difference between moving 100 TB and moving 100 MB."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "q_join_multi",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table star join (local-supplier revenue by nation).

    Join order is dimension-first ON PURPOSE: region→nation→customer prunes
    the customer side to one region (~1/5) via broadcasts BEFORE any fact
    shuffle, so the customer⋈orders and orders⋈lineitem exchanges move only
    surviving rows. Without table stats Catalyst keeps the written order —
    at 100 TB the pre-pruned shuffle is the difference that matters.
    supplier stays last (its condition needs both l_suppkey and
    c_nationkey); it broadcasts like the other dims."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    asia_nations = n.join(
        F.broadcast(r.filter(F.col("r_name") == "ASIA")),
        n.n_regionkey == r.r_regionkey,
    )
    asia_custs = c.join(
        F.broadcast(asia_nations), c.c_nationkey == asia_nations.n_nationkey
    )
    return (
        asia_custs.join(o, asia_custs.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "q_join_left",
    oracle="""
    SELECT n.n_name, COUNT(c.c_custkey) AS n_customers
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving empty groups (nations with 0 customers)."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS). Ships only the key column of the probe side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — customers who never placed a >400k
    order. (The unfiltered form — customers with no orders at all — is
    empty in this data: every customer has orders, which would make the
    check vacuous.) The filter lands on the build side before the join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_upsert_merge",
    oracle="""
    WITH new_batch AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_custkey
                ELSE o.o_custkey END AS o_custkey,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderstatus
                ELSE o.o_orderstatus END AS o_orderstatus,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_totalprice
                ELSE o.o_totalprice END AS o_totalprice
    FROM (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders) o
    FULL OUTER JOIN new_batch n ON o.o_orderkey = n.o_orderkey
    """,
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/S4 — keyed upsert as full-outer merge (reference
    ``scraper/main.py:263-264``: Mongo UpdateOne upsert per product_id).
    The new batch (every 3rd order, price bumped by a flat 1000 — exact IEEE
    addition, so no rounding divergence) overwrites matching keys; unmatched
    old rows survive. See ``io.merge_upsert``; with Delta this is MERGE INTO.
    Shuffles both sides on the key once."""
    old = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        old.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    )
    return merge_upsert(old, new, "o_orderkey")


# ---------------------------------------------------------------------------
# §2.6 Set operations / dedup
# ---------------------------------------------------------------------------


@query(
    "q_dedup",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — distinct (reference ``scraper/main.py:88,114-116``: ``seen`` set
    dedup during collection). Partial-aggregates map-side before the shuffle."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@query(
    "q_union",
    oracle="""
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 — union of per-category batches (reference ``scraper/main.py:68,237``
    accumulates 3 category loops). ``unionByName`` = UNION ALL, zero shuffle."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT")
    b = o.filter(F.col("o_orderpriority") == "2-HIGH")
    return a.unionByName(b)


@query(
    "q_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — free Spark built-in (SURVEY.md §2.6 note)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.intersect(o)


@query(
    "q_except",
    oracle="""
    SELECT o_custkey AS c_custkey FROM orders
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT — order-placing customers minus big-order (>400k) customers.
    (customer-minus-orders would be empty here: every customer orders.)
    ``subtract`` is EXCEPT DISTINCT: a customer with any big order drops out
    entirely, matching ANSI set semantics."""
    o = load_table(spark, sf_dir, "orders")
    all_c = o.select(F.col("o_custkey").alias("c_custkey"))
    big_c = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return all_c.subtract(big_c)


@query(
    "q_except_all",
    oracle="""
    SELECT o_custkey AS c_custkey FROM orders
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_totalprice > 400000
    """,
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag semantics: each big order cancels exactly ONE
    occurrence of its customer, the rest of the multiplicity survives
    (vs. q_except's DISTINCT semantics, where one big order erases the
    customer entirely). Spark plans this as a single hash aggregate over
    per-side counts — one shuffle, no join."""
    o = load_table(spark, sf_dir, "orders")
    all_c = o.select(F.col("o_custkey").alias("c_custkey"))
    big_c = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return all_c.exceptAll(big_c)


@query(
    "q_tpch_q3",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — shipping-priority top-10: selective dim filter,
    two fact joins, aggregate, true top-k. The customer filter broadcasts;
    ordering on the ROUNDED revenue keeps the top-10 cut deterministic
    across engines (ties broken by orderkey)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q_tpch_q6",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — forecasting revenue: pure filter+sum, the query where
    pushdown matters most. All four predicates reach the parquet row-group
    stats; the aggregate ships one double per partition."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.04))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "q_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (status → status+priority → grand total) —
    the grouping-sets surface SURVEY.md §2.4 notes Spark covers natively.
    One shuffle; NULL group markers match ANSI semantics on both engines."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2^k grouping combinations in one pass (completes the
    grouping-sets surface next to q_rollup). Spark expands the sets before
    the shuffle, so it stays a single exchange."""
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: status values become columns (the dashboard's distribution
    charts, reference ``app/main.py:61-65``, laid out wide). The pivot value
    list is explicit — Spark then skips the extra pass that would otherwise
    collect distinct values to the driver."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


@query(
    "q_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_quantity, 0.95), 4) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group. At 100 TB swap
    ``percentile`` for ``percentile_approx`` (bounded-memory sketch, see
    q_approx_distinct for the same trade) — exact here so the oracle is
    bit-comparable."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_quantity, 0.95)"), 4).alias("p95"),
        )
    )


@query("q_approx_distinct")  # sketch estimates are engine-specific → rows-only
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch per group — the constant-memory
    path that replaces exact countDistinct's full shuffle at corpus scale
    (2% default error). Estimates differ across engines by design, so the
    driver records a rows-only check; pytest bounds the relative error
    against the exact count."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.approx_count_distinct("o_custkey").alias("n_custkeys_approx"))
    )


@query(
    "q_join_asof",
    oracle="""
    WITH u AS (
        SELECT user_id, ts, event_id AS click_id,
               CAST(NULL AS BIGINT) AS purchase_id, 1 AS is_click
        FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, ts, CAST(NULL AS BIGINT), event_id, 0
        FROM events WHERE event_type = 'purchase'
    ),
    carried AS (
        SELECT user_id, ts, purchase_id,
               LAST_VALUE(click_id IGNORE NULLS) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, is_click DESC, COALESCE(click_id, purchase_id)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
        FROM u
    )
    SELECT user_id, purchase_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           click_id
    FROM carried WHERE purchase_id IS NOT NULL
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each purchase matched to the user's most recent
    click at-or-before it — the operator Spark lacks natively (the brief's
    attribution/funnel shape).

    Implemented with the union trick: interleave both sides in one
    per-user event-time sort and carry the last click forward with
    ``last(ignorenulls)``. ONE shuffle on user_id total — versus the naive
    per-pair range join's quadratic blowup — and no per-key driver loops, so
    it scales with executors like any window aggregate. Same-timestamp ties
    sort clicks first (a same-instant click counts as prior), then by id."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("bigint").alias("purchase_id"),
        F.lit(1).alias("is_click"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("bigint").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
        F.lit(0).alias("is_click"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            "ts",
            F.desc("is_click"),
            F.coalesce("click_id", "purchase_id"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionByName(purchases)
        .withColumn("last_click", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("purchase_id").isNotNull())
        .select(
            "user_id",
            "purchase_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.col("last_click").alias("click_id"),
        )
    )


@query(
    "q_join_range",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('small', 0.0, 50000.0),
               ('medium', 50000.0, 200000.0),
               ('large', 200000.0, 1000000000.0)
    )
    SELECT b.band, COUNT(*) AS n, ROUND(AVG(o.o_totalprice), 2) AS avg_price
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: orders banded by price interval. The band table is
    tiny → Spark plans BroadcastNestedLoopJoin, which is the right physical
    strategy: every row tests 3 intervals with zero shuffle. For big-big
    range joins, bin both sides to equi-keys first (the q_dedup_jaccard
    blocking pattern)."""
    o = load_table(spark, sf_dir, "orders")
    bands = o.sparkSession.createDataFrame(
        [
            ("small", 0.0, 50000.0),
            ("medium", 50000.0, 200000.0),
            ("large", 200000.0, 1000000000.0),
        ],
        ["band", "lo", "hi"],
    )
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


@query(
    "q_sql_correlated",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND((SELECT SUM(o.o_totalprice) FROM orders o
                  WHERE o.o_custkey = c.c_custkey), 2) AS total_spend
    FROM customer c
    WHERE (SELECT SUM(o.o_totalprice) FROM orders o
           WHERE o.o_custkey = c.c_custkey)
          > (SELECT AVG(cust_total) FROM (
                 SELECT SUM(o_totalprice) AS cust_total
                 FROM orders GROUP BY o_custkey))
    """,
)
def q_sql_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point (``spark.sql``) with a correlated scalar subquery:
    customers whose total spend beats the average customer's total.

    Catalyst decorrelates both subqueries into aggregations + joins
    (RewriteCorrelatedScalarSubquery) — the per-customer re-scan a naive
    executor would do never happens; the plan is two hash aggregates and a
    broadcast of the 1-row global average (SURVEY.md §4: decorrelation is
    built-in, nothing hand-written). The tables are bound as DataFrame
    arguments, which PySpark registers under unique view names for the
    analysis only, so no session-wide name is shared between callers."""
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name,
               ROUND((SELECT SUM(o.o_totalprice) FROM {orders} o
                      WHERE o.o_custkey = c.c_custkey), 2) AS total_spend
        FROM {customer} c
        WHERE (SELECT SUM(o.o_totalprice) FROM {orders} o
               WHERE o.o_custkey = c.c_custkey)
              > (SELECT AVG(cust_total) FROM (
                     SELECT SUM(o_totalprice) AS cust_total
                     FROM {orders} GROUP BY o_custkey))
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "q_try_cast",
    oracle="""
    SELECT doc_id,
           TRY_CAST(substr(text, 1, 4) AS INTEGER) AS maybe_int,
           TRY_CAST(CAST(n_chars AS VARCHAR) AS INTEGER) AS roundtrip
    FROM documents
    """,
)
def q_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe casting: Spark 4 runs ANSI mode where a bad CAST throws
    mid-job — ``try_cast`` yields NULL instead, the right semantics for
    dirty-corpus ETL at scale (one malformed row must not kill a 1000-task
    stage). Mirrors DuckDB TRY_CAST exactly."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr("try_cast(substring(text, 1, 4) AS int)").alias("maybe_int"),
        F.expr("try_cast(cast(n_chars AS string) AS int)").alias("roundtrip"),
    )


@query(
    "q_string_agg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
               AS statuses
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-to-array aggregation surfaced as a deterministic string:
    ``collect_set`` -> ``array_sort`` -> ``array_join`` (collect_set order is
    partition-dependent, so the sort is what makes the result stable and
    oracle-comparable). The set stays tiny per group — this is the pattern
    for building per-key vocabularies at scale, NOT for collecting unbounded
    rows into one value."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderstatus")), ","
            ).alias("statuses")
        )
    )


@query(
    "q_histogram",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 600000 THEN 13
                ELSE CAST(FLOOR(o_totalprice / 50000) AS BIGINT) + 1 END AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY bucket
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram binning via ``width_bucket`` — the distribution-chart
    pattern (reference ``app/main.py:61-65``) generalized to continuous
    values. Bucket assignment is map-side; the shuffle carries one row per
    bucket."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12)).alias(
                "bucket"
            ),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, ROUND(value, 2) AS value
    FROM (
        SELECT l_orderkey, l_linenumber, 'price' AS measure,
               l_extendedprice AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    )
    WHERE l_orderkey % 100 = 0
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt — wide measures to long (id, measure, value) form, the
    inverse of q_pivot and the shape feature stores and metric sinks want.
    ``unpivot`` is a zero-shuffle narrow op: each row expands locally to one
    row per measure."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    )
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_extendedprice", "l_tax", "l_discount"],
            "measure",
            "value",
        )
        .withColumn(
            "measure",
            F.when(F.col("measure") == "l_extendedprice", "price")
            .when(F.col("measure") == "l_tax", "tax")
            .otherwise("discount"),
        )
        .withColumn("value", F.round("value", 2))
    )


@query("q_sample")  # engine RNGs differ → rows-only; bounds tested in pytest
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample of the corpus (training-mix subsampling).
    Deterministic per seed WITHIN Spark — re-runs return identical rows, a
    property the mix-reproducibility story depends on — but RNG streams are
    engine-specific, so no cross-engine oracle exists (rows-only check;
    pytest asserts the fraction bound and the determinism)."""
    d = load_table(spark, sf_dir, "documents")
    return d.sample(fraction=0.2, seed=42).select("doc_id", "lang")


@query(
    "q_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
           ROUND(var_samp(l_quantity), 4) AS var_qty,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per group: sample stddev/variance and
    Pearson correlation — single-pass streaming moments (partial+final,
    map-side combinable), so they scale exactly like sum/count."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "corr_qty_price"
            ),
        )
    )


@query("q_percentile_approx")  # sketch estimates are engine-specific → rows-only
def q_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via Spark's quantile sketch — the
    bounded-memory path that replaces q_percentile's exact sort-based
    aggregation at corpus scale. Estimates are engine-specific (rows-only
    check); pytest bounds the error against the exact quantile."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 1000).alias("p50_approx"),
            F.percentile_approx("l_extendedprice", 0.95, 1000).alias("p95_approx"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H widening (round 2): Q7, Q8, Q9*, Q15, Q19*, Q22* — the shapes the
# synthetic schema supports (* = adapted where a TPC-H column/table is absent
# from the test corpus: no partsupp, no l_shipmode/commitdate, no c_phone).
# ---------------------------------------------------------------------------


@query(
    "q_tpch_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 — volume shipped between two nations, by direction and year.

    Scale shape: the two-nation filter lands on the TINY nation table first
    and rides broadcast joins onto supplier and customer, so the lineitem
    scan is pruned by a broadcast semi-condition (only the two nations'
    suppliers survive) BEFORE the orders shuffle; the date filter pushes to
    the parquet scan. The asymmetric pair condition reduces to
    supp_nation != cust_nation once both sides are restricted to the pair."""
    pair = ["NATION_1", "NATION_2"]
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(pair))
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q_tpch_q8",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           ROUND(SUM(CASE WHEN n2.n_name = 'NATION_3'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS mkt_share
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
    JOIN region r   ON n1.n_regionkey = r.r_regionkey
    JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 — national market share: NATION_3's slice of ECONOMY-part
    revenue sold into ASIA, by order year.

    Join order is selectivity-first: the p_type filter prunes part to ~1/6
    and broadcasts onto lineitem BEFORE anything else, so every later join
    moves only matching line items. Supplier (with its nation name) and the
    ASIA customer set ride broadcasts too; the only fact-fact shuffle is
    lineitem⋈orders on the orderkey. The share is a conditional-sum ratio in
    ONE aggregation pass — no second scan for the denominator."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    asia = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(asia.select("n_nationkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0)
                )
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "q_tpch_q9",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18, 6))), 2) AS DOUBLE) AS sum_profit
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, o_year
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted) — product-line profit by supplier nation and year.
    The test corpus has no partsupp table, so profit omits the
    ps_supplycost*l_quantity term (both engines compute the identical
    adapted formula). The substring part filter ('%widget%') broadcasts onto
    lineitem first; supplier+nation broadcast; one orderkey shuffle.

    The per-row profit is cast to DECIMAL before summing on BOTH engines:
    double accumulation order differs between Spark's partial aggregates and
    DuckDB's, and at this group size the FP drift crosses a cent boundary.
    Decimal sums are exact and order-independent — the correct accumulator
    for money at any scale."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    n = load_table(spark, sf_dir, "nation")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("sum_profit")
        )
    )


@query(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 — top supplier by quarterly revenue.

    The revenue aggregate collapses lineitem to |suppliers| rows; the
    max-equality is a window ``max() over ()`` over that ALREADY-SMALL
    aggregate (single-partition exchange of |suppliers| rows, not of
    lineitem — the only safe place for a global window). Revenue is rounded
    to cents on both engines BEFORE the max comparison so FP ties agree."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    from pyspark.sql import Window

    top = revenue.withColumn(
        "_mx", F.max("total_revenue").over(Window.partitionBy())
    ).filter(F.col("total_revenue") == F.col("_mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(top), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q_tpch_q19",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted: no p_container/l_shipmode in the corpus) —
    disjunctive brand/size/quantity predicate over a part⋈lineitem join.

    The part side is PREFILTERED to the union of the three (brand, size)
    envelopes before broadcasting — the OR can't push into the scan whole,
    but its part-only projection can, so the broadcast table carries only
    candidate parts and the per-branch quantity conjuncts run post-join."""
    p = load_table(spark, sf_dir, "part").filter(
        (
            (F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
        )
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50))
    )
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#1") & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & q.between(20, 40))
    )
    return (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(branch)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q_tpch_q22",
    oracle="""
    WITH avg_bal AS (
        SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT CAST(c.c_nationkey AS BIGINT) AS cntrycode,
           COUNT(*) AS numcust,
           ROUND(SUM(c.c_acctbal), 2) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND c.c_nationkey % 5 = 0
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY cntrycode
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: nationkey buckets stand in for the absent c_phone
    country codes) — rich customers who never ordered.

    Three-stage shape: (1) the positive-balance average is a 1-row broadcast
    (no second customer scan at the join — crossJoin against one row);
    (2) the country-code + balance filter is map-only; (3) the "lapsed"
    test (no orders since 2000 — TPC-H's recent-window analogue) is a LEFT
    ANTI join against only orders' filtered custkey column — the projection
    and date filter prune the orders scan before the anti join shuffles
    just (custkey) pairs, never whole rows."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    eligible = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(
            (F.col("c_acctbal") > F.col("ab")) & (F.col("c_nationkey") % 5 == 0)
        )
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return eligible.groupBy(
        F.col("c_nationkey").cast("long").alias("cntrycode")
    ).agg(
        F.count("*").alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )
