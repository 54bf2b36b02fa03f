"""Advanced analytic shapes: subquery decorrelation, grouping sets, analytic
window frames, time-series gap-fill, and higher-order array functions.

The reference never issues these (its single-collection model stops at
value_counts, ``app/main.py:44-68``), but a user replacing its Mongo/pandas
stack gets them from Spark for free — and each one locks in a distributed
pattern that matters at 100 TB: EXISTS→left-semi (no fact-side fan-out),
LEFT JOIN + count distribution (skew-tolerant, two shuffles on different
keys), correlated-scalar-agg→pre-aggregate-then-join (the manual
decorrelation Catalyst applies automatically in SQL form), date-spine
gap-fill (the cross join is broadcast — the spine is tiny by construction),
and whole-partition window stats (one shuffle, no self-join).

Oracle conventions follow ``operators/relational.py``: identical aliases on
both sides, floats rounded before hashing, deterministic result sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import load_table
from projet_data_engineering_spark.registry import query


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — priority count with an EXISTS predicate against the
    fact table. The EXISTS becomes a LEFT SEMI join (with the non-equi
    ``l_shipdate > o_orderdate`` condition folded into the join), so lineitem
    rows are probed, never duplicated — no fan-out, no post-join distinct.
    The date filter cuts orders first, so the semi join's build side is the
    small, already-filtered orders slice."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey) t
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — customer order-count distribution. LEFT OUTER join
    keeps zero-order customers (COUNT over the null-extended side yields 0,
    not 1 — the classic outer-join-count trap), then a second aggregation on
    a different key. Two shuffles by necessity (custkey, then c_count); the
    second input is one row per customer, already tiny."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q_tpch_q17",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — small-quantity-order revenue, a correlated scalar
    aggregate subquery on the fact table itself. Expressed decorrelated:
    pre-aggregate avg(quantity) per partkey once, then join — the same
    rewrite Catalyst applies to the SQL form. Both the pre-aggregate and the
    join shuffle on ``l_partkey``, so the exchange is reused; the brand
    filter broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avg_qty, li.l_partkey == avg_qty.ak)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q_tpch_q18",
    oracle="""
    SELECT c.c_name, o.o_orderkey,
           ROUND(o.o_totalprice, 2) AS totalprice,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey
                           HAVING SUM(l_quantity) > 300)
    GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume orders via an IN subquery with HAVING.
    The IN list is computed as an aggregate (sum(qty) per order > 300) and
    applied as a LEFT SEMI join on orders; only qualifying orders ever reach
    the customer join, which then broadcasts nothing large. The qualifying
    set shrinks as selectivity bites, so at 100 TB this is a
    filter-early/join-late plan, not a three-way fact join."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 300)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
    )


@query(
    "q_tpch_q10",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — top-20 customers by returned-item revenue. Both
    fact filters (date slice, returnflag) cut before any join; the final
    ORDER BY + LIMIT plans as TakeOrderedAndProject over the aggregated
    (already small) result — no full sort of the join output. Rounded
    revenue + custkey tie-break keeps the top-20 cut deterministic across
    engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q_tpch_q14",
    oracle="""
    SELECT ROUND(
        100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN l.l_extendedprice * (1 - l.l_discount)
                         ELSE 0.0 END)
              / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-12-01 00:00:00'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promo revenue share: a conditional-aggregation
    ratio (SUM(CASE)/SUM) computed in ONE pass over the joined slice, not
    two queries diffed. part broadcasts; the date filter prunes lineitem at
    the scan, so the join probes only the quarter's rows."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-12-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct")
        )
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — two independent breakdowns (by status, by
    priority) in ONE scan and one shuffle, completing the grouping surface
    next to q_rollup/q_cube. At 100 TB this halves the cost vs. two separate
    group-bys unioned: the expand happens after the scan, before the
    exchange, and partial aggregation still applies."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "q_window_range",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 4) AS cdist,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2
           ) AS run_total
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
)
def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytics (PERCENT_RANK, CUME_DIST) plus a RANGE-frame
    running total. RANGE (not ROWS) makes the running sum tie-stable: peers
    with equal o_totalprice share one frame, so the result is deterministic
    regardless of intra-tie order — required for cross-engine hashing, and
    the correct semantics for cumulative-share reports. One shuffle on the
    partition key serves all three window functions."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    wr = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cdist"),
        F.round(F.sum("o_totalprice").over(wr), 2).alias("run_total"),
    )


@query(
    "q_gap_fill",
    oracle="""
    WITH bounds AS (SELECT MIN(CAST(ts AS DATE)) AS d0,
                           MAX(CAST(ts AS DATE)) AS d1 FROM events),
    days AS (SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
             FROM bounds),
    users AS (SELECT DISTINCT user_id FROM events),
    spine AS (SELECT u.user_id, d.day FROM users u CROSS JOIN days d),
    daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
                     ROUND(SUM(value), 2) AS day_value
              FROM events GROUP BY 1, 2)
    SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
           LAST_VALUE(d.day_value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM spine s LEFT JOIN daily d
      ON s.user_id = d.user_id AND s.day = d.day
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: a complete (user × day) spine with missing days
    filled by last-observation-carried-forward. The spine is generated, not
    stored — ``sequence()`` over the global date bounds, exploded, then a
    broadcast cross join against the distinct users (the day list is tiny by
    construction, so no shuffle). LOCF is ``last(value, ignorenulls=True)``
    over an unbounded-preceding ROWS frame — one shuffle on user_id. Leading
    gaps (before a user's first event) stay NULL by design."""
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.agg(
            F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
        )
        .select(F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"))
    )
    users = ev.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(days))
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 2).alias("day_value"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled"),
        )
    )


@query(
    "q_ewma",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               ROUND(SUM(value), 2) AS day_value
        FROM events GROUP BY 1, 2
    ),
    seq AS (
        SELECT user_id, day, day_value,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                    AS DOUBLE) AS r
        FROM daily
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           ROUND(
               SUM(day_value * POWER(2.0, r)) OVER w / POWER(2.0, r)
               / (SUM(POWER(2.0, r)) OVER w / POWER(2.0, r)),
               4) AS ewma
    FROM seq
    WINDOW w AS (PARTITION BY user_id ORDER BY r
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.5) of each user's daily
    totals — the standard metric-smoothing op — as pure window algebra, no
    recursion: weight (1-a)^(t-i) factors into (1/(1-a))^i / (1/(1-a))^t, so
    one running weighted sum + one running weight sum (same frame, same
    single shuffle) yield the EWMA. The 2^row_number rescaling bounds at the
    series length — fine for bounded windows (daily series); for unbounded
    streams the same recurrence runs in ``applyInPandasWithState`` (see
    ``streaming.windows.running_user_totals`` for the pattern)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 2).alias("day_value"))
    )
    wo = Window.partitionBy("user_id").orderBy("day")
    seq = daily.withColumn("r", F.row_number().over(wo).cast("double"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scale = F.pow(F.lit(2.0), F.col("r"))
    num = F.sum(F.col("day_value") * scale).over(w) / scale
    den = F.sum(scale).over(w) / scale
    return seq.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(num / den, 4).alias("ewma"),
    )


@query(
    "q_zscore",
    oracle="""
    SELECT event_id, event_type,
           ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                 / NULLIF(STDDEV_SAMP(value) OVER (PARTITION BY event_type), 0),
                 4) + 0.0 AS z
    FROM events
    """,
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score via whole-partition window aggregates — the standard
    outlier-scoring step of a corpus-curation pipeline (flag |z| > k
    downstream). No self-join: AVG and STDDEV over an unordered window share
    one shuffle on the group key, and each row is scored in place. NULLIF
    guards the degenerate single-value group."""
    w = Window.partitionBy("event_type")
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (
            F.round(
                (F.col("value") - F.avg("value").over(w))
                / F.nullif(F.stddev_samp("value").over(w), F.lit(0.0)),
                4,
            )
            # + 0.0 normalizes IEEE negative zero: at large SFs partial-sum
            # drift makes a mathematically-zero z round to -0.0 on one
            # engine and +0.0 on the other, and they render differently
            + F.lit(0.0)
        ).alias("z"),
    )


@query(
    "q_join_nullsafe",
    oracle="""
    WITH a AS (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
               FROM customer),
    b AS (SELECT seg, COUNT(*) AS seg_n FROM a GROUP BY seg)
    SELECT a.c_custkey, a.seg, b.seg_n
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    """,
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): rows whose
    key is NULL match the NULL group instead of silently dropping — the
    semantics you want when joining on a derived, possibly-missing key
    (here: segment with 'BUILDING' nulled out). A plain ``=`` join would
    lose every NULL-keyed row; the plan is still an ordinary hash join
    (NULL hashes like any value under null-safe equality)."""
    c = load_table(spark, sf_dir, "customer")
    a = c.select(
        "c_custkey", F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg")
    )
    # b derives from a — rename its key so the self-join is unambiguous
    b = (
        a.groupBy("seg")
        .agg(F.count("*").alias("seg_n"))
        .withColumnRenamed("seg", "seg_b")
    )
    return a.join(b, F.col("seg").eqNullSafe(F.col("seg_b"))).select(
        "c_custkey", "seg", "seg_n"
    )


@query(
    "q_snapshot_diff",
    oracle="""
    WITH old AS (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_orderkey % 103 <> 0),
    new AS (SELECT o_orderkey,
                   o_totalprice
                   + CASE WHEN o_orderkey % 101 = 0 THEN 10.0 ELSE 0.0 END
                       AS o_totalprice
            FROM orders WHERE o_orderkey % 97 <> 0)
    SELECT change_type, COUNT(*) AS n FROM (
        SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                    WHEN n.o_orderkey IS NULL THEN 'delete'
                    WHEN o.o_totalprice <> n.o_totalprice THEN 'update'
                    ELSE 'unchanged' END AS change_type
        FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    ) GROUP BY change_type
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: classify every key across two table versions
    as insert / delete / update / unchanged via one full-outer join on the
    key (synthetic old/new built from ``orders`` by modular key slicing so
    the diff is deterministic). This is the change-detection step of an
    incremental 100 TB pipeline — one key-partitioned shuffle, after which
    downstream stages process only the insert/update slice instead of
    recomputing the world. Pairs with ``io.merge_upsert`` for the apply
    side."""
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 103 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 101 == 0, 10.0).otherwise(0.0)
        ).alias("o_totalprice"),
    )
    j = old.alias("o").join(
        new.alias("n"), F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    change = (
        F.when(F.col("o.o_orderkey").isNull(), "insert")
        .when(F.col("n.o_orderkey").isNull(), "delete")
        .when(F.col("o.o_totalprice") != F.col("n.o_totalprice"), "update")
        .otherwise("unchanged")
    )
    return (
        j.select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
          % 100
          < CASE WHEN lang = 'en' THEN 10 ELSE 40 END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling by content hash, not RNG: keep a row iff
    ``md5(key) mod 100`` falls under its stratum's rate (10% of the dominant
    'en' stratum, 40% elsewhere — downsampling the majority class is the
    standard corpus-balancing move). Hash-gating makes the sample a pure
    filter: reproducible across runs/engines (oracle hash-matches exactly,
    unlike seeded RNG), stable under repartitioning, and pushdown-friendly —
    properties ``sample()``'s per-partition RNG can't give you at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    rate = F.when(F.col("lang") == "en", 10).otherwise(40)
    return d.filter(bucket < rate).select("doc_id", "lang")


@query(
    "q_union_evolve",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL BY NAME
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def q_union_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: batches written before a column existed union
    with batches written after it, missing columns NULL-filled by NAME
    (``unionByName(allowMissingColumns=True)`` ≡ UNION ALL BY NAME) — not by
    position, which would silently misalign. The everyday reality of a
    long-lived 100 TB table whose schema grew over time; zero shuffle, the
    union is a plan-level concatenation."""
    o = load_table(spark, sf_dir, "orders")
    old_batch = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new_batch = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    return old_batch.unionByName(new_batch, allowMissingColumns=True)


@query(
    "q_winsorized_mean",
    oracle="""
    WITH cuts AS (
        SELECT event_type,
               percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS lo,
               percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS hi
        FROM events GROUP BY event_type)
    SELECT e.event_type,
           ROUND(AVG(LEAST(GREATEST(e.value, c.lo), c.hi)), 4) AS wmean,
           COUNT(*) AS n
    FROM events e JOIN cuts c ON e.event_type = c.event_type
    GROUP BY e.event_type
    """,
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorized mean via ``applyInPandas`` — the grouped-map UDF
    surface (SURVEY.md §2.10). Each group arrives as ONE Arrow-backed pandas
    DataFrame; numpy computes the 5/95% cuts (linear interpolation — same
    definition as ANSI percentile_cont), clips, and averages.

    Scale contract of grouped-map: one shuffle on the group key, and a whole
    group must fit in one executor's memory — right for many mid-sized
    groups (per-language, per-source corpus slices), wrong for one giant
    group (use the window/percentile_approx form then). Here it stands in
    for per-group logic that genuinely needs imperative code (iterative
    fits, model scoring); the oracle checks the Arrow round-trip exactly."""
    import pandas as pd

    def winsorize(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        v = pdf["value"].to_numpy()
        lo, hi = np.quantile(v, 0.05), np.quantile(v, 0.95)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "wmean": [round(float(np.clip(v, lo, hi).mean()), 4)],
                "n": [len(v)],
            }
        )

    return (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .groupBy("event_type")
        .applyInPandas(winsorize, "event_type string, wmean double, n bigint")
    )


@query(
    "q_map_funcs",
    oracle="""
    SELECT user_id,
           COUNT(DISTINCT event_type) AS n_types,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
               AS purchases,
           array_to_string(list_sort(list_distinct(list(event_type))), ',')
               AS types
    FROM events GROUP BY user_id
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed columns: per-user event_type→count maps built with
    ``map_from_entries`` over collected (key, count) structs, then queried
    with ``size`` (cardinality), ``try_element_at`` (NULL — not an ANSI
    error — on a missing key), and sorted ``map_keys``. Maps keep a
    variable per-row key set in ONE column — the schema-stable way to carry
    per-entity feature counts through a pipeline (a pivot would hard-code
    the key set into the schema). The oracle computes the same facts
    relationally, checking construction + lookup exactly."""
    per = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("counts")
    )
    return maps.select(
        "user_id",
        F.size("counts").alias("n_types"),
        F.try_element_at("counts", F.lit("purchase")).alias("purchases"),
        F.array_join(F.array_sort(F.map_keys("counts")), ",").alias("types"),
    )


@query(
    "q_hof_arrays",
    oracle="""
    SELECT doc_id,
           LEN(list_filter(string_split_regex(LOWER(text), '\\W+'),
                           x -> LEN(x) >= 6)) AS n_long,
           CAST(COALESCE(list_sum(list_transform(
               list_filter(string_split_regex(LOWER(text), '\\W+'),
                           x -> LEN(x) >= 6),
               x -> LEN(x))), 0) AS BIGINT) AS long_chars
    FROM documents
    """,
)
def q_hof_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — filter / transform / aggregate lambdas
    over a tokenized column, entirely inside codegen (no explode, no UDF, no
    shuffle: a narrow map over the scan). This is the cheap path for per-doc
    token statistics at corpus scale; explode+groupBy would shuffle the
    whole token stream to compute the same numbers."""
    d = load_table(spark, sf_dir, "documents")
    long_toks = F.filter(
        F.split(F.lower(F.col("text")), r"\W+"), lambda x: F.length(x) >= 6
    )
    return d.select(
        "doc_id",
        F.size(long_toks).alias("n_long"),
        F.coalesce(
            F.aggregate(
                F.transform(long_toks, lambda x: F.length(x)),
                F.lit(0),
                lambda acc, x: acc + x,
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("long_chars"),
    )


@query(
    "q_funnel",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS step_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
    FROM firsts
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): users counted at each step
    only if the steps' FIRST occurrences happen in order — the product
    conversion query every event pipeline serves.

    One conditional-min aggregation per user (single shuffle, map-side
    combine), then the ordering predicates reduce the per-user row to step
    flags summed in a 1-row global agg. No joins, no window, no second
    scan — at 100 TB this is groupBy-combine over the event stream."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return firsts.agg(
        F.count("*").alias("n_users"),
        one(s1).alias("step_view"),
        one(s2).alias("step_click"),
        one(s3).alias("step_purchase"),
    )
