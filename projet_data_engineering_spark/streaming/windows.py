"""Streaming / incremental semantics (SURVEY.md §2.9).

The reference is batch-only but carries incremental semantics: idempotent
keyed re-ingest (``scraper/main.py:263-264``) and a continuous-refresh claim
(``README.md:24``). Here both are first-class:

- batch window queries (tumbling / sliding / session) registered with DuckDB
  oracles — the exact aggregation a streaming job would emit, verifiable;
- real Structured Streaming constructors (``stream_events``,
  ``windowed_stream``, ``run_stream_upsert``) over the same transform DAG:
  file source → watermark → windowed agg → foreachBatch MERGE sink, so
  at-least-once input becomes exactly-once storage (ST1).

Scale: state size is bounded by the watermark horizon × key cardinality;
sliding windows multiply state by (window/slide); session state is per-key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import (
    atomic_overwrite,
    load_table,
    merge_upsert,
    merge_upsert_partitioned,
    path_exists,
    recover_atomic_overwrite,
)
from projet_data_engineering_spark.operators.search import (
    _check_index_layout,
    _index_rows,
    _index_stats,
    _stored_buckets,
    _vocab,
    _write_stats,
    build_search_index,
)
from projet_data_engineering_spark.registry import query

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 — tumbling 1-hour window aggregation (batch twin of the streaming
    query below; epoch-aligned, so window.start == date_trunc('hour'))."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_stream_sliding",
    oracle="""
    WITH grid AS (
        SELECT *, date_trunc('hour', ts)
               + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                      ELSE INTERVAL 0 MINUTE END AS g
        FROM events
    ),
    assigned AS (
        SELECT g AS ws, value FROM grid
        UNION ALL
        SELECT g - INTERVAL 30 MINUTE AS ws, value FROM grid
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM assigned
    GROUP BY 1
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 — sliding window (1 h length, 30 min slide): every event lands in
    two windows. The oracle materializes the same assignment as a 2-way
    union on the 30-minute grid."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_stream_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        > 1800 * 1000000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_idx
        FROM flagged
    )
    SELECT user_id, session_idx,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM sessions
    GROUP BY user_id, session_idx
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap — the lag-islands batch
    twin of ``session_window`` (used in the streaming path below). Microsecond
    epoch arithmetic on both engines so gap boundaries agree exactly."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap_us = 1800 * 1_000_000
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
                > gap_us
            ),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_idx", F.sum("new_session").over(run))
    return sessions.groupBy("user_id", "session_idx").agg(
        F.date_format(F.min("ts"), _TS_FMT).alias("session_start"),
        F.date_format(F.max("ts"), _TS_FMT).alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Real Structured Streaming constructors (exercised by tests/test_streaming.py)
# ---------------------------------------------------------------------------


def stream_events(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream over event parquet drops (ST2: the reference's
    'continuous refresh' done right — new files picked up incrementally,
    exactly-once per file)."""
    return spark.readStream.schema(schema).parquet(path)


def windowed_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling aggregation: late events beyond the watermark are
    dropped deterministically; state is evicted per watermark advance, so
    long-running state stays bounded at any throughput."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_stream_upsert(
    stream_df: DataFrame,
    target_path: str,
    key_cols: list[str],
    checkpoint: str,
) -> None:
    """ST1 — foreachBatch MERGE sink: each micro-batch upserts into the
    parquet target keyed on ``key_cols`` (the streaming twin of the
    reference's Mongo bulk UpdateOne-upsert, ``scraper/main.py:263-264``).
    With Delta this becomes a transactional MERGE; plain parquet rewrite here
    keeps the container dependency-free.

    First-write vs merge is decided by an EXPLICIT existence probe
    (``io.path_exists``) — a try/except around the read would conflate
    'target absent' with 'merge failed' and let a transient error overwrite
    the table with one batch. Merge errors propagate, failing the streaming
    query so the checkpoint replays the batch. The rewrite itself goes
    through ``io.atomic_overwrite`` (versioned dir + two renames), so a
    crash mid-swap is recoverable to exactly one complete table version."""
    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        recover_atomic_overwrite(spark, target_path)
        batch = batch.withColumn(
            "_merge_key", F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
        )
        if path_exists(spark, target_path):
            old = spark.read.parquet(target_path).withColumn(
                "_merge_key",
                F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols]),
            )
            merged = merge_upsert(old, batch, "_merge_key")
        else:
            merged = batch
        atomic_overwrite(merged.drop("_merge_key"), target_path)

    (
        stream_df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_stream_upsert_partitioned(
    stream_df: DataFrame,
    target_path: str,
    key: str,
    partition_col: str,
    checkpoint: str,
    order_col: str | None = None,
) -> None:
    """ST1 at warehouse scale: foreachBatch MERGE through the
    partition-pruned path (``io.merge_upsert_partitioned``), so a
    micro-batch touching k partitions rewrites k partitions — not the whole
    target (the ``run_stream_upsert`` shape above rewrites everything each
    batch, fine for a windowed-agg table, wrong for a keyed 100 TB one).
    Untouched partitions' files stay byte-identical across micro-batches
    (asserted in ``test_streaming.py``); with Delta/Iceberg the same loop
    becomes a transactional MERGE. First-write vs merge is an explicit
    existence probe (never try/except-on-read); merge errors propagate so
    the checkpoint replays the batch; crash-atomicity comes from
    ``merge_upsert_partitioned``'s staged-manifest commit."""
    def upsert(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        if not path_exists(spark, target_path):
            if order_col is not None:
                from pyspark.sql import Window

                w = Window.partitionBy(key).orderBy(F.desc(order_col))
                batch = (
                    batch.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                )
            batch.write.partitionBy(partition_col).parquet(target_path)
            return
        merge_upsert_partitioned(
            spark, target_path, batch, key, partition_col, order_col
        )

    (
        stream_df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# ---------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------


def running_user_totals(events: DataFrame, timeout_ms: int | None = None) -> DataFrame:
    """Custom stateful streaming operator: per-user running event count and
    value total, maintained across micro-batches with
    ``applyInPandasWithState`` — the extension point for operators Structured
    Streaming lacks natively (SURVEY.md §2.10).

    State is one (count, total) pair per user — O(|users|) store size,
    partitioned by the grouping key so it scales horizontally with executors.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType(), False),
            StructField("n_events", LongType(), False),
            StructField("total_value", DoubleType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType(), False),
            StructField("total", DoubleType(), False),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ST1 — streaming exact dedup on the event key: at-least-once input
    becomes exactly-once output. ``dropDuplicates`` keeps one row per key in
    the state store; the watermark bounds how long a key is remembered, so
    state is O(keys per horizon), not O(all keys ever)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: match each left event to right events for the
    same user that occur within ``max_delay`` AFTER it (funnel/attribution
    shape: click -> purchase).

    Both sides are watermarked and the join condition bounds event time on
    both sides — the two conditions together let Spark evict join state as
    the watermark advances. Without the time bound, state would grow
    unboundedly; this is the canonical scale constraint on stream joins.
    """
    l = left.withWatermark("ts", watermark).select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("l_event"),
        F.col("ts").alias("l_ts"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_event"),
        F.col("ts").alias("r_ts"),
    )
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}")),
    )


@query(
    "q_cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id,
               date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_n
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           a.day_n,
           COUNT(*) AS n_users
    FROM activity a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted on each
    subsequent active day — the event-analytics matrix behind every
    retention chart. Two shuffles total (first-seen agg on user_id, final
    cohort agg); the activity join stays on user_id so AQE can reuse the
    partitioning. Day arithmetic is integer date_diff on both engines."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).alias(
                "day_n"
            ),
        )
        .distinct()
    )
    return (
        activity.groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_n",
        )
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "q_ntile",
    oracle="""
    SELECT user_id, event_id,
           NTILE(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS quartile
    FROM events
    WHERE user_id < 50
    """,
)
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles of each user's event timeline (per-user session
    phases). The (ts, event_id) order key is unique, so tile assignment is
    deterministic on both engines."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", F.ntile(4).over(w).alias("quartile")
    )


def index_refresh_batch(
    batch: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """One micro-batch of BM25 index maintenance (the foreachBatch body of
    :func:`run_stream_index_refresh`, callable directly so replay/crash
    tests and the composed serving stack (``streaming.stack``) can drive
    it) — see the runner's docstring for the merge-order/failure
    contract."""
    if batch.isEmpty():
        return
    spark = batch.sparkSession
    docstats_path = f"{index_path}/docstats"
    stats_path = f"{index_path}/stats"
    recover_atomic_overwrite(spark, docstats_path)
    recover_atomic_overwrite(spark, stats_path)
    if not path_exists(spark, stats_path):
        build_search_index(batch, id_col, text_col, index_path, n_buckets)
        return
    # Refuse to merge onto an index written by an older on-disk layout
    # (ADVICE r9) or laid out in other term buckets than this batch's.
    stats = _index_stats(spark, index_path)
    _check_index_layout(stats, index_path, "index_refresh_batch")
    _stored_buckets(stats, n_buckets, index_path, "index_refresh_batch")
    docstats, postings = _index_rows(batch, id_col, text_col, n_buckets)
    # Vocab BEFORE postings: at every crash point the stored dictionary
    # is a superset of the stored postings' terms, so bm25_serve_fuzzy
    # can never miss a served posting (a dictionary term whose postings
    # haven't landed yet matches nothing — harmless). Keyed on the term
    # itself, so replay is idempotent like every other merge here.
    # term_len rides along for the fuzzy serve's pushed length-band
    # filter; partition merges don't re-sort by it, so row-group stats
    # loosen as batches accrue — a periodic build_search_index rebuild
    # restores them, the standard compaction story (the serve stays
    # CORRECT either way: the band filter is a plain pushed predicate).
    merge_upsert_partitioned(
        spark, f"{index_path}/vocab", _vocab(postings), "_pk", "term_bucket"
    )
    merge_upsert_partitioned(
        spark, f"{index_path}/postings", postings, "_pk", "term_bucket"
    )
    merged = merge_upsert(spark.read.parquet(docstats_path), docstats, id_col)
    atomic_overwrite(merged, docstats_path)
    _write_stats(spark, index_path, n_buckets, merged.schema)


def run_stream_index_refresh(
    doc_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """ST1 × T7 — keep the BM25 serving index (``search.build_search_index``
    layout) fresh as documents stream in, exactly-once under at-least-once
    redelivery.

    Corpus semantics are APPEND-ONLY (the training-data ingest shape:
    documents arrive once and never mutate; ES re-index handles edits in the
    reference, ``scraper/main.py:271-277``). Each micro-batch:

    1. tokenizes ONLY the batch (corpus never rescanned) into posting rows
       ``(term, doc_id, dl, tf, term_bucket)``;
    1b. MERGEs the batch's distinct terms into ``{index_path}/vocab``
       (keyed on the term, BEFORE the postings merge — so the stored
       dictionary is a superset of stored postings' terms at every crash
       point, the invariant ``bm25_serve_fuzzy`` relies on);
    2. MERGEs them into ``{index_path}/postings`` keyed on the (term, doc)
       posting key through the partition-pruned path — a batch touching k
       term buckets rewrites k bucket directories, the rest of the index is
       never read (``io.merge_upsert_partitioned``). The keyed merge is what
       makes redelivery idempotent: a replayed batch regenerates identical
       posting rows and overwrites them in place;
    3. MERGEs the batch's ``(doc_id, dl)`` rows into
       ``{index_path}/docstats`` keyed on the doc id (idempotent for the
       same reason), then rewrites the 1-row ``{index_path}/stats`` from
       docstats — stats are derived state recomputed from idempotent state,
       so they can never double-count a replayed batch.

    A batch that finds no ``{index_path}/stats`` is the index's first: it
    runs ``search.build_search_index`` over the batch instead, the one
    writer of the BM25 layout, whose docstats every later batch merges
    into. A replay of a bootstrap that crashed before its stats landed
    rebuilds the same index. A merge batch's ``n_buckets`` must equal the
    stored manifest's, or it raises before writing anything: postings in
    other bucket directories would be invisible to the pruned serve.

    ``search.bm25_serve`` reads the refreshed index unchanged (including the
    persisted ``n_buckets`` layout manifest in the stats row). Parity with a
    from-scratch ``build_search_index`` over the same corpus and replay
    idempotence are asserted in ``test_streaming.py``.

    Failure semantics (ADVICE r5, medium): first-write vs merge is decided
    by an EXPLICIT ``io.path_exists`` probe, never try/except-on-read — the
    old idiom turned any merge failure (transient executor loss, schema
    drift) into a silent whole-index overwrite by the current batch. Merge
    errors now propagate, the streaming query fails, and the checkpoint
    replays the batch; docstats is replaced through ``io.atomic_overwrite``
    (versioned dir + rename swap, recovered at batch start), so no crash
    window can lose prior doc lengths."""
    def refresh(batch: DataFrame, batch_id: int) -> None:
        index_refresh_batch(batch, index_path, id_col, text_col, n_buckets)

    (
        doc_stream.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
