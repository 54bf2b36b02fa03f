"""Streaming near-dup ingest: continuous corpus building with MinHash-LSH
dedup against a served state (SURVEY.md §2.9 ST1 × the dedup family).

The reference ingests continuously and skips already-seen keys
(``scraper/main.py:88`` checks a seen-set before insert;
``scraper/main.py:263-264`` upserts idempotently). At training-corpus scale
the "seen set" is a NEAR-dup relation, not an exact key: every arriving
micro-batch must be checked against the whole accepted corpus without
re-reading it. This module is that pipeline as one streaming operator:

    readStream (docs) → foreachBatch:
        1. within-batch near-dup drop  (MinHash-LSH pairs, batch-local)
        2. cross-corpus near-dup drop  (partition-pruned probe of the
           SERVED state — ``incremental_dedup_pairs_served``; the corpus
           itself is never scanned, only its bucketed signature state)
        3. accepted docs  → crash-atomic partitioned MERGE (idempotent)
        4. accepted docs' signatures → merged into the state, so the NEXT
           batch dedups against them

Acceptance semantics (deterministic, oracle-checkable):
  - R(d, e) := d and e share a MinHash band AND round(jaccard, 4) >= t
    (identical relation to ``q_dedup_minhash`` + the incremental verify);
  - within a batch, d is dropped iff R(d, e) for some batch-mate e with
    e.id < d.id (symmetric relation ⇒ order-free and replay-stable);
  - across batches, d is dropped iff R(d, e) for some already-ACCEPTED e
    (dropped docs never pollute the state), with self-matches (e.id == d.id,
    an at-least-once redelivery) filtered so re-ingest stays idempotent.

Replay safety (at-least-once source → exactly-once table/state): decisions
are a pure function of (batch, prior accepted set) — a replayed batch whose
state writes partially landed re-derives the SAME accepted set, because
  (a) a doc's self-match in the state is filtered,
  (b) a batch-mate match via the state implies a within-batch match (the
      mate was only accepted if it had no lower-id partner, so by symmetry
      any state-hit from a mate is re-derived by rule 2 anyway), and
  (c) all state writes are exactly-once LOG-DELTA commits
      (``io.write_log_delta``): the delta dir name is a content hash of
      the accepted ids, so a replay overwrites its own delta
      byte-identically instead of appending a duplicate.
Asserted in ``tests/test_streaming_dedup.py`` (parity, replay, mid-crash).

Scale (r11): per-batch cost tracks BATCH size, not corpus size — the
probe prunes to the batch's band buckets and candidate doc buckets, and
each state store commits ONE batch-sized delta per batch (``io``'s
log-structured tier), folded into its partitioned base once per
``compact_max_deltas`` batches. The previous partitioned-MERGE commits
degraded to rewriting the whole store every batch (band/wordset rows hash
across all buckets — every partition touched): measured 70% of the dedup
stage wall at sf1 and growing per batch
(evidence/bench_dedup_stage_sf1_r11.json, pre-fix arm). The corpus text
is read zero times per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import (
    compact_log,
    load_table,
    path_exists,
    read_log_table,
    spread,
    write_log_delta,
)
from projet_data_engineering_spark.operators.dedup import (
    _minhash_oracle,
    candidate_pairs_from_bands,
    lsh_bands,
    minhash_signatures,
)
from projet_data_engineering_spark.registry import query
from projet_data_engineering_spark.streaming.fixtures import stamp_batch_mtime


def _wordset(text_col: str):
    return F.array_distinct(F.split(F.lower(text_col), " "))


def _verified_within_pairs(
    bands: DataFrame, ws: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Batch-local near-dup pairs (doc1 < doc2) under relation R: LSH band
    candidates verified by exact Jaccard over distinct-word sets — the
    q_dedup_minhash relation, rounded to 4 dp on BOTH engines so the
    threshold compare has no float-boundary ambiguity. Consumes the
    micro-batch's ONE materialized band/wordset pass (r11, VERDICT item
    3: the batch was previously re-shingled per consumer)."""
    cand = candidate_pairs_from_bands(bands, id_col)
    w1 = ws.select(F.col(id_col).alias("doc1"), F.col("ws").alias("ws1"))
    w2 = ws.select(F.col(id_col).alias("doc2"), F.col("ws").alias("ws2"))
    inter = F.size(F.array_intersect("ws1", "ws2"))
    union = F.size("ws1") + F.size("ws2") - inter
    return (
        cand.join(w1, "doc1")
        .join(w2, "doc2")
        .withColumn("j", F.round(inter / union, 4))
        .filter(F.col("j") >= threshold)
        .select("doc1", "doc2")
    )


def dedup_ingest_batch(
    batch: DataFrame,
    state_path: str,
    accepted_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.2,
    n_buckets: int = 64,
    compact_max_deltas: int = 16,
) -> None:
    """One micro-batch of the streaming near-dup ingest (the foreachBatch
    body, callable directly so tests can drive replay/crash scenarios).

    One signature pass per batch (r11, VERDICT item 3): the band table and
    wordset table are materialized ONCE and shared by all three consumers
    — the within-batch self-join, the served cross-corpus probe, and the
    state merge — where each previously re-ran the md5 shingle pipeline.

    To see where a call's time goes, time it from outside with
    ``perfbench.census.Census``: a ``span`` around the call reports its
    jobs, stages, tasks and busy vs driver seconds without changing the
    plan it measures.

    State layout under ``state_path`` (self-describing — ``n_buckets`` is
    read from the stored manifest when the state exists, never trusted from
    the caller; the bm25_serve lesson from ADVICE r5):
      bands/     log table (_pk, id, band_idx, band_val, band_bucket):
                 delta_* dirs + base_* partitioned by band_bucket
      wordsets/  log table (id, ws, doc_bucket), base by doc_bucket
      stats/     1-row layout manifest (n_buckets)
    and the accepted store is a log table keyed by ``id_col`` (base by
    doc_bucket) — read through ``io.read_log_table``. First-write vs
    probe-and-merge is an explicit ``path_exists`` check on ``stats``
    (the LAST artifact a first write publishes); write errors propagate so
    the streaming checkpoint replays the batch."""
    from projet_data_engineering_spark.operators.dedup import (
        incremental_dedup_pairs_served,
    )

    if batch.isEmpty():
        return
    spark = batch.sparkSession

    # spread() before the hash pass: a micro-batch often arrives as ONE
    # input partition (AQE coalesces the upstream join/write to a single
    # file at micro-batch sizes), which would serialize the md5 shingle
    # hashing onto one core — measured 5-7x the expected sig wall inside
    # the composed stack (r11). spread() is a no-op when the batch is
    # already parallel.
    batch = spread(batch.select(id_col, text_col), id_col).persist()
    try:
        # THE signature pass: bands + wordsets, materialized once,
        # consumed by every stage below.
        bands_b = lsh_bands(
            minhash_signatures(batch, id_col, text_col), id_col
        ).localCheckpoint(eager=True)
        ws_b = batch.select(
            F.col(id_col), _wordset(text_col).alias("ws")
        ).localCheckpoint(eager=True)
        drop_within = _verified_within_pairs(
            bands_b, ws_b, id_col, threshold
        ).select(F.col("doc2").alias(id_col))
        has_state = path_exists(spark, f"{state_path}/stats")
        if has_state:
            n_buckets = int(
                spark.read.parquet(f"{state_path}/stats").first()["n_buckets"]
            )
            cross = incremental_dedup_pairs_served(
                spark,
                state_path,
                batch,
                id_col,
                text_col,
                threshold,
                bands=bands_b,
                wordsets=ws_b,
            )
            drop_cross = cross.filter(
                F.col("corpus_doc") != F.col("batch_doc")
            ).select(F.col("batch_doc").alias(id_col))
            drops = drop_within.unionByName(drop_cross)
        else:
            drops = drop_within
        # MATERIALIZE the decision before any write: every artifact below
        # must derive from one fixed accepted set, not re-read a state the
        # earlier writes are mutating. The broadcast here is legitimate
        # under the repo's hint policy (SCALING.md "Drop-list anti-joins"):
        # |drops| is bounded by MICRO-BATCH size by construction, unlike
        # the corpus-sized drop lists in q_dedup_apply/q_curate.
        accepted = batch.join(
            F.broadcast(drops.distinct()), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        if accepted.rdd.isEmpty():
            return

        doc_bucket = F.pmod(
            F.crc32(F.col(id_col).cast("string")), F.lit(n_buckets)
        )
        acc_rows = accepted.withColumn("doc_bucket", doc_bucket)
        # state rows for accepted docs: semi-join the batch's one
        # materialized pass (signatures are per-doc pure functions, so
        # bands_b ⋉ accepted == lsh_bands(minhash_signatures(accepted)))
        acc_ids = accepted.select(id_col)
        bands = (
            bands_b.join(F.broadcast(acc_ids), id_col, "semi")
            .withColumn(
                "band_bucket", F.pmod(F.crc32("band_val"), F.lit(n_buckets))
            )
            .withColumn(
                "_pk",
                F.concat_ws(
                    "|", F.col(id_col).cast("string"), F.col("band_idx")
                ),
            )
        )
        wsets = ws_b.join(F.broadcast(acc_ids), id_col, "semi").withColumn(
            "doc_bucket", doc_bucket
        )

        # LOG-STRUCTURED state commits (r11, VERDICT item 3): the three
        # artifact writes were partitioned MERGES, but band/wordset/doc
        # rows hash across ALL buckets, so every batch's merge rewrote
        # the whole store — O(corpus) per commit, 70% of the dedup stage
        # wall and growing per batch (evidence/bench_dedup_stage_sf1_r11
        # pre-fix arm). Each batch now appends ONE delta per store
        # (O(batch)), folded into the partitioned base once per
        # ``compact_max_deltas`` commits. Exactly-once is the delta NAME:
        # an order-independent content hash of the accepted ids, so a
        # replayed batch overwrites its own delta instead of duplicating
        # (a doc is accepted by exactly one batch, so the base ∪ deltas
        # view is key-unique with no merge logic on read).
        sig = accepted.agg(
            F.sum(F.crc32(F.col(id_col).cast("string"))).alias("s"),
            F.count(F.lit(1)).alias("c"),
        ).first()
        name = f"{int(sig['s']) % (2 ** 32):08x}_{int(sig['c'])}"
        write_log_delta(acc_rows, accepted_path, name)
        write_log_delta(bands, f"{state_path}/bands", name)
        write_log_delta(wsets, f"{state_path}/wordsets", name)
        if not has_state:
            # first write publishes stats LAST: its existence is the probe
            # above, so a crash mid-first-write replays as a first write
            spark.range(1).select(
                F.lit(n_buckets).alias("n_buckets")
            ).write.mode("overwrite").parquet(f"{state_path}/stats")
        # amortized maintenance: O(corpus) fold once per compact_max_deltas
        # batches; ``key`` heals any cross-batch exact re-commit
        compact_log(
            spark, accepted_path, "doc_bucket",
            key=id_col, max_deltas=compact_max_deltas,
        )
        compact_log(
            spark, f"{state_path}/bands", "band_bucket",
            key="_pk", max_deltas=compact_max_deltas,
        )
        compact_log(
            spark, f"{state_path}/wordsets", "doc_bucket",
            key=id_col, max_deltas=compact_max_deltas,
        )
    finally:
        batch.unpersist()


def run_stream_dedup_ingest(
    stream_df: DataFrame,
    state_path: str,
    accepted_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.2,
    n_buckets: int = 64,
) -> None:
    """Wire ``dedup_ingest_batch`` into a Structured Streaming sink
    (foreachBatch, availableNow) — at-least-once file arrivals become an
    exactly-once deduplicated corpus plus its up-to-date signature state."""

    def step(batch: DataFrame, batch_id: int) -> None:
        dedup_ingest_batch(
            batch,
            state_path,
            accepted_path,
            id_col,
            text_col,
            threshold,
            n_buckets,
        )

    (
        stream_df.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_accept_ctes(src: str = "documents") -> str:
    """The CTE chain (for a WITH clause) transcribing the 3-batch greedy
    streaming ingest, ending in ``accepted(doc_id)``. Batch k = doc_id %
    3 = k, processed in order; `sym` is the symmetric verified near-dup
    relation R; acc_k drops docs with a lower-id batch-mate in R or any
    R-match among earlier batches' ACCEPTED docs — exactly the streaming
    operator's semantics. Shared by ``q_stream_dedup_ingest`` and the
    composed-stack oracle (``q_stream_stack``), whose downstream index/
    drift transcriptions all hang off the same accepted set.

    ``src`` names the corpus relation every CTE reads (ADVICE r9: a
    composed oracle must scope acceptance to the SAME source-coverage
    relation the engine consumes — the stack streams documents⋈embeddings,
    so it passes its joined CTE here instead of post-hoc string surgery)."""
    return f"""allpairs AS ({_minhash_oracle(src=src)}),
    ws AS (
        SELECT doc_id, list_distinct(str_split(lower(text), ' ')) AS ws
        FROM {src}
    ),
    ver AS (
        SELECT doc1, doc2 FROM (
            SELECT ap.doc1, ap.doc2,
                   ROUND(len(list_intersect(a.ws, b.ws))
                         / (len(a.ws) + len(b.ws)
                            - len(list_intersect(a.ws, b.ws))), 4) AS j
            FROM allpairs ap
            JOIN ws a ON a.doc_id = ap.doc1
            JOIN ws b ON b.doc_id = ap.doc2
        ) WHERE j >= 0.2
    ),
    sym AS (
        SELECT doc1 AS a, doc2 AS b FROM ver
        UNION ALL
        SELECT doc2 AS a, doc1 AS b FROM ver
    ),
    within_drop AS (
        SELECT DISTINCT b AS doc_id FROM sym WHERE a % 3 = b % 3 AND a < b
    ),
    acc0 AS (
        SELECT doc_id FROM {src}
        WHERE doc_id % 3 = 0
          AND doc_id NOT IN (SELECT doc_id FROM within_drop)
    ),
    acc1 AS (
        SELECT d.doc_id FROM {src} d
        WHERE d.doc_id % 3 = 1
          AND d.doc_id NOT IN (SELECT doc_id FROM within_drop)
          AND NOT EXISTS (
              SELECT 1 FROM sym s JOIN acc0 p ON s.a = p.doc_id
              WHERE s.b = d.doc_id)
    ),
    acc01 AS (
        SELECT doc_id FROM acc0 UNION ALL SELECT doc_id FROM acc1
    ),
    acc2 AS (
        SELECT d.doc_id FROM {src} d
        WHERE d.doc_id % 3 = 2
          AND d.doc_id NOT IN (SELECT doc_id FROM within_drop)
          AND NOT EXISTS (
              SELECT 1 FROM sym s JOIN acc01 p ON s.a = p.doc_id
              WHERE s.b = d.doc_id)
    ),
    accepted AS (
        SELECT doc_id FROM acc01 UNION ALL SELECT doc_id FROM acc2
    )"""


def _stream_dedup_oracle() -> str:
    return f"""
    WITH {stream_accept_ctes()}
    SELECT doc_id, doc_id % 3 AS src_batch FROM accepted
    """


@query("q_stream_dedup_ingest", oracle=_stream_dedup_oracle())
def q_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL streaming pipeline end-to-end, hash-checked against an
    unrolled SQL transcription: documents arrive as three micro-batch files
    (doc_id % 3, ordered by file mtime + maxFilesPerTrigger=1), flow through
    ``run_stream_dedup_ingest``, and the accepted table is returned. The
    oracle independently recomputes MinHash banding, Jaccard verification,
    and the 3-step greedy acceptance in pure SQL — so the hash match proves
    the streaming operator's state transitions, not just a batch twin."""
    import shutil
    import tempfile

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    root = tempfile.mkdtemp(prefix="stream_dedup_")
    try:
        src = f"{root}/src"
        for k in range(3):
            d.filter(F.col("doc_id") % 3 == k).coalesce(1).write.parquet(
                f"{src}/b{k}"
            )
            stamp_batch_mtime(f"{src}/b{k}", k)
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .parquet(f"{src}/*")
        )
        run_stream_dedup_ingest(
            stream, f"{root}/state", f"{root}/accepted", f"{root}/chk"
        )
        out = read_log_table(spark, f"{root}/accepted").select(
            "doc_id", (F.col("doc_id") % 3).alias("src_batch")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, schema=out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


__all__ = [
    "dedup_ingest_batch",
    "run_stream_dedup_ingest",
    "stream_accept_ctes",
    "q_stream_dedup_ingest",
]
