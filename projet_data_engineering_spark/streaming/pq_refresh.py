"""Streaming PQ index maintenance: micro-batches of embeddings keep the
materialized codes table fresh — the FOURTH member of the streaming
index-maintenance family (``windows.run_stream_index_refresh`` for BM25,
``ann_refresh`` for IVF, ``dedup_ingest`` for the near-dup state).

Production PQ is train-once-freeze: the codebooks come from a bootstrap
sample and then NEVER move (retraining would silently re-map every stored
code), while the codes table grows with the corpus. That makes the
streaming shape trivial to reason about and exactly-once by construction:

    1. each micro-batch encodes against the FROZEN stored codebooks
       (``pq.load_pq_books`` + the same literal-expression encode the
       batch build uses — identical rows by construction);
    2. the codes merge into ``{index}/codes`` keyed on vec_id, partitioned
       by the id-range shard — ``io.merge_upsert_partitioned``, so a
       contiguous append rewrites one or two shard directories and a
       re-embedded vector rewrites exactly its own shard, never the table.

Encoding is a pure function of (vector, stored codebooks) and the merge is
a keyed idempotent upsert through the staged-manifest commit protocol:
at-least-once redelivery, or a kill between stage and commit, converges to
the same codes table (``tests/test_streaming_ann.py`` — the PQ tests live
next to the IVF ones). After the stream drains, ``pq_serve`` answers from
the refreshed index with results hash-identical to a from-scratch
``build_pq_index`` over the same corpus (the registered query proves it
against the shared independent SQL oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import (
    merge_upsert_partitioned,
    path_exists,
)
from projet_data_engineering_spark.operators.pq import (
    build_pq_index,
    encoded_codes,
    load_pq_books,
)
from projet_data_engineering_spark.registry import query
from projet_data_engineering_spark.streaming.fixtures import stamp_batch_mtime


def pq_refresh_batch(batch: DataFrame, index_path: str) -> None:
    """One micro-batch of PQ maintenance (the foreachBatch body, callable
    directly for replay/crash tests). If the index does not exist yet
    (explicit ``path_exists`` probe on the stats manifest), the batch
    BOOTSTRAPS it: codebooks train on this first sample and freeze — the
    production PQ recipe. Otherwise the batch encodes against the frozen
    codebooks and merges into the sharded codes table; merge errors
    propagate so the checkpoint replays."""
    if batch.isEmpty():
        return
    spark = batch.sparkSession
    if not path_exists(spark, f"{index_path}/stats"):
        build_pq_index(batch, index_path)
        return
    enc = encoded_codes(batch, load_pq_books(spark, index_path))
    if path_exists(spark, f"{index_path}/codes"):
        merge_upsert_partitioned(
            spark, f"{index_path}/codes", enc, "vec_id", "shard"
        )
    else:
        # codebooks pre-trained (train_pq_quantizer), codes still empty
        enc.repartition("shard").write.partitionBy("shard").parquet(
            f"{index_path}/codes"
        )


def run_stream_pq_refresh(
    stream_df: DataFrame, index_path: str, checkpoint: str
) -> None:
    """Wire ``pq_refresh_batch`` into a Structured Streaming sink
    (foreachBatch, availableNow): at-least-once embedding arrivals become
    an exactly-once, always-serveable compressed index."""

    def step(batch: DataFrame, batch_id: int) -> None:
        pq_refresh_batch(batch, index_path)

    (
        stream_df.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _stream_pq_oracle() -> str:
    # The streamed index must converge to EXACTLY the scratch build: frozen
    # codebooks trained on the same corpus + per-batch encode with the
    # build-path algebra => q_ann_pq_rerank's oracle (shared with
    # q_pq_served) is the independent transcription for this query too.
    from projet_data_engineering_spark.operators.pq import _PQ_RERANK_ORACLE

    return _PQ_RERANK_ORACLE


@query("q_stream_pq_refresh", oracle=_stream_pq_oracle())
def q_stream_pq_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL streaming PQ maintenance end-to-end, driver-checked:
    codebooks train once and freeze (``train_pq_quantizer``), the
    embeddings table arrives as three ordered micro-batch files through
    ``run_stream_pq_refresh`` (foreachBatch → crash-atomic keyed merges
    into the sharded codes table), and ``pq_serve`` answers the same
    3-query shortlist-rerank top-5 from the streamed index. The shared
    oracle hash-match proves the streamed index is indistinguishable from
    a from-scratch build — certified by an independent SQL engine, not a
    Spark-vs-Spark comparison (those live in tests/test_streaming_ann.py).
    """
    import shutil
    import tempfile

    from projet_data_engineering_spark.io import load_table
    from projet_data_engineering_spark.operators.pq import (
        PQ_NQ,
        pq_serve,
        train_pq_quantizer,
    )
    from projet_data_engineering_spark.operators.similarity import as_double

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    root = tempfile.mkdtemp(prefix="stream_pq_")
    try:
        src = f"{root}/src"
        for k in range(3):
            e.filter(F.col("vec_id") % 3 == k).coalesce(1).write.parquet(
                f"{src}/b{k}"
            )
            stamp_batch_mtime(f"{src}/b{k}", k)
        idx = f"{root}/idx"
        train_pq_quantizer(e, idx)
        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .parquet(f"{src}/*")
        )
        run_stream_pq_refresh(stream, idx, f"{root}/chk")
        queries = e.filter(F.col("vec_id") < PQ_NQ).select(
            F.col("vec_id").alias("query_id"),
            F.expr(f"{as_double('embedding')} AS v"),
        )
        out = pq_serve(spark, idx, queries, load_table(spark, sf_dir, "embeddings"))
        rows = out.collect()
        return spark.createDataFrame(rows, schema=out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
