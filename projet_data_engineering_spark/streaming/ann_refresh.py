"""Streaming ANN index maintenance: micro-batches of embeddings keep the
materialized IVF serving index fresh (SURVEY.md §2.9 ST1 × the similarity
family — the ANN member of the streaming-maintenance trilogy next to
``windows.run_stream_index_refresh`` for BM25 and ``dedup_ingest`` for the
near-dup state).

The reference re-crawls and upserts its catalog continuously
(``scraper/main.py:263-264``); a vector corpus at 100 TB has the same shape:
embeddings arrive/change continuously, and rebuilding the IVF index per
batch would re-read the corpus. Here the coarse quantizer (trained once, on
a bootstrap sample — exactly how a production IVF index is built) stays
FIXED, and each micro-batch is:

    1. assigned to its nearest stored centroid by
       ``similarity.assign_to_stored_centroids``, the path
       ``build_ann_index`` fills the lists with;
    2. merged into ``{index}/assignments`` keyed on vec_id, partitioned by
       cent_id — ``io.merge_upsert_partitioned``, so a batch touching k
       inverted lists rewrites k list directories, not the index, and a
       re-embedded vector MOVES lists atomically (the merge's touched-set
       includes the old partition of a replaced key).

Exactly-once: assignment is a pure function of (vector, stored centroids),
and the merge is a keyed idempotent upsert through the staged-manifest
commit — at-least-once redelivery or a kill between stage and commit
converges to the same index (``tests/test_streaming_ann.py``). After the
stream drains, ``ann_serve`` answers from the refreshed index with results
hash-identical to a from-scratch ``build_ann_index`` over the same corpus
(the registered query proves it against the shared independent SQL oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import (
    merge_upsert_partitioned,
    path_exists,
)
from projet_data_engineering_spark.operators.similarity import (
    assign_to_stored_centroids,
)
from projet_data_engineering_spark.registry import query
from projet_data_engineering_spark.streaming.fixtures import stamp_batch_mtime


def ann_refresh_batch(
    batch: DataFrame,
    index_path: str,
    k: int = 8,
    iters: int = 2,
) -> None:
    """One micro-batch of IVF maintenance (the foreachBatch body, callable
    directly for replay/crash tests). If the index does not exist yet
    (explicit ``path_exists`` probe on the stats manifest — never
    try/except-on-read), the batch BOOTSTRAPS it: the quantizer is trained
    on this first sample and frozen, the production IVF recipe. Otherwise
    the batch is assigned to the frozen quantizer and merged into the
    inverted lists; merge errors propagate so the checkpoint replays."""
    from projet_data_engineering_spark.operators.similarity import (
        build_ann_index,
    )

    if batch.isEmpty():
        return
    spark = batch.sparkSession
    if not path_exists(spark, f"{index_path}/stats"):
        build_ann_index(batch, index_path, k=k, iters=iters)
        return
    assigned = assign_to_stored_centroids(spark, index_path, batch)
    if path_exists(spark, f"{index_path}/assignments"):
        merge_upsert_partitioned(
            spark, f"{index_path}/assignments", assigned, "vec_id", "cent_id"
        )
    else:
        # quantizer pre-trained (train_ann_quantizer), lists still empty
        assigned.repartition("cent_id").write.partitionBy("cent_id").parquet(
            f"{index_path}/assignments"
        )


def run_stream_ann_refresh(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    k: int = 8,
    iters: int = 2,
) -> None:
    """Wire ``ann_refresh_batch`` into a Structured Streaming sink
    (foreachBatch, availableNow): at-least-once embedding arrivals become an
    exactly-once, always-serveable IVF index."""

    def step(batch: DataFrame, batch_id: int) -> None:
        ann_refresh_batch(batch, index_path, k=k, iters=iters)

    (
        stream_df.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _stream_ann_oracle() -> str:
    # The streamed index must converge to EXACTLY the scratch build: frozen
    # quantizer trained on the same corpus + per-batch assignment with the
    # build-path algebra => the shared IVF oracle (q_ann_ivf /
    # q_ann_ivf_served) is the independent transcription for this query too.
    from projet_data_engineering_spark.operators.similarity import _IVF_ORACLE

    return _IVF_ORACLE


@query("q_stream_ann_refresh", oracle=_stream_ann_oracle())
def q_stream_ann_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL streaming IVF maintenance end-to-end, driver-checked: the
    quantizer is trained once and frozen (``train_ann_quantizer`` — the
    production bootstrap), the embeddings table arrives as three ordered
    micro-batch files through ``run_stream_ann_refresh`` (foreachBatch →
    crash-atomic keyed merges into cent_id-partitioned inverted lists), and
    ``ann_serve`` answers the same three-query top-5 from the streamed
    index. The shared IVF oracle hash-match proves the streamed index is
    indistinguishable from a from-scratch build — the exactly-once
    contract, certified by an independent SQL engine rather than a
    Spark-vs-Spark comparison (those live in tests/test_streaming_ann.py).
    """
    import shutil
    import tempfile

    from projet_data_engineering_spark.io import load_table
    from projet_data_engineering_spark.operators.similarity import (
        ann_serve,
        as_double,
        train_ann_quantizer,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    root = tempfile.mkdtemp(prefix="stream_ann_")
    try:
        src = f"{root}/src"
        for k in range(3):
            e.filter(F.col("vec_id") % 3 == k).coalesce(1).write.parquet(
                f"{src}/b{k}"
            )
            stamp_batch_mtime(f"{src}/b{k}", k)
        idx = f"{root}/idx"
        train_ann_quantizer(e, idx)
        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .parquet(f"{src}/*")
        )
        run_stream_ann_refresh(stream, idx, f"{root}/chk")
        queries = e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.expr(f"{as_double('embedding')} AS v"),
        )
        out = ann_serve(spark, idx, queries, nprobe=2, topk=5)
        rows = out.collect()
        return spark.createDataFrame(rows, schema=out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
