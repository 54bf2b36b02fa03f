"""The ``build`` workload: the write path, with no serving call.

Each round is one pretraining-data curation build: ``curate_corpus``
(which runs the near-dup labels and the iterative connected-components
loop eagerly), the packed ``train_windows`` written to parquet and the
per-stage ``funnel`` collected. In a traced run, one micro-batch of
documents joined with their embeddings then goes through the composed
streaming stack (``stack_ingest_batch``: dedup ingest, BM25, IVF and PQ
refresh, drift monitor) into a fresh root, timed from outside; at ~20 s
a batch it does not fit the untraced run's budget.

The funnel of every round is checked against the curation module's own
DuckDB transcription, and the ingested batch's accepted set against the
streaming dedup module's.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from perfbench.measure import dir_bytes
from projet_data_engineering_spark.io import load_table, read_log_table, spread
from projet_data_engineering_spark.recipes.curation import curate_corpus
from projet_data_engineering_spark.streaming.dedup_ingest import (
    stream_accept_ctes,
)
from projet_data_engineering_spark.streaming.stack import stack_ingest_batch

SF = 0.01

# round step -> layer name (module.function) of the call it times
LAYERS = {
    "curate": "recipes.curation.curate_corpus",
    "windows": "recipes.curation.train_windows",
    "funnel": "recipes.curation.funnel",
    "ingest": "streaming.stack.stack_ingest_batch",
}
INGEST_BATCH = 0  # doc_id % 3 == 0: the first micro-batch the stack streams


class Build:
    SF = SF
    LAYERS = LAYERS
    ROUND = ("curate", "windows", "funnel")  # every round
    ONCE = ("ingest",)  # once, after the timed rounds of a traced run
    MIN_ROUNDS = 2
    SETUP_REPS = 3

    def __init__(self, spark, seed: int, timer):
        self.spark = spark
        self.timer = timer
        self._pending: dict = {}
        self._builds = 0

    def setup(self, data_dir: str, state_dir: str) -> None:
        with self.timer("io.load_table"):
            self.docs = spread(
                load_table(self.spark, data_dir, "documents"), "doc_id"
            )
            self.n_docs = self.docs.count()
        self.data_dir, self.state_dir = data_dir, state_dir
        self.stack_root = f"{state_dir}/stack"

    def prepare_once(self) -> None:
        """Write the ingest micro-batch: the stack streams documents
        joined with their embeddings."""
        emb = load_table(self.spark, self.data_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id"), "embedding")
        self.batch_path = f"{self.state_dir}/batch"
        self.docs.select("doc_id", "text").join(emb, "doc_id").filter(
            F.col("doc_id") % 3 == INGEST_BATCH
        ).write.parquet(self.batch_path)

    def state_bytes(self) -> int:
        """Bytes on disk under the stack root after the ingested batch."""
        return dir_bytes(self.stack_root)

    def stored_bytes_per_input_byte(self) -> float:
        last = f"{self.state_dir}/windows{self._builds - 1}"
        return dir_bytes(last) / os.path.getsize(
            f"{self.data_dir}/documents.parquet"
        )

    def round_plan(self) -> list[tuple[str, object]]:
        return [(step, None) for step in self.ROUND]

    def request(self, kind: str, key):
        if kind == "ingest":
            batch = self.spark.read.parquet(self.batch_path)
            stack_ingest_batch(batch, self.stack_root, INGEST_BATCH)
            # read back after the timed call
            return lambda: [r[0] for r in read_log_table(
                self.spark, f"{self.stack_root}/accepted"
            ).select("doc_id").collect()]
        if kind == "curate":
            self._pending = {}  # a failed build leaves nothing to reuse
            self._pending = curate_corpus(self.docs)
            return None
        out = self._pending
        if kind == "windows":
            path = f"{self.state_dir}/windows{self._builds}"
            out["train_windows"].write.mode("overwrite").parquet(path)
            return path
        if kind == "funnel":
            try:
                return [tuple(r) for r in out["funnel"].collect()]
            finally:
                out["_labels"].unpersist()
                out["_contaminated"].unpersist()
                self._builds += 1
        raise ValueError(kind)

    def expected(self, keys: set) -> dict:
        from projet_data_engineering_spark.recipes.curation import (
            _funnel_oracle,
        )
        from tools.check import make_duckdb

        con = make_duckdb(self.data_dir)
        try:
            funnel = con.execute(_funnel_oracle()).fetchdf()
            accepted = [r[0] for r in con.execute(_ACCEPTED_SQL).fetchall()]
        finally:
            con.close()
        n_windows = int(funnel.loc[funnel["stage"] == "6_train_windows",
                                   "n_docs"].iloc[0])
        return {("funnel", None): ("table", funnel),
                ("windows", None): ("count", n_windows),
                ("ingest", None): ("rows", accepted)}


# acc0 is what the first micro-batch (doc_id % 3 = 0) leaves accepted
_ACCEPTED_SQL = f"""
    WITH src_docs AS (
        SELECT d.* FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    {stream_accept_ctes(src="src_docs")}
    SELECT doc_id FROM acc0
"""

