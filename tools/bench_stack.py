"""Scale-prove the composed streaming serving stack (VERDICT r9 item 1).

q_stream_stack is hash-green at sf0.01/sf0.1 only; this tool runs the SAME
foreachBatch body (``stack_ingest_batch`` — dedup ingest → BM25 refresh →
IVF refresh → PQ refresh → drift monitor) over the big generated SFs
(.localdata/sf1.0 = 20k docs-with-embeddings, sf10.0 = 200k) split into
micro-batches, and reports the three numbers the flagship serving claim
rests on:

- where each micro-batch's time goes — jobs, stages, tasks, busy
  seconds (inside Spark jobs) and driver seconds (the rest of the wall),
  read by ``perfbench.census.Census`` around the call — and whether any of
  them degrades as served STATE grows;
- state growth per batch — rows in each served artifact (dedup bands/
  wordsets, accepted corpus, postings/vocab/docstats, IVF lists, PQ codes)
  plus on-disk bytes of the whole stack root: the growth must be linear in
  accepted docs, never in batches-seen (a replay-safety smell) or quadratic
  (a pair-state smell);
- end-to-end freshness lag — wall seconds from batch arrival to all five
  served artifacts updated (availableNow drains batches sequentially, so
  the lag IS the batch's wall).

Usage: python tools/bench_stack.py [sf_dir] [n_batches] [out_json]
Defaults: .localdata/sf1.0, 4 batches, print-only.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _state_rows(spark, base: str) -> dict:
    """Rows in each served artifact; 0 for one not written yet."""
    from projet_data_engineering_spark.io import read_log_table

    out = {}
    for key, sub in (
        ("dedup_bands", "dedup_state/bands"),
        ("dedup_wordsets", "dedup_state/wordsets"),
        ("accepted", "accepted"),
        ("bm25_postings", "bm25/postings"),
        ("bm25_vocab", "bm25/vocab"),
        ("bm25_docstats", "bm25/docstats"),
        ("ivf_assignments", "ivf/assignments"),
        ("pq_codes", "pq/codes"),
    ):
        p = f"{base}/{sub}"
        out[key] = read_log_table(spark, p).count() if os.path.isdir(p) else 0
    return out


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else ".localdata/sf1.0"
    n_batches = int(args[1]) if len(args) > 1 else 4
    out_json = args[2] if len(args) > 2 else None

    import shutil
    import tempfile

    from perfbench.census import Census
    from projet_data_engineering_spark.io import load_table, spread
    from projet_data_engineering_spark.session import get_spark
    from projet_data_engineering_spark.streaming.stack import (
        stack_ingest_batch,
    )

    spark = get_spark("bench_stack")
    spark.sparkContext.setLogLevel("ERROR")

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    src = d.join(e, "doc_id")
    root = tempfile.mkdtemp(prefix="bench_stack_")
    result = {
        "sf_dir": sf_dir,
        "n_batches": n_batches,
        "batches": [],
    }
    try:
        # materialize the batch inputs first so batch prep isn't timed
        batch_paths = []
        for k in range(n_batches):
            p = f"{root}/src/b{k}"
            src.filter(F.col("doc_id") % n_batches == k).write.parquet(p)
            batch_paths.append(p)
        base = f"{root}/stack"
        census = Census(spark)
        for k, p in enumerate(batch_paths):
            batch = spark.read.parquet(p)
            n_rows = batch.count()
            with census.span(f"batch{k}"):
                stack_ingest_batch(batch, base, k)
            c = census.calls[-1]
            rec = {
                "batch": k,
                "rows_in": n_rows,
                "freshness_lag_sec": round(c.wall_s, 2),
                "jobs": c.jobs,
                "stages": c.stages,
                "tasks": c.tasks,
                "busy_s": round(c.busy_s, 2),
                "driver_s": round(c.driver_s, 2),
                "state_rows": _state_rows(spark, base),
                "state_bytes": _dir_bytes(base),
            }
            result["batches"].append(rec)
            print(json.dumps(rec))
        total_in = sum(b["rows_in"] for b in result["batches"])
        total_s = sum(b["freshness_lag_sec"] for b in result["batches"])
        result["total_docs"] = total_in
        result["total_sec"] = round(total_s, 2)
        result["end_to_end_docs_per_sec"] = round(total_in / total_s, 1)
        print(
            f"TOTAL {sf_dir}: {total_in} docs through 5 stages in "
            f"{total_s:.1f}s = {total_in / total_s:.0f} docs/s end-to-end"
        )
        if out_json:
            with open(out_json, "w") as f:
                json.dump(result, f, indent=1)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
