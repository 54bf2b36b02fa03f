"""Vanilla-session gate for the real Structured Streaming paths.

The pytest suite runs the streaming constructors under the package's own
session factory; the round-1 lesson is that a harness-built VANILLA
SparkSession can diverge (conf drift). This script is the streaming twin of
``tools/check.py``: it builds a bare ``local[*]`` session with NO package
confs pre-set and drives every streaming constructor end-to-end with an
``availableNow`` trigger, asserting output against the batch twin computed
in the same session.

Usage: python tools/check_streaming.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import load_table
from projet_data_engineering_spark.streaming.windows import (
    dedup_stream,
    run_stream_upsert,
    running_user_totals,
    stream_events,
    stream_stream_join,
    windowed_stream,
)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def drain(stream_df, chk: str, output_mode: str | None = None) -> list:
    """Run a streaming DataFrame to exhaustion (availableNow) and collect
    every micro-batch's rows."""
    rows: list = []
    w = stream_df.writeStream.foreachBatch(lambda b, _i: rows.extend(b.collect()))
    if output_mode:
        w = w.outputMode(output_mode)
    q = (
        w.option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return rows


def main() -> int:
    # Deliberately vanilla: no nanosAsLong, no shuffle-partition tuning, no
    # ANSI toggles — whatever a streaming path needs must be self-contained.
    spark = SparkSession.builder.master("local[*]").appName(
        "check_streaming_vanilla"
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="check_streaming_")
    src = f"{work}/events"
    # Stream source: the events table with the micro-timestamp materialized
    # (a stream can't re-run load_table's nanos conversion on the raw file).
    load_table(spark, SF_DIR, "events").write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    schema = batch.schema

    failures = 0

    def gate(name, fn):
        nonlocal failures
        t0 = time.time()
        try:
            fn()
            print(f"ok    {name} [{time.time() - t0:.1f}s]", flush=True)
        except Exception:
            failures += 1
            print(f"FAILED {name}", flush=True)
            traceback.print_exc()

    def check_windowed():
        rows = drain(
            windowed_stream(stream_events(spark, src, schema)),
            f"{work}/chk_win",
        )
        expected = {
            tuple(r)
            for r in batch.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
            .select(F.col("window.start"), "event_type", "n_events", "sum_value")
            .collect()
        }
        got = {tuple(r) for r in rows}
        assert got and got <= expected, (len(got), len(expected))

    def check_dedup():
        rows = drain(
            dedup_stream(stream_events(spark, src, schema)), f"{work}/chk_dedup"
        )
        n_distinct = batch.select("event_id").distinct().count()
        assert len(rows) == n_distinct, (len(rows), n_distinct)

    def check_join():
        joined = stream_stream_join(
            stream_events(spark, src, schema),
            stream_events(spark, src, schema),
        )
        rows = drain(joined, f"{work}/chk_join")
        expected = (
            batch.alias("l")
            .join(
                batch.alias("r"),
                (F.col("l.user_id") == F.col("r.user_id"))
                & (F.col("r.ts") > F.col("l.ts"))
                & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 30 minutes")),
            )
            .count()
        )
        assert len(rows) == expected, (len(rows), expected)

    def check_upsert():
        target = f"{work}/upsert_target"
        keyed = batch.select("event_id", "user_id", "event_type", "value")

        def run(chk):
            stream = spark.readStream.schema(keyed.schema).parquet(f"{work}/keyed")
            run_stream_upsert(stream, target, ["event_id"], chk)

        keyed.write.mode("overwrite").parquet(f"{work}/keyed")
        run(f"{work}/chk_up1")
        first = spark.read.parquet(target).count()
        run(f"{work}/chk_up2")  # replay from a fresh checkpoint: must not dup
        second = spark.read.parquet(target).count()
        n_keys = keyed.select("event_id").distinct().count()
        assert first == second == n_keys, (first, second, n_keys)

    def check_stateful():
        rows = drain(
            running_user_totals(stream_events(spark, src, schema)),
            f"{work}/chk_state",
            output_mode="update",
        )
        # update-mode emits a running row per user per batch; the LAST row
        # per user must equal the batch aggregate.
        last = {r["user_id"]: (r["n_events"], r["total_value"]) for r in rows}
        expected = {
            r["user_id"]: (r["n"], r["t"])
            for r in batch.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
            .collect()
        }
        assert set(last) == set(expected)
        for u, (n, t) in expected.items():
            assert last[u][0] == n and abs(last[u][1] - t) < 1e-6, u

    def check_index_refresh():
        from projet_data_engineering_spark.operators.search import (
            bm25_scores,
            bm25_serve,
        )
        from projet_data_engineering_spark.streaming.windows import (
            run_stream_index_refresh,
        )

        docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        docs.repartition(4).write.mode("overwrite").parquet(f"{work}/docsrc")
        idx = f"{work}/stream_idx"

        def run(chk):
            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{work}/docsrc")
            )
            run_stream_index_refresh(stream, idx, chk, n_buckets=16)

        run(f"{work}/chk_idx1")
        terms = ["spark", "join", "stream"]
        served = {
            r["doc_id"]: r["score"]
            for r in bm25_serve(spark, idx, terms, n_buckets=16).collect()
        }
        scanned = {
            r["doc_id"]: r["score"]
            for r in bm25_scores(docs, "doc_id", "text", terms).collect()
        }
        assert served == scanned and served, (len(served), len(scanned))
        run(f"{work}/chk_idx2")  # full redelivery: keyed merges must not dup
        replayed = {
            r["doc_id"]: r["score"]
            for r in bm25_serve(spark, idx, terms, n_buckets=16).collect()
        }
        assert replayed == served

    def check_dedup_ingest():
        from projet_data_engineering_spark.streaming.dedup_ingest import (
            dedup_ingest_batch,
            run_stream_dedup_ingest,
        )

        docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        src = f"{work}/di_src"
        batches = []
        for k in range(3):
            b = docs.filter(F.col("doc_id") % 3 == k)
            b.coalesce(1).write.parquet(f"{src}/b{k}")
            batches.append(b)
            time.sleep(0.05)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .parquet(f"{src}/*")
        )
        run_stream_dedup_ingest(
            stream, f"{work}/di_state", f"{work}/di_acc", f"{work}/di_chk"
        )
        streamed = {
            r["doc_id"]
            for r in spark.read.parquet(f"{work}/di_acc").collect()
        }
        for b in batches:  # batch twin: same steps, no stream machinery
            dedup_ingest_batch(b, f"{work}/di_state2", f"{work}/di_acc2")
        batched = {
            r["doc_id"]
            for r in spark.read.parquet(f"{work}/di_acc2").collect()
        }
        n_docs = docs.count()
        assert streamed == batched, (len(streamed), len(batched))
        assert 0 < len(streamed) < n_docs, (len(streamed), n_docs)

    def check_ann_refresh():
        from projet_data_engineering_spark.operators.similarity import (
            ann_serve,
            as_double,
            build_ann_index,
            train_ann_quantizer,
        )
        from projet_data_engineering_spark.streaming.ann_refresh import (
            run_stream_ann_refresh,
        )

        e = load_table(spark, SF_DIR, "embeddings").select(
            "vec_id", "embedding"
        )
        e.repartition(3).write.mode("overwrite").parquet(f"{work}/embsrc")
        idx, scratch = f"{work}/ann_idx", f"{work}/ann_scratch"
        train_ann_quantizer(e, idx)
        build_ann_index(e, scratch)

        def run(chk):
            stream = (
                spark.readStream.schema(e.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{work}/embsrc")
            )
            run_stream_ann_refresh(stream, idx, chk)

        run(f"{work}/chk_ann1")
        queries = e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.expr(f"{as_double('embedding')} AS v"),
        )

        def served(path):
            return {
                (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
                for r in ann_serve(spark, path, queries).collect()
            }

        got, want = served(idx), served(scratch)
        assert got == want and got, (len(got), len(want))
        run(f"{work}/chk_ann2")  # full redelivery: keyed merges must not dup
        assert served(idx) == want

    def check_drift():
        """Streaming PSI monitor: per-batch report equals a direct
        drift_monitor_batch recomputation, and a full redelivery leaves the
        report identical (delete-then-insert replace is idempotent)."""
        from projet_data_engineering_spark.streaming.drift import (
            build_drift_baseline,
            drift_monitor_batch,
            run_stream_drift,
        )

        e = load_table(spark, SF_DIR, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        split = F.to_date("ts") < F.lit("2024-01-16")
        base_path = f"{work}/drift_base"
        build_drift_baseline(e.filter(split), base_path)
        cur = e.filter(~split)
        for k in range(3):
            cur.filter(F.col("event_id") % 3 == k).coalesce(1).write.parquet(
                f"{work}/driftsrc/b{k}"
            )
            time.sleep(0.05)

        def run(chk, rep):
            stream = (
                spark.readStream.schema(cur.schema)
                .option("maxFilesPerTrigger", 1)
                .option("pathGlobFilter", "*.parquet")
                .parquet(f"{work}/driftsrc/*")
            )
            run_stream_drift(stream, base_path, rep, chk)

        rep = f"{work}/drift_rep"
        run(f"{work}/chk_drift1", rep)

        def report(path):
            return {
                (r["batch_id"], r["event_type"]): (r["n_batch"], r["psi"], r["drifted"])
                for r in spark.read.parquet(path).collect()
            }

        got = report(rep)
        # direct per-batch recomputation through the same batch body
        rep2 = f"{work}/drift_rep2"
        for k in range(3):
            drift_monitor_batch(
                cur.filter(F.col("event_id") % 3 == k), base_path, rep2, k
            )
        assert got == report(rep2) and len(got) > 0, (len(got),)
        run(f"{work}/chk_drift2", rep)  # full redelivery
        assert report(rep) == got

    gate("windowed_stream", check_windowed)
    gate("dedup_stream", check_dedup)
    gate("stream_stream_join", check_join)
    gate("run_stream_upsert_idempotent", check_upsert)
    gate("running_user_totals_stateful", check_stateful)
    gate("run_stream_index_refresh_serves_and_replays", check_index_refresh)
    gate("run_stream_dedup_ingest_matches_batch_twin", check_dedup_ingest)
    gate("run_stream_ann_refresh_matches_scratch_build", check_ann_refresh)
    gate("run_stream_drift_matches_batch_and_replays", check_drift)

    shutil.rmtree(work, ignore_errors=True)
    print(f"\n{9 - failures} ok, {failures} FAILED")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
