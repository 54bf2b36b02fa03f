"""Real Structured Streaming runs (availableNow trigger): the streamed result
must equal the batch twin, and the foreachBatch upsert sink must be
idempotent across restarts (ST1/ST2)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import load_table
from projet_data_engineering_spark.streaming.windows import (
    run_stream_upsert,
    stream_events,
    windowed_stream,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def event_dir(spark):
    """Copy the events table into a stream-source directory with a
    micro-timestamp already materialized (streams can't re-run the
    nanos->micros conversion that io.load_table does on the raw file)."""
    d = tempfile.mkdtemp(prefix="stream_src_")
    load_table(spark, SF_DIR, "events").write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_equals_batch(spark, event_dir):
    batch_df = spark.read.parquet(event_dir)
    schema = batch_df.schema
    expected = {
        tuple(r)
        for r in batch_df.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .collect()
    }

    out_rows = []
    chk = tempfile.mkdtemp(prefix="chk_")
    q = (
        windowed_stream(stream_events(spark, event_dir, schema))
        .writeStream.foreachBatch(lambda b, _i: out_rows.extend(b.collect()))
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(chk, ignore_errors=True)
    streamed = {tuple(r) for r in out_rows}
    # Append mode emits only watermark-finalized windows: every emitted row
    # must match the batch twin exactly, and the held-back remainder must be
    # confined to the watermark horizon at end-of-stream (1h watermark + 1h
    # window ⇒ the last two hours may legitimately be unemitted).
    assert streamed <= expected
    max_ts = batch_df.agg(F.max("ts")).collect()[0][0]
    import datetime

    horizon = max_ts - datetime.timedelta(hours=2)
    assert all(row[0] >= horizon for row in expected - streamed)
    assert len(streamed) > 0


def test_stream_upsert_idempotent(spark, event_dir):
    batch_df = spark.read.parquet(event_dir)
    schema = batch_df.schema
    target = tempfile.mkdtemp(prefix="tgt_") + "/t"

    def run(chk):
        run_stream_upsert(
            windowed_stream(stream_events(spark, event_dir, schema)),
            target,
            ["window_start", "event_type"],
            chk,
        )

    chk1 = tempfile.mkdtemp(prefix="chk_")
    run(chk1)
    first = {tuple(r) for r in spark.read.parquet(target).collect()}
    assert len(first) > 0
    # replay from a fresh checkpoint (simulated at-least-once redelivery):
    # keyed merge keeps the table identical
    chk2 = tempfile.mkdtemp(prefix="chk_")
    run(chk2)
    second = {tuple(r) for r in spark.read.parquet(target).collect()}
    assert first == second
    shutil.rmtree(chk1, ignore_errors=True)
    shutil.rmtree(chk2, ignore_errors=True)


def test_stateful_running_totals(spark, event_dir):
    """applyInPandasWithState accumulates per-user state across micro-batches:
    final emitted totals must equal the batch groupBy."""
    from projet_data_engineering_spark.streaming.windows import running_user_totals

    batch_df = spark.read.parquet(event_dir)
    expected = {
        r["user_id"]: (r["n"], round(r["t"], 4))
        for r in batch_df.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }

    emitted = []
    chk = tempfile.mkdtemp(prefix="chk_")
    q = (
        running_user_totals(stream_events(spark, event_dir, batch_df.schema))
        .writeStream.outputMode("update")
        .foreachBatch(lambda b, _i: emitted.extend(b.collect()))
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(chk, ignore_errors=True)
    # last emission per user wins (update mode)
    final = {}
    for r in emitted:
        final[r["user_id"]] = (r["n_events"], round(r["total_value"], 4))
    assert final == expected


def test_stream_dedup_exactly_once(spark, event_dir):
    """Feed the same events twice (at-least-once redelivery): the deduped
    stream must emit each event_id exactly once."""
    from projet_data_engineering_spark.streaming.windows import dedup_stream

    batch_df = spark.read.parquet(event_dir)
    dup_dir = tempfile.mkdtemp(prefix="dup_src_")
    batch_df.write.mode("overwrite").parquet(dup_dir + "/a")
    batch_df.write.mode("overwrite").parquet(dup_dir + "/b")

    emitted = []
    chk = tempfile.mkdtemp(prefix="chk_")
    q = (
        dedup_stream(
            spark.readStream.schema(batch_df.schema).option(
                "recursiveFileLookup", "true"
            ).parquet(dup_dir)
        )
        .writeStream.foreachBatch(lambda b, _i: emitted.extend(b.collect()))
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(chk, ignore_errors=True)
    shutil.rmtree(dup_dir, ignore_errors=True)

    ids = [r["event_id"] for r in emitted]
    assert len(ids) == len(set(ids))
    assert set(ids) == {r["event_id"] for r in batch_df.collect()}


def test_stream_stream_join_equals_batch(spark, event_dir):
    """Streamed funnel join (click -> any event within 30 min) must emit
    exactly the batch join's matches for watermark-finalized rows."""
    from projet_data_engineering_spark.streaming.windows import stream_stream_join

    batch_df = spark.read.parquet(event_dir)
    schema = batch_df.schema
    clicks = batch_df.filter(F.col("event_type") == "click")
    expected = {
        tuple(r)
        for r in stream_stream_join(clicks, batch_df).collect()
    }

    emitted = []
    chk = tempfile.mkdtemp(prefix="chk_")
    q = (
        stream_stream_join(
            stream_events(spark, event_dir, schema).filter(
                F.col("event_type") == "click"
            ),
            stream_events(spark, event_dir, schema),
        )
        .writeStream.foreachBatch(lambda b, _i: emitted.extend(b.collect()))
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(chk, ignore_errors=True)
    streamed = {tuple(r) for r in emitted}
    # inner stream-stream join emits matches as both sides pass the watermark;
    # availableNow drains the source, so all but the tail horizon must appear
    assert streamed <= expected
    assert len(streamed) >= 0.5 * len(expected) > 0


@pytest.mark.slow
def test_stream_upsert_partitioned_prunes_untouched_partitions(spark, tmp_path):
    """ST1 through the partition-pruned MERGE: a later micro-batch touching
    one partition leaves every other partition's files byte-identical, and
    redelivery (fresh checkpoint) keeps the table unchanged."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from projet_data_engineering_spark.streaming.windows import (
        run_stream_upsert_partitioned,
    )

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("p", IntegerType()),
            StructField("v", LongType()),
            StructField("seq", LongType()),  # ingest sequence: replay-safe
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    target = str(tmp_path / "tgt")

    def arrives(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / name)
        )

    def run(chk_name):
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src) + "/*")
        )
        run_stream_upsert_partitioned(
            stream, target, "k", "p", str(tmp_path / chk_name),
            order_col="seq",
        )

    arrives([(i, i % 4, i * 10, i) for i in range(20)], "b0")
    run("chk")

    def snapshot(part):
        d = tmp_path / "tgt" / f"p={part}"
        return {
            f.name: f.read_bytes()
            for f in d.iterdir()
            if f.name.endswith(".parquet")
        }

    before = {p: snapshot(p) for p in range(4)}
    arrives([(1, 1, 111, 100), (101, 1, 1010, 101)], "b1")  # partition 1 only
    run("chk")  # same checkpoint: only the new file forms the micro-batch
    for p in (0, 2, 3):
        assert snapshot(p) == before[p]
    assert snapshot(1) != before[1]
    got = {r["k"]: (r["p"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert len(got) == 21
    assert got[1] == (1, 111)
    assert got[101] == (1, 1010)
    assert got[5] == (1, 50)  # same-partition neighbor survived the rewrite
    # at-least-once redelivery: replay EVERYTHING from a fresh checkpoint.
    # Both files may land in one micro-batch, putting two versions of k=1
    # in the same batch — order_col makes the highest seq win
    # deterministically, so the table still converges to the same contents.
    after_first = dict(got)
    run("chk2")
    again = {r["k"]: (r["p"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert again == after_first


@pytest.mark.slow
def test_stream_index_refresh_matches_scratch_build_and_replays(spark, tmp_path):
    """ST1 × T7: streaming micro-batches into the BM25 index must yield the
    same served scores as a from-scratch build over the full corpus, and a
    full redelivery (fresh checkpoint) must leave the index semantically
    identical — the keyed-merge idempotence contract."""
    from projet_data_engineering_spark.operators.search import (
        bm25_scores,
        bm25_serve,
        build_search_index,
    )
    from projet_data_engineering_spark.streaming.windows import (
        run_stream_index_refresh,
    )

    docs = spark.createDataFrame(
        [
            (i, t)
            for i, t in enumerate(
                [
                    "spark joins streams with spark sql",
                    "vanilla cake recipe",
                    "stream processing with spark",
                    "join orders to lineitem",
                    "fruit salad no sugar",
                    "spark spark spark",
                    "late arriving spark document about join plans",
                    "another stream about nothing",
                ]
            )
        ],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "src")
    # 4 files -> maxFilesPerTrigger=1 forces multiple micro-batches
    docs.repartition(4).write.mode("overwrite").parquet(src)

    stream_idx = str(tmp_path / "stream_idx")
    scratch_idx = str(tmp_path / "scratch_idx")
    build_search_index(docs, "doc_id", "text", scratch_idx, n_buckets=16)

    def run(chk):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_stream_index_refresh(
            stream, stream_idx, chk, n_buckets=16
        )

    run(str(tmp_path / "chk1"))
    terms = ["spark", "join"]
    served_stream = {
        r["doc_id"]: r["score"]
        for r in bm25_serve(spark, stream_idx, terms, n_buckets=16).collect()
    }
    served_scratch = {
        r["doc_id"]: r["score"]
        for r in bm25_serve(spark, scratch_idx, terms, n_buckets=16).collect()
    }
    scanned = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(docs, "doc_id", "text", terms).collect()
    }
    assert served_stream == served_scratch == scanned and served_stream

    # the FUZZY serving path must agree too — its vocab artifact is merged
    # by the refresher (before postings) and written by the scratch build,
    # and a typo'd query must score identically from either index and from
    # the corpus scan
    from projet_data_engineering_spark.operators.search import (
        bm25_scores_fuzzy,
        bm25_serve_fuzzy,
    )

    fterms = ["sprak", "joins"]  # typo'd 'spark', inflected 'join'
    fuzzy_stream = {
        r["doc_id"]: r["score"]
        for r in bm25_serve_fuzzy(spark, stream_idx, fterms).collect()
    }
    fuzzy_scratch = {
        r["doc_id"]: r["score"]
        for r in bm25_serve_fuzzy(spark, scratch_idx, fterms).collect()
    }
    fuzzy_scan = {
        r["doc_id"]: r["score"]
        for r in bm25_scores_fuzzy(docs, "doc_id", "text", fterms).collect()
    }
    assert fuzzy_stream == fuzzy_scratch == fuzzy_scan and fuzzy_stream
    # dictionary invariant: stored vocab covers every stored posting term
    vocab_terms = {
        r["term"] for r in spark.read.parquet(f"{stream_idx}/vocab").collect()
    }
    posting_terms = {
        r["term"]
        for r in spark.read.parquet(f"{stream_idx}/postings").collect()
    }
    assert posting_terms <= vocab_terms

    # full redelivery from a fresh checkpoint: merge-keyed refresh must not
    # duplicate postings, vocab rows, or double-count stats
    run(str(tmp_path / "chk2"))
    replayed = {
        r["doc_id"]: r["score"]
        for r in bm25_serve(spark, stream_idx, terms, n_buckets=16).collect()
    }
    assert replayed == served_stream
    refuzzed = {
        r["doc_id"]: r["score"]
        for r in bm25_serve_fuzzy(spark, stream_idx, fterms).collect()
    }
    assert refuzzed == fuzzy_stream
    n_docstats = spark.read.parquet(f"{stream_idx}/docstats").count()
    assert n_docstats == docs.count()
    n_vocab = spark.read.parquet(f"{stream_idx}/vocab").count()
    assert n_vocab == len(vocab_terms)


@pytest.mark.slow
def test_stream_upsert_interleaves_with_compaction(spark, tmp_path):
    """Table maintenance composes with ingest: compaction between streaming
    micro-batches speaks the SAME manifest protocol as the merge, so (a) a
    completed compaction leaves later batches merging into the compacted
    layout, and (b) a compaction interrupted AFTER its commit point is
    rolled forward by the next micro-batch's own recovery probe — the
    stream never sees a torn table."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from projet_data_engineering_spark import io
    from projet_data_engineering_spark.streaming.windows import (
        run_stream_upsert_partitioned,
    )

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("p", IntegerType()),
            StructField("v", LongType()),
            StructField("seq", LongType()),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    target = str(tmp_path / "tgt")

    def arrives(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / name)
        )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src) + "/*")
        )
        run_stream_upsert_partitioned(
            stream, target, "k", "p", str(tmp_path / "chk"), order_col="seq"
        )

    def table():
        return {
            r["k"]: (r["p"], r["v"])
            for r in spark.read.parquet(target).collect()
        }

    def files(part):
        d = tmp_path / "tgt" / f"p={part}"
        return {
            f.name: f.read_bytes()
            for f in d.iterdir()
            if f.name.endswith(".parquet")
        }

    arrives([(i, i % 4, i * 10, i) for i in range(20)], "b0")
    run()
    before = table()

    # (a) full compaction (min_files=1 rewrites every partition), then a
    # batch touching only partition 1: contents preserved, other compacted
    # partitions byte-identical through the later merge.
    done = io.compact_partitions(spark, target, "p", min_files=1)
    assert set(done) == {f"p={i}" for i in range(4)}
    assert table() == before
    snap = {p: files(p) for p in (0, 2, 3)}
    arrives([(1, 1, 111, 100), (21, 1, 210, 101)], "b1")
    run()
    assert {p: files(p) for p in (0, 2, 3)} == snap
    assert table()[1] == (1, 111) and table()[21] == (1, 210)

    # (b) interrupted compaction: staged + manifest published, commit never
    # ran. The NEXT micro-batch must roll it forward before merging.
    manifest = io._stage_compaction(spark, target, "p", 1, 1, None, 2)
    assert manifest is not None
    assert (tmp_path / "tgt" / "_merge_manifest.json").exists()
    arrives([(2, 2, 222, 200)], "b2")
    run()
    got = table()
    assert got[2] == (2, 222)
    assert got[1] == (1, 111) and got[21] == (1, 210)
    assert len(got) == 21
    assert not (tmp_path / "tgt" / "_merge_manifest.json").exists()
    assert not (tmp_path / "tgt" / "_merge_stage").exists()


def test_stream_index_refresh_bootstraps_from_batch_build(spark, tmp_path):
    """Build the index in batch, then STREAM additional documents into it —
    the workflow the four-artifact layout implies. Works because the batch
    build writes the same _pk merge key (and vocab artifact) the streaming
    refresher upserts on (the dedup-bands lesson, ADVICE r6, applied to
    BM25), and the docstats the refresh merges into. Served scores — exact
    AND fuzzy — must equal a corpus scan over the union of both document
    sets."""
    from projet_data_engineering_spark.operators.search import (
        bm25_scores,
        bm25_scores_fuzzy,
        bm25_serve,
        bm25_serve_fuzzy,
        build_search_index,
    )
    from projet_data_engineering_spark.streaming.windows import (
        run_stream_index_refresh,
    )

    initial = spark.createDataFrame(
        [
            (0, "spark joins streams with spark sql"),
            (1, "vanilla cake recipe"),
            (2, "stream processing with spark"),
            (5, "!!!"),  # no posting: only docstats keep it in n_docs
        ],
        ["doc_id", "text"],
    )
    late = spark.createDataFrame(
        [
            (3, "join orders to lineitem"),
            (4, "late spark document about join plans"),
        ],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx")
    build_search_index(initial, "doc_id", "text", idx, n_buckets=16)

    src = str(tmp_path / "src")
    late.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(late.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_index_refresh(
        stream, idx, str(tmp_path / "chk"), n_buckets=16
    )

    everything = initial.unionByName(late)
    # the stats row covers the batch-built documents too, the one with no
    # posting included: the batch build stores docstats
    scratch = str(tmp_path / "scratch")
    build_search_index(everything, "doc_id", "text", scratch, n_buckets=16)
    assert (
        spark.read.parquet(f"{idx}/stats").collect()
        == spark.read.parquet(f"{scratch}/stats").collect()
    )
    terms = ["spark", "join"]
    served = {
        r["doc_id"]: r["score"]
        for r in bm25_serve(spark, idx, terms, n_buckets=16).collect()
    }
    scanned = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(everything, "doc_id", "text", terms).collect()
    }
    assert served == scanned and served

    got = {
        (r["term"], r["doc_id"], r["dl"], r["tf"])
        for r in spark.read.parquet(f"{idx}/postings")
        .select("term", "doc_id", "dl", "tf")
        .collect()
    }
    from pyspark.sql import functions as SF

    from projet_data_engineering_spark.operators.search import tokenize

    toks = everything.select(
        SF.col("doc_id"), tokenize(SF.col("text")).alias("tokens")
    ).withColumn("dl", SF.size("tokens"))
    want = {
        (r["term"], r["doc_id"], r["dl"], r["tf"])
        for r in toks.select(
            "doc_id", "dl", SF.explode("tokens").alias("term")
        )
        .groupBy("term", "doc_id", "dl")
        .agg(SF.count("*").alias("tf"))
        .collect()
    }
    assert got == want and got
    # vocab covers the union's terms
    vocab = {r["term"] for r in spark.read.parquet(f"{idx}/vocab").collect()}
    assert {t for t, _, _, _ in want} <= vocab


# ---------------------------------------------------------------------------
# streaming drift monitor (r7)
# ---------------------------------------------------------------------------


def test_drift_monitor_fires_on_shifted_batch_and_clamps(spark, tmp_path):
    """A batch drawn from a shifted distribution must flag against the
    frozen baseline; a same-distribution batch must not; and values OUTSIDE
    the baseline range must clamp into the edge bins (not error, not fall
    off the grid) — the exact case the batch audit's global-range grid
    never exercises. PSI values equal a pure-python recomputation."""
    import datetime
    import math

    from projet_data_engineering_spark.streaming.drift import (
        build_drift_baseline,
        drift_monitor_batch,
    )

    day = datetime.datetime(2024, 1, 10)
    base_rows = [(day, "m", float(v % 100)) for v in range(400)]
    base = spark.createDataFrame(
        base_rows, "ts timestamp, event_type string, value double"
    )
    bpath, rpath = str(tmp_path / "base"), str(tmp_path / "rep")
    build_drift_baseline(base, bpath)

    # batch 0: same uniform spread -> stable. batch 1: mass pushed above
    # vmax (120..150, all clamp into bin 9) -> must drift.
    stable = spark.createDataFrame(
        [(day, "m", float(v % 100)) for v in range(200)],
        "ts timestamp, event_type string, value double",
    )
    shifted = spark.createDataFrame(
        [(day, "m", 120.0 + float(v % 30)) for v in range(200)],
        "ts timestamp, event_type string, value double",
    )
    drift_monitor_batch(stable, bpath, rpath, 0)
    drift_monitor_batch(shifted, bpath, rpath, 1)

    got = {
        r["batch_id"]: r for r in spark.read.parquet(rpath).collect()
    }
    assert not got[0]["drifted"] and got[0]["psi"] < 0.01
    assert got[1]["drifted"] and got[1]["psi"] > 1.0
    assert got[0]["n_batch"] == got[1]["n_batch"] == 200

    # exact recomputation of the shifted batch: baseline uniform over
    # bins 0..9 (40 each), batch all clamped into bin 9
    cb = [40] * 10
    cc = [0] * 9 + [200]
    psi = sum(
        ((b + 0.5) / 405.0 - (c + 0.5) / 205.0)
        * math.log(((b + 0.5) / 405.0) / ((c + 0.5) / 205.0))
        for b, c in zip(cb, cc)
    )
    assert got[1]["psi"] == round(psi, 5)

    # replay of batch 1 leaves the report unchanged (slice replace)
    drift_monitor_batch(shifted, bpath, rpath, 1)
    again = {r["batch_id"]: r for r in spark.read.parquet(rpath).collect()}
    assert {k: tuple(v) for k, v in again.items()} == {
        k: tuple(v) for k, v in got.items()
    }


def test_cms_ingest_replay_is_idempotent(spark, tmp_path):
    """At-least-once semantics: redelivering a batch (same batch_id)
    leaves the state byte-identical, and the served counters equal the
    batch-built sketch of the ingested documents exactly (merge law)."""
    from projet_data_engineering_spark.streaming import cms_ingest as ci
    from projet_data_engineering_spark.operators import textanalysis as ta

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    state = str(tmp_path / "cms_state")
    for k in range(3):
        ci.cms_ingest_batch(d.filter(F.col("doc_id") % 3 == k), state, k)
    before = sorted(
        tuple(r) for r in spark.read.parquet(state).collect()
    )
    # redeliver batch 1 (crash-after-commit replay)
    ci.cms_ingest_batch(d.filter(F.col("doc_id") % 3 == 1), state, 1)
    after = sorted(tuple(r) for r in spark.read.parquet(state).collect())
    assert before == after
    served = {
        (r["i"], r["bucket"]): r["cnt"]
        for r in ci.serve_cms_counters(spark, state).collect()
    }
    batch = {
        (r["i"], r["bucket"]): r["cnt"]
        for r in ta.cms_sketch(ta._tokens(d)).collect()
    }
    assert served == batch


def test_kmv_ingest_replay_is_idempotent(spark, tmp_path):
    """Redelivering a batch leaves the KMV state byte-identical, and the
    served sketch equals the batch-built sketch exactly (union law)."""
    from projet_data_engineering_spark.streaming import cms_ingest as si
    from projet_data_engineering_spark.operators import sampling as sm

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    state = str(tmp_path / "kmv_state")
    for k in range(3):
        si.kmv_ingest_batch(
            o.filter(F.col("o_orderkey") % 3 == k),
            state, k, "o_orderpriority", "o_custkey",
        )
    before = sorted(tuple(r) for r in spark.read.parquet(state).collect())
    si.kmv_ingest_batch(
        o.filter(F.col("o_orderkey") % 3 == 1),
        state, 1, "o_orderpriority", "o_custkey",
    )
    after = sorted(tuple(r) for r in spark.read.parquet(state).collect())
    assert before == after
    served = {
        r["grp"]: r["ks"]
        for r in si.serve_kmv_sketch(spark, state).collect()
    }
    batch = {
        r["grp"]: r["ks"]
        for r in sm.kmv_sketch(o, "o_orderpriority", "o_custkey").collect()
    }
    assert served == batch


def test_versioned_sink_replay_commits_one_version(spark, tmp_path):
    """The version dir name IS the batch marker: redelivering a batch_id
    is a listing-check no-op — no duplicate version, identical reads —
    and the marker commits atomically with the version (no window where
    data exists but the marker does not)."""
    from projet_data_engineering_spark.streaming import versioned_sink as vs
    from projet_data_engineering_spark.operators import versioned as vt

    d = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    path = str(tmp_path / "vtable")
    for k in range(3):
        vs.versioned_sink_batch(
            d.filter(F.col("doc_id") % 3 == k), path, "doc_id", k
        )
    assert vt.table_versions(spark, path) == [1, 2, 3]
    assert vt.applied_batch_ids(spark, path) == {0, 1, 2}
    before = sorted(
        tuple(r) for r in vt.read_version(spark, path, "doc_id").collect()
    )
    # redeliver batch 1: no fourth version, reads unchanged
    vs.versioned_sink_batch(
        d.filter(F.col("doc_id") % 3 == 1), path, "doc_id", 1
    )
    assert vt.table_versions(spark, path) == [1, 2, 3]
    after = sorted(
        tuple(r) for r in vt.read_version(spark, path, "doc_id").collect()
    )
    assert before == after


def test_versioned_sink_auto_compaction_bounds_history_and_self_heals(
    spark, tmp_path
):
    """In-stream maintenance (r9): with auto_compact_max_versions set,
    the sink folds the version prefix as batches accrue — reads identical
    to an uncompacted run, live version count bounded, recent batch
    markers preserved — and a crash INSIDE the fold (completed tmp,
    half-deleted prefix) self-heals on the next micro-batch's
    recover-first step."""
    import shutil

    from projet_data_engineering_spark.operators import versioned as vt
    from projet_data_engineering_spark.streaming import versioned_sink as vs

    d = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )

    def drive(path, maintain):
        for k in range(4):
            batch = d.filter(F.col("doc_id") % 4 == k)
            if maintain:
                vt.recover_compaction(spark, path)
            vs.versioned_sink_batch(batch, path, "doc_id", k)
            if maintain:
                vt.auto_compact(
                    spark, path, "doc_id", max_versions=2, protect_last=1
                )

    plain = str(tmp_path / "plain")
    maintained = str(tmp_path / "maintained")
    drive(plain, maintain=False)
    drive(maintained, maintain=True)

    want = sorted(
        tuple(r) for r in vt.read_version(spark, plain, "doc_id").collect()
    )
    got = sorted(
        tuple(r)
        for r in vt.read_version(spark, maintained, "doc_id").collect()
    )
    assert got == want
    assert len(vt.table_versions(spark, plain)) == 4
    assert len(vt.table_versions(spark, maintained)) <= 3  # bounded
    # the newest batch's marker survives (redelivery window intact):
    # redelivering it is still a no-op
    assert 3 in vt.applied_batch_ids(spark, maintained)
    vs.versioned_sink_batch(
        d.filter(F.col("doc_id") % 4 == 3), maintained, "doc_id", 3
    )
    assert sorted(
        tuple(r)
        for r in vt.read_version(spark, maintained, "doc_id").collect()
    ) == want

    # crash inside the fold: stage a completed tmp + half-deleted prefix,
    # then drive the next batch through the maintained step — it must
    # recover first, commit, and keep reads correct
    vs_versions = vt.table_versions(spark, maintained)
    base = vt.read_changes(
        spark, maintained, "doc_id", from_version=0,
        to_version=vs_versions[-1],
    ).drop("_v")
    base.write.parquet(f"{maintained}/_tmp_compact_v{vs_versions[-1]}")
    shutil.rmtree(
        f"{maintained}/{vt._version_dirs(spark, maintained, check_compaction=False)[vs_versions[0]]}"
    )
    extra = d.filter(F.col("doc_id") % 4 == 0).withColumn(
        "n_chars", F.col("n_chars") + F.lit(100)
    )
    vt.recover_compaction(spark, maintained)
    vs.versioned_sink_batch(extra, maintained, "doc_id", 4)
    vt.auto_compact(spark, maintained, "doc_id", max_versions=2, protect_last=1)
    healed = {
        r["doc_id"]: r["n_chars"]
        for r in vt.read_version(spark, maintained, "doc_id").collect()
    }
    bumped = {r["doc_id"]: r["n_chars"] for r in extra.collect()}
    expect = {doc_id: n_chars for doc_id, _lang, n_chars in want}
    expect.update(bumped)
    assert healed == expect


def test_versioned_sink_batch_dedups_duplicate_keys_deterministically(
    spark, tmp_path
):
    """ADVICE r9 (medium): a micro-batch carrying two rows for the same
    key (at-least-once delivery / multiple updates per trigger) must not
    commit a change set whose latest-op survivor is partition-order
    luck. The sink dedups to the greatest full-row tuple per key, so the
    committed version is deterministic regardless of input layout."""
    from projet_data_engineering_spark.operators import versioned as vt
    from projet_data_engineering_spark.streaming import versioned_sink as vs

    rows = [
        (1, "en", 10),
        (1, "en", 50),  # duplicate key, later payload — must win
        (2, "fr", 7),
        (2, "de", 7),   # duplicate key, greater lang tuple — must win
    ]
    want = {1: ("en", 50), 2: ("fr", 7)}
    for shuffle_parts in (1, 7):
        path = str(tmp_path / f"vtable_{shuffle_parts}")
        batch = spark.createDataFrame(
            rows, ["doc_id", "lang", "n_chars"]
        ).repartition(shuffle_parts)
        vs.versioned_sink_batch(batch, path, "doc_id", 0)
        got = {
            r["doc_id"]: (r["lang"], r["n_chars"])
            for r in vt.read_version(spark, path, "doc_id").collect()
        }
        assert got == want, f"shuffle_parts={shuffle_parts}"


def test_run_stream_versioned_rejects_unsafe_protect_last(spark):
    """ADVICE r9: protect_last=0 with auto-compaction folds the
    just-committed version's batch marker — a crash-before-checkpoint
    redelivery then re-commits as the NEWEST version and stale rows win.
    The sink must refuse the combination up front."""
    from projet_data_engineering_spark.streaming import versioned_sink as vs

    dummy = spark.range(1)
    with pytest.raises(ValueError, match="protect_last"):
        vs.run_stream_versioned(
            dummy, "/nonexistent", "/nonexistent_chk", "id",
            auto_compact_max_versions=2, protect_last=0,
        )


def test_versioned_writer_lock_rejects_second_writer(spark, tmp_path):
    """Deterministic ConcurrentWriteError coverage (VERDICT r9 item 4):
    while a live writer holds the table's lock, every mutating entry —
    batch upsert, streaming sink commit, delete, compaction/auto-compact —
    must refuse with ConcurrentWriteError instead of publishing a
    colliding version or deleting a prefix under the writer's feet."""
    from projet_data_engineering_spark.io import (
        ConcurrentWriteError,
        acquire_merge_lock,
        release_merge_lock,
    )
    from projet_data_engineering_spark.operators import versioned as vt
    from projet_data_engineering_spark.streaming import versioned_sink as vs

    path = str(tmp_path / "vtable")
    df = spark.createDataFrame([(1, 10), (2, 20)], ["doc_id", "n"])
    vt.versioned_upsert(df, path, "doc_id")

    token = acquire_merge_lock(spark, path)
    try:
        with pytest.raises(ConcurrentWriteError):
            vt.versioned_upsert(df, path, "doc_id")
        with pytest.raises(ConcurrentWriteError):
            vs.versioned_sink_batch(df, path, "doc_id", 99)
        with pytest.raises(ConcurrentWriteError):
            vt.versioned_delete(df.select("doc_id"), path, "doc_id")
        with pytest.raises(ConcurrentWriteError):
            vt.compact_versions(spark, path, "doc_id", upto=1)
        with pytest.raises(ConcurrentWriteError):
            vt.auto_compact(spark, path, "doc_id", max_versions=1)
        with pytest.raises(ConcurrentWriteError):
            vt.recover_compaction(spark, path)
    finally:
        release_merge_lock(spark, path, token)
    # lock released: the table accepts writes again and nothing was lost
    assert vt.versioned_upsert(df, path, "doc_id") == 2
    got = {r["doc_id"]: r["n"] for r in
           vt.read_version(spark, path, "doc_id").collect()}
    assert got == {1: 10, 2: 20}


def test_versioned_duplicate_version_dirs_refuse_to_read(spark, tmp_path):
    """Two dirs claiming one version (the silent-shadowing corruption the
    writer lock exists to prevent) must fail loudly, not return a read
    that arbitrarily prefers one change set."""
    import os

    from projet_data_engineering_spark.operators import versioned as vt

    path = str(tmp_path / "vtable")
    df = spark.createDataFrame([(1, 10)], ["doc_id", "n"])
    vt.versioned_upsert(df, path, "doc_id")
    # forge a colliding streaming-sink dir for the same version number
    os.makedirs(f"{path}/v1_b7")
    with pytest.raises(RuntimeError, match="claim version 1"):
        vt.read_version(spark, path, "doc_id").collect()


@pytest.mark.slow
def test_versioned_stream_races_concurrent_compactor(spark, tmp_path):
    """VERDICT r9 item 4, the live race: N streamed commits on one thread
    while a compactor loop folds the same table from another. The lock
    serializes them (losers retry on ConcurrentWriteError); the invariant
    under ANY interleaving is zero lost and zero duplicated rows, live
    version count bounded by the auto-compact policy, and the final read
    equal to a race-free run's."""
    import threading
    import time as _time

    from projet_data_engineering_spark.io import ConcurrentWriteError
    from projet_data_engineering_spark.operators import versioned as vt
    from projet_data_engineering_spark.streaming import versioned_sink as vs

    path = str(tmp_path / "vtable")
    n_batches = 8
    rows_per = 40
    batches = [
        spark.createDataFrame(
            [(k * rows_per + i, k) for i in range(rows_per)],
            ["doc_id", "src_batch"],
        ).coalesce(1)
        for k in range(n_batches)
    ]
    stats = {"writer_retries": 0, "compactor_blocked": 0, "compactions": 0}
    done = threading.Event()
    errors: list[BaseException] = []

    def writer():
        try:
            for k, b in enumerate(batches):
                while True:
                    try:
                        vs.versioned_sink_batch(b, path, "doc_id", k)
                        break
                    except ConcurrentWriteError:
                        stats["writer_retries"] += 1
                        _time.sleep(0.05)
        except BaseException as e:  # noqa: BLE001 — surfaced after join
            errors.append(e)
        finally:
            done.set()

    def compactor():
        try:
            while not done.is_set():
                try:
                    if vt.auto_compact(
                        spark, path, "doc_id",
                        max_versions=3, protect_last=1,
                    ) is not None:
                        stats["compactions"] += 1
                except ConcurrentWriteError:
                    stats["compactor_blocked"] += 1
                except ValueError:
                    pass  # table not created yet
                _time.sleep(0.02)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    t_w = threading.Thread(target=writer)
    t_c = threading.Thread(target=compactor)
    t_w.start()
    t_c.start()
    t_w.join(timeout=600)
    t_c.join(timeout=60)
    assert not errors, errors
    assert done.is_set()

    # final maintenance pass, then the no-loss/no-dup invariant
    vt.auto_compact(spark, path, "doc_id", max_versions=3, protect_last=1)
    got = sorted(
        (r["doc_id"], r["src_batch"])
        for r in vt.read_version(spark, path, "doc_id").collect()
    )
    want = sorted(
        (k * rows_per + i, k)
        for k in range(n_batches)
        for i in range(rows_per)
    )
    assert got == want  # every row exactly once, correct payload
    assert len(vt.table_versions(spark, path)) <= 4  # policy bound held
    assert stats["compactions"] >= 1, stats  # the race actually compacted


def test_versioned_sink_map_column_commits(spark, tmp_path):
    """r11 advice: the r10 deterministic dedup ordered the window by every
    non-key column, but MapType is not orderable — a batch carrying a map
    column failed at analysis time where the pre-r10 sink committed it.
    Non-orderable columns now enter the sort key via to_json; the batch
    commits and duplicate keys still resolve deterministically."""
    from pyspark.sql import Row

    from projet_data_engineering_spark.operators import versioned as vt
    from projet_data_engineering_spark.streaming import versioned_sink as vs

    path = str(tmp_path / "vmap")
    batch = spark.createDataFrame(
        [
            Row(doc_id=1, tags={"a": 1}, score=5),
            Row(doc_id=1, tags={"a": 2}, score=9),  # dup key in one batch
            Row(doc_id=2, tags={"b": 3}, score=1),
        ],
        "doc_id INT, tags MAP<STRING,INT>, score INT",
    )
    vs.versioned_sink_batch(batch, path, "doc_id", 0)
    got = {
        r["doc_id"]: (r["score"], dict(r["tags"]))
        for r in vt.read_version(spark, path, "doc_id").collect()
    }
    assert set(got) == {1, 2}
    assert got[1] == (9, {"a": 2})  # greatest full-row tuple survived
    assert got[2] == (1, {"b": 3})
    # replay: still a no-op with the map column present
    vs.versioned_sink_batch(batch, path, "doc_id", 0)
    assert vt.table_versions(spark, path) == [1]
