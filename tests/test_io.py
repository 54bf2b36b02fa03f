"""Sources/sinks (SURVEY.md §2.1): JSON round-trip with explicit schema,
overwrite load, and single-file backup parity with the reference's format."""

from __future__ import annotations

import json

import pytest

import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from projet_data_engineering_spark.io import (
    load_table,
    read_json_source,
    write_json_sink,
)
from tests.conftest import SF_DIR

RECIPE_LIKE_SCHEMA = StructType(
    [
        StructField("product_id", StringType()),
        StructField("name", StringType()),
        StructField("rating", LongType()),
        StructField("ingredients", ArrayType(StringType())),
    ]
)


def test_json_source_reads_array_file_with_schema(spark, tmp_path):
    """S2 — the reference's array-of-objects backup file, read with an
    explicit StructType (no inference), arrays preserved."""
    payload = [
        {"product_id": "a1", "name": "Tarte", "rating": 4, "ingredients": ["x", "y"]},
        {"product_id": "b2", "name": "Soupe", "rating": 5, "ingredients": []},
    ]
    p = tmp_path / "backup.json"
    p.write_text(json.dumps(payload, ensure_ascii=False, indent=4))
    df = read_json_source(spark, str(p), RECIPE_LIKE_SCHEMA)
    rows = {r["product_id"]: r for r in df.collect()}
    assert set(rows) == {"a1", "b2"}
    assert rows["a1"]["ingredients"] == ["x", "y"]
    assert df.schema == RECIPE_LIKE_SCHEMA


def test_json_sink_round_trip(spark, tmp_path):
    """S3 → S2 — write a table to JSON, read it back with the source schema:
    identical rows (the backup/restore cycle, restore_data.py:22-49)."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = str(tmp_path / "docs_json")
    write_json_sink(docs, out)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    back = spark.read.json(out, schema=schema)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, docs.collect())
    )


def test_json_sink_single_file_mode(spark, tmp_path):
    """single_file=True mirrors the reference's one-file backup layout."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id").limit(5)
    out = tmp_path / "one"
    write_json_sink(docs, str(out), single_file=True)
    parts = [f for f in out.iterdir() if f.name.startswith("part-")]
    assert len(parts) == 1


def test_csv_round_trip(spark, tmp_path):
    """CSV sink -> source with explicit schema: identical rows and types."""
    from projet_data_engineering_spark.io import read_csv_source, write_csv_sink

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = str(tmp_path / "docs_csv")
    write_csv_sink(docs, out)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    back = read_csv_source(spark, out, schema)
    assert back.schema == schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC sink -> source: identical rows, self-described schema, and the
    filter composed on the read reaches the ORC scan (pushdown works for
    both columnar formats, not just parquet)."""
    from projet_data_engineering_spark.io import read_orc_source, write_orc_sink
    from projet_data_engineering_spark.plans.explain import formatted_plan

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = str(tmp_path / "docs_orc")
    write_orc_sink(docs, out)
    back = read_orc_source(spark, out)
    assert back.schema == docs.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))
    filtered = back.filter(F.col("n_chars") > 100)
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]" in (
        formatted_plan(filtered)
    )


def test_orc_partitioned_write_prunes(spark, tmp_path):
    """lang-partitioned ORC table filtered on lang scans only the matching
    partition directories."""
    from projet_data_engineering_spark.io import read_orc_source, write_orc_sink
    from projet_data_engineering_spark.plans.explain import formatted_plan

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    out = str(tmp_path / "docs_orc_part")
    write_orc_sink(docs, out, partition_by=["lang"])
    df = read_orc_source(spark, out).filter(F.col("lang") == "en")
    plan = formatted_plan(df)
    assert any(
        "PartitionFilters" in ln and "lang" in ln for ln in plan.splitlines()
    )
    assert 0 < df.count() < docs.count()


def test_events_ts_vintages_agree_under_non_utc_session(spark, tmp_path):
    """The generator has written ``events.ts`` as both TIMESTAMP(NANOS)
    (surfacing as bigint under nanosAsLong) and naive TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (surfacing as TIMESTAMP_NTZ). ``load_table`` must
    return the SAME instants for both — including under a caller session
    whose timezone is not UTC, where a bare NTZ->timestamp cast would
    reinterpret the wall clock in local time and drift from DuckDB's
    naive==UTC reading."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
    ids = [1, 2]
    ntz_dir = tmp_path / "ntz"
    nanos_dir = tmp_path / "nanos"
    ntz_dir.mkdir()
    nanos_dir.mkdir()
    pq.write_table(
        pa.table(
            {"event_id": ids, "ts": pa.array(micros, pa.timestamp("us"))}
        ),
        str(ntz_dir / "events.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "event_id": ids,
                "ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
            }
        ),
        str(nanos_dir / "events.parquet"),
        store_schema=False,  # keep physical TIMESTAMP(NANOS), no arrow hint
    )
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")

        def instants(d):
            df = load_table(spark, str(d), "events")
            assert dict(df.dtypes)["ts"] == "timestamp"
            return {
                r["event_id"]: r["us"]
                for r in df.select(
                    "event_id", F.unix_micros("ts").alias("us")
                ).collect()
            }
        got_ntz = instants(ntz_dir)
        got_nanos = instants(nanos_dir)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    expect = dict(zip(ids, micros))
    assert got_ntz == expect
    assert got_nanos == expect


def test_partitioned_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """S4 at scale: after a partition-pruned MERGE, files of untouched
    partitions are BYTE-IDENTICAL (never read or rewritten) while the merged
    content equals the global merge semantics."""
    from projet_data_engineering_spark.io import merge_upsert_partitioned

    path = str(tmp_path / "tbl")
    base = (
        spark.range(50)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 5).cast("int").alias("p"),
            (F.col("id") * 10).alias("v"),
        )
    )
    base.write.partitionBy("p").parquet(path)

    def snapshot(part):
        d = tmp_path / "tbl" / f"p={part}"
        return {
            f.name: f.read_bytes()
            for f in d.iterdir()
            if f.name.endswith(".parquet")
        }

    before = {p: snapshot(p) for p in range(5)}
    new = spark.createDataFrame(
        [(1, 1, 111), (6, 1, 666), (52, 2, 520)], "k bigint, p int, v bigint"
    )
    parts = merge_upsert_partitioned(spark, path, new, "k", "p")
    assert sorted(parts) == [1, 2]
    # untouched partitions: same files, same bytes
    for p in (0, 3, 4):
        assert snapshot(p) == before[p]
    # touched partitions rewritten
    assert snapshot(1) != before[1]
    # merged content == the reference Mongo-$set semantics over the whole table
    got = {
        r["k"]: (r["p"], r["v"])
        for r in spark.read.parquet(path).collect()
    }
    assert len(got) == 51  # 50 originals + 1 insert
    assert got[1] == (1, 111)     # updated
    assert got[6] == (1, 666)     # updated
    assert got[52] == (2, 520)    # inserted
    assert got[2] == (2, 20)      # untouched row intact


def test_partitioned_merge_key_move_empties_source_partition(spark, tmp_path):
    """A key whose new row lands in a different partition is removed from its
    old one; a partition left with zero rows disappears entirely (dynamic
    overwrite cannot write empty partitions — the FS cleanup handles it)."""
    from projet_data_engineering_spark.io import merge_upsert_partitioned

    path = str(tmp_path / "tbl2")
    spark.createDataFrame(
        [(1, 0, 10), (2, 1, 20)], "k bigint, p int, v bigint"
    ).write.partitionBy("p").parquet(path)
    new = spark.createDataFrame([(2, 0, 99)], "k bigint, p int, v bigint")
    parts = merge_upsert_partitioned(spark, path, new, "k", "p")
    assert sorted(parts) == [0, 1]
    got = {r["k"]: (r["p"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: (0, 10), 2: (0, 99)}
    assert not (tmp_path / "tbl2" / "p=1").exists()


def test_partitioned_merge_order_col_last_write_wins(spark, tmp_path):
    """Intra-batch duplicate keys: with order_col, the partition-pruned
    merge reduces the batch to the LAST write per key before merging —
    Mongo ordered-bulk semantics, same contract as merge_upsert."""
    from projet_data_engineering_spark.io import merge_upsert_partitioned

    path = str(tmp_path / "tbl3")
    spark.createDataFrame(
        [(1, 0, 10), (2, 1, 20)], "k bigint, p int, v bigint"
    ).write.partitionBy("p").parquet(path)
    new = spark.createDataFrame(
        [(1, 0, 100, 5), (1, 0, 111, 9), (3, 1, 30, 1)],
        "k bigint, p int, v bigint, seq bigint",
    )
    merge_upsert_partitioned(spark, path, new, "k", "p", order_col="seq")
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got[1] == 111  # seq 9 beat seq 5
    assert got[3] == 30
    assert got[2] == 20


def test_zordered_write_narrows_file_stats(spark, tmp_path):
    """Z-order clustering must make every output file's parquet footer
    min/max narrow on BOTH clustered columns at once — the property file
    skipping depends on. Checked against the actual footers via pyarrow:
    a selective box filter on (x, y) must intersect far fewer z-ordered
    files than linearly-sorted ones (a single-column sort gives skipping
    on that column only)."""
    import glob

    import pyarrow.parquet as pq

    from projet_data_engineering_spark.io import write_zordered

    df = (
        spark.range(0, 40000)
        .withColumn("x", F.col("id") % 200)
        .withColumn("y", (F.col("id") / F.lit(200)).cast("long") % 200)
        .drop("id")
    )
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    write_zordered(df, zpath, ["x", "y"], bits=8, n_files=16)
    # Baseline: same file budget, single-dimension layout (sorted by x
    # only) — the best a non-z layout gives a table that must also serve
    # y-filters.
    df.repartitionByRange(16, F.col("x")).sortWithinPartitions(
        "x"
    ).write.mode("overwrite").parquet(lpath)

    def file_ranges(path):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo = {"x": None, "y": None}
            hi = {"x": None, "y": None}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in lo and col.statistics is not None:
                        s = col.statistics
                        lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                        hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
            if lo["x"] is not None:
                out.append((lo["x"], hi["x"], lo["y"], hi["y"]))
        return out

    def touched(ranges, x0, x1, y0, y1):
        return sum(
            1
            for (xl, xh, yl, yh) in ranges
            if xh >= x0 and xl <= x1 and yh >= y0 and yl <= y1
        )

    zr, lr = file_ranges(zpath), file_ranges(lpath)
    assert len(zr) > 4 and len(lr) > 4  # enough files for skipping to mean anything
    # a 10%-per-side box: z-order should touch a small fraction of files on
    # a filter constraining BOTH dims, and critically also prune on a
    # filter constraining ONLY y (the dimension linear order can't skip)
    box_both_z = touched(zr, 0, 20, 0, 20)
    box_y_z = touched(zr, 0, 199, 0, 20)
    box_y_l = touched(lr, 0, 199, 0, 20)
    assert box_both_z <= len(zr) // 2, (box_both_z, len(zr))
    # x-major order leaves y unsorted across files, so a y-only filter
    # touches (nearly) everything; the z-layout must beat it decisively
    assert box_y_l >= len(lr) - 1, (box_y_l, len(lr))
    assert box_y_z <= box_y_l // 2, (box_y_z, box_y_l)
    # round-trip fidelity: clustering reorders, never drops or mutates
    got = spark.read.parquet(zpath)
    assert got.count() == 40000
    assert got.agg(F.sum("x"), F.sum("y")).first() == df.agg(
        F.sum("x"), F.sum("y")
    ).first()


# ---------------------------------------------------------------------------
# Crash-atomicity of the partitioned MERGE commit protocol (VERDICT r5 item 1)
# ---------------------------------------------------------------------------


def _seed_merge_table(spark, path):
    spark.createDataFrame(
        [(1, 0, 10), (2, 0, 20), (3, 1, 30), (4, 2, 40)],
        "k bigint, p int, v bigint",
    ).write.partitionBy("p").parquet(path)


_MERGE_BATCH = [(2, 0, 222), (3, 2, 333), (9, 1, 90)]  # update, move, insert
_OLD_STATE = {1: (0, 10), 2: (0, 20), 3: (1, 30), 4: (2, 40)}
_NEW_STATE = {1: (0, 10), 2: (0, 222), 3: (2, 333), 4: (2, 40), 9: (1, 90)}


def _table_state(spark, path):
    return {r["k"]: (r["p"], r["v"]) for r in spark.read.parquet(path).collect()}


def test_partitioned_merge_crash_before_commit_point_reads_fully_old(
    spark, tmp_path, monkeypatch
):
    """A crash BEFORE the manifest publish (staging done, commit point not
    reached) must leave the table fully-old: staging is invisible to readers
    and recovery discards it."""
    from projet_data_engineering_spark import io

    path = str(tmp_path / "t_precrash")
    _seed_merge_table(spark, path)
    new = spark.createDataFrame(_MERGE_BATCH, "k bigint, p int, v bigint")

    def die(*a, **kw):
        raise RuntimeError("killed before manifest publish")

    monkeypatch.setattr(io, "_write_small_file", die)
    with pytest.raises(RuntimeError, match="killed before manifest"):
        io.merge_upsert_partitioned(spark, path, new, "k", "p")
    monkeypatch.undo()
    # un-recovered read already sees fully-old (staging is underscore-hidden)
    assert _table_state(spark, path) == _OLD_STATE
    assert io.recover_partitioned_merge(spark, path) is False  # nothing to roll
    assert _table_state(spark, path) == _OLD_STATE
    # ADVICE r6: the READ path must NOT delete pre-commit staging — a live
    # writer could be mid-staging; the garbage is invisible to readers and
    # the next WRITER cleans it under the lock.
    assert (tmp_path / "t_precrash" / "_merge_stage").exists()
    # the interrupted merge can simply be retried (writer-side recovery
    # clears the stale stage first)
    io.merge_upsert_partitioned(spark, path, new, "k", "p")
    assert _table_state(spark, path) == _NEW_STATE
    assert not (tmp_path / "t_precrash" / "_merge_stage").exists()


def test_partitioned_merge_crash_after_commit_point_rolls_forward(
    spark, tmp_path, monkeypatch
):
    """A crash AFTER the manifest publish but before any swap: recovery must
    roll FORWARD to fully-new from the staged output alone."""
    from projet_data_engineering_spark import io

    path = str(tmp_path / "t_postcrash")
    _seed_merge_table(spark, path)
    new = spark.createDataFrame(_MERGE_BATCH, "k bigint, p int, v bigint")

    def die(*a, **kw):
        raise RuntimeError("killed at commit start")

    monkeypatch.setattr(io, "_commit_partitioned_merge", die)
    with pytest.raises(RuntimeError, match="killed at commit"):
        io.merge_upsert_partitioned(spark, path, new, "k", "p")
    monkeypatch.undo()
    assert (tmp_path / "t_postcrash" / "_merge_manifest.json").exists()
    assert io.recover_partitioned_merge(spark, path) is True  # rolled forward
    assert _table_state(spark, path) == _NEW_STATE
    assert not (tmp_path / "t_postcrash" / "_merge_stage").exists()
    assert not (tmp_path / "t_postcrash" / "_merge_manifest.json").exists()


def test_partitioned_merge_crash_mid_swap_rolls_forward(spark, tmp_path, monkeypatch):
    """The worst window: manifest published and SOME partitions already
    swapped (one of them caught between delete-live and rename-staged).
    Recovery must complete the remaining swaps idempotently."""
    import shutil

    from projet_data_engineering_spark import io

    path = str(tmp_path / "t_midswap")
    _seed_merge_table(spark, path)
    new = spark.createDataFrame(_MERGE_BATCH, "k bigint, p int, v bigint")

    monkeypatch.setattr(
        io, "_commit_partitioned_merge", lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("k"))
    )
    with pytest.raises(RuntimeError):
        io.merge_upsert_partitioned(spark, path, new, "k", "p")
    monkeypatch.undo()
    root = tmp_path / "t_midswap"
    # hand-execute a partial swap: p=0 fully swapped, p=1 deleted but not yet
    # renamed in (the delete-live/rename-staged crash window)
    shutil.rmtree(root / "p=0")
    shutil.move(str(root / "_merge_stage" / "p=0"), str(root / "p=0"))
    shutil.rmtree(root / "p=1")
    assert io.recover_partitioned_merge(spark, path) is True
    assert _table_state(spark, path) == _NEW_STATE
    assert not (root / "_merge_stage").exists()
    assert not (root / "_merge_manifest.json").exists()
    # recovery is idempotent: a second call is a no-op
    assert io.recover_partitioned_merge(spark, path) is False
    assert _table_state(spark, path) == _NEW_STATE


def test_atomic_overwrite_crash_windows_recover_to_one_version(spark, tmp_path):
    """io.atomic_overwrite: every crash window recovers to exactly one
    complete version (old before the swap completes the rename chain, new
    after)."""
    import os
    import shutil

    from projet_data_engineering_spark import io

    path = str(tmp_path / "at")
    v1 = spark.createDataFrame([(1, "a")], "k bigint, s string")
    v2 = spark.createDataFrame([(1, "b"), (2, "c")], "k bigint, s string")

    def rows(p):
        return {(r["k"], r["s"]) for r in spark.read.parquet(p).collect()}

    # window 1: crash after __next written, before the live->old rename:
    # live still present, recovery discards the complete-but-unswapped next
    # (the swap never began; the caller replays the batch)
    v1.write.parquet(path)
    v2.write.parquet(path + "__next")
    io.recover_atomic_overwrite(spark, path)
    assert rows(path) == {(1, "a")}
    assert not os.path.exists(path + "__next")

    # window 2: crash between live->old and next->live: live missing,
    # complete next present -> roll FORWARD
    v2.write.mode("overwrite").parquet(path + "__next")
    os.rename(path, path + "__old")
    io.recover_atomic_overwrite(spark, path)
    assert rows(path) == {(1, "b"), (2, "c")}
    assert not os.path.exists(path + "__old")

    # window 3: crash with an INCOMPLETE next (no _SUCCESS) mid-swap ->
    # roll BACK to old
    shutil.rmtree(path)
    v1.write.parquet(path)
    v2.write.mode("overwrite").parquet(path + "__next")
    os.remove(path + "__next/_SUCCESS")
    os.rename(path, path + "__old")
    io.recover_atomic_overwrite(spark, path)
    assert rows(path) == {(1, "a")}
    assert not os.path.exists(path + "__next")

    # window 4: crash after next->live, before old cleanup -> already new
    shutil.rmtree(path)
    v1.write.parquet(path + "__old")
    v2.write.parquet(path)
    io.recover_atomic_overwrite(spark, path)
    assert rows(path) == {(1, "b"), (2, "c")}
    assert not os.path.exists(path + "__old")


def test_read_merged_table_recovers_interrupted_commit(spark, tmp_path, monkeypatch):
    """A plain reader helper must observe fully-new after a post-commit-point
    crash without the caller knowing the merge protocol exists."""
    from projet_data_engineering_spark import io

    path = str(tmp_path / "t_reader")
    _seed_merge_table(spark, path)
    new = spark.createDataFrame(_MERGE_BATCH, "k bigint, p int, v bigint")
    monkeypatch.setattr(
        io, "_commit_partitioned_merge",
        lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("k")),
    )
    with pytest.raises(RuntimeError):
        io.merge_upsert_partitioned(spark, path, new, "k", "p")
    monkeypatch.undo()
    got = {
        r["k"]: (r["p"], r["v"])
        for r in io.read_merged_table(spark, path).collect()
    }
    assert got == _NEW_STATE


def _compact_seed(spark, path, parts=3, files_per_part=4):
    """Partitioned table where every partition dir holds several small data
    files — the shape days of streaming micro-batch merges leave behind."""
    (
        spark.range(240)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % parts).cast("int").alias("p"),
            ((F.col("id") * 37) % 240).alias("v"),
        )
        .repartition(files_per_part)
        .write.partitionBy("p")
        .parquet(path)
    )


def _part_files(tmp_path, tbl, part):
    d = tmp_path / tbl / f"p={part}"
    return sorted(f.name for f in d.iterdir() if f.name.endswith(".parquet"))


def test_compact_partitions_merges_small_files_preserving_rows(spark, tmp_path):
    """Compaction rewrites every >=min_files partition down to one file with
    identical content, leaves already-compact partitions byte-untouched, and
    is a no-op when re-run."""
    from projet_data_engineering_spark.io import compact_partitions

    path = str(tmp_path / "t_compact")
    _compact_seed(spark, path)
    assert all(len(_part_files(tmp_path, "t_compact", p)) >= 2 for p in range(3))
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    done = compact_partitions(spark, path, "p")
    assert set(done) == {"p=0", "p=1", "p=2"}
    assert all(n >= 2 for n in done.values())
    for p in range(3):
        assert len(_part_files(tmp_path, "t_compact", p)) == 1
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before
    # no staging/manifest residue, and a second pass finds nothing to do
    assert not (tmp_path / "t_compact" / "_merge_stage").exists()
    assert not (tmp_path / "t_compact" / "_merge_manifest.json").exists()
    assert compact_partitions(spark, path, "p") == {}


def test_compact_partitions_sort_restores_file_clustering(spark, tmp_path):
    """sort_cols re-sorts rows inside each compacted file, restoring the
    min/max-stats clustering incremental merges destroy."""
    from projet_data_engineering_spark.io import compact_partitions

    path = str(tmp_path / "t_compact_sort")
    _compact_seed(spark, path)
    compact_partitions(spark, path, "p", sort_cols=["v"])
    for p in range(3):
        (f,) = _part_files(tmp_path, "t_compact_sort", p)
        vals = [
            r["v"]
            for r in spark.read.parquet(str(tmp_path / "t_compact_sort" / f"p={p}" / f)).collect()
        ]
        assert vals == sorted(vals) and vals


def test_compact_partitions_crash_windows(spark, tmp_path, monkeypatch):
    """Compaction inherits the merge commit protocol: a crash before the
    manifest publish leaves the table fully-old (small files intact, staging
    discarded); a crash after it rolls forward to fully-compacted."""
    from projet_data_engineering_spark import io

    path = str(tmp_path / "t_compact_crash")
    _compact_seed(spark, path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    n_before = {p: len(_part_files(tmp_path, "t_compact_crash", p)) for p in range(3)}

    def die(*a, **kw):
        raise RuntimeError("killed")

    # window 1: before the commit point
    monkeypatch.setattr(io, "_write_small_file", die)
    with pytest.raises(RuntimeError, match="killed"):
        io.compact_partitions(spark, path, "p")
    monkeypatch.undo()
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before
    assert io.recover_partitioned_merge(spark, path) is False
    assert {p: len(_part_files(tmp_path, "t_compact_crash", p)) for p in range(3)} == n_before
    # read-path recovery leaves pre-commit staging alone (ADVICE r6); the
    # next writer clears it under the lock
    assert (tmp_path / "t_compact_crash" / "_merge_stage").exists()

    # window 2: after the commit point, before any swap
    monkeypatch.setattr(io, "_commit_partitioned_merge", die)
    with pytest.raises(RuntimeError, match="killed"):
        io.compact_partitions(spark, path, "p")
    monkeypatch.undo()
    assert io.recover_partitioned_merge(spark, path) is True
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before
    for p in range(3):
        assert len(_part_files(tmp_path, "t_compact_crash", p)) == 1


# ---------------------------------------------------------------------------
# Writer lock / lease: single-writer contract, enforced (VERDICT r6 item 4,
# ADVICE r6 medium on destructive read-path recovery)
# ---------------------------------------------------------------------------


def _forge_lock(path, pid, host, ts, token="forged"):
    import json

    with open(f"{path}/_merge_lock.json", "w") as f:
        json.dump({"token": token, "pid": pid, "host": host, "ts": ts}, f)


def test_merge_lock_blocks_second_writer_and_releases(spark, tmp_path):
    """While a live writer holds the table lock, a second merge AND an
    external compaction both raise ConcurrentWriteError instead of racing
    the manifest swap; after release the merge proceeds and cleans its own
    lock."""
    import os

    from projet_data_engineering_spark import io

    path = str(tmp_path / "t_lock")
    _seed_merge_table(spark, path)
    new = spark.createDataFrame(_MERGE_BATCH, "k bigint, p int, v bigint")
    token = io.acquire_merge_lock(spark, path)  # this pid: provably live
    with pytest.raises(io.ConcurrentWriteError, match="writer lock held"):
        io.merge_upsert_partitioned(spark, path, new, "k", "p")
    with pytest.raises(io.ConcurrentWriteError, match="writer lock held"):
        io.compact_partitions(spark, path, "p")
    assert _table_state(spark, path) == _OLD_STATE  # loser touched nothing
    io.release_merge_lock(spark, path, token)
    io.merge_upsert_partitioned(spark, path, new, "k", "p")
    assert _table_state(spark, path) == _NEW_STATE
    assert not os.path.exists(f"{path}/_merge_lock.json")


def test_merge_lock_dead_pid_stolen_immediately(spark, tmp_path):
    """A crashed local writer (fresh lease, provably dead pid) must not
    block the table: the next writer steals the lock and merges."""
    import subprocess
    import socket
    import time

    from projet_data_engineering_spark import io

    path = str(tmp_path / "t_lock_dead")
    _seed_merge_table(spark, path)
    child = subprocess.Popen(["true"])
    child.wait()  # reaped -> os.kill(pid, 0) raises ProcessLookupError
    _forge_lock(path, child.pid, socket.gethostname(), time.time())
    new = spark.createDataFrame(_MERGE_BATCH, "k bigint, p int, v bigint")
    io.merge_upsert_partitioned(spark, path, new, "k", "p")
    assert _table_state(spark, path) == _NEW_STATE


def test_merge_lock_foreign_host_honors_lease(spark, tmp_path):
    """An unprobeable (foreign-host) owner is live until its lease expires,
    then stealable — the remote-crash recovery path."""
    import time

    from projet_data_engineering_spark import io

    path = str(tmp_path / "t_lock_remote")
    _seed_merge_table(spark, path)
    new = spark.createDataFrame(_MERGE_BATCH, "k bigint, p int, v bigint")
    _forge_lock(path, 1, "some-other-executor-host", time.time())
    with pytest.raises(io.ConcurrentWriteError):
        io.merge_upsert_partitioned(spark, path, new, "k", "p")
    _forge_lock(
        path, 1, "some-other-executor-host",
        time.time() - io.MERGE_LOCK_LEASE_SEC - 1,
    )
    io.merge_upsert_partitioned(spark, path, new, "k", "p")
    assert _table_state(spark, path) == _NEW_STATE


def test_release_with_stale_token_is_noop(spark, tmp_path):
    """A writer whose lock was lease-stolen must not delete the thief's
    lock on its way out (token mismatch -> no-op release)."""
    import os

    from projet_data_engineering_spark import io

    path = str(tmp_path / "t_lock_token")
    os.makedirs(path, exist_ok=True)
    t1 = io.acquire_merge_lock(spark, path)
    io.release_merge_lock(spark, path, t1)
    t2 = io.acquire_merge_lock(spark, path)
    io.release_merge_lock(spark, path, t1)  # stale token: must be a no-op
    assert os.path.exists(f"{path}/_merge_lock.json")
    io.release_merge_lock(spark, path, t2)
    assert not os.path.exists(f"{path}/_merge_lock.json")


def test_reader_leaves_inflight_writer_stage_and_commit_alone(spark, tmp_path):
    """ADVICE r6 (medium): a reader racing an in-flight writer must neither
    delete its pre-manifest staging (the old destructive-recovery bug: the
    writer would then silently skip every swap) nor roll its published
    manifest forward while the writer is alive mid-commit (two concurrent
    _commit runs can interleave delete-live/rename on a partition dir and
    lose it)."""
    import json
    import os
    import shutil

    from projet_data_engineering_spark import io

    path = str(tmp_path / "t_reader_race")
    _seed_merge_table(spark, path)
    new = spark.createDataFrame(_MERGE_BATCH, "k bigint, p int, v bigint")
    token = io.acquire_merge_lock(spark, path)  # the "in-flight writer"
    manifest = io._stage_partitioned_merge(spark, path, new, "k", "p")
    mpath = f"{path}/_merge_manifest.json"
    manifest_json = open(mpath).read()
    os.remove(mpath)  # rewind to the window BETWEEN staging and publish

    # reader in the stage/publish window: sees fully-old, stage untouched
    assert {
        r["k"]: (r["p"], r["v"])
        for r in io.read_merged_table(spark, path).collect()
    } == _OLD_STATE
    assert os.path.exists(f"{path}/_merge_stage")

    # reader in the publish/commit window: must NOT run the swap itself
    # while the writer lock is live
    with open(mpath, "w") as f:
        f.write(manifest_json)
    assert io.recover_partitioned_merge(spark, path) is False
    assert os.path.exists(f"{path}/_merge_stage")
    assert os.path.exists(mpath)

    # the writer finishes its own commit normally
    io._commit_partitioned_merge(spark, path, json.loads(manifest_json))
    io.release_merge_lock(spark, path, token)
    assert _table_state(spark, path) == _NEW_STATE
    assert not os.path.exists(f"{path}/_merge_stage")

    # and once the writer is GONE (lock released, manifest orphaned by a
    # crash), the reader path does roll forward — prove with a fresh table
    path2 = str(tmp_path / "t_reader_orphan")
    _seed_merge_table(spark, path2)
    io._stage_partitioned_merge(spark, path2, new, "k", "p")
    assert io.recover_partitioned_merge(spark, path2) is True
    assert _table_state(spark, path2) == _NEW_STATE


def test_zorder_key_never_uses_the_sign_bit(spark):
    """ADVICE r6 (low): with bits=16 and 4 columns the old 64-bit cap let
    the top interleaved bit land in the long's sign bit, turning
    high-coordinate keys negative and rotating signed range-partition
    order. The cap is now 63 bits: maximal coordinates must still produce
    a non-negative key that orders above minimal ones."""
    from projet_data_engineering_spark import io

    df = spark.createDataFrame(
        [(0, 0, 0, 0), (1000, 1000, 1000, 1000)], "a int, b int, c int, d int"
    )
    d, key = io.zorder_key(df, ["a", "b", "c", "d"], bits=16)
    rows = {r["a"]: r["z"] for r in d.select("a", key.alias("z")).collect()}
    assert rows[0] >= 0 and rows[1000] >= 0
    assert rows[1000] > rows[0]
    assert rows[1000] < (1 << 63)  # fits the sign-safe range
    # 2 columns x 32 requested bits was the other overflowing shape
    d2, key2 = io.zorder_key(df.select("a", "b"), ["a", "b"], bits=32)
    vals = [r["z"] for r in d2.select(key2.alias("z")).collect()]
    assert all(v >= 0 for v in vals)


def test_atomic_overwrite_standalone_after_midswap_crash(spark, tmp_path):
    """ADVICE r6 (low): atomic_overwrite called STANDALONE after a mid-swap
    crash (live dir absent; __old holding the only complete copy) must not
    blind-delete the survivors before writing — entry recovery restores one
    live version first, so even if the new write then fails the table still
    exists, and a successful write lands the new contents."""
    import os

    from projet_data_engineering_spark import io

    path = str(tmp_path / "at2")
    v1 = spark.createDataFrame([(1, "a")], "k bigint, s string")

    # crash state: live renamed away, __old holds the ONLY complete copy
    v1.write.parquet(path + "__old")
    assert not os.path.exists(path)

    # first overwrite attempt FAILS mid-write (ANSI integer div by zero at
    # execution). Old behavior: fs.delete(__old) at entry -> the only copy
    # is gone before the failed write. New behavior: entry recovery restores
    # live from __old first, so the failure leaves the table intact.
    bad = spark.range(1).select(
        F.col("id").alias("k"), F.expr("1 div 0").alias("s")
    )
    with pytest.raises(Exception):
        io.atomic_overwrite(bad, path)
    assert {(r["k"], r["s"]) for r in spark.read.parquet(path).collect()} == {
        (1, "a")
    }

    # and a subsequent good overwrite (whose plan reads the recovered live
    # table) completes the read-modify-write normally
    io.atomic_overwrite(
        spark.read.parquet(path).withColumn("s", F.upper("s")), path
    )
    assert {(r["k"], r["s"]) for r in spark.read.parquet(path).collect()} == {
        (1, "A")
    }
    assert not os.path.exists(path + "__next")
    assert not os.path.exists(path + "__old")


def _vt_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_versioned_table_time_travel_and_compaction(spark, tmp_path):
    """MVCC contract: (a) reads AS OF v are stable as later versions land,
    (b) compacting a prefix leaves every surviving read identical —
    including tombstone visibility for keys deleted inside the prefix."""
    from projet_data_engineering_spark.operators import versioned as vt

    path = str(tmp_path / "vt")
    mk = lambda rows: spark.createDataFrame(rows, "k int, s string")
    assert vt.versioned_upsert(mk([(1, "a"), (2, "b"), (3, "c")]), path, "k") == 1
    assert vt.versioned_upsert(mk([(2, "B"), (4, "d")]), path, "k") == 2
    assert vt.versioned_delete(
        spark.createDataFrame([(1,)], "k int"), path, "k"
    ) == 3
    assert vt.versioned_upsert(mk([(5, "e")]), path, "k") == 4

    asof1 = _vt_rows(vt.read_version(spark, path, "k", 1))
    asof2 = _vt_rows(vt.read_version(spark, path, "k", 2))
    asof3 = _vt_rows(vt.read_version(spark, path, "k", 3))
    latest = _vt_rows(vt.read_version(spark, path, "k"))
    assert asof1 == [(1, "a"), (2, "b"), (3, "c")]
    assert asof2 == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert asof3 == [(2, "B"), (3, "c"), (4, "d")]  # k=1 tombstoned
    assert latest == asof3 + [(5, "e")]

    # compact the first three versions; k=1's tombstone must survive
    vt.compact_versions(spark, path, "k", 3)
    assert vt.table_versions(spark, path) == [3, 4]
    assert _vt_rows(vt.read_version(spark, path, "k", 3)) == asof3
    assert _vt_rows(vt.read_version(spark, path, "k")) == latest


def test_versioned_publish_right_sizes_files(spark, tmp_path):
    """r11 (guide §6): a small change set committed from a many-partition
    frame must land as ONE data file, not one KB-file per upstream
    partition — every later time-travel read pays the version dir's file
    count. And _sized must never serialize a frame whose size estimate
    calls for more files than it has partitions (coalesce never grows)."""
    import os

    from projet_data_engineering_spark.operators import versioned as vt

    import pyspark.sql.functions as F

    path = str(tmp_path / "vt")
    # parquet-derived change set (the real shape: stats known from files)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, "x" * 10) for i in range(100)], "k int, s string"
    ).write.parquet(src)
    df = spark.read.parquet(src).repartition(32)
    assert vt.versioned_upsert(df, path, "k") == 1
    files = [
        f
        for f in os.listdir(f"{path}/v1")
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    assert len(files) == 1, files
    # unknown stats (LogicalRDD: no source statistics) must NOT be read as
    # "petabytes" — the writer's partitioning is kept as-is
    local = spark.createDataFrame(
        [(i, "y") for i in range(10)], "k int, s string"
    ).repartition(4)
    assert vt._sized(local).rdd.getNumPartitions() == 4


def test_versioned_publish_is_invisible_until_rename(spark, tmp_path):
    """A crashed half-write (still _tmp-prefixed) is not a version: the
    lister ignores it and the retry simply overwrites it."""
    import os

    from projet_data_engineering_spark.operators import versioned as vt

    path = str(tmp_path / "vt")
    df = spark.createDataFrame([(1, "a")], "k int, s string")
    vt.versioned_upsert(df, path, "k")
    # simulate a crash mid-publish of v2: data written, rename never ran
    df.withColumn("_op", F.lit("u")).write.parquet(f"{path}/_tmp_v2")
    assert vt.table_versions(spark, path) == [1]
    assert _vt_rows(vt.read_version(spark, path, "k")) == [(1, "a")]
    # the retry lands as a clean v2 over the leftover tmp dir
    assert vt.versioned_upsert(
        spark.createDataFrame([(2, "b")], "k int, s string"), path, "k"
    ) == 2
    assert _vt_rows(vt.read_version(spark, path, "k")) == [(1, "a"), (2, "b")]
    assert os.path.exists(f"{path}/v2")


def test_versioned_cdc_apply_law(spark, tmp_path):
    """read_version(v1) patched with read_changes(v1 -> latest) must equal
    read_version(latest): apply upserts, drop tombstoned keys."""
    from projet_data_engineering_spark.operators import versioned as vt

    path = str(tmp_path / "vt")
    mk = lambda rows: spark.createDataFrame(rows, "k int, s string")
    vt.versioned_upsert(mk([(1, "a"), (2, "b"), (3, "c")]), path, "k")
    vt.versioned_upsert(mk([(2, "B"), (4, "d")]), path, "k")
    vt.versioned_delete(spark.createDataFrame([(1,)], "k int"), path, "k")
    vt.versioned_upsert(mk([(1, "A2"), (5, "e")]), path, "k")

    base = {r["k"]: r["s"] for r in vt.read_version(spark, path, "k", 1).collect()}
    for r in vt.read_changes(spark, path, "k", from_version=1).collect():
        if r["_op"] == "d":
            base.pop(r["k"], None)
        else:
            base[r["k"]] = r["s"]
    latest = {
        r["k"]: r["s"] for r in vt.read_version(spark, path, "k").collect()
    }
    assert base == latest
    # a key deleted then re-upserted inside the range surfaces as the upsert
    net = {r["k"]: r["_op"] for r in vt.read_changes(spark, path, "k", 1).collect()}
    assert net[1] == "u" and net[5] == "u" and net[2] == "u"


def test_compaction_crash_windows_recover(spark, tmp_path):
    """Compaction durability: (a) crash BEFORE any delete (tmp without
    _SUCCESS) rolls back, table intact; (b) crash mid-delete (tmp WITH
    _SUCCESS, prefix partially gone) rolls forward to the folded base —
    no crash point loses history."""
    import os
    import shutil

    from projet_data_engineering_spark.operators import versioned as vt

    mk = lambda rows: spark.createDataFrame(rows, "k int, s string")

    # (a) partial tmp, no _SUCCESS: rollback
    p1 = str(tmp_path / "a")
    vt.versioned_upsert(mk([(1, "a")]), p1, "k")
    vt.versioned_upsert(mk([(2, "b")]), p1, "k")
    os.makedirs(f"{p1}/_tmp_compact_v2")
    vt.recover_compaction(spark, p1)
    assert not os.path.exists(f"{p1}/_tmp_compact_v2")
    assert vt.table_versions(spark, p1) == [1, 2]

    # (b) complete tmp + half-deleted prefix: roll forward
    p2 = str(tmp_path / "b")
    vt.versioned_upsert(mk([(1, "a"), (2, "b")]), p2, "k")
    vt.versioned_upsert(mk([(2, "B")]), p2, "k")
    vt.versioned_upsert(mk([(3, "c")]), p2, "k")
    want = sorted(
        tuple(r) for r in vt.read_version(spark, p2, "k", 2).collect()
    )
    # stage the fold of v1..v2 exactly as compact_versions does...
    base = vt.read_changes(spark, p2, "k", from_version=0, to_version=2).drop(
        "_v"
    )
    base.write.parquet(f"{p2}/_tmp_compact_v2")
    # ...then simulate the crash AFTER one prefix delete
    shutil.rmtree(f"{p2}/v1")
    vt.recover_compaction(spark, p2)
    assert vt.table_versions(spark, p2) == [2, 3]
    assert sorted(
        tuple(r) for r in vt.read_version(spark, p2, "k", 2).collect()
    ) == want


def test_versioned_pre_horizon_read_raises(spark, tmp_path):
    """Time travel below the compaction horizon raises instead of
    silently returning a partial table."""
    import pytest as _pytest

    from projet_data_engineering_spark.operators import versioned as vt

    mk = lambda rows: spark.createDataFrame(rows, "k int, s string")
    path = str(tmp_path / "vt")
    vt.versioned_upsert(mk([(1, "a")]), path, "k")
    vt.versioned_upsert(mk([(2, "b")]), path, "k")
    vt.versioned_upsert(mk([(3, "c")]), path, "k")
    vt.compact_versions(spark, path, "k", 2)
    assert vt.table_versions(spark, path) == [2, 3]
    with _pytest.raises(ValueError, match="compaction horizon"):
        vt.read_version(spark, path, "k", 1)
    with _pytest.raises(ValueError, match="no versioned table"):
        vt.read_version(spark, str(tmp_path / "missing"), "k")

def test_versioned_interrupted_compaction_blocks_reads(spark, tmp_path):
    """ADVICE r8 (medium): a completed-but-unpublished compaction tmp
    (durable fold, crash inside the delete/rename window) must make every
    listing-based entry raise rather than silently serve a partial,
    horizon-shifted table; recover_compaction restores service."""
    import pytest as _pytest
    import shutil

    from projet_data_engineering_spark.operators import versioned as vt

    mk = lambda rows: spark.createDataFrame(rows, "k int, s string")
    path = str(tmp_path / "vt")
    vt.versioned_upsert(mk([(1, "a"), (2, "b")]), path, "k")
    vt.versioned_upsert(mk([(2, "B")]), path, "k")
    vt.versioned_upsert(mk([(3, "c")]), path, "k")
    want = sorted(tuple(r) for r in vt.read_version(spark, path, "k").collect())

    # stage the fold exactly as compact_versions does, then crash after
    # one prefix delete: v1 is gone, v2-the-base is unpublished
    base = vt.read_changes(spark, path, "k", from_version=0, to_version=2).drop("_v")
    base.write.parquet(f"{path}/_tmp_compact_v2")
    shutil.rmtree(f"{path}/v1")

    # lock-free READS must refuse to serve the partial table
    for op in (
        lambda: vt.read_version(spark, path, "k"),
        lambda: vt.read_changes(spark, path, "k", from_version=0),
        lambda: vt.table_versions(spark, path),
    ):
        with _pytest.raises(vt.InterruptedCompactionError):
            op()

    vt.recover_compaction(spark, path)
    assert vt.table_versions(spark, path) == [2, 3]
    assert sorted(
        tuple(r) for r in vt.read_version(spark, path, "k").collect()
    ) == want

    # WRITERS hold the lock (r10), so on the same crash artifact they
    # self-heal: roll the fold forward, then commit on top of it
    base = vt.read_changes(spark, path, "k", from_version=0, to_version=3).drop("_v")
    base.write.parquet(f"{path}/_tmp_compact_v3")
    shutil.rmtree(f"{path}/{'v2'}")
    v = vt.versioned_upsert(mk([(9, "z")]), path, "k")
    assert v == 4
    assert vt.table_versions(spark, path) == [3, 4]
    healed = sorted(
        tuple(r) for r in vt.read_version(spark, path, "k").collect()
    )
    assert healed == sorted(want + [(9, "z")])


def test_versioned_upsert_rejects_duplicate_keys(spark, tmp_path):
    """ADVICE r8: duplicate keys inside one change set would make the
    latest-op window's survivor engine/run-dependent; the default commit
    path rejects them, and assert_unique=False is the documented opt-out
    for callers with an upstream uniqueness guarantee."""
    import pytest as _pytest

    from projet_data_engineering_spark.operators import versioned as vt

    path = str(tmp_path / "vt")
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "k int, s string")
    with _pytest.raises(ValueError, match="duplicate"):
        vt.versioned_upsert(dup, path, "k")
    assert vt.table_versions(spark, path) == []  # nothing was committed
    assert vt.versioned_upsert(dup, path, "k", assert_unique=False) == 1


def test_versioned_schema_evolution_reads(spark, tmp_path):
    """VERDICT r8 item 6: after a column is added in version 2, AS-OF 1
    reads in v1's schema (no leaked column), AS-OF 2 NULL-fills the
    pre-evolution rows, and compacting across the evolution boundary
    leaves every surviving read identical (schema AND values)."""
    from projet_data_engineering_spark.operators import versioned as vt

    path = str(tmp_path / "vt")
    vt.versioned_upsert(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string"),
        path,
        "k",
    )
    vt.versioned_upsert(
        spark.createDataFrame([(2, "B", 7), (3, "c", 9)], "k int, s string, q int"),
        path,
        "k",
    )
    vt.versioned_upsert(
        spark.createDataFrame([(4, "d", 1)], "k int, s string, q int"),
        path,
        "k",
    )

    r1 = vt.read_version(spark, path, "k", 1)
    assert sorted(r1.columns) == ["k", "s"]
    assert sorted(tuple(r) for r in r1.collect()) == [(1, "a"), (2, "b")]

    r2 = vt.read_version(spark, path, "k", 2)
    assert sorted(r2.columns) == ["k", "q", "s"]
    by_k = {r["k"]: (r["s"], r["q"]) for r in r2.collect()}
    assert by_k == {1: ("a", None), 2: ("B", 7), 3: ("c", 9)}

    # CDC across the boundary NULL-fills too
    net = {
        r["k"]: (r["_op"], r["q"])
        for r in vt.read_changes(spark, path, "k", from_version=1).collect()
    }
    assert net == {2: ("u", 7), 3: ("u", 9), 4: ("u", 1)}

    # compact across the evolution boundary: surviving reads unchanged
    want2 = sorted(tuple(r) for r in r2.select("k", "q", "s").collect())
    want_latest = sorted(
        tuple(r)
        for r in vt.read_version(spark, path, "k").select("k", "q", "s").collect()
    )
    vt.compact_versions(spark, path, "k", 2)
    assert vt.table_versions(spark, path) == [2, 3]
    assert sorted(
        tuple(r)
        for r in vt.read_version(spark, path, "k", 2).select("k", "q", "s").collect()
    ) == want2
    assert sorted(
        tuple(r)
        for r in vt.read_version(spark, path, "k").select("k", "q", "s").collect()
    ) == want_latest


def test_versioned_auto_compact_policy(spark, tmp_path):
    """auto_compact folds only when the live change-set count exceeds
    max_versions, protects the newest protect_last versions, leaves reads
    identical, and inherits compact_versions' crash safety (a staged
    crash recovers on the next policy run)."""
    import shutil

    from projet_data_engineering_spark.operators import versioned as vt

    mk = lambda rows: spark.createDataFrame(rows, "k int, s string")
    path = str(tmp_path / "vt")
    for i in range(1, 5):
        vt.versioned_upsert(mk([(i, f"s{i}")]), path, "k")
    # under threshold: no-op
    assert vt.auto_compact(spark, path, "k", max_versions=4, protect_last=2) is None
    assert vt.table_versions(spark, path) == [1, 2, 3, 4]

    vt.versioned_upsert(mk([(5, "s5")]), path, "k")
    want = sorted(tuple(r) for r in vt.read_version(spark, path, "k").collect())
    want3 = sorted(tuple(r) for r in vt.read_version(spark, path, "k", 3).collect())
    assert vt.auto_compact(spark, path, "k", max_versions=4, protect_last=2) == 3
    assert vt.table_versions(spark, path) == [3, 4, 5]
    assert sorted(tuple(r) for r in vt.read_version(spark, path, "k").collect()) == want
    assert sorted(tuple(r) for r in vt.read_version(spark, path, "k", 3).collect()) == want3

    # crash window: stage a completed fold of v3..v4 and a half-deleted
    # prefix; the next auto_compact entry rolls it forward before folding
    base = vt.read_changes(spark, path, "k", from_version=0, to_version=4).drop("_v")
    base.write.parquet(f"{path}/_tmp_compact_v4")
    shutil.rmtree(f"{path}/v3")
    assert vt.auto_compact(spark, path, "k", max_versions=1, protect_last=0) == 5
    assert vt.table_versions(spark, path) == [5]
    assert sorted(tuple(r) for r in vt.read_version(spark, path, "k").collect()) == want


def test_merge_lock_permanent_io_failure_is_not_contention(spark, tmp_path):
    """Review r10: a create that fails every pass while the lock file
    NEVER exists is a permanent IO problem (here: a path component is a
    plain file), not contention — the raw error must surface instead of
    ConcurrentWriteError teaching callers to retry forever."""
    import pytest as _pytest

    from projet_data_engineering_spark.io import (
        ConcurrentWriteError,
        acquire_merge_lock,
    )

    blocker = tmp_path / "not_a_dir"
    blocker.write_text("file, not a table dir")
    with _pytest.raises(Exception) as exc:
        acquire_merge_lock(spark, str(blocker / "table"))
    assert not isinstance(exc.value, ConcurrentWriteError), exc.value


def test_merge_lock_release_race_exhaustion_is_contention(spark, monkeypatch):
    """r11 advice: when every acquire pass loses the SAME race — create
    fails with already-exists, but the holder releases before our exists
    probe — exhaustion must raise ConcurrentWriteError (callers retry
    contention), NOT the raw create error (callers treat as permanent IO
    and crash a streaming sink). A non-exists create failure with no lock
    on disk stays permanent."""
    import pytest as _pytest

    from projet_data_engineering_spark import io

    class FakeFS:
        def __init__(self, err):
            self.err = err

        def create(self, p, overwrite):
            raise Exception(self.err)

        def exists(self, p):
            return False  # the holder always released just before we look

    monkeypatch.setattr(io, "_hpath", lambda jvm, s: s)

    monkeypatch.setattr(
        io,
        "_fs_for",
        lambda spark, path: (
            FakeFS("org.apache.hadoop.fs.FileAlreadyExistsException: lock"),
            None,
        ),
    )
    with _pytest.raises(io.ConcurrentWriteError):
        io.acquire_merge_lock(spark, "/fake/table")

    monkeypatch.setattr(
        io,
        "_fs_for",
        lambda spark, path: (FakeFS("Permission denied: /fake"), None),
    )
    with _pytest.raises(Exception) as exc:
        io.acquire_merge_lock(spark, "/fake/table")
    assert not isinstance(exc.value, io.ConcurrentWriteError), exc.value


def test_spread_never_executes_shuffle_stages(spark):
    """r12 (VERDICT r11 item 8): spread()'s partition probe must not
    finalize an adaptive plan — on a shuffle-bearing frame that would
    eagerly execute the shuffle stages as extra jobs before the caller's
    action. Shuffle-bearing frames come back unchanged with ZERO jobs
    run; scan-shaped under-parallel frames keep the repartition path."""
    from perfbench.census import Census
    from projet_data_engineering_spark.io import spread

    shuffled = (
        spark.range(0, 1000)
        .groupBy((F.col("id") % 7).alias("g"))
        .count()
    )
    census = Census(spark)
    with census.span("spread"):
        out = spread(shuffled, "g")
    assert census.calls[-1].jobs == 0, (
        "spread() ran jobs while probing a shuffle plan"
    )
    assert out is shuffled  # already cluster-parallel: returned unchanged

    # the original behavior is preserved for narrow scan-shaped frames:
    # a single-partition input is still spread to cluster parallelism
    one = spark.range(0, 10).coalesce(1)
    widened = spread(one)
    assert widened.rdd.getNumPartitions() > 1


def test_read_versions_stacked_matches_read_version(spark, tmp_path):
    """r12: the one-shuffle stacked AS-OF read returns, per requested
    version (None = latest), EXACTLY read_version's rows — including
    tombstone visibility and pre-horizon refusal."""
    import pytest as _pytest

    from projet_data_engineering_spark.operators import versioned as vt

    path = str(tmp_path / "vt_stacked")
    mk = lambda rows: spark.createDataFrame(rows, "k int, s string")
    vt.versioned_upsert(mk([(1, "a"), (2, "b"), (3, "c")]), path, "k")
    vt.versioned_upsert(mk([(2, "B"), (4, "d")]), path, "k")
    vt.versioned_delete(spark.createDataFrame([(1,)], "k int"), path, "k")
    vt.versioned_upsert(mk([(1, "A2"), (5, "e")]), path, "k")

    stacked = vt.read_versions_stacked(spark, path, "k", [1, 2, 3, None])
    got = {
        v: sorted(
            (r["k"], r["s"]) for r in stacked.collect() if r["as_of"] == v
        )
        for v in (1, 2, 3, 4)
    }
    for v in (1, 2, 3, 4):
        want = sorted(
            tuple(r) for r in vt.read_version(spark, path, "k", v).collect()
        )
        assert got[v] == want, f"as_of {v} diverged from read_version"

    # the compaction-horizon guard is preserved
    vt.compact_versions(spark, path, "k", 3)
    with _pytest.raises(ValueError):
        vt.read_versions_stacked(spark, path, "k", [2, None])
