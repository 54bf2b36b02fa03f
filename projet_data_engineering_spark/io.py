"""Sources and sinks (SURVEY.md §2.1).

The reference reads/writes three stores: a MongoDB collection, an
Elasticsearch index and a JSON backup file (reference ``scraper/main.py:246-280``,
``restore_data.py:15-54``). Here every store is a columnar table:

- S1 scan+filter  -> ``spark.read.parquet`` + ``filter`` (pushdown automatic)
- S2 JSON source  -> ``spark.read.json(schema=...)`` (explicit schema, no inference)
- S3 JSON sink    -> ``df.write.json``
- S4 keyed upsert -> ``merge_upsert`` (full-outer join; when the key matches,
                     the new row wins WHOLESALE — Mongo ``$set`` semantics —
                     the plain-Spark equivalent of Delta ``MERGE``)
- S5 truncate+load-> ``overwrite_table``
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (path, mtime_ns, size, is_events) -> StructType; see load_table docstring
_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1 — columnar scan. Filters/projections composed on top of this reach
    the parquet reader (PushedFilters / ReadSchema) via Catalyst.

    ``events.ts`` varies by generator vintage: TIMESTAMP(NANOS) (surfacing as
    long nanos under ``spark.sql.legacy.parquet.nanosAsLong``) or naive
    TIMESTAMP(MICROS) (surfacing as TIMESTAMP_NTZ). Both are normalized here
    to a session-tz micro-resolution TIMESTAMP, matching DuckDB's reading of
    the same file (nanos→micros truncation; naive == UTC wall clock). The
    conf is runtime-settable SQL conf, so it is set HERE — not only in the
    session factory — to make the read work under any caller-supplied
    SparkSession (e.g. a harness that builds its own vanilla session).

    Schema cache (r10): ``spark.read.parquet`` re-infers the schema from
    the footer on EVERY call — a measured ~0.14 s constant per query
    build on this box, i.e. most of the wall of any sub-second query
    (the q_token_count anchor investigation). The inferred schema is
    memoized per (resolved path, mtime, size) and replayed through
    ``spark.read.schema(...)``, which skips footer inference; the mtime/
    size key keeps an overwritten file from serving a stale schema."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    key = None
    try:
        st = os.stat(path)
        key = (os.path.abspath(path), st.st_mtime_ns, st.st_size, name == "events")
    except OSError:
        pass  # non-local / multi-file source: fall through, no cache
    if key is not None and key in _SCHEMA_CACHE:
        df = spark.read.schema(_SCHEMA_CACHE[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_CACHE[key] = df.schema
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # naive wall clock == UTC instant, expressed WITHOUT touching the
            # session timezone: micros since the NTZ epoch is pure wall-clock
            # arithmetic (session-independent), and timestamp_micros is
            # instant-based. A plain cast("timestamp") would reinterpret the
            # wall clock in whatever the caller's session tz happens to be —
            # and pinning spark.sql.session.timeZone here would leak a
            # permanent order-dependent global into the caller's session.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr(
                        "timestampdiff(MICROSECOND, "
                        "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                    )
                ),
            )
    return df


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Rebalance a DataFrame across all cores before CPU-heavy map work —
    but ONLY when the scan is actually under-parallel.

    The test corpus tables arrive as one parquet file (one input partition),
    which would serialize per-row hashing/tokenizing onto a single core. A
    real multi-file corpus already scans with thousands of partitions; there
    the repartition would be a full shuffle for nothing, so it is skipped
    when the input already has >= half the cluster's parallelism. The check
    reads only file-listing metadata, not data.

    Guard (r12, VERDICT r11 item 8): the ``df.rdd`` partition probe
    FINALIZES an adaptive plan — on a shuffle-bearing frame that would
    eagerly execute its shuffle stages as extra jobs before the caller's
    own action. Every current caller passes a scan or a micro-batch frame
    (no exchanges, nothing to execute), but the probe now runs only after
    a plan-string check: a frame whose plan already carries a shuffle
    Exchange / AQEShuffleRead is already cluster-parallel by construction
    (its width is the shuffle-partition / AQE-coalesced layout, never one
    input file), so it is returned unchanged without ever touching
    ``.rdd``. Pinned by ``test_io.py::test_spread_never_executes_
    shuffle_stages``."""
    import re as _re

    n = df.sparkSession.sparkContext.defaultParallelism
    # initial physical plan only — printing it plans but never executes
    plan = df._jdf.queryExecution().executedPlan().toString()
    # \bExchange\b matches the shuffle node, not BroadcastExchange
    if _re.search(r"\bExchange\b", plan) or "AQEShuffleRead" in plan:
        return df
    if df.rdd.getNumPartitions() >= max(n // 2, 1):
        return df
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def read_json_source(spark: SparkSession, path: str, schema) -> DataFrame:
    """S2 — JSON array-of-objects source with an explicit schema.

    Reference ``restore_data.py:22-24`` does ``json.load`` of the whole backup;
    here the file is splittable per-line or multiLine for array files, and the
    explicit StructType replaces dynamic inference (SURVEY.md §1.3).
    """
    return spark.read.json(path, schema=schema, multiLine=True)


def write_json_sink(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S3 — JSON sink (reference ``scraper/main.py:254-257``).

    ``single_file`` mirrors the reference's one-file backup; at 100 TB you
    never coalesce(1) — leave False to write one file per partition.
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def overwrite_table(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S5 — truncate-and-load (reference ``restore_data.py:31-33``)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def merge_upsert(
    old: DataFrame, new: DataFrame, key: str, order_col: str | None = None
) -> DataFrame:
    """S4/J1 — idempotent keyed upsert as a relational merge.

    Reference ``scraper/main.py:263-264`` issues Mongo
    ``UpdateOne({'product_id': id}, {'$set': doc}, upsert=True)`` per record.
    Set-oriented equivalent: full-outer join on the key; when a NEW row
    matched (its key is present), the new row's values win WHOLESALE — a
    legitimate NULL in the new record overwrites an old non-NULL value,
    exactly Mongo ``$set`` semantics (a per-column ``coalesce(new, old)``
    would resurrect stale values). On a cluster with Delta this is
    ``MERGE INTO old USING new ON old.key = new.key WHEN MATCHED UPDATE *
    WHEN NOT MATCHED INSERT *``; the join form below is engine-neutral and
    shuffle-partitions on the key (AQE handles skew).

    Intra-batch duplicate keys: Mongo's ordered bulk applies ops in sequence,
    so the LAST write for a key wins. A DataFrame has no implicit order, so
    the caller names the ordering column (``order_col`` — an ingest sequence
    number or event timestamp) and the new batch is reduced to one row per
    key (max ``order_col``, one window pass) before the merge. Without
    ``order_col`` the new batch is assumed unique per key — duplicate keys
    would fan out the full-outer join.
    """
    if order_col is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(key).orderBy(F.desc(order_col))
        new = (
            new.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    o = old.alias("o")
    n = new.alias("n")
    cols = [key] + [c for c in old.columns if c != key]
    merged = o.join(n, on=F.col(f"o.{key}") == F.col(f"n.{key}"), how="full_outer")
    new_present = F.col(f"n.{key}").isNotNull()
    return merged.select(
        F.coalesce(F.col(f"n.{key}"), F.col(f"o.{key}")).alias(key),
        *[
            F.when(new_present, F.col(f"n.{c}"))
            .otherwise(F.col(f"o.{c}"))
            .alias(c)
            for c in cols
            if c != key
        ],
    )


# ---------------------------------------------------------------------------
# Crash-atomic commit primitives (engine-neutral: Hadoop FileSystem API only,
# so they work on local FS, HDFS, or any Hadoop-compatible object store).
# A transactional format (Delta/Iceberg) subsumes all of this with a real
# commit log; these are the minimal parquet-native protocols.
# ---------------------------------------------------------------------------

_MERGE_STAGE = "_merge_stage"
_MERGE_MANIFEST = "_merge_manifest.json"


def _fs_for(spark: SparkSession, path: str):
    """(FileSystem, jvm) for ``path``'s scheme."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _hpath(jvm, s: str):
    return jvm.org.apache.hadoop.fs.Path(s)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Explicit existence probe. Streaming first-write-vs-merge decisions use
    THIS, never ``try: read except: first-write`` — that idiom conflates
    'target absent' with 'merge failed' and turns a transient merge error
    into silent data loss (the failed batch would overwrite the table)."""
    fs, jvm = _fs_for(spark, path)
    return fs.exists(_hpath(jvm, path))


def _write_small_file(spark: SparkSession, path: str, text: str) -> None:
    """Atomically publish a small control file: write ``{path}.tmp``, then
    rename over — a reader sees the old content or the new, never a torn
    write."""
    fs, jvm = _fs_for(spark, path)
    tmp = _hpath(jvm, path + ".tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(text, "utf-8"))
    out.close()
    fs.delete(_hpath(jvm, path), False)
    fs.rename(tmp, _hpath(jvm, path))


def _read_small_file(spark: SparkSession, path: str) -> str:
    fs, jvm = _fs_for(spark, path)
    stream = fs.open(_hpath(jvm, path))
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _commit_partitioned_merge(spark: SparkSession, path: str, manifest: dict) -> None:
    """Roll the staged merge forward into the live table. Idempotent: every
    step checks state before acting, so it can be re-run from any crash
    point until the manifest is finally deleted (= commit complete).

    Swap order per partition is delete-live → rename-staged-in; a crash in
    between leaves the partition dir absent with its staged replacement
    intact, which this function finishes on the next call."""
    fs, jvm = _fs_for(spark, path)
    stage = f"{path}/{manifest['stage']}"
    for d in manifest["written"]:
        staged = _hpath(jvm, f"{stage}/{d}")
        live = _hpath(jvm, f"{path}/{d}")
        if fs.exists(staged):
            if fs.exists(live):
                fs.delete(live, True)
            fs.rename(staged, live)
        # staged gone + live present => this partition already swapped
    for d in manifest["stale"]:
        live = _hpath(jvm, f"{path}/{d}")
        if fs.exists(live):
            fs.delete(live, True)
    fs.delete(_hpath(jvm, stage), True)
    fs.delete(_hpath(jvm, f"{path}/{_MERGE_MANIFEST}"), False)


_MERGE_LOCK = "_merge_lock.json"
# A crashed writer's lock is stealable after this many seconds even when its
# pid can't be probed (different host). Same-host dead pids are stolen
# immediately, which is what local crash-recovery tests exercise.
MERGE_LOCK_LEASE_SEC = 900.0


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted to mutate a merge-protocol table while a
    live writer holds its lock. The protocol's concurrency contract is
    SINGLE-WRITER, enforced — not documented-and-hoped: concurrent stagers
    would race the manifest swap and could interleave partition deletes with
    each other's renames. Callers should retry after the current writer
    finishes (streaming's foreachBatch serializes batches, so it never sees
    this; an external compactor racing a stream does)."""


def _lock_is_live(lock: dict, lease_sec: float) -> bool:
    """A lock is LIVE (unstealable) iff its owner is provably alive, or
    can't be probed and its lease hasn't expired. Same-host owners are
    probed with ``os.kill(pid, 0)``: a crashed local writer is stealable
    immediately, and a long-running local writer is NEVER stolen mid-commit
    just because its merge outlived the lease. Unreachable owners (other
    hosts, unprobeable pids) are assumed alive until the lease runs out —
    stealing from a possibly-live remote writer is the one risk a file
    lease can't close; a real deployment upgrades this to the table
    format's commit log."""
    import os
    import socket
    import time

    if lock.get("host") == socket.gethostname():
        try:
            os.kill(int(lock["pid"]), 0)
            return True  # provably alive: lease does not expire it
        except ProcessLookupError:
            return False  # provably dead: stealable immediately
        except (PermissionError, ValueError, TypeError, OSError):
            pass  # can't probe -> fall through to the lease
    return time.time() - float(lock.get("ts", 0)) < lease_sec


def acquire_merge_lock(
    spark: SparkSession, path: str, lease_sec: float = MERGE_LOCK_LEASE_SEC
) -> str:
    """Take the table's writer lock (``{path}/_merge_lock.json``); returns
    the ownership token to pass to ``release_merge_lock``. Raises
    ``ConcurrentWriteError`` if a live writer holds it.

    The create uses the Hadoop ``FileSystem.create(path, overwrite=False)``
    primitive — atomic create-if-absent on HDFS (and the shape a conditional
    PUT takes on object stores); on the local FS the check-then-create
    window is microscopic and only reachable by two same-host writers
    racing a STALE lock steal, which the token check in
    ``release_merge_lock`` keeps harmless. A real lakehouse deployment
    replaces this file with the table format's optimistic commit log
    (Delta/Iceberg); this is the minimal parquet-native lease."""
    import json as _json
    import os
    import socket
    import time
    import uuid

    fs, jvm = _fs_for(spark, path)
    lockpath = f"{path}/{_MERGE_LOCK}"
    token = uuid.uuid4().hex
    body = _json.dumps(
        {
            "token": token,
            "pid": os.getpid(),
            "host": socket.gethostname(),
            "ts": time.time(),
        }
    )
    last_err: Exception | None = None
    saw_contention = False
    for _ in range(3):  # extra passes: stale-lock steal / release race
        try:
            out = fs.create(_hpath(jvm, lockpath), False)
            out.write(bytearray(body, "utf-8"))
            out.close()
            return token
        except Exception as e:
            last_err = e
            if not fs.exists(_hpath(jvm, lockpath)):
                # the holder released between our failed create and this
                # probe (r10: a live compactor/writer race hits this window
                # constantly) — retry the create rather than re-raising the
                # raw contention error as if it were an IO failure. When
                # the create itself failed with already-exists, this IS
                # contention (r11 advice: three release races in a row
                # must exhaust into ConcurrentWriteError, which callers
                # retry — not the raw create error, which they rightly
                # treat as permanent); any OTHER create failure with no
                # lock on disk stays in the permanent-IO taxonomy.
                if "xists" in str(e):  # FileAlreadyExistsException
                    saw_contention = True
                continue
            saw_contention = True
            try:
                holder = _json.loads(_read_small_file(spark, lockpath))
            except Exception:
                holder = {}  # torn/unreadable lock: treat as stale
            if _lock_is_live(holder, lease_sec):
                raise ConcurrentWriteError(
                    f"{path}: writer lock held by pid {holder.get('pid')}"
                    f"@{holder.get('host')} (lease {lease_sec}s not expired)"
                ) from None
            fs.delete(_hpath(jvm, lockpath), False)
    if not saw_contention and last_err is not None:
        # the lock file never existed and create still failed every pass:
        # a PERMANENT IO problem (permissions, read-only mount), not
        # contention — re-raise it rather than teaching callers to retry
        # a failure that can never succeed (review r10)
        raise last_err
    raise ConcurrentWriteError(
        f"{path}: could not acquire writer lock"
    ) from last_err


def release_merge_lock(spark: SparkSession, path: str, token: str) -> None:
    """Release the writer lock IF we still own it. After a lease expiry +
    steal, the token no longer matches and the release is a no-op — the
    thief's lock survives."""
    import json as _json

    fs, jvm = _fs_for(spark, path)
    lockpath = f"{path}/{_MERGE_LOCK}"
    try:
        holder = _json.loads(_read_small_file(spark, lockpath))
    except Exception:
        return
    if holder.get("token") == token:
        fs.delete(_hpath(jvm, lockpath), False)


def _writer_recover(spark: SparkSession, path: str) -> bool:
    """Full crash recovery — caller MUST hold the writer lock.

    - manifest present (crash AFTER the commit point): the staged output is
      complete — roll FORWARD; the table reads back fully-new.
    - no manifest (crash BEFORE the commit point): the live table was never
      touched — delete any leftover staging garbage; the table reads back
      fully-old.

    Stage deletion lives ONLY here (under the lock): ADVICE r6 found the old
    shared recovery path let a concurrent READER delete a live writer's
    staged dirs between staging completion and manifest publish, turning the
    writer's commit into a silent partial swap. Returns True iff a
    roll-forward happened."""
    import json as _json

    fs, jvm = _fs_for(spark, path)
    mpath = f"{path}/{_MERGE_MANIFEST}"
    if fs.exists(_hpath(jvm, mpath)):
        manifest = _json.loads(_read_small_file(spark, mpath))
        _commit_partitioned_merge(spark, path, manifest)
        return True
    fs.delete(_hpath(jvm, f"{path}/{_MERGE_STAGE}"), True)
    fs.delete(_hpath(jvm, mpath + ".tmp"), False)
    return False


def recover_partitioned_merge(spark: SparkSession, path: str) -> bool:
    """Standalone crash recovery, safe to call concurrently with anything
    (readers use it via ``read_merged_table``). ROLL-FORWARD ONLY:

    - no manifest: do nothing. Underscore-prefixed staging is invisible to
      Spark's file index, so a pre-commit-point table already reads
      fully-old — and an in-flight writer may be mid-staging, so deleting
      its stage here (the pre-ADVICE-r6 behavior) would silently truncate
      that writer's commit. Pre-commit stage garbage is cleaned by the next
      WRITER under the lock (``_writer_recover``).
    - manifest present: an interrupted post-commit-point swap exists. Take
      the writer lock (so two recoverers can't interleave delete/rename on
      the same partition dirs) and roll it forward. If a LIVE writer holds
      the lock, do nothing — that writer is mid-commit and will finish or
      crash into a recoverable state; the un-rolled table still reads as a
      complete version.

    Returns True iff a roll-forward happened."""
    fs, jvm = _fs_for(spark, path)
    if not fs.exists(_hpath(jvm, f"{path}/{_MERGE_MANIFEST}")):
        return False
    try:
        token = acquire_merge_lock(spark, path)
    except ConcurrentWriteError:
        return False
    try:
        return _writer_recover(spark, path)
    finally:
        release_merge_lock(spark, path, token)


def read_merged_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table maintained by ``merge_upsert_partitioned``, rolling any
    ORPHANED interrupted commit forward first. The recovery probe is one
    metadata ``exists`` call when the table is healthy; after a mid-swap
    crash the read observes fully-new (post-manifest) or fully-old
    (pre-manifest), never a mix. The read path never deletes staging — an
    in-flight writer's stage is untouchable from here (ADVICE r6) — and
    never touches anything while a live writer holds the lock."""
    recover_partitioned_merge(spark, path)
    return spark.read.parquet(path)


def merge_upsert_partitioned(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    key: str,
    partition_col: str,
    order_col: str | None = None,
) -> list:
    """S4 at warehouse scale: crash-atomic MERGE that rewrites ONLY
    partitions containing touched keys, instead of the whole table.

    ``merge_upsert`` is the correct relational semantics but rewrites every
    row; at 100 TB the cost that matters is rewriting untouched partitions
    (reference upsert ``scraper/main.py:263-264`` touches one document per
    op — and is atomic per document; this commit is atomic per BATCH). This
    variant:

    1. rolls forward any interrupted previous commit (see
       ``recover_partitioned_merge``);
    2. computes the touched partition set = partitions of the NEW rows ∪
       partitions of OLD rows whose key is being replaced (covers keys that
       MOVE partitions) — a broadcast-semi probe, no old-table shuffle;
    3. merges only the partition-pruned old slice (the filter on
       ``partition_col`` prunes directories at the parquet scan) and writes
       the result to ``{path}/_merge_stage`` — an underscore-prefixed dir
       Spark's file index ignores, so concurrent readers still see the old
       table; no localCheckpoint materialization is needed because the live
       files being read are never overwritten mid-plan;
    4. publishes ``{path}/_merge_manifest.json`` (tmp-write + rename — the
       COMMIT POINT: before it exists a crash leaves the table fully-old,
       after it exists recovery completes the swap to fully-new);
    5. swaps staged partition dirs into place and deletes directories of
       touched partitions whose rows ALL moved away, then removes the
       manifest. Untouched partitions' files are never read, rewritten, or
       deleted (asserted byte-identical in ``test_io.py``); the kill-between-
       stages recovery contract is asserted in
       ``test_io.py::test_partitioned_merge_crash_*``.

    The touched-partition list is collected to the driver — it is
    metadata-scale (bounded by partition count, like any partition listing),
    never row-scale. With Delta/Iceberg steps 3-5 collapse into
    ``MERGE INTO``; this is the engine-neutral parquet shape. Returns the
    touched partition values.

    Concurrency contract: SINGLE WRITER, enforced by a lease lock — a
    second concurrent writer raises ``ConcurrentWriteError`` instead of
    racing the manifest swap (two stagers sharing one stage dir + manifest
    slot would interleave deletes and renames). A crashed writer's lock is
    stolen after its lease (immediately when its pid is provably dead on
    this host). Concurrent READERS need no lock and are never blocked."""
    token = acquire_merge_lock(spark, path)
    try:
        _writer_recover(spark, path)
        manifest = _stage_partitioned_merge(
            spark, path, new, key, partition_col, order_col
        )
        _commit_partitioned_merge(spark, path, manifest)
        return manifest["_parts"]
    finally:
        release_merge_lock(spark, path, token)


def _stage_partitioned_merge(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    key: str,
    partition_col: str,
    order_col: str | None = None,
) -> dict:
    """Steps 2-4 of ``merge_upsert_partitioned``: stage the merged output and
    publish the manifest (the commit point). Split out so the crash-recovery
    test can kill the job between staging and commit."""
    import json as _json

    old = spark.read.parquet(path)
    new_keys = new.select(key).distinct()
    touched = (
        new.select(partition_col)
        .union(
            old.join(F.broadcast(new_keys), key, "left_semi").select(
                partition_col
            )
        )
        .distinct()
    )
    parts = [r[0] for r in touched.collect()]
    old_touched = old.filter(F.col(partition_col).isin(parts))
    merged = merge_upsert(old_touched, new, key, order_col)
    stage = f"{path}/{_MERGE_STAGE}"
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(stage)
    # Partition dir names are taken from the staged listing verbatim (same
    # Spark value-escaping as the live dirs) — no name reconstruction.
    fs, jvm = _fs_for(spark, path)
    written = sorted(
        st.getPath().getName()
        for st in fs.listStatus(_hpath(jvm, stage))
        if st.isDirectory() and st.getPath().getName().startswith(f"{partition_col}=")
    )
    stale = sorted(
        d
        for p in parts
        if (d := f"{partition_col}={p}") not in set(written)
        and fs.exists(_hpath(jvm, f"{path}/{d}"))
    )
    manifest = {
        "stage": _MERGE_STAGE,
        "partition_col": partition_col,
        "touched": [str(p) for p in parts],
        "written": written,
        "stale": stale,
    }
    _write_small_file(
        spark, f"{path}/{_MERGE_MANIFEST}", _json.dumps(manifest, indent=1)
    )
    manifest["_parts"] = parts
    return manifest


def _data_files(fs, jvm, dirpath: str) -> list:
    """Names of the data files directly under ``dirpath`` (skips _SUCCESS,
    manifests and other underscore/dot control files)."""
    return [
        st.getPath().getName()
        for st in fs.listStatus(_hpath(jvm, dirpath))
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    ]


def _stage_compaction(
    spark: SparkSession,
    path: str,
    partition_col: str,
    min_files: int,
    target_files: int,
    sort_cols: list[str] | None,
    parallelism: int,
) -> dict | None:
    """Stage compacted partition rewrites and publish the commit manifest.
    Split from ``compact_partitions`` (same shape as
    ``_stage_partitioned_merge``) so crash tests can kill between staging
    and commit. Returns None when nothing needs compacting."""
    import json as _json
    from concurrent.futures import ThreadPoolExecutor

    fs, jvm = _fs_for(spark, path)
    candidates = sorted(
        name
        for st in fs.listStatus(_hpath(jvm, path))
        if st.isDirectory()
        and (name := st.getPath().getName()).startswith(f"{partition_col}=")
        and len(_data_files(fs, jvm, f"{path}/{name}")) >= min_files
    )
    if not candidates:
        return None
    stage = f"{path}/{_MERGE_STAGE}"

    def rewrite(d: str) -> None:
        # The partition value lives in the directory NAME (hive layout), not
        # in the files, so reading the dir directly sidesteps partition-value
        # escaping entirely — staged output has the exact same shape the
        # merge path stages, and the same swap commits it.
        part = spark.read.parquet(f"{path}/{d}").coalesce(target_files)
        if sort_cols:
            part = part.sortWithinPartitions(*sort_cols)
        part.write.mode("overwrite").parquet(f"{stage}/{d}")

    # Independent per-partition jobs; Spark's scheduler runs them
    # concurrently, so compaction throughput scales with cluster slack
    # rather than serializing on the driver loop.
    with ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
        list(pool.map(rewrite, candidates))
    manifest = {
        "stage": _MERGE_STAGE,
        "partition_col": partition_col,
        "touched": [d.split("=", 1)[1] for d in candidates],
        "written": candidates,
        "stale": [],
    }
    _write_small_file(
        spark, f"{path}/{_MERGE_MANIFEST}", _json.dumps(manifest, indent=1)
    )
    return manifest


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    min_files: int = 2,
    target_files: int = 1,
    sort_cols: list[str] | None = None,
    parallelism: int = 8,
) -> dict:
    """Crash-atomic small-file compaction for tables maintained by
    ``merge_upsert_partitioned`` / streaming upserts (the parquet shape of
    Delta ``OPTIMIZE``).

    Every streaming micro-batch merge rewrites its touched partitions with
    however many tasks the merge ran — over days of ingest a hot partition
    accumulates hundreds of small files, and at 100 TB the scan cost becomes
    file-open/footer overhead instead of bytes. This op rewrites each
    partition directory holding ≥ ``min_files`` data files down to
    ``target_files`` (optionally re-sorted via ``sort_cols`` to restore
    min/max-stats clustering lost across incremental merges), through the
    SAME staged-write → manifest → swap protocol as the merge itself:

    - rewrites are pure ``coalesce`` (narrow — zero shuffles; ``sort_cols``
      adds only an in-task ``sortWithinPartitions``);
    - staged output is invisible to concurrent readers (underscore dir);
    - the manifest publish is the commit point — a crash at ANY moment
      leaves the table readable as fully-old or fully-new, recovered by the
      existing ``recover_partitioned_merge`` with no compaction-specific
      recovery code;
    - partitions under ``min_files`` are never read, rewritten or deleted;
    - takes the same writer lock as the merge: an external compactor racing
      a streaming upsert raises ``ConcurrentWriteError`` instead of both
      staging into the same dir (single-writer contract, enforced).

    Returns ``{partition_dir: files_before}`` for the compacted partitions.
    """
    token = acquire_merge_lock(spark, path)
    try:
        _writer_recover(spark, path)
        fs, jvm = _fs_for(spark, path)
        before = {
            name: len(_data_files(fs, jvm, f"{path}/{name}"))
            for st in fs.listStatus(_hpath(jvm, path))
            if st.isDirectory()
            and (name := st.getPath().getName()).startswith(f"{partition_col}=")
        }
        manifest = _stage_compaction(
            spark, path, partition_col, min_files, target_files, sort_cols,
            parallelism,
        )
        if manifest is None:
            return {}
        _commit_partitioned_merge(spark, path, manifest)
        return {d: before[d] for d in manifest["written"]}
    finally:
        release_merge_lock(spark, path, token)


def atomic_overwrite(df: DataFrame, path: str) -> None:
    """Crash-atomic whole-table replace: write to ``{path}__next``, swap via
    two renames, clean up. At every crash point the table is recoverable to
    exactly one complete version (``recover_atomic_overwrite``):

    - crash during the next-write: live table untouched (fully-old);
    - crash after next completes, mid-swap: ``__next`` is complete — roll
      forward (fully-new);
    - crash during old-cleanup: table already new — finish deleting.

    This is the versioned-dir protocol ADVICE r5 asked for, replacing the
    rmtree-then-move window that could lose the table entirely. The plan may
    read from ``path`` itself: the write targets ``__next`` so the source
    files are untouched until the job has finished.

    Entry first RECOVERS any interrupted prior overwrite instead of blindly
    deleting ``__next``/``__old`` (ADVICE r6): after a mid-swap crash those
    dirs can hold the ONLY complete version of the table, and a blind delete
    followed by a failed write (e.g. a plan reading the now-missing live
    path) would lose it entirely. ``recover_atomic_overwrite`` rolls the
    table to exactly one complete live version and THEN clears both side
    dirs, so the primitive is safe called standalone from any crash state."""
    spark = df.sparkSession
    recover_atomic_overwrite(spark, path)
    fs, jvm = _fs_for(spark, path)
    nxt, old, live = (
        _hpath(jvm, path + "__next"),
        _hpath(jvm, path + "__old"),
        _hpath(jvm, path),
    )
    df.write.mode("overwrite").parquet(path + "__next")
    if fs.exists(live):
        fs.rename(live, old)
    fs.rename(nxt, live)
    fs.delete(old, True)


def recover_atomic_overwrite(spark: SparkSession, path: str) -> None:
    """Roll an interrupted ``atomic_overwrite`` to a single complete version.
    ``_SUCCESS`` in ``__next`` marks a completed write (Spark's own job-commit
    marker), so a complete next wins (roll forward); an incomplete next is
    discarded (roll back to old/live)."""
    fs, jvm = _fs_for(spark, path)
    nxt, old, live = (
        _hpath(jvm, path + "__next"),
        _hpath(jvm, path + "__old"),
        _hpath(jvm, path),
    )
    if not fs.exists(live):
        if fs.exists(nxt) and fs.exists(_hpath(jvm, path + "__next/_SUCCESS")):
            fs.rename(nxt, live)
        elif fs.exists(old):
            fs.rename(old, live)
    fs.delete(nxt, True)
    fs.delete(old, True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed table write — the pre-shuffle for repeated co-located joins.

    Both sides of a recurring fact-fact join written with the SAME bucket
    count and keys join with ZERO exchanges afterward (asserted in
    tests/test_plans.py): the shuffle is paid once at write time instead of
    per query. At 100 TB this is the difference between re-shuffling the
    fact table on every run and never shuffling it again; pick n_buckets so
    one bucket ~ one task's worth of data (128-256 MB).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def read_csv_source(
    spark: SparkSession, path: str, schema, header: bool = True, sep: str = ","
) -> DataFrame:
    """CSV source with an explicit schema (same no-inference stance as S2:
    inference costs an extra full pass and guesses types per-file). CSV is
    splittable when uncompressed, so scans parallelize like parquet —
    minus columnar pruning/pushdown, which is why parquet is the default
    interchange and CSV only an ingest boundary."""
    return (
        spark.read.option("header", str(header).lower())
        .option("sep", sep)
        .schema(schema)
        .csv(path)
    )


def write_csv_sink(
    df: DataFrame, path: str, header: bool = True, sep: str = ","
) -> None:
    """CSV sink (one file per partition; interchange/export boundary only)."""
    df.write.mode("overwrite").option("header", str(header).lower()).option(
        "sep", sep
    ).csv(path)


def read_orc_source(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the other columnar interchange format (Hive-ecosystem
    counterpart to parquet). Same Catalyst treatment: predicate pushdown to
    stripe/row-group stats, column pruning, vectorized reader. Schema comes
    from the file footer (self-describing, unlike CSV/JSON)."""
    return spark.read.orc(path)


def write_orc_sink(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """ORC sink with optional hive-style partitioning."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def zorder_key(df: DataFrame, cols: list[str], bits: int = 16):
    """Morton (Z-order) key over ``cols``: each column is normalized to a
    ``2^bits`` grid against its own min/max (a 1-row broadcast aggregate —
    no extra pass materialized driver-side), then the grid coordinates'
    bits are interleaved with unrolled shift/or Column algebra. Pure
    whole-stage-codegen expressions — no UDF.

    Returns (df_with_stats, key_column): the caller sorts/ranges by the key
    column over ``df_with_stats``.

    The interleaved key must fit the NON-NEGATIVE range of a 64-bit long: a
    shift amount of ``bits*len(cols)-1 >= 64`` would silently wrap mod 64 on
    the JVM, and a top bit landing in position 63 (the sign bit) would make
    high-coordinate keys negative, rotating signed range-partition order at
    the sign boundary — one output file would span a non-contiguous Morton
    range (ADVICE r6). ``bits`` is therefore auto-shrunk to the widest
    per-column grid whose total stays within 63 bits (floor 1 bit/column);
    >63 columns cannot fit at all and raise."""
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if len(cols) > 63:
        raise ValueError(
            f"zorder_key: {len(cols)} columns cannot interleave into the "
            "sign-safe 63 bits of a long (max 63 at 1 bit each); z-order "
            "the most selective <=4"
        )
    bits = min(bits, 63 // len(cols))
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"_min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_max_{c}") for c in cols],
    )
    d = df.crossJoin(F.broadcast(stats))
    grid = (1 << bits) - 1
    coords = []
    for c in cols:
        span = F.col(f"_max_{c}") - F.col(f"_min_{c}")
        frac = F.when(span > 0, (F.col(c).cast("double") - F.col(f"_min_{c}")) / span).otherwise(F.lit(0.0))
        coords.append(F.least(F.floor(frac * grid).cast("long"), F.lit(grid)))
    key = F.lit(0).cast("long")
    n = len(cols)
    for bit in range(bits):
        for j, coord in enumerate(coords):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(coord, bit).bitwiseAND(F.lit(1)), bit * n + j
                )
            )
    return d, key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Z-order-clustered parquet write — the engine-neutral shape of Delta's
    ``OPTIMIZE ... ZORDER BY`` / Iceberg's sort-order rewrite.

    Rows are range-partitioned and sorted by the Morton key of ``cols``, so
    every output file covers a small rectangle of the multi-column value
    space: each file's min/max footer stats are narrow on EVERY z-ordered
    column at once, and a selective filter on ANY of them (or any
    combination) skips most files at scan time. A single-column
    ``sortWithinPartitions(col)`` gets skipping only on that column;
    z-order is how a 100 TB table serves selective filters on two or three
    dimensions from one layout. Verified against actual parquet footers in
    ``test_io.py::test_zordered_write_narrows_file_stats``."""
    d, key = zorder_key(df, cols, bits)
    d = d.withColumn("_z", key)
    # n_files sizes output files explicitly (target 128-256 MB each at
    # scale); default lets AQE pick — which coalesces small tables to few
    # files, correct for storage but useless for a skipping demo.
    ranged = (
        d.repartitionByRange(n_files, F.col("_z"))
        if n_files
        else d.repartitionByRange(F.col("_z"))
    )
    (
        ranged.sortWithinPartitions("_z")
        .drop("_z", *[f"_min_{c}" for c in cols], *[f"_max_{c}" for c in cols])
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Log-structured table (r11): append-only delta commits + amortized compaction
# ---------------------------------------------------------------------------

_LOG_BASE_RE = re.compile(r"^base_(\d+)$")
_LOG_DELTA_RE = re.compile(r"^delta_(.+)$")


def _fs_child_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the direct children of ``path`` (empty if absent)."""
    fs, jvm = _fs_for(spark, path)
    hpath = _hpath(jvm, path)
    if not fs.exists(hpath):
        return []
    return [s.getPath().getName() for s in fs.listStatus(hpath)]


def write_log_delta(df: DataFrame, root: str, name: str) -> None:
    """Commit one batch's rows to a log-structured table as
    ``{root}/delta_{name}`` — the LSM write shape, complementing
    ``merge_upsert_partitioned``:

    - MERGE rewrites touched partitions: right when a batch touches FEW
      partitions (keyed upserts clustered by bucket).
    - LOG appends a batch-sized delta: right when every batch touches
      EVERY partition — the streaming dedup state's shape (band/wordset
      rows hash across all buckets), where the partitioned merge degraded
      to rewriting the whole store per batch: O(corpus) per commit,
      quadratic over a stream (measured: write_accepted + write_state =
      70% of the dedup stage wall at sf1, growing per batch —
      evidence/bench_dedup_stage_sf1_r11.json pre-fix arm).

    Exactly-once without a marker protocol: ``name`` must be a
    DETERMINISTIC function of the batch's content (e.g. an
    order-independent hash of its keys) — a replayed batch overwrites its
    own delta dir byte-identically instead of appending a duplicate. A
    crash mid-write leaves the dir without ``_SUCCESS``; readers skip it
    and the replay's overwrite heals it.

    View semantics: base ∪ live deltas, NO key merge on read. Each key
    must appear in at most one committed delta (true for the dedup state:
    a doc is accepted by exactly one batch; replays overwrite). A key
    re-committed by a LATER batch would duplicate — pass ``key`` to
    ``compact_log`` to fold such duplicates out, or dedup at read."""
    df.write.mode("overwrite").parquet(f"{root}/delta_{name}")


def write_log_base(
    df: DataFrame, root: str, partition_col: str
) -> None:
    """One-shot (re)build of a log-structured table as ``{root}/base_1``
    — the bulk-build entry (``build_dedup_state``'s shape): the batch
    writer then streams deltas on top of it and ``compact_log`` folds
    them in. Replaces any existing state at ``root``."""
    import json as _json

    spark = df.sparkSession
    fs, jvm = _fs_for(spark, root)
    if fs.exists(_hpath(jvm, root)):
        fs.delete(_hpath(jvm, root), True)
    tmp = f"{root}/_tmp_base_1"
    (
        df.repartition(F.col(partition_col))
        .write.partitionBy(partition_col)
        .mode("overwrite")
        .parquet(tmp)
    )
    _write_small_file(spark, f"{tmp}/_folded.json", _json.dumps([]))
    _write_small_file(
        spark,
        f"{tmp}/_schema.json",
        spark.read.parquet(tmp).schema.json(),
    )
    fs.rename(_hpath(jvm, tmp), _hpath(jvm, f"{root}/base_1"))


def _live_log_parts(
    spark: SparkSession, root: str
) -> tuple[str | None, list[str], set[str]]:
    """(current base dir name or None, live delta names, folded names)."""
    import json as _json

    names = _fs_child_names(spark, root)
    bases = sorted(
        (int(m.group(1)), n)
        for n in names
        if (m := _LOG_BASE_RE.match(n))
        and path_exists(spark, f"{root}/{n}/_SUCCESS")
    )
    base = bases[-1][1] if bases else None
    folded: set[str] = set()
    if base is not None:
        try:
            folded = set(
                _json.loads(_read_small_file(spark, f"{root}/{base}/_folded.json"))
            )
        except Exception:
            folded = set()
    deltas = sorted(
        n
        for n in names
        if _LOG_DELTA_RE.match(n)
        and n not in folded
        and path_exists(spark, f"{root}/{n}/_SUCCESS")
    )
    return base, deltas, folded


def read_log_table(spark: SparkSession, root: str) -> DataFrame:
    """Current view of a log-structured table: highest committed base ∪
    live (unfolded, _SUCCESS-marked) deltas. A root with NO log children
    reads as a plain parquet dir — so consumers (the served dedup probe)
    handle both the builder's one-shot partitioned layout and the
    streaming log layout through one call.

    Schema alignment: a partitionBy'd base re-infers its partition
    column's type from directory names (bigint bucket → int), so every
    part is cast to the canonical schema ``compact_log`` pinned in
    ``_schema.json`` (or the first delta's schema before any base
    exists)."""
    import json as _json

    from pyspark.sql.types import StructType

    names = _fs_child_names(spark, root)
    has_log = any(
        _LOG_BASE_RE.match(n) or _LOG_DELTA_RE.match(n) for n in names
    )
    if not has_log:
        return spark.read.parquet(root)
    plain = [
        n
        for n in names
        if n.endswith(".parquet")
        or ("=" in n and not n.startswith("_"))
    ]
    if plain:
        raise ValueError(
            f"{root}: mixed layout — plain parquet data next to log "
            f"base/delta dirs; a log-structured table owns its root"
        )
    base, deltas, _ = _live_log_parts(spark, root)
    parts: list[DataFrame] = []
    tgt: StructType | None = None
    if base is not None:
        try:
            tgt = StructType.fromJson(
                _json.loads(_read_small_file(spark, f"{root}/{base}/_schema.json"))
            )
        except Exception:
            tgt = None
        parts.append(spark.read.parquet(f"{root}/{base}"))
    for d in deltas:
        parts.append(spark.read.parquet(f"{root}/{d}"))
    if not parts:
        raise ValueError(f"{root}: log table has no committed base or deltas")
    if tgt is None:
        tgt = parts[-1].schema if deltas else parts[0].schema
    aligned = [
        p.select([F.col(f.name).cast(f.dataType).alias(f.name) for f in tgt.fields])
        for p in parts
    ]
    out = aligned[0]
    for p in aligned[1:]:
        out = out.unionByName(p)
    return out


def compact_log(
    spark: SparkSession,
    root: str,
    partition_col: str,
    key: str | None = None,
    max_deltas: int = 16,
) -> bool:
    """Fold the live deltas into a new partitioned base once their count
    exceeds ``max_deltas`` — the amortization that keeps log reads
    bounded: per-batch commit cost stays O(batch) and the O(corpus)
    rewrite happens once per ``max_deltas`` commits, i.e. amortized
    O(corpus / max_deltas) per batch instead of the partitioned merge's
    O(corpus) EVERY batch.

    Protocol (crash-safe at every step):
      1. clean leftovers from a previously-interrupted compaction
         (superseded bases, folded deltas — identified via the live
         base's ``_folded.json``, so readers already ignore them);
      2. write the folded view to ``_tmp_base_{k}`` (Spark's _SUCCESS
         lands inside), plus ``_folded.json`` (all delta names ever
         folded) and ``_schema.json`` (the canonical view schema);
      3. rename to ``base_{k}`` — the atomic commit point;
      4. best-effort delete of the old base and folded deltas (a crash
         here is healed by the next call's step 1).

    ``key``: optional — dropDuplicates on it during the fold, healing any
    cross-batch exact re-commits. Serialized against other maintainers by
    the table's writer lock; delta WRITERS never need it (deterministic
    dirs). Returns True when a fold happened."""
    import json as _json

    base, deltas, folded = _live_log_parts(spark, root)
    if len(deltas) <= max_deltas:
        return False
    token = acquire_merge_lock(spark, root)
    try:
        fs, jvm = _fs_for(spark, root)
        # step 1: leftovers from an interrupted previous fold
        for n in _fs_child_names(spark, root):
            m = _LOG_BASE_RE.match(n)
            if (m and n != base) or (_LOG_DELTA_RE.match(n) and n in folded):
                fs.delete(_hpath(jvm, f"{root}/{n}"), True)
            if n.startswith("_tmp_base_"):
                fs.delete(_hpath(jvm, f"{root}/{n}"), True)
        view = read_log_table(spark, root)
        if key is not None:
            view = view.dropDuplicates([key])
        k = (int(_LOG_BASE_RE.match(base).group(1)) + 1) if base else 1
        tmp = f"{root}/_tmp_base_{k}"
        (
            view.repartition(F.col(partition_col))
            .write.partitionBy(partition_col)
            .mode("overwrite")
            .parquet(tmp)
        )
        _write_small_file(
            spark,
            f"{tmp}/_folded.json",
            _json.dumps(sorted(folded | set(deltas))),
        )
        # canonical schema = the base's POST-INFERENCE schema (partitionBy
        # re-infers the partition column's type from dir names, e.g.
        # bigint bucket -> int): aligning DELTAS to it keeps the base scan
        # cast-free, so partition pruning on the base stays pristine
        _write_small_file(
            spark,
            f"{tmp}/_schema.json",
            spark.read.parquet(tmp).schema.json(),
        )
        fs.rename(_hpath(jvm, tmp), _hpath(jvm, f"{root}/base_{k}"))
        # step 4: best-effort cleanup
        if base is not None:
            fs.delete(_hpath(jvm, f"{root}/{base}"), True)
        for d in deltas:
            fs.delete(_hpath(jvm, f"{root}/{d}"), True)
        return True
    finally:
        release_merge_lock(spark, root, token)
