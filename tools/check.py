"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, and compares row count, column names, and an
order-insensitive value hash.

Deliberately mirrors the DRIVER environment, not the package's own session
factory (round-1 lesson — the two diverged and local green hid driver red):

- the SparkSession is a VANILLA ``local[*]`` builder: no
  ``nanosAsLong``/ANSI/etc. confs pre-set, so any conf a query needs must be
  set inside the query's own code path (``io.load_table``);
- both result sets are canonicalized THROUGH PANDAS (``toPandas`` /
  ``fetchdf`` + ``sort_values``), so array/map-typed output columns crash
  here exactly like the driver's "unhashable type: 'list'", and DuckDB
  HUGEINT→float64 rendering mismatches integer Spark output exactly like
  the driver's hash compare.

Usage: python tools/check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def norm_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(df: pd.DataFrame) -> tuple[list[str], list[str]]:
    """Driver-shaped canonicalization: sort columns by name, sort rows via
    pandas ``sort_values`` (raises on unhashable cells — intentionally), then
    render every cell with float-6dp / NULL normalization."""
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort")
    lines = [
        "\x1f".join(
            norm_cell(None if (isinstance(v, float) and pd.isna(v)) or v is pd.NA or v is None else v)
            for v in row
        )
        for row in df.itertuples(index=False, name=None)
    ]
    return cols, sorted(lines)


def table_hash(lines: list[str]) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def make_duckdb(sf_dir: str):
    """DuckDB connection with the driver's table views registered."""
    from projet_data_engineering_spark import TABLES

    con = duckdb.connect()
    # DuckDB's default limit is 80% of the machine's RAM, which one runaway
    # oracle can fill before failing; a fixed cap turns that into a quick,
    # contained failure, spilling to a per-process TMPDIR directory first
    con.execute("SET memory_limit='3GB'")
    spill = os.path.join(tempfile.gettempdir(), f"duckdb_spill_{os.getpid()}")
    con.execute(f"SET temp_directory='{spill}'")
    # sharded big-SF sweeps run several check processes side by side; cap
    # each one's DuckDB thread pool so the shards share the machine fairly
    if os.environ.get("CHECK_DUCK_THREADS"):
        con.execute(f"SET threads={int(os.environ['CHECK_DUCK_THREADS'])}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def make_vanilla_spark():
    """The driver-shaped vanilla session (see module docstring)."""
    from pyspark.sql import SparkSession

    return (
        # CHECK_MASTER lets a sharded sweep give each process a core slice
        # (e.g. local[8] x4); the default stays the driver-shaped local[*]
        SparkSession.builder.master(os.environ.get("CHECK_MASTER", "local[*]"))
        .appName("oracle-check-vanilla")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        # Heap is infrastructure, not semantics: the SQL-conf surface stays
        # vanilla (that's what "driver replica" means), but the default 1 GB
        # driver JVM OOMs sf>=1 sort-merge joins under local[32]'s 32
        # concurrent tasks — size it like any executor would be sized
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )


def run_check(
    spark, con, sf_dir: str, only: set[str] | None = None
) -> tuple[int, int, int]:
    """The oracle sweep itself: (n_pass, n_rows_only, n_fail). Extracted
    so tools/gate.py can run it in the SAME process (and over the same
    registry snapshot) as the plan audit."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = n_rows_only = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        engine_s = None
        try:
            spdf = fn(spark, sf_dir).toPandas()
            engine_s = time.time() - t0
            scols, slines = canon(spdf)
        except Exception as e:
            # py4j buries the real cause deep in the Java stack — surface
            # the first "Caused by"/error-class lines, not just the wrapper
            detail = str(e)
            causes = [
                ln.strip()
                for ln in detail.splitlines()
                if "Caused by" in ln or "Error" in ln or "Exception:" in ln
            ][:4]
            print(
                f"FAIL  {name}: spark/canon error: {detail[:200]}"
                + (" | " + " | ".join(causes) if causes else "")
            )
            n_fail += 1
            continue
        finally:
            # queries may persist() intermediates; at large SFs the cached
            # blocks accumulate across the sweep and evict/occupy heap the
            # NEXT query needs — drop them like the driver's per-query runs
            spark.catalog.clearCache()
            # clearCache misses localCheckpoint blocks (iterative CC /
            # PageRank / LSS rounds): those are freed by the ContextCleaner
            # only once the JVM sees the RDD unreachable, which needs the
            # py4j reference dropped (Python gc) AND a JVM gc nudge —
            # without this, a 174-query sweep at sf>=1 accumulates orphaned
            # checkpoint blocks until the heap OOMs mid-sweep
            import gc

            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        if name not in oracles:
            print(
                f"rows  {name}: {len(slines)} rows (no oracle) "
                f"[engine {engine_s:.1f}s]"
            )
            n_rows_only += 1
            continue
        t_or = time.time()
        try:
            dpdf = con.execute(oracles[name]).fetchdf()
            dcols, dlines = canon(dpdf)
        except Exception as e:
            print(f"FAIL  {name}: duckdb/canon error: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if len(slines) != len(dlines):
            problems.append(f"rowcount spark={len(slines)} duck={len(dlines)}")
        if scols != dcols:
            problems.append(f"schema spark={scols} duck={dcols}")
        if not problems:
            hs, hd = table_hash(slines), table_hash(dlines)
            if hs != hd:
                problems.append(f"hash spark={hs} duck={hd}")
                for a, b in zip(slines, dlines):
                    if a != b:
                        problems.append(
                            f"  first diff:\n   S {a!r}\n   D {b!r}"
                        )
                        break
        oracle_s = time.time() - t_or
        if problems:
            print(
                f"FAIL  {name}: " + "; ".join(problems)
                + f" [engine {engine_s:.1f}s, oracle {oracle_s:.1f}s]"
            )
            n_fail += 1
        else:
            print(
                f"ok    {name}: {len(slines)} rows "
                f"[engine {engine_s:.1f}s, oracle {oracle_s:.1f}s]"
            )
            n_pass += 1

    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAILED")
    return n_pass, n_rows_only, n_fail


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = make_duckdb(sf_dir)
    spark = make_vanilla_spark()
    _, _, n_fail = run_check(spark, con, sf_dir, only)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
