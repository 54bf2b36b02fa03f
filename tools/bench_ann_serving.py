"""Serve-only ANN latency vs the in-plan IVF path (completes the serving
evidence trio alongside bench_search_serving / bench_incremental_dedup).

1. build the IVF index once (timed: k-means training + assignment write);
2. answer nprobe=2 top-5 queries FROM the index (``ann_serve``: stored
   quantizer broadcast + partition-pruned inverted-list scan);
3. answer the same queries with the in-plan path (quantizer trained and
   corpus assigned inside the query — what q_ann_ivf does);
4. assert identical (query, neighbor, score, rank) rows before timing.

Usage: python tools/bench_ann_serving.py [sf_dir] [reps] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".localdata/sf1.0"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    out_json = sys.argv[3] if len(sys.argv) > 3 else None
    from projet_data_engineering_spark.io import load_table
    from projet_data_engineering_spark.operators.similarity import (
        ann_serve,
        as_double,
        build_ann_index,
        q_ann_ivf,
    )
    from projet_data_engineering_spark.session import get_spark

    spark = get_spark("bench-ann-serving")
    spark.sparkContext.setLogLevel("ERROR")
    e = load_table(spark, sf_dir, "embeddings")
    n_vecs = e.count()
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.expr(f"{as_double('embedding')} AS v"),
    ).localCheckpoint(eager=True)
    path = tempfile.mkdtemp(prefix="ann_bench_idx_")
    try:
        t0 = time.time()
        build_ann_index(e, path)
        t_build = time.time() - t0

        def serve():
            return ann_serve(spark, path, queries, nprobe=2, topk=5).collect()

        def inplan():
            return q_ann_ivf(spark, sf_dir).collect()

        a = {tuple(r) for r in serve()}
        b = {tuple(r) for r in inplan()}
        assert a == b, a ^ b

        ts_serve = []
        for _ in range(reps):
            t0 = time.time()
            serve()
            ts_serve.append(time.time() - t0)
        ts_inplan = []
        for _ in range(reps):
            t0 = time.time()
            inplan()
            ts_inplan.append(time.time() - t0)
        res = {
            "sf_dir": sf_dir,
            "n_vecs": n_vecs,
            "build_s": round(t_build, 2),
            "reps": reps,
            "serve_median_s": round(statistics.median(ts_serve), 3),
            "serve_min_s": round(min(ts_serve), 3),
            "inplan_median_s": round(statistics.median(ts_inplan), 3),
            "inplan_min_s": round(min(ts_inplan), 3),
            "speedup_median": round(
                statistics.median(ts_inplan) / statistics.median(ts_serve), 2
            ),
        }
        print(
            f"sf={sf_dir} vecs={n_vecs} build={res['build_s']}s | serve "
            f"{res['serve_median_s']}s (min {res['serve_min_s']}) vs in-plan "
            f"{res['inplan_median_s']}s (min {res['inplan_min_s']}) -> "
            f"{res['speedup_median']}x"
        )
        if out_json:
            with open(out_json, "w") as f:
                json.dump(res, f, indent=1)
            print(f"wrote {out_json}")
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
