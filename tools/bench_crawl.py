"""Scale-bench the crawl frontier (VERDICT r10 item 5).

q_crawl_frontier proves correctness on a 400-page minisite; this tool
proves the SCALE claim: a 100K-page file://-backed synthetic site crawled
by the same ``crawl_frontier`` + ``urllib_fetch`` path (mapInPandas,
politeness off), recording pages/s and where the crawl's time went
(jobs, stages, tasks, busy seconds inside Spark jobs and driver seconds,
read by one ``perfbench.census.Census`` span around the whole crawl). The
reference's Selenium loop does 99 pages in ~30 min
(`scraper/main.py:84-136`); the claim worth proving is 1000x that.

Site shape: rank r links to 10r+1..10r+10 (10-ary tree — frontier grows
10x per depth, the worst case for per-round overhead) plus two modular
cross links (so the anti-join does real work: most links at depth d are
already visited). All 100K pages have min-depth <= 5.

Usage: python tools/bench_crawl.py [n_pages] [max_depth] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _children(r: int, n: int) -> list[int]:
    out = [t for t in range(10 * r + 1, 10 * r + 11) if t < n]
    out += [t for t in ((3 * r + 2) % n, (7 * r + 5) % n) if t < n]
    return out


def _write_site(root: str, n: int) -> None:
    """One HTML file per page, sharded 1000/dir; absolute file:// hrefs."""
    t0 = time.perf_counter()
    for shard in range(0, n, 1000):
        d = f"{root}/s{shard // 1000}"
        os.makedirs(d, exist_ok=True)
        for r in range(shard, min(shard + 1000, n)):
            hrefs = "".join(
                f'<a href="file://{root}/s{t // 1000}/{t}.html">p{t}</a>'
                for t in _children(r, n)
            )
            with open(f"{d}/{r}.html", "w") as f:
                f.write(f"<html><body>page {r} {hrefs}</body></html>")
    print(f"site written: {n} pages in {time.perf_counter() - t0:.1f}s")


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    max_depth = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    out_json = sys.argv[3] if len(sys.argv) > 3 else None

    from perfbench.census import Census
    from projet_data_engineering_spark.crawl import crawl_frontier, urllib_fetch
    from projet_data_engineering_spark.session import get_spark

    spark = get_spark("bench_crawl")
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="bench_crawl_site_")
    try:
        _write_site(root, n)
        seeds = spark.createDataFrame(
            [(f"file://{root}/s0/0.html",)], ["url"]
        )
        census = Census(spark)
        with census.span("crawl"):
            visited = crawl_frontier(
                seeds, fetch_fn=urllib_fetch, max_depth=max_depth
            )
            n_pages = visited.count()
            n_dead = visited.filter("content IS NULL").count()
        c = census.calls[-1]
        wall = c.wall_s
        out = {
            "metric": "crawl_frontier_scale",
            "site_pages": n,
            "max_depth": max_depth,
            "pages_crawled": n_pages,
            "dead_pages": n_dead,
            "wall_s": round(wall, 2),
            "pages_per_sec": round(n_pages / wall, 1),
            "jobs": c.jobs,
            "stages": c.stages,
            "tasks": c.tasks,
            "busy_s": round(c.busy_s, 2),
            "driver_s": round(c.driver_s, 2),
        }
        print(json.dumps(out))
        if out_json:
            with open(out_json, "w") as f:
                json.dump(out, f, indent=1)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
