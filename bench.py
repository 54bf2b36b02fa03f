"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": sf}

Each query is forced end-to-end with a noop-format write (evaluates every
column — a bare .count() would let Catalyst prune the computed columns).

MEASUREMENT PROTOCOL (pinned after the r6 bench-noise incident: 13 unchanged
queries drifted 1.3-1.45x under container load and burned a review cycle):
per query, one untimed warm run, then ``--min-of N`` (default 3) timed runs
reporting the MINIMUM — the min over a few runs estimates the noise-free
compute cost; means/single-shots fold scheduler jitter into the number. The
emitted JSON also carries ``anchor_ratio``: per-query ratio vs the pinned r1
anchor (same sf0.1 / local[32] machine class), so a regression is visible in
the bench artifact itself instead of requiring a cross-file join. Ratios are
only meaningful at sf0.1 (the anchor's SF); at other SFs they are omitted.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from projet_data_engineering_spark.session import get_spark

# One headline per operator family (SURVEY.md §2 + north-star extensions).
BENCH_QUERIES = [
    "q_tpch_q1",        # scan + multi-aggregate (flagship)
    "q_join_multi",     # 6-table star join
    "q_join_inner",     # broadcast fact->dim join
    "q_upsert_merge",   # full-outer keyed merge
    "q_topk",           # TakeOrderedAndProject
    "q_window_rank",    # partitioned window
    "q_dedup",          # distinct
    "q_duration_parse", # regex ETL chain
    "q_search_boolean", # bool/should qualification
    "q_term_join",      # explode + broadcast term join
    "q_bm25_topk",      # full BM25 scoring + top-k
    "q_dedup_exact",    # content-hash dedup
    "q_dedup_minhash",  # MinHash-LSH candidate pairs
    "q_dedup_simhash",  # SimHash signatures
    "q_embed_knn",      # brute-force cosine top-k
    "q_ann_lsh",        # sign-LSH bucketed ANN
    "q_lang_id",        # text analysis
    "q_token_count",    # corpus accounting
    "q_stream_tumbling",# windowed aggregation
    "q_stream_session", # sessionization
    "q_tpch_q4",        # EXISTS -> left-semi join
    "q_tpch_q18",       # IN+HAVING -> semi join, filter-early
    "q_gap_fill",       # date-spine + LOCF window
    "q_hof_arrays",     # shuffle-free array lambdas
    "q_bm25_multifield",# best_fields multi-column BM25 (r2)
    "q_bm25_fuzzy",     # AUTO-fuzziness BM25 expansion (r2)
    "q_curate",         # composed dedup∘quality∘token pipeline (r2)
    "q_boilerplate",    # within-source template-shingle curation (r5)
    "q_media_container_meta",  # JPEG/MP4 stdlib metadata decode (r5)
    "q_shuffle_shard",  # deterministic shard-shuffle layout (r7)
    "q_token_budget",   # banded two-level prefix-sum budget selection (r7)
    "q_vocab_coverage", # dictionary coverage cutoff (r7)
    "q_domain_temperature",  # tau=2 mixture weights (r7)
    "q_bloom_join",     # bloom-pruned fact join (r7b)
    "q_dsir_weights",   # DSIR importance weights (r7b)
    "q_semdedup",       # trained-cluster semantic dedup (r7b)
    "q_pq_encode",  # PQ train + Arrow bulk-encode (r8)
    "q_kmv_distinct",   # mergeable bottom-k cardinality sketch (r8)
    "q_percentile_sampled",  # deterministic hash-sample percentiles (r8)
    "q_cms_counts",     # Count-Min frequency sketch, one-digest buckets (r8)
    "q_time_travel",    # MVCC versioned table: AS-OF + latest reads (r8)
    "q_stream_versioned",  # exactly-once versioned streaming sink (r8)
    "q_crawl_frontier", # distributed BFS crawl over a file:// minisite (r10)
    "q_media_pixels",   # baseline+progressive JPEG entropy decode (r10)
    "q_media_audio",    # WAV PCM-16 sample decode (r10)
]

# The 24-query set benched in round 1 (BENCH_r01/BASELINE.md anchor). The
# three r2 additions above change the headline total, so the legacy-24
# subtotal is reported alongside — the ≤2×-baseline gate compares THAT
# number to the r1 anchor, like with like.
LEGACY_24 = BENCH_QUERIES[:24]

# Pinned r1 anchor (BENCH_r01.json, sf0.1, local[32]) — the per-query
# baseline the ≤2x gate compares against. Frozen here so the ratio table is
# computed by the tool itself and survives BENCH_r01.json ever rotating out.
R1_ANCHOR = {
    "q_tpch_q1": 0.711, "q_join_multi": 1.471, "q_join_inner": 0.518,
    "q_upsert_merge": 0.631, "q_topk": 0.271, "q_window_rank": 0.414,
    "q_dedup": 0.23, "q_duration_parse": 0.235, "q_search_boolean": 0.216,
    "q_term_join": 1.045, "q_bm25_topk": 1.072, "q_dedup_exact": 0.341,
    "q_dedup_minhash": 0.54, "q_dedup_simhash": 0.75, "q_embed_knn": 0.401,
    "q_ann_lsh": 0.456, "q_lang_id": 0.626, "q_token_count": 0.178,
    "q_stream_tumbling": 0.654, "q_stream_session": 1.036,
    "q_tpch_q4": 0.656, "q_tpch_q18": 0.866, "q_gap_fill": 0.531,
    "q_hof_arrays": 0.248,
}
R1_ANCHOR_TOTAL = 14.097

# Working anchor (r11, VERDICT r10 item 8): the r10 min-of-3 table
# (evidence/BENCH_r10_final_minof3.json, sf0.1, local[32]) over the FULL
# 45-query headline set. Every legacy query now sits at 0.35-0.96x of the
# r1 anchor, so the 2x gate against r1 had become a 4-6x allowance; this
# table restores honest sensitivity — regressions are caught against the
# code as it actually performs, while R1 stays for history. One exception:
# q_media_container_meta anchors on its r9 value (0.555 s) — its r10
# number (2.565 s) was the measured REGRESSION this round's want_pixels
# gating fixed; anchoring on a known-bad number would hide a relapse.
R10_ANCHOR = {
    "q_tpch_q1": 0.382, "q_join_multi": 0.789, "q_join_inner": 0.196,
    "q_upsert_merge": 0.296, "q_topk": 0.077, "q_window_rank": 0.275,
    "q_dedup": 0.119, "q_duration_parse": 0.116, "q_search_boolean": 0.107,
    "q_term_join": 0.511, "q_bm25_topk": 0.628, "q_dedup_exact": 0.195,
    "q_dedup_minhash": 0.33, "q_dedup_simhash": 0.444, "q_embed_knn": 0.215,
    "q_ann_lsh": 0.308, "q_lang_id": 0.401, "q_token_count": 0.127,
    "q_stream_tumbling": 0.212, "q_stream_session": 0.359,
    "q_tpch_q4": 0.491, "q_tpch_q18": 0.551, "q_gap_fill": 0.372,
    "q_hof_arrays": 0.238, "q_bm25_multifield": 0.803, "q_bm25_fuzzy": 1.045,
    "q_curate": 2.101, "q_boilerplate": 0.584,
    "q_media_container_meta": 0.555, "q_shuffle_shard": 0.106,
    "q_token_budget": 0.435, "q_vocab_coverage": 0.167,
    "q_domain_temperature": 0.173, "q_bloom_join": 0.841,
    "q_dsir_weights": 0.379, "q_semdedup": 2.893, "q_pq_encode": 0.842,
    "q_kmv_distinct": 0.974, "q_percentile_sampled": 1.153,
    "q_cms_counts": 0.613, "q_time_travel": 2.193,
    "q_stream_versioned": 2.437, "q_crawl_frontier": 2.533,
    "q_media_pixels": 0.529, "q_media_audio": 0.539,
}


def main() -> None:
    min_of = 3
    if "--min-of" in sys.argv:
        min_of = max(1, int(sys.argv[sys.argv.index("--min-of") + 1]))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # Warm the JVM (codegen, parquet footer cache, shuffle machinery) with one
    # untimed pass over the fact table so per-query timings measure compute,
    # not first-query startup.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()

    # Per query: one untimed warm run (pays whole-stage-codegen JIT compile,
    # a per-query-shape constant that vanishes at scale), then min_of timed
    # runs reporting the MIN — steady-state compute with load noise stripped,
    # the number that extrapolates to a real cluster. Cold (first-run) times
    # are reported alongside for transparency.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}

    def _cleanup() -> None:
        spark.catalog.clearCache()  # drop persists so queries don't interfere
        # also free orphaned localCheckpoint blocks (iterative CC/PageRank
        # rounds) — clearCache misses them, and at sf>=5 they accumulate
        # across the set; runs between timed regions, identically at every SF
        import gc

        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    for name in BENCH_QUERIES:
        fn = qs[name]
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold[name] = round(time.time() - t0, 3)
        best = float("inf")
        for _ in range(min_of):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        _cleanup()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_query_set_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "min_of": min_of,
        "legacy24_total": round(sum(timings[n] for n in LEGACY_24), 3),
        "cold_total": round(sum(cold.values()), 3),
    }
    # Per-query COLD times and the r1 anchor table go to a SIDECAR file,
    # not the stdout line (r12, VERDICT r11 item 7): three ratio tables +
    # the cold map grew the one-line JSON to ~4 KB, big enough that the
    # driver's bounded tail-capture window truncated it and lost a whole
    # round's cross-round PERF comparison. The line keeps everything the
    # driver parses (queries, totals, the sensitive r10_ratio gate, the
    # machine sentinel) and stays well under 2 KB.
    sidecar = {"cold_queries": cold}
    if abs(sf - 0.1) < 1e-9:  # the anchor's SF: emit the ratio tables
        sidecar["anchor_ratio"] = {
            n: round(timings[n] / R1_ANCHOR[n], 2) for n in LEGACY_24
        }
        out["legacy24_vs_anchor"] = round(
            out["legacy24_total"] / R1_ANCHOR_TOTAL, 3
        )
        # working-anchor ratios (r10 min-of-3): the sensitive gate — any
        # query drifting past ~1.3x here is a real regression, not noise
        # absorbed by the 10-round-old r1 allowance. On the LINE as a
        # values-only array aligned to the "queries" key order (half the
        # bytes); the name-keyed table lives in the sidecar.
        r10_ratio = {
            n: round(timings[n] / R10_ANCHOR[n], 2)
            for n in BENCH_QUERIES
            if n in R10_ANCHOR
        }
        sidecar["r10_ratio"] = r10_ratio
        out["r10_ratio_v"] = [
            r10_ratio.get(n) for n in timings if n in R10_ANCHOR
        ]
        covered = [n for n in BENCH_QUERIES if n in R10_ANCHOR]
        out["vs_r10_anchor"] = round(
            sum(timings[n] for n in covered)
            / sum(R10_ANCHOR[n] for n in covered),
            3,
        )
        # machine-class sentinel: q_tpch_q1 is pure JVM scan+agg unchanged
        # since r1 — its ratio is the box's speed vs the anchor machine
        # state, NOT a code regression. Read every other r10_ratio against
        # it (r11: a whole run measured 1.46x on the sentinel; dividing it
        # out put every unchanged query at par).
        out["machine_sentinel_ratio"] = r10_ratio.get("q_tpch_q1")
    try:
        side_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "evidence")
        os.makedirs(side_dir, exist_ok=True)
        with open(os.path.join(side_dir, "bench_sidecar_last.json"), "w") as f:
            json.dump({**out, **sidecar}, f)
    except OSError:
        pass  # the sidecar is transparency, never a reason to fail a bench
    print(json.dumps(out))


if __name__ == "__main__":
    main()
