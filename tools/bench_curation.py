"""End-to-end curation-pipeline bench (VERDICT r6 item 5): run the full
composed pretraining-data build (recipes/curation.py — dedup ∘ quality ∘
decontamination ∘ PII redaction ∘ leakage-safe split ∘ sequence packing)
over a big-SF documents table and report the ONE number the 100 TB story is
about: wall time for the whole build, plus the tokens-in/tokens-out funnel.

The build is timed as three ``Census`` spans, one per step a real build
runs: ``curate`` (the stage chain into the stored status frame), ``windows``
(the packed train manifest written) and ``funnel`` (the audit collected);
``steps`` reports each one's wall, jobs, ``busy_s`` (inside Spark jobs) and
``driver_s`` (the rest).

Also times the label-reuse saving the composition exists for: the
(node, root) near-dup relation is computed once and consumed by both the
drop rule and the split keying; ``label_reuse_saving_sec`` is the measured
cost of the second LSS computation a stage-by-stage run would pay again.

Usage: python tools/bench_curation.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".localdata/sf10.0"
    out_json = sys.argv[2] if len(sys.argv) > 2 else None

    from perfbench.census import Census
    from projet_data_engineering_spark.io import load_table, spread
    from projet_data_engineering_spark.operators.dedup import (
        connected_components_lss,
        minhash_candidate_pairs,
    )
    from projet_data_engineering_spark.recipes.curation import curate_corpus
    from projet_data_engineering_spark.session import get_spark

    spark = get_spark("bench_curation")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    n_docs = docs.count()  # warms the scan; not part of the timed build

    census = Census(spark)
    with census.span("curate"):
        out = curate_corpus(docs)
    # the two deliverables a real build ships: the packed train manifest
    # and the funnel audit
    with census.span("windows"):
        out["train_windows"].write.format("noop").mode("overwrite").save()
    with census.span("funnel"):
        funnel = [r.asDict() for r in out["funnel"].collect()]
    # what a stage-by-stage run would pay AGAIN for the second LSS pass
    with census.span("relabel"):
        connected_components_lss(
            minhash_candidate_pairs(docs, "doc_id", "text")
        ).write.format("noop").mode("overwrite").save()
    out["_labels"].unpersist()
    out["_contaminated"].unpersist()
    *build, relabel = census.calls
    wall = round(sum(c.wall_s for c in build), 2)

    stages = {r["stage"]: (r["n_docs"], r["n_tokens"]) for r in funnel}
    tokens_in = stages["0_raw"][1]
    tokens_out = stages["6_train_windows"][1]
    result = {
        "sf_dir": sf_dir,
        "n_docs": n_docs,
        "wall_sec": wall,
        "tokens_in": tokens_in,
        "tokens_out_train": tokens_out,
        "tokens_per_sec": round(tokens_in / wall),
        "yield_pct": round(100.0 * tokens_out / tokens_in, 1),
        "label_reuse_saving_sec": round(relabel.wall_s, 2),
        "steps": {
            c.name: {
                "wall_s": round(c.wall_s, 2),
                "jobs": c.jobs,
                "busy_s": round(c.busy_s, 2),
                "driver_s": round(c.driver_s, 2),
            }
            for c in build
        },
        "funnel": funnel,
    }
    line = json.dumps(result)
    print(line)
    if out_json:
        with open(out_json, "w") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
