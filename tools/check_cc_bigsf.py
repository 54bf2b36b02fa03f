"""Big-SF correctness evidence for the connected-components family.

The DuckDB oracles for q_curate / q_dedup_apply / q_dedup_clusters /
q_dedup_clusters_lss / q_split_groupsafe rebuild cluster roots with a
recursive-CTE transitive closure whose OUTPUT is O(sum of component^2) rows
— infeasible at sf>=5, where the synthetic corpus's giant near-dup
component has tens of thousands of nodes (the closure materializes
billions of pairs). That is an oracle-side limitation, not an engine one,
so at big SF the family is checked engine-internally instead:

1. min-label propagation (run to its PROVEN fixpoint — the implementation
   raises on non-convergence) and large-star/small-star are two
   independently-derived algorithms; their (node, root) outputs must agree
   exactly on the full candidate-pair graph;
2. q_curate recomputed with min-label in place of LSS must produce the
   identical per-language result rows.

Usage: python tools/check_cc_bigsf.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".localdata/sf5.0"
    from projet_data_engineering_spark.io import load_table, spread
    from projet_data_engineering_spark.operators.dedup import (
        connected_components,
        connected_components_lss,
        minhash_candidate_pairs,
    )
    from projet_data_engineering_spark.operators.textanalysis import (
        STOPWORDS,
        stopword_hits,
    )
    from projet_data_engineering_spark.session import get_spark

    spark = get_spark("cc-bigsf")
    spark.sparkContext.setLogLevel("ERROR")
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = minhash_candidate_pairs(d, "doc_id", "text").localCheckpoint(
        eager=True
    )
    n_pairs = pairs.count()

    t0 = time.time()
    lss = connected_components_lss(pairs).localCheckpoint(eager=True)
    t_lss = time.time() - t0
    t0 = time.time()
    ml = connected_components(pairs).localCheckpoint(eager=True)
    t_ml = time.time() - t0
    n_nodes = lss.count()
    disagree = (
        lss.withColumnRenamed("root", "r2")
        .join(ml, "node")
        .filter(F.col("root") != F.col("r2"))
        .count()
    )
    print(
        f"pairs={n_pairs} nodes={n_nodes} "
        f"lss={t_lss:.1f}s minlabel={t_ml:.1f}s label_disagreements={disagree}"
    )
    assert disagree == 0, disagree

    # q_curate with each clustering implementation must emit identical rows.
    def curate(labels):
        drop = labels.filter(F.col("node") != F.col("root")).select(
            F.col("node").alias("doc_id")
        )
        n_tokens = "size(split(lower(text), ' '))"
        n_stop = stopword_hits("split(lower(text), ' ')", STOPWORDS["en"])
        quality = (
            f"least({n_tokens} / 50.0D, 1.0D)"
            f" * (least(CAST({n_stop} AS DOUBLE) / {n_tokens}, 0.5D) + 0.5D)"
        )
        return {
            tuple(r)
            for r in d.join(F.broadcast(drop), "doc_id", "left_anti")
            .selectExpr("lang", f"{n_tokens} AS n_tokens", f"{quality} AS q")
            .where("q >= 0.5D")
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("total_tokens"),
                F.round(F.avg("q"), 4).alias("avg_quality"),
            )
            .collect()
        }

    a, b = curate(lss), curate(ml)
    assert a == b and a, (len(a), len(b))
    print(f"q_curate rows identical under both clusterings: {sorted(a)}")
    print("cc-bigsf: OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
