"""DSIR importance weights + SemDeDup (r7 continuation).

The oracle gate proves cross-engine agreement; these tests pin SEMANTICS —
the weights actually separate target from off-target documents, and the
semantic dedup's greedy-by-id acceptance is locally consistent with its
threshold.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from projet_data_engineering_spark.io import load_table
from projet_data_engineering_spark.registry import all_queries
from tests.conftest import SF_DIR

Q = all_queries()


def _py_dsir(docs):
    """Pure-python replica of dsir_weights' contract (unigram add-one
    smoothed log ratio, target = lang == 'en')."""
    cr, ct = {}, {}
    for _, text, lang in docs:
        for t in text.lower().split(" "):
            if not t:
                continue
            cr[t] = cr.get(t, 0) + 1
            if lang == "en":
                ct[t] = ct.get(t, 0) + 1
    nr, nt, v = sum(cr.values()), sum(ct.values()), len(cr)
    out = {}
    for doc_id, text, _ in docs:
        toks = [t for t in text.lower().split(" ") if t]
        lr = sum(
            math.log((ct.get(t, 0) + 1.0) / (nt + v))
            - math.log((cr[t] + 1.0) / (nr + v))
            for t in toks
        )
        out[doc_id] = (len(toks), round(lr, 4) + 0.0)
    return out


def test_dsir_weights_match_python_replica(spark):
    docs = [
        (r["doc_id"], r["text"], r["lang"])
        for r in load_table(spark, SF_DIR, "documents").collect()
    ]
    want = _py_dsir(docs)
    got = {
        r["doc_id"]: (r["n_tokens"], r["log_ratio"])
        for r in Q["q_dsir_weights"](spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0]
        assert abs(got[d][1] - want[d][1]) < 1e-6


def test_dsir_weights_separate_target_from_offtarget(spark):
    """The entire point of importance weighting: English documents must
    score higher than non-English ones on average (per token, so doc
    length doesn't confound)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    w = Q["q_dsir_weights"](spark, SF_DIR).join(docs, "doc_id")
    per_tok = w.select(
        "lang", (F.col("log_ratio") / F.col("n_tokens")).alias("rate")
    )
    rates = {
        r["lang"]: r["m"]
        for r in per_tok.groupBy("lang").agg(F.avg("rate").alias("m")).collect()
    }
    assert rates["en"] > max(v for k, v in rates.items() if k != "en")


def test_dsir_select_is_ranked_prefix_of_weights(spark):
    w = {
        r["doc_id"]: r["log_ratio"]
        for r in Q["q_dsir_weights"](spark, SF_DIR).collect()
    }
    sel = Q["q_dsir_select"](spark, SF_DIR).collect()
    assert len(sel) == 50
    order = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert [(r["doc_id"], r["log_ratio"]) for r in sorted(sel, key=lambda r: r["rank"])] == order


def test_semdedup_greedy_acceptance_is_locally_consistent(spark):
    """Every dropped vector has a LOWER-id ≥τ-similar witness in its
    cluster; the lowest id of every cluster is always kept."""
    import numpy as np

    from projet_data_engineering_spark.operators.dedup import SEMDEDUP_TAU

    rows = Q["q_semdedup"](spark, SF_DIR).collect()
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF_DIR, "embeddings").collect()
    }
    assert len(rows) == len(emb)
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cent_id"], []).append((r["vec_id"], r["keep"]))

    def cos(a, b):
        return round(float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b))), 4)

    for cid, members in by_cluster.items():
        members.sort()
        assert members[0][1] == 1  # lowest id always kept
        for vid, keep in members:
            witnesses = [
                w for w, _ in members
                if w < vid and cos(emb[w], emb[vid]) >= SEMDEDUP_TAU
            ]
            assert (keep == 0) == bool(witnesses)


def test_semdedup_drops_a_planted_duplicate(spark):
    """A vector duplicated verbatim (new higher id) must be dropped, and
    the original kept."""
    import numpy as np  # noqa: F401

    from projet_data_engineering_spark.operators import dedup as dd
    from projet_data_engineering_spark.operators.similarity import (
        _ivf_cent_artifact,
        _ivf_scored_cents,
        as_double,
        cosine,
    )

    e = load_table(spark, SF_DIR, "embeddings")
    clone = e.filter(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "embedding",
        "label",
    )
    # run the same pipeline shape on the augmented frame
    aug = e.unionByName(clone)
    b = aug.selectExpr("vec_id", f"{as_double('embedding')} AS v")
    assigned = b.crossJoin(F.broadcast(_ivf_cent_artifact(aug))).selectExpr(
        "vec_id", "v", f"-{_ivf_scored_cents(1)}[0].neg_id AS cent_id"
    )
    a, c = assigned.alias("a"), assigned.alias("b")
    dups = (
        a.join(
            c,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(f"round({cosine('a.v', 'b.v')}, 4) >= {dd.SEMDEDUP_TAU!r}D")
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    dropped = {r["vec_id"] for r in dups.collect()}
    assert 100007 in dropped
    assert 7 not in dropped
