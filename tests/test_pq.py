"""Product-quantization family (operators/pq.py).

The oracle gate already recomputes the full lattice (training included) on
DuckDB; these tests pin the pieces the oracle can't see — codebook/encode
consistency against an independent numpy replay of the TRAINED model, the
physical plan shape (broadcast artifact, no cartesian blowup), and the
rerank tier's recall lift over raw ADC.
"""

from __future__ import annotations

import numpy as np
import pytest

from projet_data_engineering_spark.io import load_table
from projet_data_engineering_spark.operators import pq
from projet_data_engineering_spark.registry import all_queries

from tests.conftest import SF_DIR

Q = all_queries()


def _books_by_key(books):
    """{(m, cid): centroid} of a trained model."""
    return {
        (m, cid): np.array(ce, dtype=np.float64)
        for m, entries in books.items()
        for cid, ce in entries
    }


@pytest.fixture(scope="module")
def trained(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    books = _books_by_key(pq._train_books(emb))
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    return books, vecs


def test_codebooks_shape_and_determinism(spark, trained):
    books, _ = trained
    ms = {m for m, _ in books}
    assert ms == set(range(pq.PQ_M))
    for m in ms:
        cids = sorted(c for mm, c in books if mm == m)
        # k-means may drop an emptied cluster, never invent one
        assert 1 <= len(cids) <= pq.PQ_K
        assert all(1 <= c <= pq.PQ_K for c in cids)
        for c in cids:
            assert books[(m, c)].shape == (pq.PQ_SUBDIM,)
    # retraining reproduces the artifact bit-for-bit (md5 seeds, 6dp means)
    emb = load_table(spark, SF_DIR, "embeddings")
    again = _books_by_key(pq._train_books(emb))
    assert set(again) == set(books)
    for key in books:
        assert np.array_equal(books[key], again[key])


@pytest.mark.slow
def test_encode_matches_numpy_argmin_on_trained_books(spark, trained):
    books, vecs = trained
    rows = Q["q_pq_encode"](spark, SF_DIR).collect()
    assert len(rows) == len(vecs)
    for r in rows[:50]:
        v = vecs[r["vec_id"]]
        err = 0.0
        for m in range(pq.PQ_M):
            sub = v[m * pq.PQ_SUBDIM : (m + 1) * pq.PQ_SUBDIM]
            cands = sorted(
                (round(float(((books[(mm, c)] - sub) ** 2).sum()), 6), c)
                for (mm, c) in books
                if mm == m
            )
            want_d2, want_c = cands[0]
            assert r[f"c{m + 1}"] == want_c
            err += want_d2
        assert r["recon_err"] == pytest.approx(round(err, 6), abs=1e-6)


@pytest.mark.slow
def test_adc_distance_is_sum_of_table_lookups(spark, trained):
    books, vecs = trained
    rows = Q["q_ann_pq"](spark, SF_DIR).collect()
    enc = {
        r["vec_id"]: [r[f"c{m + 1}"] for m in range(pq.PQ_M)]
        for r in Q["q_pq_encode"](spark, SF_DIR).collect()
    }
    assert {r["query_id"] for r in rows} == set(range(pq.PQ_NQ))
    for r in rows:
        qv = vecs[r["query_id"]]
        want = 0.0
        for m, c in enumerate(enc[r["vec_id"]]):
            sub = qv[m * pq.PQ_SUBDIM : (m + 1) * pq.PQ_SUBDIM]
            want += round(float(((books[(m, c)] - sub) ** 2).sum()), 6)
        assert r["adist"] == pytest.approx(round(want, 6), abs=1e-6)


@pytest.mark.slow
def test_rerank_recall_at_least_matches_adc(spark):
    adc = {
        (r["query_id"], r["recall"])
        for r in Q["q_pq_recall"](spark, SF_DIR).collect()
    }
    # exact top-5 per query, numpy truth
    emb = load_table(spark, SF_DIR, "embeddings").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb}
    rer = Q["q_ann_pq_rerank"](spark, SF_DIR).collect()
    by_q = {}
    for r in rer:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    for qid, adc_recall in adc:
        q = vecs[qid]
        d2 = sorted(
            (round(float(((v - q) ** 2).sum()), 6), vid)
            for vid, v in vecs.items()
            if vid != qid
        )
        truth = {vid for _, vid in d2[: pq.PQ_TOPK]}
        rr = len(truth & by_q[qid]) / pq.PQ_TOPK
        assert rr >= adc_recall  # rerank never loses recall vs raw ADC
    # and the shortlist exact-rerank must beat chance decisively overall
    total = sum(
        len(
            {
                vid
                for _, vid in sorted(
                    (round(float(((v - vecs[qid]) ** 2).sum()), 6), vid)
                    for vid, v in vecs.items()
                    if vid != qid
                )[: pq.PQ_TOPK]
            }
            & by_q[qid]
        )
        for qid in by_q
    )
    assert total >= 6  # ≥ 0.4 mean recall@5 on this corpus (measured 0.6–1.0)


def test_encode_plan_is_pure_map_work(spark):
    """The model travels as a closure constant of one Arrow map pass, so
    the encode plan is scan → mapInPandas: no join of ANY kind, no
    exchange — nothing model-sized is copied per corpus row."""
    from projet_data_engineering_spark.plans.explain import formatted_plan

    plan = formatted_plan(Q["q_pq_encode"](spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange" not in plan


def test_encode_arrow_plan_is_map_only(spark):
    """pq_encode_arrow on its own, fed an already-trained model, is one
    mapInPandas pass over the scan: no join, no exchange."""
    from projet_data_engineering_spark.plans.explain import formatted_plan

    emb = load_table(spark, SF_DIR, "embeddings")
    books = pq._train_books(emb)
    plan = formatted_plan(pq.pq_encode_arrow(emb, books))
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_vector_kernels_compile_without_codegen_fallback(spark):
    """With spark.sql.codegen.fallback=false a generated class that janino
    cannot compile (e.g. "Code grows beyond 64 KB") raises instead of
    running interpreted, so each of these runs only if every stage it
    plans compiles. Every row is collected: a count would prune the
    projections away."""
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name in ("q_pq_encode", "q_ann_pq", "q_semdedup"):
            assert Q[name](spark, SF_DIR).collect(), name
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
