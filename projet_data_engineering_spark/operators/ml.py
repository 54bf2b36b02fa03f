"""Iterative ML primitives over the embeddings table (round 3 extension).

K-means is the workhorse behind the IVF index (``similarity.q_ann_ivf``
assigns to FIXED centroids; this module TRAINS them) and behind
cluster-balanced corpus sampling. The implementation is the canonical
distributed Lloyd's algorithm shape:

- centroids are a k-row model bounded BY CONSTRUCTION: they live driver-side
  between rounds and assignment is one map-only Arrow pass per round — the
  corpus never shuffles for it (r11: the previous crossJoin + struct-min
  groupBy DID re-shuffle the corpus per round, and its k·dim unrolled
  distance expressions cost ~14 s of codegen compile at k=32);
- the update step is one groupBy(cid) with map-side combine (k·dim partial
  sums per partition);
- determinism: seeds are the bottom-k vectors by md5(vec_id) (reproducible
  across engines and runs — the ``q_sample_bottomk`` trick), distances fold
  left-to-right over double-cast elements, argmin ties break on centroid
  id, and intermediate centroids round to 6dp on BOTH engines so
  float-summation drift cannot compound across iterations. That is what
  makes a 2-iteration run bit-comparable to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import load_table
from projet_data_engineering_spark.registry import query

K = 4
ITERS = 2
DIM = 64


def _dist2(e, c):
    """Squared L2 distance as a strict left-to-right fold (engine-stable)."""
    return F.aggregate(
        F.zip_with(e, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign(e: DataFrame, cents: DataFrame, dim: int = DIM) -> DataFrame:
    """Map-only assignment against the bounded k-row centroid model.

    r11 (guide §2.4/§4.2, the PQ trainer's proven shape): the r1–r10
    implementation crossJoined a broadcast centroid FRAME and kept the
    (d2, cid)-min per vector with a groupBy struct-min — which, despite
    the module docstring's claim, re-shuffled the whole corpus (with its
    dim-sized arrays) once per assignment pass, and the k·dim unrolled
    distance expressions cost ~14 s of codegen compile on first use at
    k=32 (measured: kmeans_centroids cold 19.8 s / warm 2.4 s per
    iteration at sf0.1 — on 2 000 vectors). Centroids are a k-row model
    bounded by construction, so they are collected and assignment runs as
    ONE mapInPandas argmin — zero shuffles, zero giant codegen.

    Determinism contract unchanged, bit for bit: d2 accumulates
    dimension-by-dimension in the SAME left-to-right IEEE-double order as
    the old 0.0-seeded unrolled fold (the numpy loop below adds one
    dimension's square per step), and ``np.argmin`` returns the FIRST
    minimum over cid-ascending candidate columns — exactly the old
    struct-min's lowest-cid tie-break. The oracle transcription
    (``kmeans_centroid_ctes``) is untouched."""
    cent_rows = sorted(
        (int(r["cid"]), [float(x) for x in r["ce"]]) for r in cents.collect()
    )
    return _assign_local(e, cent_rows, dim)


def _assign_local(
    e: DataFrame, cent_rows: list[tuple[int, list[float]]], dim: int = DIM
) -> DataFrame:
    """:func:`_assign` over an already-collected (cid-sorted) model."""
    import numpy as np

    cmat = np.array([cv for _, cv in cent_rows], dtype=np.float64)  # (k, dim)
    cid_lut = np.array([cid for cid, _ in cent_rows], dtype=np.int32)

    def assign_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["e"].to_numpy()).astype(np.float64)  # (n, dim)
            # left-to-right fold over dims — bit-identical to the old
            # unrolled (0.0 + sq1) + sq2 ... expression per (row, cand)
            d2 = np.zeros((x.shape[0], cmat.shape[0]), dtype=np.float64)
            for i in range(dim):
                diff = x[:, i : i + 1] - cmat[None, :, i]
                d2 += diff * diff
            best = d2.argmin(axis=1)  # first min = lowest cid
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cid": cid_lut[best],
                    "e": pdf["e"],
                    "d2": d2[np.arange(len(best)), best],
                }
            )

    return e.mapInPandas(
        assign_batches,
        schema="vec_id bigint, cid int, e array<double>, d2 double",
    )


def _round6(x: float) -> float:
    """Spark ``ROUND(double, 6)`` replicated exactly. Spark rounds doubles
    via ``BigDecimal.valueOf(d)`` = ``new BigDecimal(Double.toString(d))``
    — the SHORTEST decimal repr that round-trips, not the exact binary
    expansion — then setScale(6, HALF_UP). ``Decimal(repr(x))`` is the
    same shortest repr (r12, ADVICE r11: ``Decimal(x)`` used the exact
    binary expansion, so boundary values diverged — 0.1234565 is binary
    0.12345649999…, which exact-HALF_UP rounds to 0.123456 while Spark
    and DuckDB both give 0.123457; pinned in
    ``test_ml.py::test_round6_matches_spark_round_on_boundaries``).
    Never python's banker's ``round()``."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _lloyd_round(
    e: DataFrame, cent_rows: list[tuple[int, list[float]]], dim: int
) -> list[tuple[int, list[float]]]:
    """One Lloyd round: assignment + per-cluster mean partials FUSED into a
    single Arrow pass (the PQ trainer's exact shape, r11). The pass emits
    LONG-FORM partials — (cid, i, su, n) rows, at most k·dim per batch —
    so no d-wide aggregate column tree is ever built (measured: the 64-avg
    groupBy's py4j construction + codegen alone cost ~2 s per round).
    Assignment d2 keeps the bit-exact per-dim left-to-right fold and
    first-min = lowest-cid ties; the means reconcile with the oracle's AVG
    at the 6-dp HALF_UP round — the module's declared cross-order
    tolerance, same contract as the PQ codebook means."""
    import numpy as np

    cmat = np.array([cv for _, cv in cent_rows], dtype=np.float64)
    cid_lut = np.array([cid for cid, _ in cent_rows], dtype=np.int64)

    def partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            d2 = np.zeros((x.shape[0], cmat.shape[0]), dtype=np.float64)
            for i in range(dim):
                diff = x[:, i : i + 1] - cmat[None, :, i]
                d2 += diff * diff
            best = d2.argmin(axis=1)  # first min = lowest cid
            cids, sus, ns = [], [], []
            for ki in range(len(cid_lut)):
                mask = best == ki
                c = int(mask.sum())
                if not c:
                    continue  # empty clusters drop, as with groupBy means
                sv = x[mask].sum(axis=0)
                cids.extend([int(cid_lut[ki])] * dim)
                sus.extend(sv.tolist())
                ns.extend([c] * dim)
            if not cids:
                continue
            yield pd.DataFrame(
                {
                    "cid": np.array(cids, dtype=np.int32),
                    "i": np.tile(
                        np.arange(dim, dtype=np.int32), len(cids) // dim
                    ),
                    "su": np.array(sus, dtype=np.float64),
                    "n": np.array(ns, dtype=np.int64),
                }
            )

    rows = (
        e.mapInPandas(partials, schema="cid int, i int, su double, n bigint")
        .groupBy("cid", "i")
        # ROUND stays SPARK-side (r12, ADVICE r11): the declared 6-dp mean
        # contract is Spark's own ROUND semantics by construction — the
        # driver replica (_round6) is reserved for driver-only arithmetic
        .agg(F.round(F.sum("su") / F.sum("n"), 6).alias("m"))
        .collect()  # bounded: k·dim rows
    )
    means: dict[int, list[float]] = {}
    for r in rows:
        means.setdefault(int(r["cid"]), [0.0] * dim)[r["i"]] = r["m"]
    return sorted(means.items())


def kmeans_centroids(
    emb: DataFrame, k: int = K, iters: int = ITERS, dim: int = DIM
) -> DataFrame:
    """Lloyd's k-means TRAINING, ``iters`` rounds from md5-deterministic
    seeds; returns the (cid, ce) centroid artifact — the k-row model that
    downstream consumers (IVF coarse quantizer, cluster-balanced sampling)
    broadcast. Determinism contract is the module docstring's: seeds by
    md5(vec_id), 6dp-rounded means, so the artifact is bit-comparable to
    the DuckDB transcription (:func:`kmeans_centroid_ctes`)."""
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    seed_order = [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")]
    # The model is k rows BY CONSTRUCTION, so it lives driver-side between
    # rounds (the PQ trainer's r8 shape): each Lloyd round is ONE fused
    # Arrow pass (assignment + mean partials, :func:`_lloyd_round`) —
    # instead of r10's per-round corpus shuffle (crossJoin + struct-min
    # groupBy) and k·dim-term codegen, or the intermediate r11 shape whose
    # separate d-wide means aggregate still cost ~2 s of py4j/codegen per
    # round.
    cent_rows = [
        (cid, [float(x) for x in r["e"]])
        for cid, r in enumerate(
            e.orderBy(*seed_order).limit(k).collect(), start=1
        )  # bounded: k seed rows
    ]
    for _ in range(iters):
        cent_rows = _lloyd_round(e, cent_rows, dim)
    return emb.sparkSession.createDataFrame(
        [(cid, ce) for cid, ce in cent_rows], "cid int, ce array<double>"
    )


def kmeans_stats(emb: DataFrame, k: int = K, iters: int = ITERS, dim: int = DIM) -> DataFrame:
    """Lloyd's k-means, ``iters`` rounds from md5-deterministic seeds;
    returns (centroid_id, n_members, inertia) for the final assignment.

    At 100 TB: assignment never shuffles the corpus (broadcast centroids),
    each update is one aggregate; for deep runs add a localCheckpoint on
    the k-row centroid frame every few rounds (it is the only thing whose
    lineage grows) — at 2 rounds the plan stays shallow without it."""
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    final = _assign(e, kmeans_centroids(emb, k, iters, dim), dim)
    return (
        final.groupBy(F.col("cid").alias("centroid_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.sum("d2"), 3).alias("inertia"),
        )
    )


def kmeans_centroid_ctes(
    k: int = K, iters: int = ITERS, dim: int = DIM, prefix: str = "",
    e_expr: str = "CAST(embedding AS DOUBLE[])",
) -> tuple[list[str], str]:
    """DuckDB CTE transcription of :func:`kmeans_centroids`, unrolled per
    iteration. Returns (cte_list, final_centroid_cte_name) — the final CTE
    has columns (cid, ce). ``prefix`` namespaces the CTEs so a consumer
    query (IVF, recall) can splice them next to its own. Shared by
    q_kmeans / q_ann_ivf / q_ann_recall so all three oracles train the
    SAME centroids the Spark side does. ``e_expr`` is the DuckDB expression
    producing the trained vector from an ``embeddings`` row — the default is
    the full vector; product quantization (``operators.pq``) passes a
    1-based-inclusive list slice to train per-subspace codebooks with this
    same proven transcription."""
    p = prefix
    d2 = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> ({p}emb.e[i] - c.ce[i]) * ({p}emb.e[i] - c.ce[i])))"
    )
    ctes = [
        f"{p}emb AS (SELECT vec_id, {e_expr} AS e "
        "FROM embeddings)",
        f"""{p}c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                       AS cid,
                   e AS ce
            FROM (SELECT vec_id, e FROM {p}emb
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})
        )""",
    ]
    for t in range(iters):
        ctes.append(
            f"""{p}a{t} AS (
            SELECT vec_id, e, cid, d2 FROM (
                SELECT {p}emb.vec_id, {p}emb.e, c.cid, {d2} AS d2,
                       ROW_NUMBER() OVER (
                           PARTITION BY {p}emb.vec_id
                           ORDER BY {d2}, c.cid
                       ) AS rn
                FROM {p}emb CROSS JOIN {p}c{t} c
            ) WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""{p}c{t + 1} AS (
            SELECT cid, list(m ORDER BY i) AS ce FROM (
                SELECT cid, g.i AS i, ROUND(AVG(e[g.i]), 6) AS m
                FROM {p}a{t} CROSS JOIN
                     (SELECT UNNEST(generate_series(1, {dim})) AS i) g
                GROUP BY cid, g.i
            ) GROUP BY cid
        )"""
        )
    return ctes, f"{p}c{iters}"


def _kmeans_oracle(k: int = K, iters: int = ITERS, dim: int = DIM) -> str:
    """Unrolled-iteration DuckDB transcription of :func:`kmeans_stats`:
    trained centroids (shared CTE builder) + one final assignment pass."""
    ctes, cfinal = kmeans_centroid_ctes(k, iters, dim)
    d2 = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "i -> (emb.e[i] - c.ce[i]) * (emb.e[i] - c.ce[i])))"
    )
    ctes = ctes + [
        f"""afinal AS (
            SELECT vec_id, e, cid, d2 FROM (
                SELECT emb.vec_id, emb.e, c.cid, {d2} AS d2,
                       ROW_NUMBER() OVER (
                           PARTITION BY emb.vec_id
                           ORDER BY {d2}, c.cid
                       ) AS rn
                FROM emb CROSS JOIN {cfinal} c
            ) WHERE rn = 1
        )"""
    ]
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT cid AS centroid_id, COUNT(*) AS n_members,
           ROUND(SUM(d2), 3) AS inertia
    FROM afinal
    GROUP BY cid
    """


@query("q_kmeans", oracle=_kmeans_oracle())
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train k=4 centroids over the embeddings table with 2 Lloyd's rounds
    and report cluster sizes + inertia — the training step upstream of the
    IVF index (``q_ann_ivf``). See :func:`kmeans_stats` for the scale and
    determinism design."""
    return kmeans_stats(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Distributed logistic regression (r7): the trained-quality-classifier tier
# ---------------------------------------------------------------------------

LR_RATE = 4.0
LR_ITERS = 6
LR_FEATURES = ("bias", "tokens_per_100", "stop_ratio", "avg_token_len_per_10")
_LR_STOPWORDS = ("the", "a", "of", "and", "is")


def _doc_features(docs: DataFrame) -> DataFrame:
    """(x1, x2, x3, y) per document: scaled token count, English stopword
    ratio, scaled average token length, and the heuristic quality label
    (``q_text_quality``'s formula thresholded at 0.5). Distilling heuristic
    labels into a model is the real bootstrap loop (fastText-style quality
    classifiers train exactly this way); here it also makes the label a
    deterministic function both engines agree on."""
    toks = F.split(F.lower("text"), " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_LR_STOPWORDS)))
    stop_ratio = n_stop / n_tokens
    quality = F.least(n_tokens / F.lit(50.0), F.lit(1.0)) * (
        0.5 + F.least(stop_ratio, F.lit(0.5))
    )
    return docs.select(
        (n_tokens / F.lit(100.0)).alias("x1"),
        stop_ratio.alias("x2"),
        (F.col("n_chars") / n_tokens / F.lit(10.0)).alias("x3"),
        F.when(quality >= 0.5, 1.0).otherwise(0.0).alias("y"),
    )


def logreg_weights(
    docs: DataFrame, lr: float = LR_RATE, iters: int = LR_ITERS
) -> DataFrame:
    """Full-batch gradient-descent logistic regression over the corpus —
    one aggregate per iteration, unrolled into a single plan.

    Each round joins the broadcast 1-row weight frame onto the feature
    scan and computes w ← round(w − lr·mean((σ(w·x) − y)·x), 6): the
    gradient is a map-side-combining AVG (the corpus never shuffles), and
    the 6dp rounding on BOTH engines stops float-summation drift from
    compounding across iterations — the same determinism contract as
    ``kmeans_centroids``. At 100 TB each iteration is one scan; the model
    state is 4 doubles.

    The featurized frame persists once: without it every round re-runs the
    tokenize/stopword featurization of the raw text (6× the heaviest map
    work — see evidence/bench_newops_r07.json), with it each round scans 4
    cached doubles per doc. At 100 TB the same move is a checkpoint of the
    feature table before the GD loop."""
    feats = _doc_features(docs).persist()
    w = feats.sparkSession.createDataFrame(
        [(0.0, 0.0, 0.0, 0.0)], "w0 double, w1 double, w2 double, w3 double"
    )
    for _ in range(iters):
        j = feats.crossJoin(F.broadcast(w))
        z = (
            F.col("w0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
            + F.col("w3") * F.col("x3")
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - F.col("y")
        w = j.agg(
            F.round(F.min("w0") - F.lit(lr) * F.avg(err), 6).alias("w0"),
            F.round(
                F.min("w1") - F.lit(lr) * F.avg(err * F.col("x1")), 6
            ).alias("w1"),
            F.round(
                F.min("w2") - F.lit(lr) * F.avg(err * F.col("x2")), 6
            ).alias("w2"),
            F.round(
                F.min("w3") - F.lit(lr) * F.avg(err * F.col("x3")), 6
            ).alias("w3"),
        )
    return w


def _logreg_ctes(lr: float = LR_RATE, iters: int = LR_ITERS) -> tuple[list[str], str]:
    """DuckDB transcription of :func:`logreg_weights`, unrolled per
    iteration; returns (cte_list, final_weight_cte). Shared by q_logreg
    and q_logreg_confusion so both oracles train the SAME model."""
    stop_list = ", ".join(f"'{s}'" for s in _LR_STOPWORDS)
    ctes = [
        f"""lrfeats AS (
            SELECT len(t) / 100.0 AS x1,
                   len(list_filter(t, s -> s IN ({stop_list})))
                       / CAST(len(t) AS DOUBLE) AS x2,
                   n_chars / CAST(len(t) AS DOUBLE) / 10.0 AS x3,
                   CASE WHEN LEAST(len(t) / 50.0, 1.0)
                             * (0.5 + LEAST(
                                 len(list_filter(t, s -> s IN ({stop_list})))
                                     / CAST(len(t) AS DOUBLE), 0.5)) >= 0.5
                        THEN 1.0 ELSE 0.0 END AS y
            FROM (SELECT str_split(lower(text), ' ') AS t, n_chars
                  FROM documents)
        )""",
        "lrw0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)",
    ]
    for t in range(iters):
        z = "(w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)"
        err = f"(1.0 / (1.0 + EXP(-{z})) - y)"
        ctes.append(
            f"""lrw{t + 1} AS (
            SELECT ROUND(MIN(w.w0) - {lr} * AVG({err}), 6) AS w0,
                   ROUND(MIN(w.w1) - {lr} * AVG({err} * x1), 6) AS w1,
                   ROUND(MIN(w.w2) - {lr} * AVG({err} * x2), 6) AS w2,
                   ROUND(MIN(w.w3) - {lr} * AVG({err} * x3), 6) AS w3
            FROM lrfeats CROSS JOIN lrw{t} w
        )"""
        )
    return ctes, f"lrw{iters}"


def _logreg_oracle() -> str:
    ctes, final = _logreg_ctes()
    names = ", ".join(f"'{n}'" for n in LR_FEATURES)
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT f.feature, CASE f.feature
               WHEN '{LR_FEATURES[0]}' THEN w.w0
               WHEN '{LR_FEATURES[1]}' THEN w.w1
               WHEN '{LR_FEATURES[2]}' THEN w.w2
               ELSE w.w3 END AS weight
    FROM {final} w CROSS JOIN (SELECT UNNEST([{names}]) AS feature) f
    """


@query("q_logreg", oracle=_logreg_oracle())
def q_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the 4-weight logistic quality classifier over ``documents``
    (6 full-batch GD rounds, lr=4) and emit (feature, weight) — the model
    artifact the scoring tier (``q_logreg_confusion``) broadcasts.
    Numpy-reference parity in ``test_ml.py``."""
    w = logreg_weights(load_table(spark, sf_dir, "documents"))
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("feature"), F.col(f"w{i}").alias("weight")
            )
            for i, name in enumerate(LR_FEATURES)
        ]
    )
    return w.select(F.explode(pairs).alias("r")).select("r.*")


def _logreg_confusion_oracle() -> str:
    ctes, final = _logreg_ctes()
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT CAST(y AS BIGINT) AS label,
           CASE WHEN w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 >= 0.0
                THEN 1 ELSE 0 END AS predicted,
           COUNT(*) AS n
    FROM lrfeats CROSS JOIN {final} w
    GROUP BY 1, 2
    """


@query("q_logreg_confusion", oracle=_logreg_confusion_oracle())
def q_logreg_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score the corpus with the trained classifier and report the
    confusion matrix (label × predicted counts). The decision rule is
    ``z >= 0`` — algebraically σ(z) ≥ 0.5 but exact in floating point, so
    both engines agree at the boundary. Scoring is map-only: the 4-double
    model broadcasts, the corpus never shuffles (the report aggregate is
    4 rows)."""
    d = load_table(spark, sf_dir, "documents")
    feats = _doc_features(d)
    w = logreg_weights(d)
    z = (
        F.col("w0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
    )
    return (
        feats.crossJoin(F.broadcast(w))
        .select(
            F.col("y").cast("bigint").alias("label"),
            F.when(z >= 0.0, 1).otherwise(0).alias("predicted"),
        )
        .groupBy("label", "predicted")
        .agg(F.count("*").alias("n"))
    )


def _logreg_auc_oracle() -> str:
    ctes, final = _logreg_ctes()
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    scored AS (
        SELECT ROUND(w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3, 6) AS z, y
        FROM lrfeats CROSS JOIN {final} w
    ),
    g AS (SELECT z, COUNT(*) AS cnt, SUM(y) AS pos FROM scored GROUP BY z),
    r AS (
        SELECT pos, cnt,
               SUM(cnt) OVER (ORDER BY z ROWS UNBOUNDED PRECEDING) AS cum
        FROM g
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
           ROUND((SUM(pos * (cum - cnt + (cnt + 1) / 2.0))
                  - SUM(pos) * (SUM(pos) + 1) / 2.0)
                 / (SUM(pos) * SUM(cnt - pos)), 6) AS auc
    FROM r
    """


@query("q_logreg_auc", oracle=_logreg_auc_oracle())
def q_logreg_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-adjusted ROC-AUC of the trained quality classifier on its
    own training corpus — the threshold-free evaluation tier above the
    confusion matrix (which fixes the cut at z=0). Mann–Whitney form:
    AUC = (Σ_pos avgrank − P(P+1)/2) / (P·N) with AVERAGE ranks for tied
    scores, computed from the per-score group sizes — the exact formula,
    not a trapezoid approximation.

    Scale shape: scoring is map-only (4-double model broadcasts); scores
    round to 6dp and groupBy(z) collapses the corpus to the score
    DICTIONARY with map-side combine; the single global running-sum window
    runs over that aggregate-bounded dictionary (plan-lint clean), never
    the corpus. The 6dp rounding also pins the tie structure so both
    engines rank the identical multiset."""
    d = load_table(spark, sf_dir, "documents")
    feats = _doc_features(d)
    w = logreg_weights(d)
    z = F.round(
        F.col("w0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3"),
        6,
    )
    g = (
        feats.crossJoin(F.broadcast(w))
        .select(z.alias("z"), "y")
        .groupBy("z")
        .agg(F.count("*").alias("cnt"), F.sum("y").alias("pos"))
    )
    win = Window.orderBy("z").rowsBetween(Window.unboundedPreceding, 0)
    r = g.select("pos", "cnt", F.sum("cnt").over(win).alias("cum"))
    p_tot = F.sum("pos")
    n_tot = F.sum(F.col("cnt") - F.col("pos"))
    rank_sum = F.sum(
        F.col("pos") * (F.col("cum") - F.col("cnt") + (F.col("cnt") + 1) / 2.0)
    )
    return r.agg(
        p_tot.cast("bigint").alias("n_pos"),
        n_tot.cast("bigint").alias("n_neg"),
        F.round(
            (rank_sum - p_tot * (p_tot + 1) / 2.0) / (p_tot * n_tot), 6
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Distributed PCA via power iteration (r7): the embedding-analysis tier
# ---------------------------------------------------------------------------

PCA_ITERS = 3


def pca_state(emb: DataFrame, iters: int = PCA_ITERS, dim: int = DIM) -> DataFrame:
    """Train the top-principal-component model by POWER ITERATION and return
    the 1-row state frame (mu, v, eig) — the matrix-free distributed PCA
    shape: the d×d covariance is never materialized; each round computes
    C·v = mean_rows((x−μ)·((x−μ)·v)) as ONE corpus scan (a map-side-
    combining aggregate of d doubles), so the corpus never shuffles and the
    model state is 2·d doubles.

    Determinism contract (the kmeans/logreg one): μ and every C·v round to
    6dp, v renormalizes from the ROUNDED image (sqrt/÷ are IEEE-exact on
    identical inputs) and rounds again, the start vector is the constant
    1/8 = 2⁻³ (exactly representable) — so the DuckDB transcription
    (:func:`_pca_ctes`) walks the identical float path."""
    import numpy as np

    # The model state is 2·d doubles BY CONSTRUCTION, so it lives
    # driver-side between rounds (r11 — the kmeans/PQ trainer shape). The
    # old version unrolled all ``iters`` rounds into ONE plan: building
    # its d-wide aggregate columns cost seconds of py4j round trips per
    # round BEFORE any execution, the nested zip_with/aggregate lambdas
    # ran interpreted, and each round's fresh-literal 64-avg aggregate
    # recompiled codegen — ~15 s at sf0.1 on 2 000 rows. Each round is
    # now one Arrow partial-sums pass in LONG FORM (d rows of (i, su, n)
    # per batch — never a d-wide expression tree), a 3-expression final
    # aggregate, and a bounded d-row collect.
    #
    # Determinism: per-batch numpy partials + Spark's sum accumulate in a
    # different order than the old column AVG — reconciled, exactly like
    # the kmeans/PQ means, at the 6-dp ROUND every μ and C·v component
    # already passes through (the module's declared cross-engine
    # tolerance; the hash gate proves it per SF). The v/eig normalization
    # stays HALF_UP via Decimal — bit-equal to Spark's ROUND on doubles —
    # never python's banker's round().
    _r6 = _round6  # Spark ROUND(double, 6) replica, shared with kmeans

    e = emb.select(
        F.transform("embedding", lambda x: x.cast("double")).alias("x")
    )

    def _round_pass(mu_arr, v_arr):
        """One corpus pass → per-batch long-form partials. mu_arr=None is
        the μ pass (su_i = Σ x_i); otherwise su_i = Σ s·(x_i − μ_i) with
        s = (x − μ)·v."""

        def partials(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["x"].to_numpy()).astype(np.float64)
                if mu_arr is None:
                    su = x.sum(axis=0)
                else:
                    c = x - mu_arr[None, :]
                    s = c @ v_arr
                    su = (s[:, None] * c).sum(axis=0)
                yield pd.DataFrame(
                    {
                        "i": np.arange(x.shape[1], dtype=np.int32),
                        "su": su,
                        "n": np.int64(x.shape[0]),
                    }
                )

        rows = (
            e.mapInPandas(partials, schema="i int, su double, n bigint")
            .groupBy("i")
            # ROUND stays SPARK-side (r12, ADVICE r11) — see _lloyd_round
            .agg(F.round(F.sum("su") / F.sum("n"), 6).alias("m"))
            .collect()  # bounded: d rows
        )
        out = [0.0] * dim
        for r in rows:
            out[r["i"]] = r["m"]
        return np.array(out, dtype=np.float64)

    mu_arr = _round_pass(None, None)
    v_arr = np.array([0.125] * dim, dtype=np.float64)
    eig = 0.0
    for _ in range(iters):
        u = _round_pass(mu_arr, v_arr)
        norm = 0.0
        for ui in u:  # same left-to-right 0-seeded fold as the old plan
            norm += ui * ui
        norm = float(np.sqrt(norm))
        v_arr = np.array([_r6(ui / norm) for ui in u], dtype=np.float64)
        eig = _r6(norm)
    return emb.sparkSession.createDataFrame(
        [([float(m) for m in mu_arr], [float(x) for x in v_arr], eig)],
        "mu array<double>, v array<double>, eig double",
    )


def pca_power(emb: DataFrame, iters: int = PCA_ITERS, dim: int = DIM) -> DataFrame:
    """Explode the trained PCA state (:func:`pca_state`) into ``dim`` rows
    (dim_idx, mean, loading, eigenvalue): the center, the unit top
    direction, and its Rayleigh-quotient eigenvalue estimate ‖C·v‖ from
    the final round. Numpy parity and the beats-every-axis convergence
    property live in ``test_ml.py``."""
    return (
        pca_state(emb, iters, dim)
        .select(
            F.posexplode("mu").alias("pos0", "mean"),
            F.col("v"),
            F.col("eig").alias("eigenvalue"),
        )
        .select(
            (F.col("pos0") + 1).alias("dim_idx"),
            "mean",
            F.element_at("v", F.col("pos0") + 1).alias("loading"),
            "eigenvalue",
        )
    )


def _pca_ctes(iters: int = PCA_ITERS, dim: int = DIM) -> tuple[list[str], str]:
    """DuckDB transcription of :func:`pca_state`, unrolled per iteration;
    returns (cte_list, final_v_cte). The final CTE has columns (v, eig);
    ``pemb`` carries (label, x) so consumers can project per label. Shared
    by q_pca_power and q_pca_project so both oracles train the SAME model."""
    grid = f"(SELECT UNNEST(generate_series(1, {dim})) AS i) g"
    v0 = ", ".join(["0.125"] * dim)
    ctes = [
        "pemb AS (SELECT label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings)",
        f"""pmu AS (
            SELECT list(m ORDER BY i) AS mu FROM (
                SELECT g.i, ROUND(AVG(x[g.i]), 6) AS m
                FROM pemb CROSS JOIN {grid} GROUP BY g.i
            )
        )""",
        f"pv0 AS (SELECT [{v0}] AS v)",
    ]
    for t in range(iters):
        ctes.append(
            f"""ps{t} AS (
            SELECT x, list_sum(list_transform(generate_series(1, {dim}),
                       i -> (x[i] - pmu.mu[i]) * v.v[i])) AS s
            FROM pemb, pmu, pv{t} v
        )"""
        )
        ctes.append(
            f"""pu{t} AS (
            SELECT list(u ORDER BY i) AS u FROM (
                SELECT g.i, ROUND(AVG(s * (x[g.i] - pmu.mu[g.i])), 6) AS u
                FROM ps{t}, pmu CROSS JOIN {grid} GROUP BY g.i
            )
        )"""
        )
        ctes.append(
            f"""pv{t + 1} AS (
            SELECT list_transform(u, e ->
                       ROUND(e / sqrt(list_sum(list_transform(u, q -> q * q))), 6)
                   ) AS v,
                   ROUND(sqrt(list_sum(list_transform(u, q -> q * q))), 6) AS eig
            FROM pu{t}
        )"""
        )
    return ctes, f"pv{iters}"


def _pca_oracle(iters: int = PCA_ITERS, dim: int = DIM) -> str:
    ctes, final = _pca_ctes(iters, dim)
    grid = f"(SELECT UNNEST(generate_series(1, {dim})) AS i) g"
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT g.i AS dim_idx, pmu.mu[g.i] AS mean, v.v[g.i] AS loading,
           v.eig AS eigenvalue
    FROM pmu, {final} v CROSS JOIN {grid}
    """


@query("q_pca_power", oracle=_pca_oracle())
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component (+ mean vector and eigenvalue estimate) of
    the 64-dim embedding corpus, 3 unrolled power-iteration rounds — the
    embedding-space diagnostic tier (dominant-direction drift, whitening
    input, anisotropy checks). See :func:`pca_state` for the matrix-free
    scan shape and the cross-engine determinism contract."""
    return pca_power(load_table(spark, sf_dir, "embeddings"))


def _pca_project_oracle(iters: int = PCA_ITERS, dim: int = DIM) -> str:
    ctes, final = _pca_ctes(iters, dim)
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    proj AS (
        SELECT label,
               ROUND(list_sum(list_transform(generate_series(1, {dim}),
                         i -> (x[i] - pmu.mu[i]) * v.v[i])), 6) AS p
        FROM pemb, pmu, {final} v
    )
    SELECT label, COUNT(*) AS n,
           ROUND(AVG(p), 5) AS mean_proj,
           ROUND(STDDEV_SAMP(p), 5) AS std_proj
    FROM proj
    GROUP BY label
    """


@query("q_pca_project", oracle=_pca_project_oracle())
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PCA APPLY tier (every model in this module ships one: kmeans→IVF
    assignment, logreg→confusion/AUC, here pca→projection): project every
    embedding onto the trained (μ, v) top component and report per-LABEL
    projection statistics (n, mean, std) — the one-number-per-class view of
    how much the dominant embedding direction separates the labels, and the
    drift probe a serving store re-runs per snapshot.

    Scale shape: (μ, v) is a broadcast 2·d-double state; the projection is
    map-only; the report is |labels| rows from one map-side-combining
    aggregate. Projections round to 6dp (pinning every row's value across
    engines) BEFORE the 5dp-rounded moments, so mean and stddev survive the
    cross-engine summation-order difference."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("x"),
    )
    # state is 2·d doubles — collect it and project in one Arrow pass
    # (r11): the old crossJoin(broadcast(state)) + zip_with/aggregate fold
    # ran interpreted per row (CodegenFallback). The numpy loop below
    # accumulates dimension-by-dimension, so every row's projection is
    # BIT-IDENTICAL to the old 0.0-seeded left-to-right fold (and to the
    # oracle's list_sum) before its 6-dp round — no new tolerance.
    st = pca_state(emb).first()
    mu_arr = np.array([float(m) for m in st["mu"]], dtype=np.float64)
    v_arr = np.array([float(x) for x in st["v"]], dtype=np.float64)

    def project(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["x"].to_numpy()).astype(np.float64)
            c = x - mu_arr[None, :]
            s = np.zeros(x.shape[0], dtype=np.float64)
            for i in range(c.shape[1]):  # the fold, vectorized over rows
                s += c[:, i] * v_arr[i]
            yield pd.DataFrame({"label": pdf["label"], "p": s})

    # raw s crosses Arrow bit-exact; the 6-dp round stays SPARK-side
    # (HALF_UP) — numpy's round is half-even and could differ on exact
    # 5e-7 boundaries
    proj = e.mapInPandas(project, schema="label int, p double").select(
        "label", F.round("p", 6).alias("p")
    )
    return proj.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg("p"), 5).alias("mean_proj"),
        F.round(F.stddev_samp("p"), 5).alias("std_proj"),
    )
