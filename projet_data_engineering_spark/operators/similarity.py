"""Similarity search over embedding columns (``array<float>``).

North-star operator family (BASELINE.json): approximate-nearest-neighbor over
the ``embeddings`` table. Two tiers:

- brute-force cosine top-k — the exactness baseline. All math stays JVM-side
  (``zip_with`` + ``aggregate`` fold, whole-stage codegen); the query side is
  broadcast so the big side never shuffles;
- sign-LSH bucketed ANN — buckets on the sign pattern of the leading
  dimensions (random-hyperplane LSH with axis-aligned planes, deterministic so
  the oracle can replicate it). At 100 TB: bucket once at write time,
  partition by bucket, and each query touches only its bucket's partitions.

Floats are cast to double before any arithmetic (exact widening) and scores
rounded to 4 dp on both engines so fold-order ulps can't flip the hash.

``as_double``, ``dot``, ``cosine`` and ``_ivf_scored_cents`` return SQL
text, so a whole score is one ``selectExpr`` string, parsed JVM-side in one
py4j call (SCALING.md "Building expressions").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from projet_data_engineering_spark.io import (
    listing_memo,
    load_table,
    read_parquet,
)
from projet_data_engineering_spark.operators.ml import (
    DIM,
    kmeans_centroid_ctes,
    kmeans_centroids,
)
from projet_data_engineering_spark.registry import query

# IVF coarse quantizer: 8 k-means centroids, 2 Lloyd's rounds (trained by
# operators.ml — the artifact q_ann_ivf/q_ann_recall broadcast)
IVF_K = 8
IVF_ITERS = 2


def as_double(vec: str) -> str:
    """SQL text: the SQL array ``vec`` with every element cast to double."""
    return f"transform({vec}, x -> CAST(x AS DOUBLE))"


def dot(a: str, b: str) -> str:
    """SQL text: the dot product of two SQL double arrays, folded left to
    right from 0.0."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        " (acc, p) -> acc + p)"
    )


def cosine(a: str, b: str) -> str:
    return f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"


def _top(
    scored: DataFrame, k: int, key: str = "query_id", id_col: str = "vec_id"
) -> DataFrame:
    """``scored`` with its per-``key`` ``rank`` (score desc, then id), top
    ``k`` kept."""
    return scored.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY {key} ORDER BY score DESC,"
        f" {id_col} ASC) AS rank",
    ).where(f"rank <= {k}")


def sign_bucket(vec: Column, n_bits: int = 8) -> Column:
    """Deterministic sign-LSH bucket: '1'/'0' per leading dimension's sign."""
    return F.concat(
        *[
            F.when(F.element_at(vec, i + 1) >= 0, "1").otherwise("0")
            for i in range(n_bits)
        ]
    )


# ---------------------------------------------------------------------------
# Driver queries
# ---------------------------------------------------------------------------


@query(
    "q_embed_knn",
    oracle="""
    WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id, score FROM (
        SELECT e.vec_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    ORDER BY score DESC, vec_id ASC
    LIMIT 20
    """,
)
def q_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 neighbors of vector 0 — the ANN exactness
    baseline. Deterministic order: rounded score desc, then id."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.where("vec_id = 0").selectExpr(f"{as_double('embedding')} AS qv")
    return (
        e.where("vec_id != 0")
        .selectExpr("vec_id", f"{as_double('embedding')} AS ev")
        .crossJoin(F.broadcast(qv))
        .selectExpr("vec_id", f"round({cosine('ev', 'qv')}, 4) AS score")
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(20)
    )


@query(
    "q_ann_lsh",
    oracle="""
    WITH b AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END
                || CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END
                || CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END
                || CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 3),
    scored AS (
        SELECT q.query_id, b.vec_id,
               ROUND(list_cosine_similarity(b.v, q.qv), 4) AS score
        FROM b JOIN q ON b.bucket = q.bucket AND b.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, score, rank FROM (
        SELECT query_id, vec_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id ASC) AS rank
        FROM scored
    )
    WHERE rank <= 5
    """,
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN: candidates share the 4-bit sign bucket (1/16 of the
    corpus per query), then exact cosine re-rank, top-5 per query. Bucket
    width tunes the recall/cost trade: more bits = smaller candidate sets;
    at this corpus size 8 bits left buckets near-singleton (vacuous top-5),
    4 bits keeps ~n/16 real candidates per probe.

    The scale path: bucket assignment is a map-only stage; persisting the
    corpus partitioned by bucket turns each query into a partition-pruned
    scan + broadcast join."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id",
        F.expr(f"{as_double('embedding')} AS v"),
        sign_bucket(F.col("embedding"), n_bits=4).alias("bucket"),
    )
    q = b.where("vec_id < 3").selectExpr(
        "vec_id AS query_id", "v AS qv", "bucket"
    )
    scored = (
        b.join(F.broadcast(q), "bucket")
        .where("vec_id != query_id")
        .selectExpr(
            "query_id", "vec_id", f"round({cosine('v', 'qv')}, 4) AS score"
        )
    )
    return _top(scored, 5).select("query_id", "vec_id", "score", "rank")


def _ivf_cent_artifact(e: DataFrame) -> DataFrame:
    """1-row broadcastable centroid artifact: collect_list of
    struct(cent_id, cv) over the TRAINED k-means centroids (``operators.ml``
    — k=8, 2 Lloyd's rounds, md5-deterministic seeds). The model a real IVF
    index persists next to the data; at 100 TB you train it on a sample and
    load it, here it trains inline in the same plan."""
    return (
        kmeans_centroids(e, k=IVF_K, iters=IVF_ITERS)
        .selectExpr("struct(cid AS cent_id, ce AS cv) AS c")
        .agg(F.expr("collect_list(c) AS cents"))
        # 1-row artifact, EAGERLY materialized: every later broadcast that
        # references the quantizer builds from the stored row instantly
        # instead of re-deriving the whole training inside a broadcast-build
        # thread (which races spark.sql.broadcastTimeout under load)
        .localCheckpoint(eager=True)
    )


def _ivf_scored_cents(nprobe: int) -> str:
    """SQL text: the per-vector scored centroid list of ``v`` over a
    ``cents`` artifact: struct(cos, -cent_id), descending, so element 1 is
    the argmax with ties toward the LOWEST centroid id; only the probe
    depth is kept."""
    scored = (
        f"transform(cents, c -> struct(round({cosine('v', 'c.cv')}, 4) AS cos,"
        " -c.cent_id AS neg_id))"
    )
    return f"slice(reverse(array_sort({scored})), 1, {nprobe})"


def _ivf_probe_scores(b: DataFrame, cents: DataFrame) -> DataFrame:
    """(query_id, vec_id, score) of the in-plan IVF tier over ``b`` (vec_id,
    v): every vector's centroid list is scored ONCE against the broadcast
    ``cents`` artifact and stored; the assignment (top-1) and the probes of
    queries 0-2 (top-2) both read that one materialization, and each probe
    scores the vectors assigned to its centroids."""
    scored = (
        b.crossJoin(F.broadcast(cents))
        .selectExpr("vec_id", "v", f"{_ivf_scored_cents(2)} AS top2")
        .localCheckpoint(eager=True)  # the materialized assignment table —
        # at 100 TB this is a parquet write partitioned by cent_id
    )
    assigned = scored.selectExpr("vec_id", "-top2[0].neg_id AS cent_id", "v")
    probes = (
        scored.where("vec_id < 3")
        .selectExpr(
            "vec_id AS query_id", "v AS qv", "explode(top2.neg_id) AS neg_id"
        )
        .selectExpr("query_id", "qv", "-neg_id AS cent_id")
    )
    return (
        assigned.join(F.broadcast(probes), "cent_id")
        .where("vec_id != query_id")
        .selectExpr(
            "query_id", "vec_id", f"round({cosine('v', 'qv')}, 4) AS score"
        )
    )


def _ivf_oracle_ctes() -> tuple[str, str]:
    """(spliceable CTE text, final name) — trained centroids as (cent_id,
    cv), shared verbatim with q_kmeans's oracle so both engines train the
    SAME quantizer."""
    ctes, cfinal = kmeans_centroid_ctes(IVF_K, IVF_ITERS, DIM, prefix="km")
    ctes.append(
        f"cent AS (SELECT cid AS cent_id, ce AS cv FROM {cfinal})"
    )
    return ",\n    ".join(ctes), "cent"


def build_ann_index(
    embeddings: DataFrame, path: str, k: int = IVF_K, iters: int = IVF_ITERS
) -> None:
    """Materialize the IVF serving layout ``q_ann_ivf``'s docstring promises
    ("at 100 TB the persisted assignment becomes a table written partitioned
    by cent_id") — the ANN member of the serving-state trilogy
    (``search.build_search_index``, ``dedup.build_dedup_state``):

    - ``{path}/centroids``: the trained coarse quantizer (cent_id, cv) —
      ``operators.ml.kmeans_centroids``, md5-deterministic seeds, so a
      rebuild from the same corpus reproduces it exactly;
    - ``{path}/assignments``: (vec_id, v, cent_id) PARTITIONED by
      ``cent_id``, one file per inverted list — a query's probe reads
      nprobe directories, not the corpus;
    - ``{path}/stats``: 1-row layout manifest (k, iters) — serving derives
      its parameters from the stored values, never a caller guess.

    Build cost is the k-means training passes + one assignment scan, paid
    once per reindex; every query then amortizes it
    (``evidence/bench_search_serving_r06.json`` shows the same economics
    for BM25)."""
    spark = embeddings.sparkSession
    kmeans_centroids(embeddings, k=k, iters=iters).selectExpr(
        "cid AS cent_id", "ce AS cv"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = assign_to_stored_centroids(spark, path, embeddings)
    assigned.repartition("cent_id").write.partitionBy("cent_id").mode(
        "overwrite"
    ).parquet(f"{path}/assignments")
    spark.range(1).selectExpr(f"{k} AS k", f"{iters} AS iters").write.mode(
        "overwrite"
    ).parquet(f"{path}/stats")


def train_ann_quantizer(
    embeddings: DataFrame, path: str, k: int = IVF_K, iters: int = IVF_ITERS
) -> None:
    """Train and persist ONLY the coarse quantizer (centroids + the layout
    manifest), leaving the inverted lists to be populated incrementally —
    the production IVF bootstrap: train on a sample, freeze, then let
    ingestion fill the lists (``streaming.ann_refresh``). Identical
    centroid algebra to ``build_ann_index``, so an index populated by
    streamed assignments converges to the scratch-built one exactly."""
    spark = embeddings.sparkSession
    kmeans_centroids(embeddings, k=k, iters=iters).selectExpr(
        "cid AS cent_id", "ce AS cv"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.range(1).selectExpr(f"{k} AS k", f"{iters} AS iters").write.mode(
        "overwrite"
    ).parquet(f"{path}/stats")


def _centroid_literal(spark: SparkSession, index_path: str) -> Column:
    """The index's stored quantizer as one array<struct(cent_id, cv)>
    literal, typed as stored — the ``cents`` column ``_ivf_scored_cents``
    scores. One SQL string, parsed JVM-side in one py4j call (one call per
    element cost 180-240 ms for 8 x 64 doubles). Memoized on the centroids
    directory's listing (``io.listing_memo``): every (re)build rewrites
    it."""
    path = f"{index_path}/centroids"

    def build() -> Column:
        stored = spark.read.parquet(path).select("cent_id", "cv")
        # each double as its shortest round-trip repr plus D, which parses
        # back to the same bits (unsuffixed, 0.5 would parse as DECIMAL)
        cents = ", ".join(
            f"struct({r['cent_id']} AS cent_id,"
            f" array({', '.join(f'{x!r}D' for x in r['cv'])}) AS cv)"
            for r in stored.collect()
        )
        typed = ArrayType(stored.schema).simpleString()
        return F.expr(f"CAST(array({cents}) AS {typed})")

    return listing_memo(spark, path, "cents", build)


def assign_to_stored_centroids(
    spark: SparkSession, index_path: str, vecs: DataFrame
) -> DataFrame:
    """(vec_id, embedding) → (vec_id, v, cent_id) against the index's stored
    quantizer: argmax cosine, ties toward the lowest centroid id. The one
    assignment path of the IVF index — ``build_ann_index`` fills the
    inverted lists with it and ``streaming.ann_refresh`` assigns each
    micro-batch with it, so a streamed assignment equals what a full
    rebuild computes. The quantizer is the serve path's literal
    (``_centroid_literal``), memoized on the centroids listing: a build
    reads it once, and a frozen quantizer is read once per process."""
    return vecs.select(
        "vec_id",
        F.expr(f"{as_double('embedding')} AS v"),
        _centroid_literal(spark, index_path).alias("cents"),
    ).selectExpr(
        "vec_id", "v", f"-{_ivf_scored_cents(1)}[0].neg_id AS cent_id"
    )


def ann_serve(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    nprobe: int = 2,
    topk: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k FROM the materialized IVF index, never scanning the
    embedding corpus: (query_id, v) queries score the stored quantizer —
    a literal array memoized on the centroids directory's listing
    (``_centroid_literal``), same rounding/tiebreak as the build — and
    their probes join the assignments as a broadcast in one plan. The
    probes' ``cent_id >= 0`` filter is a no-op (centroid ids are
    non-negative) that marks the broadcast side selective, so Spark's
    PartitionPruning rule injects a dynamic partition filter: the
    assignments scan reads only the probed lists
    (``dynamicpruningexpression`` in its PartitionFilters, plan-asserted
    in ``test_dedup_similarity.py``), with no checkpoint and no collect
    between jobs, and exact cosine + per-query top-k runs over the pruned
    lists only. Identical output to the in-query IVF path
    (``q_ann_ivf_served`` shares ``q_ann_ivf``'s independent oracle)."""
    probes = (
        queries.select(
            "query_id", "v", _centroid_literal(spark, index_path).alias("cents")
        )
        .selectExpr(
            "query_id",
            "v AS qv",
            f"explode({_ivf_scored_cents(nprobe)}.neg_id) AS neg_id",
        )
        .selectExpr("query_id", "qv", "-neg_id AS cent_id")
    )
    assigned = read_parquet(spark, f"{index_path}/assignments")
    scored = assigned.join(
        F.broadcast(probes.where("cent_id >= 0")), "cent_id"
    )
    if exclude_self:
        scored = scored.where("vec_id != query_id")
    scored = scored.selectExpr(
        "query_id", "vec_id", f"round({cosine('v', 'qv')}, 4) AS score"
    )
    return _top(scored, topk).select("query_id", "vec_id", "score", "rank")


# Shared by q_ann_ivf (in-plan index) and q_ann_ivf_served (materialized
# index): both must reproduce this independent transcription exactly.
_IVF_ORACLE = f"""
    WITH {_ivf_oracle_ctes()[0]},
    b AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    assign AS (
        SELECT vec_id, cent_id, v FROM (
            SELECT b.vec_id, c.cent_id, b.v,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY ROUND(list_cosine_similarity(b.v, c.cv), 4) DESC,
                                c.cent_id ASC) AS rn
            FROM b CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT query_id, cent_id, qv FROM (
            SELECT b.vec_id AS query_id, c.cent_id, b.v AS qv,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY ROUND(list_cosine_similarity(b.v, c.cv), 4) DESC,
                                c.cent_id ASC) AS rn
            FROM b CROSS JOIN cent c WHERE b.vec_id < 3
        ) WHERE rn <= 2
    ),
    scored AS (
        SELECT p.query_id, a.vec_id,
               ROUND(list_cosine_similarity(a.v, p.qv), 4) AS score
        FROM assign a JOIN probe p
          ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, score, rank FROM (
        SELECT query_id, vec_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
    """


@query("q_ann_ivf", oracle=_IVF_ORACLE)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: the data-dependent alternative to sign-LSH bucketing.

    Coarse quantizer = the TRAINED k-means artifact (``operators.ml``
    ``kmeans_centroids``, k=8, 2 Lloyd's rounds — no placeholder; the
    oracle trains the same centroids via the shared CTE transcription).
    Every vector's centroid list is scored ONCE in a single map-only pass
    over the broadcast centroid array and persisted; the assignment (top-1)
    and the query probe lists (top-2) are both derived from that one
    materialization — the corpus is scanned once for the index build (the
    training rounds scan it separately, as any index build does; at scale
    you train on a sample), no shuffle anywhere before the probe join. At
    100 TB the persisted assignment becomes a table written partitioned by
    ``cent_id``, turning each probe into a partition-pruned scan."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.selectExpr("vec_id", f"{as_double('embedding')} AS v")
    # ONE corpus scan: (vec_id, v, top-2 centroid ids), stored and shared
    # by the assignment and the probe branch (previously two full scans).
    scored = _ivf_probe_scores(b, _ivf_cent_artifact(e))
    return _top(scored, 5).select("query_id", "vec_id", "score", "rank")


@query("q_ann_ivf_served", oracle=_IVF_ORACLE)
def q_ann_ivf_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVED IVF path end-to-end: train + materialize the index
    (``build_ann_index`` — cent_id-partitioned inverted lists + stored
    quantizer), then answer the SAME three-query top-5 ``q_ann_ivf``
    computes in-plan, this time from the index. The shared oracle's hash
    check proves the serving path reproduces the in-plan path's ranks
    exactly; partition pruning is plan-asserted in pytest. The timed cost
    is build+serve (the honest once-per-reindex number)."""
    import shutil
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="ann_index_")
    try:
        build_ann_index(e, path)
        queries = e.where("vec_id < 3").selectExpr(
            "vec_id AS query_id", f"{as_double('embedding')} AS v"
        )
        out = ann_serve(spark, path, queries, nprobe=2, topk=5)
        # Materialize before the index directory is removed: the returned
        # plan must not depend on the tempdir once this function exits.
        rows = out.collect()
        return spark.createDataFrame(rows, schema=out.schema)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@query(
    "q_embed_dup_pairs",
    oracle="""
    SELECT v1, v2, cos FROM (
        SELECT a.vec_id AS v1, b.vec_id AS v2,
               ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 4) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
    )
    WHERE cos >= 0.30
    """,
)
def q_embed_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the cluster/bucket
    column) so the pair join is O(block²) — the embedding analogue of
    q_dedup_jaccard's blocked verification.

    Norms are divided out per ROW before the join (one pass over n rows), so
    each of the O(block²) pairs costs a single dot product instead of three —
    the standard precompute for any pairwise-cosine stage at scale. The cast
    vector is projected once, and one fold gives its squared norm (the
    products :func:`dot` sums, in its order), whose finish divides it out:
    O(dim) per row. A norm projected on its own would be inlined back into
    the per-element lambda, since that lambda is its only reader."""
    e = load_table(spark, sf_dir, "embeddings")
    t = e.selectExpr(
        "vec_id",
        "label",
        f"{as_double('embedding')} AS v",
        "aggregate(v, 0.0D, (acc, x) -> acc + x * x,"
        " acc -> transform(v, x -> x / sqrt(acc))) AS nv",
    )
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(b, F.expr("a.label = b.label AND a.vec_id < b.vec_id"))
        .selectExpr(
            "a.vec_id AS v1",
            "b.vec_id AS v2",
            f"round({dot('a.nv', 'b.nv')}, 4) AS cos",
        )
        .where("cos >= 0.30D")
    )


@query(
    "q_embed_quantize",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, scale,
               list_transform(v, x -> round(x / scale)) AS qv, v
        FROM s WHERE scale > 0
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           CAST(list_max(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_max,
           ROUND(list_max(list_transform(
               list_zip(qv, v),
               p -> abs(p[1] * scale - p[2]))), 6) AS max_abs_err
    FROM q
    GROUP BY vec_id, scale, qv, v
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding store — the 4x
    compression every 100 TB vector corpus applies before ANN serving:
    per-vector scale = max|x| / 127, codes = round(x / scale), and the
    per-vector reconstruction error bound surfaces directly in the result
    (max_abs_err <= scale/2 by construction — the oracle recomputes it from
    the same arithmetic, so a wrong rounding mode or scale slip fails the
    hash). Map-only array lambdas, zero shuffles, no UDFs; q_max <= 127
    doubles as the code-range invariant."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.expr(as_double("embedding"))
    scale = F.aggregate(
        F.transform(v, lambda x: F.abs(x)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    ) / F.lit(127.0)
    d = e.select("vec_id", v.alias("v"), scale.alias("scale")).filter(
        F.col("scale") > 0
    )
    qv = F.transform(F.col("v"), lambda x: F.round(x / F.col("scale")))
    d = d.withColumn("qv", qv)
    # materialize raw values BEFORE aliasing a rounded column over "scale":
    # putting round(scale) and the error fold in one select lets the planner
    # resolve the fold's scale reference against the 6dp output alias,
    # silently inflating the reported error (caught by the oracle gate)
    d = d.withColumn(
        "err_raw",
        F.aggregate(
            F.zip_with(
                F.col("qv"),
                F.col("v"),
                lambda q, x: F.abs(q * F.col("scale") - x),
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ),
    ).withColumn(
        "q_max_raw",
        F.aggregate(
            F.transform(F.col("qv"), lambda q: F.abs(q)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ),
    )
    return d.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.col("q_max_raw").cast("bigint").alias("q_max"),
        F.round("err_raw", 6).alias("max_abs_err"),
    )


@query(
    "q_ann_recall",
    oracle=f"""
    WITH {_ivf_oracle_ctes()[0]},
    b AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END
                || CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END
                || CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END
                || CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 3),
    truth AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, b.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND(list_cosine_similarity(b.v, q.qv), 4)
                                DESC, b.vec_id ASC) AS rn
            FROM b CROSS JOIN q WHERE b.vec_id <> q.query_id
        ) WHERE rn <= 5
    ),
    ann_lsh AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, b.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND(list_cosine_similarity(b.v, q.qv), 4)
                                DESC, b.vec_id ASC) AS rn
            FROM b JOIN q ON b.bucket = q.bucket AND b.vec_id <> q.query_id
        ) WHERE rn <= 5
    ),
    assign AS (
        SELECT vec_id, cent_id, v FROM (
            SELECT b.vec_id, c.cent_id, b.v,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY ROUND(list_cosine_similarity(b.v, c.cv), 4) DESC,
                                c.cent_id ASC) AS rn
            FROM b CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT query_id, cent_id, qv FROM (
            SELECT b.vec_id AS query_id, c.cent_id, b.v AS qv,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY ROUND(list_cosine_similarity(b.v, c.cv), 4) DESC,
                                c.cent_id ASC) AS rn
            FROM b CROSS JOIN cent c WHERE b.vec_id < 3
        ) WHERE rn <= 2
    ),
    ann_ivf AS (
        SELECT query_id, vec_id FROM (
            SELECT p.query_id, a.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY ROUND(list_cosine_similarity(a.v, p.qv), 4)
                                DESC, a.vec_id ASC) AS rn
            FROM assign a JOIN probe p
              ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
        ) WHERE rn <= 5
    ),
    ann_all AS (
        SELECT query_id, vec_id, 'lsh' AS method FROM ann_lsh
        UNION ALL
        SELECT query_id, vec_id, 'ivf' AS method FROM ann_ivf
    ),
    m AS (SELECT DISTINCT method FROM ann_all)
    SELECT t.query_id, m.method,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
           ROUND(COUNT(a.vec_id) / 5.0, 4) AS recall
    FROM truth t CROSS JOIN m
    LEFT JOIN ann_all a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
                    AND a.method = m.method
    GROUP BY t.query_id, m.method
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of BOTH approximate tiers — sign-LSH buckets and the
    k-means-trained IVF index — against the exact brute-force top-5: the
    accuracy contract an approximate index ships with (you don't deploy an
    ANN path without measuring what it loses). One plan: the exact side via
    the broadcast brute-force kNN, the LSH side via the bucket join, the
    IVF side via the trained-quantizer probe; recall = |ANN ∩ truth| / 5
    per (query, method). At scale this runs over a sampled query panel —
    the corpus cost is one scan per side, and the truth side is the
    expensive one (which is the point: you compute it on the sample, not
    the fleet)."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id",
        F.expr(f"{as_double('embedding')} AS v"),
        sign_bucket(F.col("embedding"), n_bits=4).alias("bucket"),
    ).persist()  # every ranking pass reads it
    q = b.where("vec_id < 3").selectExpr(
        "vec_id AS query_id", "v AS qv", "bucket AS qbucket"
    )

    def top5(scored):
        return _top(scored, 5).select("query_id", "vec_id")

    score = f"round({cosine('v', 'qv')}, 4) AS score"
    truth = top5(
        b.crossJoin(F.broadcast(q))
        .where("vec_id != query_id")
        .selectExpr("query_id", "vec_id", score)
    )
    ann_lsh = top5(
        b.join(F.broadcast(q), b["bucket"] == q["qbucket"])
        .where("vec_id != query_id")
        .selectExpr("query_id", "vec_id", score)
    )
    # IVF tier: the same shared-scan path as q_ann_ivf, trained quantizer
    ann_ivf = top5(
        _ivf_probe_scores(b, _ivf_cent_artifact(e))
    )

    def recall_of(ann: DataFrame, method: str) -> DataFrame:
        hits = (
            truth.join(ann, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count("*").alias("n_hits"))
        )
        return (
            truth.select("query_id")
            .distinct()
            .join(hits, "query_id", "left")
            .select(
                "query_id",
                F.lit(method).alias("method"),
                F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
                F.round(F.coalesce("n_hits", F.lit(0)) / 5.0, 4).alias(
                    "recall"
                ),
            )
        )

    return recall_of(ann_lsh, "lsh").unionByName(recall_of(ann_ivf, "ivf"))


# ---------------------------------------------------------------------------
# Hybrid retrieval (r7): reciprocal-rank fusion of the lexical and vector legs
# ---------------------------------------------------------------------------

RRF_K = 60
HYBRID_TOPK = 20


def rrf_fuse(
    lex: DataFrame,
    vec: DataFrame,
    lex_id: str = "doc_id",
    vec_id: str = "vec_id",
    k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked candidate lists:
    rrf(d) = Σ_legs 1/(k + rank_leg(d)), absent legs contribute 0 — the
    standard score-free hybrid combiner (ranks compose across
    incommensurable scoring scales where raw-score mixing can't). Inputs
    are (id, rank) frames; output adds ``rrf`` and keeps each leg's rank
    (0 = not retrieved by that leg).

    Scale shape: both legs arrive already top-k-bounded (each leg's own
    TakeOrderedAndProject did the corpus-sized work), so the fusion join
    touches ≤ 2k rows — driver-trivial at any corpus size. The division is
    exact IEEE on identical int ranks, so fused scores are engine-portable
    at 6dp."""
    fused = lex.join(vec, lex[lex_id] == vec[vec_id], "full_outer")
    contrib_lex = F.when(
        F.col("lex_rank").isNotNull(),
        F.lit(1.0) / (F.lit(k) + F.col("lex_rank")),
    ).otherwise(0.0)
    contrib_vec = F.when(
        F.col("vec_rank").isNotNull(),
        F.lit(1.0) / (F.lit(k) + F.col("vec_rank")),
    ).otherwise(0.0)
    return fused.select(
        F.coalesce(lex[lex_id], vec[vec_id]).alias("doc_id"),
        F.coalesce("lex_rank", F.lit(0)).cast("int").alias("bm25_rank"),
        F.coalesce("vec_rank", F.lit(0)).cast("int").alias("ann_rank"),
        F.round(contrib_lex + contrib_vec, 6).alias("rrf"),
    )


@query(
    "q_hybrid_search",
    oracle=f"""
    WITH dl AS (
        SELECT doc_id,
               len(list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '')) AS dl,
               list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS tokens
        FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avg_dl FROM dl),
    tf AS (
        SELECT d.doc_id, d.dl, u.term, COUNT(*) AS tf
        FROM dl d, UNNEST(d.tokens) AS u(term)
        WHERE u.term IN ('spark', 'join', 'stream')
        GROUP BY d.doc_id, d.dl, u.term
    ),
    dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    bmtop AS (
        SELECT t.doc_id,
               ROUND(SUM(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                         * (t.tf * 2.2)
                         / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avg_dl))),
                     4) AS score
        FROM tf t JOIN dfc f ON t.term = f.term CROSS JOIN stats s
        GROUP BY t.doc_id
        ORDER BY score DESC, t.doc_id ASC
        LIMIT {HYBRID_TOPK}
    ),
    bm AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank
        FROM bmtop
    ),
    q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        WHERE vec_id = 0
    ),
    anntop AS (
        SELECT e.vec_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            q.qv), 4) AS score
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY score DESC, e.vec_id ASC
        LIMIT {HYBRID_TOPK}
    ),
    ann AS (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS vec_rank
        FROM anntop
    )
    SELECT COALESCE(bm.doc_id, ann.vec_id) AS doc_id,
           CAST(COALESCE(lex_rank, 0) AS INT) AS bm25_rank,
           CAST(COALESCE(vec_rank, 0) AS INT) AS ann_rank,
           ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + lex_rank), 0.0)
                 + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + vec_rank), 0.0),
                 6) AS rrf
    FROM bm FULL OUTER JOIN ann ON bm.doc_id = ann.vec_id
    """,
)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the RAG-serving shape: the BM25 lexical leg
    ('spark join stream', top-20) and the vector leg (cosine neighbors of
    doc 0's embedding, top-20, doc_id↔vec_id aligned by construction)
    fused by reciprocal-rank fusion (k=60). Each leg runs its own corpus
    pass with its own TakeOrderedAndProject; fusion joins two ≤20-row
    frames. Ranks inherit each leg's 4dp-score + id tie-break, so they are
    engine-stable and the fused scores hash-compare exactly."""
    from projet_data_engineering_spark.operators.search import search_topk

    d = load_table(spark, sf_dir, "documents")
    bm_top = search_topk(d, "doc_id", "text", "spark join stream", k=HYBRID_TOPK)
    wb = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    bm = bm_top.select("doc_id", F.row_number().over(wb).alias("lex_rank"))

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.where("vec_id = 0").selectExpr(f"{as_double('embedding')} AS qv")
    ann_top = (
        e.where("vec_id != 0")
        .selectExpr("vec_id", f"{as_double('embedding')} AS ev")
        .crossJoin(F.broadcast(qv))
        .selectExpr("vec_id", f"round({cosine('ev', 'qv')}, 4) AS score")
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(HYBRID_TOPK)
    )
    wa = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    ann = ann_top.select(
        "vec_id", F.row_number().over(wa).alias("vec_rank")
    )
    return rrf_fuse(bm, ann)
