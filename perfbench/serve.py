"""The ``serve`` workload: the reference app's interactive dashboard-plus-
search session, as a closed loop with one client and no think time.

Set-up builds the serving state once per repetition: a BM25 index over
the documents, an IVF index over the embeddings and a documents table
with three versions. Each round then sends the seven request types in a
seeded, shuffled order, so a slow host phase hits every type alike. Every
answer is kept and checked against an oracle after the timed loop.
"""

from __future__ import annotations

import os
import random
import string

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench.measure import dir_bytes
from projet_data_engineering_spark.io import load_table, spread
from projet_data_engineering_spark.operators.relational import (
    q_join_multi,
    q_tpch_q1,
)
from projet_data_engineering_spark.operators.sampling import (
    q_percentile_sampled,
)
from projet_data_engineering_spark.operators.search import (
    bm25_scores_fuzzy,
    bm25_serve,
    bm25_serve_fuzzy,
    build_search_index,
    search_topk,
)
from projet_data_engineering_spark.operators.similarity import (
    _ivf_oracle_ctes,
    ann_serve,
    build_ann_index,
)
from projet_data_engineering_spark.operators.versioned import (
    read_version,
    versioned_delete,
    versioned_upsert,
)
from tools.gen_sf import VOCAB

SF = 0.01
TOP_K = 10
POOL = 2  # distinct seeded queries per parametrised request type

# request type -> layer name (module.function) of the call it times
LAYERS = {
    "kpi": "relational.q_tpch_q1",
    "join": "relational.q_join_multi",
    "pct": "sampling.q_percentile_sampled",
    "search": "search.bm25_serve",
    "fuzzy": "search.bm25_serve_fuzzy",
    "ann": "similarity.ann_serve",
    "asof": "versioned.read_version",
}
ORACLE_QUERIES = {"kpi": "q_tpch_q1", "join": "q_join_multi",
                  "pct": "q_percentile_sampled"}


def _typo(word: str, rng: random.Random) -> str:
    """One edit: substitute or delete one letter."""
    i = rng.randrange(len(word))
    if rng.random() < 0.5 and len(word) > 3:
        return word[:i] + word[i + 1:]
    sub = rng.choice([c for c in string.ascii_lowercase if c != word[i]])
    return word[:i] + sub + word[i + 1:]


def _top(df, id_col: str):
    return [
        tuple(r)
        for r in df.orderBy(F.desc("score"), F.asc(id_col)).limit(TOP_K)
        .collect()
    ]


class Serve:
    SF = SF
    LAYERS = LAYERS
    ROUND = tuple(LAYERS)  # every round
    ONCE = ()
    # set-up (~22 s cold) and the warm-up round (~11 s) are this
    # workload's largest costs; one set-up and one timed round are what
    # fits the run budget
    MIN_ROUNDS = 1
    SETUP_REPS = 1

    def __init__(self, spark, seed: int, timer):
        self.spark = spark
        self.timer = timer  # timer(layer) -> context manager for set-up calls
        rng = random.Random(seed)
        self.pools = {
            "search": [
                rng.sample(VOCAB, rng.randint(1, 4)) for _ in range(POOL)
            ],
            "fuzzy": [
                [_typo(w, rng) for w in rng.sample(
                    [v for v in VOCAB if len(v) >= 4], rng.randint(1, 3))]
                for _ in range(POOL)
            ],
            "asof": [1, 2, 3],
        }
        self.rng = rng

    # ---- set-up -------------------------------------------------------
    def setup(self, data_dir: str, state_dir: str) -> None:
        spark = self.spark
        with self.timer("io.load_table"):
            docs = spread(load_table(spark, data_dir, "documents"), "doc_id")
            emb = load_table(spark, data_dir, "embeddings")
        with self.timer("search.build_search_index"):
            build_search_index(docs, "doc_id", "text", f"{state_dir}/bm25")
        with self.timer("similarity.build_ann_index"):
            build_ann_index(emb, f"{state_dir}/ann")
        table = f"{state_dir}/docs"
        d = docs.select("doc_id", "lang", "n_chars")
        with self.timer("versioned.versioned_upsert"):
            versioned_upsert(d.filter(F.col("doc_id") % 4 == 0), table,
                             "doc_id", assert_unique=False)
            versioned_upsert(
                d.filter(F.col("doc_id") % 8 == 0).withColumn(
                    "n_chars", F.col("n_chars") + F.lit(1)),
                table, "doc_id", assert_unique=False)
        with self.timer("versioned.versioned_delete"):
            versioned_delete(d.filter(F.col("doc_id") % 16 == 0)
                             .select("doc_id"), table, "doc_id")
        self.data_dir, self.state_dir = data_dir, state_dir
        self.n_docs = pq.read_metadata(f"{data_dir}/documents.parquet").num_rows
        vecs = pq.read_table(f"{data_dir}/embeddings.parquet",
                             columns=["vec_id", "embedding"]).to_pylist()
        # each ANN request asks for the neighbours of 3 corpus vectors
        self.pools["ann"] = [
            [(r["vec_id"], [float(x) for x in r["embedding"]])
             for r in self.rng.sample(vecs, 3)]
            for _ in range(POOL)
        ]

    def stored_bytes_per_input_byte(self) -> float:
        inputs = sum(os.path.getsize(f"{self.data_dir}/{t}.parquet")
                     for t in ("documents", "embeddings"))
        return dir_bytes(self.state_dir) / inputs

    # ---- requests -----------------------------------------------------
    def request(self, kind: str, key):
        spark, data, state = self.spark, self.data_dir, self.state_dir
        arg = self._arg(kind, key)
        if kind == "kpi":
            return [tuple(r) for r in q_tpch_q1(spark, data).collect()]
        if kind == "join":
            return [tuple(r) for r in q_join_multi(spark, data).collect()]
        if kind == "pct":
            return [tuple(r)
                    for r in q_percentile_sampled(spark, data).collect()]
        if kind == "search":
            return _top(bm25_serve(spark, f"{state}/bm25", arg), "doc_id")
        if kind == "fuzzy":
            return _top(bm25_serve_fuzzy(spark, f"{state}/bm25", arg),
                        "doc_id")
        if kind == "ann":
            queries = spark.createDataFrame(arg, "query_id long, v array<double>")
            return [tuple(r) for r in
                    ann_serve(spark, f"{state}/ann", queries).collect()]
        if kind == "asof":
            return [tuple(r) for r in
                    read_version(spark, f"{state}/docs", "doc_id", arg)
                    .collect()]
        raise ValueError(kind)

    def round_plan(self) -> list[tuple[str, object]]:
        """The seeded, shuffled request order of the next round."""
        kinds = list(self.ROUND)
        self.rng.shuffle(kinds)
        plan = []
        for kind in kinds:
            pool = self.pools.get(kind)
            plan.append((kind, None if pool is None else
                         self.rng.randrange(len(pool))))
        return plan

    def _arg(self, kind: str, key):
        return None if key is None else self.pools[kind][key]

    # ---- output checks ------------------------------------------------
    def expected(self, keys: set) -> dict:
        """Oracle answer for each (request type, pool key) in ``keys``."""
        # imported here so the oracle engine stays out of peak_rss_mb
        from projet_data_engineering_spark import registry
        from tools.check import make_duckdb

        spark, data = self.spark, self.data_dir
        docs = spread(load_table(spark, data, "documents"), "doc_id")
        con = make_duckdb(data)
        oracles = registry.all_oracles()
        want: dict = {}
        try:
            for kind, key in keys:
                arg = self._arg(kind, key)
                if kind in ORACLE_QUERIES:
                    sql = oracles[ORACLE_QUERIES[kind]]
                    want[kind, key] = ("table", con.execute(sql).fetchdf())
                elif kind == "search":
                    want[kind, key] = ("rows", [tuple(r) for r in search_topk(
                        docs, "doc_id", "text", " ".join(arg), TOP_K
                    ).collect()])
                elif kind == "fuzzy":
                    want[kind, key] = ("rows", _top(
                        bm25_scores_fuzzy(docs, "doc_id", "text", arg),
                        "doc_id"))
                elif kind == "ann":
                    ids = ", ".join(str(vec_id) for vec_id, _v in arg)
                    sql = _ANN_SQL.format(ctes=_ivf_oracle_ctes()[0], ids=ids)
                    want[kind, key] = ("table", con.execute(sql).fetchdf())
                elif kind == "asof":
                    sql = _ASOF_SQL.format(data=data, version=arg)
                    want[kind, key] = ("rows", con.execute(sql).fetchall())
        finally:
            con.close()
        return want


# The three commits of set-up, replayed relationally: v1 upserts doc_id % 4
# = 0, v2 bumps n_chars of doc_id % 8 = 0, v3 deletes doc_id % 16 = 0.
_ASOF_SQL = """
    SELECT doc_id, lang,
           CASE WHEN {version} >= 2 AND doc_id % 8 = 0
                THEN n_chars + 1 ELSE n_chars END AS n_chars
    FROM '{data}/documents.parquet'
    WHERE doc_id % 4 = 0 AND NOT ({version} >= 3 AND doc_id % 16 = 0)
"""

# ann_serve's defaults (nprobe 2, top 5, the query itself excluded) over the
# IVF index build_ann_index trains, transcribed in DuckDB from the same
# k-means centroid CTEs the registry's IVF oracle uses; the queries are the
# corpus vectors with the given ids.
_ANN_SQL = """
    WITH {ctes},
    b AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ranked AS (
        SELECT b.vec_id, c.cent_id, b.v,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY ROUND(list_cosine_similarity(b.v, c.cv), 4) DESC,
                            c.cent_id ASC) AS rn
        FROM b CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, cent_id, v FROM ranked WHERE rn = 1),
    probe AS (
        SELECT vec_id AS query_id, cent_id, v AS qv FROM ranked
        WHERE rn <= 2 AND vec_id IN ({ids})
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
