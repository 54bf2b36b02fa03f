"""Full-text search as DataFrame algebra (SURVEY.md §2.8, T1–T8).

The reference delegates search to Elasticsearch (``app/main.py:88-154``):
multi_match fuzzy queries, per-ingredient bool/should clauses with
``minimum_should_match: 1``, BM25 scoring, top-500. Spark gives none of that
for free; this module re-derives it:

- analysis:    ``tokenize`` = lower + split on non-alphanumerics + drop empties
               (the client-side tokenizer at ``app/main.py:107,111`` and ES's
               standard analyzer, approximated);
- fuzzy match: ``levenshtein() <= fuzz(len)`` with ES AUTO fuzziness
               (0 for len<=2, 1 for len 3-5, 2 for len>=6);
- bool/should: per-clause match columns + ``sum(int(match_i)) >= min_should``;
- scoring:     BM25 (k1=1.2, b=0.75) computed with explode + groupBy doc-freq
               aggregation — pure DataFrame ops, no UDF;
- top-k:       ``orderBy(desc(score)).limit(k)`` → TakeOrderedAndProject.

Scale: the scan form below is O(docs) per query — right for one-off queries
over parquet. For repeated queries at 100 TB, ``build_posting_lists`` (T7)
materializes ``(term, doc_id, tf)`` partitioned+bucketed by term, turning each
search into a broadcast join of the (tiny) query-term table against a
term-pruned scan instead of a full-corpus pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from projet_data_engineering_spark.io import (
    atomic_overwrite,
    listing_memo,
    literal_frame,
    load_table,
    path_listing,
    read_parquet,
    spread,
)
from projet_data_engineering_spark.registry import query

TOKEN_PATTERN = "[^a-z0-9]+"


def tokenize(col: Column) -> Column:
    """Analyzer: lower → split on non-alphanumerics → drop empty tokens
    (reference ``app/main.py:107,111``)."""
    return F.array_remove(F.split(F.lower(col), TOKEN_PATTERN), "")


def auto_fuzziness(term: str) -> int:
    """ES ``fuzziness: AUTO`` (reference ``app/main.py:94``): edit distance by
    term length — 0 for len<=2, 1 for 3-5, 2 for >=6."""
    n = len(term)
    return 0 if n <= 2 else (1 if n <= 5 else 2)


def fuzzy_term_match(tokens: Column, term: str) -> Column:
    """T2 — does any token fuzzy-match ``term``? exists() keeps it JVM-side."""
    fuzz = auto_fuzziness(term)
    if fuzz == 0:
        return F.array_contains(tokens, term)
    return F.exists(tokens, lambda t: F.levenshtein(t, F.lit(term)) <= fuzz)


def contains_match(text: Column, term: str) -> Column:
    """T3 — case-insensitive wildcard ``*term*`` (reference
    ``app/main.py:128-136`` — catches glued tokens like '1oeuf')."""
    return F.lower(text).contains(term.lower())


def clause_match(text: Column, tokens: Column, clause: str) -> Column:
    """T4 — one bool.should clause: (all terms fuzzy-AND-match) OR wildcard
    (reference ``app/main.py:115-139``)."""
    terms = [t for t in clause.lower().split() if t]
    fuzzy_and = None
    for t in terms:
        m = fuzzy_term_match(tokens, t)
        fuzzy_and = m if fuzzy_and is None else (fuzzy_and & m)
    if fuzzy_and is None:
        fuzzy_and = F.lit(False)
    return fuzzy_and | contains_match(text, clause.strip())


def should_search(
    docs: DataFrame,
    text_col: str,
    clauses: list[str],
    min_should_match: int = 1,
) -> DataFrame:
    """T5 — bool.should with minimum_should_match (reference
    ``app/main.py:142-154``). Adds ``matched_clauses``; keeps qualifying docs.
    One narrow map stage — no shuffle."""
    toks = tokenize(F.col(text_col))
    matches = [clause_match(F.col(text_col), toks, c) for c in clauses]
    n_matched = None
    for m in matches:
        x = F.when(m, 1).otherwise(0)
        n_matched = x if n_matched is None else (n_matched + x)
    return docs.withColumn("matched_clauses", n_matched).filter(
        F.col("matched_clauses") >= min_should_match
    )


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """T1 — BM25 scoring as a DataFrame aggregation.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); score(d) = sum_t idf *
    tf*(k1+1) / (tf + k1*(1 - b + b*len/avglen)). Doc frequencies come from an
    explode+groupBy over the (tiny) query-term-filtered token stream, then a
    broadcast join back — corpus stats shuffle only |terms| rows.

    The tokenized corpus is deliberately NOT cached: the two consumers
    (corpus stats, tf) each prune to the columns they need, and a cached
    token stream would (a) not fit executor storage at 100 TB and (b) leak
    for the session's lifetime unless every caller remembered to unpersist.
    Repeated-query workloads should use ``build_posting_lists`` instead of
    re-scoring from the raw corpus.
    """
    toks = docs.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("tokens")
    ).withColumn("dl", F.size("tokens"))

    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avg_dl")
    )

    terms = [t.lower() for t in query_terms]
    tf = (
        toks.select(id_col, "dl", F.explode("tokens").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))

    scored = (
        tf.join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avg_dl"))
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("term_score"), 4).alias("score"))
    )
    return scored


def search_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_string: str,
    k: int = 500,
) -> DataFrame:
    """T1+W1 — end-to-end classic search (reference ``app/main.py:84-97``):
    analyze query → BM25 → deterministic top-k."""
    terms = [t for t in query_string.lower().split() if t]
    scored = bm25_scores(docs, id_col, text_col, terms)
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def bm25_best_fields(
    docs: DataFrame,
    id_col: str,
    text_cols: list[str],
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """T1 multi-field — ES ``multi_match`` with ``best_fields`` semantics
    (reference ``app/main.py:88-97``: one query against
    ``["name", "ingredients_text", "steps_text"]``, doc score = max over
    per-field scores, i.e. a dis_max).

    Each field is scored as its own BM25 corpus (own df, own avg field
    length — exactly how per-field postings work in ES), then the per-field
    score columns meet in a full-outer join on the doc id and combine with
    ``greatest(coalesce(score_f, 0)...)``. N fields = N passes over the
    (column-pruned) corpus — the same work ES does per-field — and the join
    carries only docs that matched at least one field."""
    scored = None
    for c in text_cols:
        s = bm25_scores(docs, id_col, c, query_terms, k1, b).withColumnRenamed(
            "score", f"score_{c}"
        )
        scored = s if scored is None else scored.join(s, id_col, "full_outer")
    best = F.greatest(
        *[F.coalesce(F.col(f"score_{c}"), F.lit(0.0)) for c in text_cols]
    )
    return scored.select(id_col, F.round(best, 4).alias("score"))


def bm25_scores_fuzzy(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """T1+T2 — BM25 with ES ``fuzziness: AUTO`` term expansion (reference
    ``app/main.py:94``): a corpus token matches a query term when its edit
    distance is within the term's AUTO budget, so a typo'd query still
    scores.

    All fuzzy variants of a query term count as THAT term: tf sums variant
    occurrences, df counts docs containing any variant. The expansion runs
    on the DISTINCT VOCABULARY, not the token stream: the corpus dictionary
    (|V| terms — map-side-combined distinct, orders of magnitude smaller
    than token instances on a natural-language corpus) theta-joins the
    (tiny, broadcast) query-term table with a length-band prefilter
    |len(tok) - len(term)| <= fuzz (an edit of distance d changes length
    by at most d) before JVM ``levenshtein``; the resulting term->qterm
    map (a handful of rows) then broadcast-HASH-joins back onto the
    exploded stream. Levenshtein therefore runs |V|x|q| times instead of
    |instances|x|q| — the per-instance work in the corpus scan is one hash
    probe. No UDFs anywhere."""
    spark = docs.sparkSession
    toks = docs.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("tokens")
    ).withColumn("dl", F.size("tokens"))

    stats = toks.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avg_dl"))

    qt = literal_frame(
        spark,
        [(t.lower(), auto_fuzziness(t)) for t in query_terms],
        ["qterm", "fuzz"],
    )
    exploded = toks.select(id_col, "dl", F.explode("tokens").alias("term"))
    vmatch = (
        exploded.select("term")
        .distinct()
        .join(
            F.broadcast(qt),
            (
                F.abs(F.length("term") - F.length("qterm")) <= F.col("fuzz")
            )
            & (F.levenshtein(F.col("term"), F.col("qterm")) <= F.col("fuzz")),
        )
        .select("term", "qterm")
    )
    matched = exploded.join(F.broadcast(vmatch), "term")
    tf = matched.groupBy(id_col, "dl", "qterm").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("qterm").agg(F.countDistinct(id_col).alias("df"))

    return (
        tf.join(F.broadcast(df_counts), "qterm")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avg_dl"))),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("term_score"), 4).alias("score"))
    )


def build_posting_lists(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """T7 — materialized inverted index ``(term, doc_id, tf)``.

    The 100-TB path: persist partitioned/bucketed by ``term`` so a search
    becomes (query terms ⋈ postings) — a broadcast join touching only matching
    buckets — instead of a full-corpus scan. Rebuilt by the pipeline exactly
    like ES re-indexing (reference ``scraper/main.py:271-277``)."""
    return (
        docs.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("term"))
        .groupBy("term", id_col)
        .agg(F.count("*").alias("tf"))
    )


# ---------------------------------------------------------------------------
# Driver queries
# ---------------------------------------------------------------------------


@query(
    "q_search_boolean",
    oracle="""
    SELECT doc_id, matched_clauses
    FROM (
        SELECT doc_id,
               (CASE WHEN contains(lower(text), 'spark')
                      AND contains(lower(text), 'join') THEN 1 ELSE 0 END
                + CASE WHEN contains(lower(text), 'stream') THEN 1 ELSE 0 END
                + CASE WHEN contains(lower(text), 'vector') THEN 1 ELSE 0 END
               ) AS matched_clauses
        FROM documents
    )
    WHERE matched_clauses >= 1
    """,
)
def q_search_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/T5 boolean subset — which docs qualify, and with how many clauses
    (fridge-mode search, reference ``app/main.py:101-154``). Wildcard-contains
    semantics so the oracle is exact."""
    d = load_table(spark, sf_dir, "documents")
    lo = F.lower("text")
    clauses = [
        lo.contains("spark") & lo.contains("join"),
        lo.contains("stream"),
        lo.contains("vector"),
    ]
    n = None
    for c in clauses:
        x = F.when(c, 1).otherwise(0)
        n = x if n is None else n + x
    return (
        d.withColumn("matched_clauses", n)
        .filter(F.col("matched_clauses") >= 1)
        .select("doc_id", "matched_clauses")
    )


@query(
    "q_term_join",
    oracle="""
    WITH terms AS (
        SELECT * FROM (VALUES ('spark'), ('join'), ('stream'), ('vector')) t(term)
    ),
    doc_terms AS (
        SELECT DISTINCT d.doc_id, u.term
        FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents) d,
             UNNEST(d.toks) AS u(term)
    )
    SELECT dt.doc_id, COUNT(*) AS n_terms
    FROM doc_terms dt JOIN terms t ON dt.term = t.term
    GROUP BY dt.doc_id
    """,
)
def q_term_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/T7 — search terms ⋈ documents via exploded tokens (the reference's
    ES postings intersection, ``app/main.py:115-154``). The term table is tiny
    → broadcast hash join; the explode never leaves its stage."""
    d = load_table(spark, sf_dir, "documents")
    terms = literal_frame(
        spark, [("spark",), ("join",), ("stream",), ("vector",)], ["term"]
    )
    # broadcast-join BEFORE distinct: the dedup shuffle then carries only
    # query-term matches instead of every (doc, token) pair in the corpus
    return (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .join(F.broadcast(terms), "term")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_terms"))
    )


@query(
    "q_search_fuzzy",
    oracle="""
    SELECT d.doc_id, MIN(levenshtein(u.term, 'strem')) AS best_dist
    FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents) d,
         UNNEST(d.toks) AS u(term)
    GROUP BY d.doc_id
    HAVING MIN(levenshtein(u.term, 'strem')) <= 1
    """,
)
def q_search_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — fuzzy term match, ES AUTO fuzziness (edit distance 1 for the
    5-letter typo 'strem' ~ 'stream'). Oracled exactly via levenshtein on
    both engines; returns each doc's best edit distance."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        # length pre-filter: dist<=1 vs a 5-char term needs len in [4,6], so
        # dropping other tokens changes nothing for docs that survive the
        # final best_dist<=1 cut — but keeps them out of the groupBy shuffle
        # (the standard length-bound for edit-distance joins)
        .filter(F.length("term").between(4, 6))
        .groupBy("doc_id")
        .agg(F.min(F.levenshtein("term", F.lit("strem"))).alias("best_dist"))
        .filter(F.col("best_dist") <= 1)
    )


@query(
    "q_bm25_topk",
    oracle="""
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
    dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term)
    SELECT t.doc_id,
           ROUND(SUM(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                     * (t.tf * 2.2)
                     / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avg_dl))),
                 4) AS score
    FROM tf t JOIN dfc f ON t.term = f.term CROSS JOIN stats s
    GROUP BY t.doc_id
    ORDER BY score DESC, t.doc_id ASC
    LIMIT 50
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/W1 — full BM25 classic search, top-50 for 'spark join stream'.

    Score parity with Elasticsearch is a non-goal (SURVEY.md §7 — ES scores
    are engine-specific), but OUR BM25 is deterministic DataFrame math
    (k1=1.2, b=0.75, ln idf), so the oracle recomputes the identical formula
    in SQL and the driver hash-checks scores and the top-k cut exactly;
    pytest additionally property-tests monotonicity (SURVEY.md §5.2.3)."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return search_topk(d, "doc_id", "text", "spark join stream", k=50)


@query(
    "q_search_fridge",
    oracle="""
    WITH t AS (
        SELECT doc_id, lower(text) AS lo,
               list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS toks
        FROM documents
    )
    SELECT doc_id, matched_clauses FROM (
        SELECT doc_id,
               ((CASE WHEN (len(list_filter(toks,
                                x -> levenshtein(x, 'spark') <= 1)) > 0
                        AND len(list_filter(toks,
                                x -> levenshtein(x, 'join') <= 1)) > 0)
                        OR contains(lo, 'spark join') THEN 1 ELSE 0 END)
                + (CASE WHEN len(list_filter(toks,
                                x -> levenshtein(x, 'strem') <= 1)) > 0
                        OR contains(lo, 'strem') THEN 1 ELSE 0 END)
                + (CASE WHEN len(list_filter(toks,
                                x -> levenshtein(x, 'vector') <= 2)) > 0
                        OR contains(lo, 'vector') THEN 1 ELSE 0 END)
               ) AS matched_clauses
        FROM t
    ) WHERE matched_clauses >= 1
    """,
)
def q_search_fridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/T5 end-to-end through ``should_search``/``clause_match``/
    ``fuzzy_term_match`` — the reference's fridge mode (``app/main.py:
    101-154``): per-clause (all-terms-fuzzy-AND OR wildcard-contains),
    minimum_should_match=1. Clauses exercise every branch: a two-term
    fuzzy-AND ('spark join'), a typo at AUTO fuzziness 1 ('strem'), and a
    fuzziness-2 term ('vector'). One narrow map stage over the scan — the
    N-clause query costs the same single corpus pass as one clause."""
    d = load_table(spark, sf_dir, "documents")
    result = should_search(d, "text", ["spark join", "strem", "vector"])
    return result.select("doc_id", "matched_clauses")


@query(
    "q_bm25_multifield",
    oracle="""
    WITH tdl AS (
        SELECT doc_id,
               list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS tokens
        FROM documents
    ),
    tdl2 AS (SELECT doc_id, len(tokens) AS dl, tokens FROM tdl),
    tstats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avg_dl FROM tdl2),
    ttf AS (
        SELECT d.doc_id, d.dl, u.term, COUNT(*) AS tf
        FROM tdl2 d, UNNEST(d.tokens) AS u(term)
        WHERE u.term IN ('spark', 'join', 'src5')
        GROUP BY d.doc_id, d.dl, u.term
    ),
    tdfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM ttf GROUP BY term),
    tscore AS (
        SELECT t.doc_id,
               ROUND(SUM(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                         * (t.tf * 2.2)
                         / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avg_dl))),
                     4) AS score_text
        FROM ttf t JOIN tdfc f ON t.term = f.term CROSS JOIN tstats s
        GROUP BY t.doc_id
    ),
    sdl AS (
        SELECT doc_id,
               list_filter(str_split_regex(lower(source), '[^a-z0-9]+'),
                           x -> x <> '') AS tokens
        FROM documents
    ),
    sdl2 AS (SELECT doc_id, len(tokens) AS dl, tokens FROM sdl),
    sstats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avg_dl FROM sdl2),
    stf AS (
        SELECT d.doc_id, d.dl, u.term, COUNT(*) AS tf
        FROM sdl2 d, UNNEST(d.tokens) AS u(term)
        WHERE u.term IN ('spark', 'join', 'src5')
        GROUP BY d.doc_id, d.dl, u.term
    ),
    sdfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM stf GROUP BY term),
    sscore AS (
        SELECT t.doc_id,
               ROUND(SUM(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                         * (t.tf * 2.2)
                         / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avg_dl))),
                     4) AS score_source
        FROM stf t JOIN sdfc f ON t.term = f.term CROSS JOIN sstats s
        GROUP BY t.doc_id
    )
    SELECT COALESCE(t.doc_id, s.doc_id) AS doc_id,
           ROUND(GREATEST(COALESCE(t.score_text, 0),
                          COALESCE(s.score_source, 0)), 4) AS score
    FROM tscore t FULL OUTER JOIN sscore s ON t.doc_id = s.doc_id
    """,
)
def q_bm25_multifield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — multi-field ``best_fields`` search (reference ``app/main.py:
    88-97``: one query over name/ingredients_text/steps_text, per-field max).
    Here the fields are ``text`` (long body) and ``source`` (short keyword
    field): 'spark join' scores via text, 'src5' via source, and each doc's
    score is the per-field max — the dis_max shape. Oracle reproduces both
    per-field BM25 corpora and the greatest() exactly."""
    d = load_table(spark, sf_dir, "documents")
    return bm25_best_fields(d, "doc_id", ["text", "source"], ["spark", "join", "src5"])


@query(
    "q_bm25_fuzzy",
    oracle="""
    WITH dl AS (
        SELECT doc_id,
               len(list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '')) AS dl,
               list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS tokens
        FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avg_dl FROM dl),
    q(qterm, fuzz) AS (
        SELECT * FROM (VALUES ('strem', 1), ('join', 1), ('vectr', 1))
    ),
    m AS (
        SELECT d.doc_id, d.dl, q.qterm, COUNT(*) AS tf
        FROM dl d, UNNEST(d.tokens) AS u(term), q
        WHERE abs(len(u.term) - len(q.qterm)) <= q.fuzz
          AND levenshtein(u.term, q.qterm) <= q.fuzz
        GROUP BY d.doc_id, d.dl, q.qterm
    ),
    dfc AS (SELECT qterm, COUNT(DISTINCT doc_id) AS df FROM m GROUP BY qterm)
    SELECT m.doc_id,
           ROUND(SUM(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                     * (m.tf * 2.2)
                     / (m.tf + 1.2 * (1 - 0.75 + 0.75 * m.dl / s.avg_dl))),
                 4) AS score
    FROM m JOIN dfc f ON m.qterm = f.qterm CROSS JOIN stats s
    GROUP BY m.doc_id
    """,
)
def q_bm25_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2 — BM25 with AUTO-fuzziness expansion: the query 'strem join
    vectr' carries two typos ('stream', 'vector') yet scores the same match
    set the reference's ``multi_match fuzziness: AUTO`` would reach
    (``app/main.py:94``). Oracle recomputes the expansion with DuckDB
    levenshtein and the identical BM25 formula."""
    d = load_table(spark, sf_dir, "documents")
    return bm25_scores_fuzzy(d, "doc_id", "text", ["strem", "join", "vectr"])


@query(
    "q_posting_lists",
    oracle="""
    SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
    FROM (
        SELECT d.doc_id, u.term, COUNT(*) AS tf
        FROM (SELECT doc_id,
                     list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                                 x -> x <> '') AS toks
              FROM documents) d,
             UNNEST(d.toks) AS u(term)
        WHERE u.term IN ('spark', 'join', 'stream', 'vector')
        GROUP BY d.doc_id, u.term
    )
    GROUP BY term
    """,
)
def q_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 — the materialized-inverted-index build (term-pruned here to keep
    the oracle small): per-term document frequency and corpus tf straight off
    ``build_posting_lists``. At 100 TB the unpruned output is written once,
    partitioned/bucketed by term, and every subsequent search joins against
    it instead of re-scanning the corpus (the ES re-index analogue,
    reference ``scraper/main.py:271-277``)."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    postings = build_posting_lists(d, "doc_id", "text")
    return (
        postings.filter(F.col("term").isin("spark", "join", "stream", "vector"))
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("total_tf"))
    )


# ---------------------------------------------------------------------------
# T7 serving path: materialized BM25 index + index-served search
# ---------------------------------------------------------------------------

# On-disk index layout version, stamped into the stats manifest (ADVICE
# r9). v2 = r9's layout: vocab carries term_len (length-banded fuzzy
# serve), no SymSpell fuzzy artifact. v3 = the build also stores
# docstats, the per-document lengths the stats fold. A v1 index merged or
# fuzzy-served under current code would null-fill term_len and silently
# drop old terms from the banded BETWEEN filter; a v2 index has no
# docstats, so a refresh would fold stats over its own batch alone —
# reject both instead.
BM25_LAYOUT_VERSION = 3


def _check_index_layout(stats: dict | None, index_path: str, ctx: str) -> None:
    """Raise unless the stats manifest (its row as ``_index_stats``
    returns it) carries the current layout stamp.

    An EMPTY stats manifest (``None``: a crash between the index dirs
    landing and the stats rows committing) must surface the rebuild
    diagnostic below, not a raw TypeError (r11 advice)."""
    v = (stats or {}).get("layout_version")
    v = 1 if v is None else int(v)
    if v != BM25_LAYOUT_VERSION:
        raise ValueError(
            f"{ctx}: index at {index_path} has layout_version={v}, this "
            f"build reads/writes layout_version={BM25_LAYOUT_VERSION} — "
            f"rebuild it with build_search_index (a v1 vocab lacks "
            f"term_len, a v2 index lacks docstats)"
        )


def _stored_buckets(
    stats: dict, n_buckets: int | None, index_path: str, ctx: str
) -> int:
    """The manifest's bucket count. A caller's ``n_buckets`` is only an
    assertion: a mismatched count would prune (serve) or write (refresh)
    postings in other ``term_bucket`` directories than the stored ones."""
    stored = int(stats["n_buckets"])
    if n_buckets is not None and n_buckets != stored:
        raise ValueError(
            f"{ctx}: caller asserted n_buckets={n_buckets} but the index "
            f"at {index_path} was built with n_buckets={stored}"
        )
    return stored


def _index_stats(spark: SparkSession, index_path: str) -> dict | None:
    """The index's 1-row stats manifest as a dict (None when empty),
    memoized on the manifest directory's listing — every build and
    refresh rewrites it, so a changed index is re-read."""
    path = f"{index_path}/stats"

    def read() -> dict | None:
        row = spark.read.parquet(path).first()
        return None if row is None else row.asDict()

    return listing_memo(spark, path, "row", read)


def _index_rows(
    docs: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> tuple[DataFrame, DataFrame]:
    """The index rows of ``docs`` from one tokenize: ``(id, dl)`` docstats,
    one per document (an all-punctuation document has ``dl`` 0 and no
    posting), and ``(term, id, dl, tf, term_bucket, _pk)`` postings."""
    toks = docs.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("tokens")
    ).withColumn("dl", F.size("tokens"))
    postings = (
        toks.select(id_col, "dl", F.explode("tokens").alias("term"))
        .groupBy("term", id_col, "dl")
        .agg(F.count("*").alias("tf"))
        .withColumn("term_bucket", F.crc32(F.col("term")) % n_buckets)
        .withColumn(
            "_pk",
            F.concat_ws("|", F.col("term"), F.col(id_col).cast("string")),
        )
    )
    return toks.select(id_col, "dl"), postings


def _vocab(postings: DataFrame) -> DataFrame:
    """The distinct terms of ``postings``: ``(term, term_bucket, term_len,
    _pk)``, keyed on the term itself."""
    return (
        postings.select("term", "term_bucket")
        .distinct()
        .withColumn("term_len", F.length("term"))
        .withColumn("_pk", F.col("term"))
    )


def _write_stats(
    spark: SparkSession, index_path: str, n_buckets: int, docstats: StructType
) -> None:
    """Fold the STORED ``{index_path}/docstats`` into the 1-row stats
    manifest: n_docs and avg_dl for BM25, plus ``n_buckets`` and the
    layout stamp. Derived from idempotent state, so a replayed refresh
    never double-counts a document. Every writer calls this LAST, through
    ``io.atomic_overwrite``: every serve path reads this row before any
    other artifact, so its presence is the index's commit marker.
    ``docstats`` is the schema of the frame the caller just stored there:
    the read takes it instead of inferring it with a job of its own."""
    atomic_overwrite(
        spark.read.schema(docstats).parquet(f"{index_path}/docstats").agg(
            F.count("*").alias("n_docs"),
            F.avg("dl").alias("avg_dl"),
            F.lit(n_buckets).alias("n_buckets"),
            F.lit(BM25_LAYOUT_VERSION).alias("layout_version"),
        ),
        f"{index_path}/stats",
    )


def _bm25_score(
    hits: DataFrame,
    id_col: str,
    key: str,
    stats: dict,
    k1: float,
    b: float,
) -> DataFrame:
    """BM25 over index hits holding one row per (doc, ``key``) with its
    ``tf`` and ``dl``, so a term's df is a plain row count. The corpus
    stats enter as literals. Doc frequencies are broadcast; the only
    non-trivial shuffle is the per-doc score sum over hit rows."""
    dfc = hits.groupBy(key).agg(F.count("*").alias("df"))
    df = F.col("df")
    tf = F.col("tf")
    return (
        hits.join(F.broadcast(dfc), key)
        .withColumn(
            "idf", F.log(1.0 + (F.lit(stats["n_docs"]) - df + 0.5) / (df + 0.5))
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (tf * (k1 + 1))
            / (tf + k1 * (1 - b + b * F.col("dl") / F.lit(stats["avg_dl"]))),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("term_score"), 4).alias("score"))
    )


def build_search_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    n_buckets: int = 64,
) -> None:
    """T7 — write the full BM25 serving layout to ``path``: the ES
    re-index analogue (reference ``scraper/main.py:271-277``) made concrete.
    It is the engine's only BM25 layout writer: a streaming refresh onto an
    index with no stats (``streaming.windows.index_refresh_batch``) calls
    it with its batch.

    Four artifacts:

    - ``{path}/postings`` — (term, doc_id, dl, tf, _pk), PARTITIONED by
      ``term_bucket = crc32(term) % n_buckets`` so a query's scan prunes to
      its terms' buckets (same discipline as the ANN bucket layout in
      ``similarity.py``). Doc length is denormalized into the posting row —
      exactly how Lucene stores norms in the index — so serving needs no
      join back to a doc table. ``_pk`` is the ``term|doc`` merge key the
      streaming refresher (``run_stream_index_refresh``) upserts on, so an
      index bootstrapped from this batch build streams on top seamlessly
      (same lesson as the dedup bands' ``_pk``, ADVICE r6).
    - ``{path}/vocab`` — the term DICTIONARY (term, term_len, _pk,
      partitioned by term_bucket, each bucket file SORTED by term_len):
      |V| rows, the Lucene-terms-file analogue. Exact serving never reads
      it; FUZZY serving (``bm25_serve_fuzzy``) expands query terms against
      it with a length-banded levenshtein join, and the materialized
      ``term_len`` sort means the banded scan prunes to the query lengths'
      row groups via a pushed range filter. (r8 carried a SymSpell
      delete-key index here at 38× |V| rows; r9 retired it on
      measurement: the probe beat this banded scan only 1.13× at a 1M-term
      dictionary and LOST 0.66× at 4M/2.26M distinct terms, while tripling
      build time — ``evidence/bench_fuzzy_vocab_r08.json`` / ``_r09.json``.)
    - ``{path}/docstats`` — (doc_id, dl), one row per document, documents
      with no posting (all punctuation, ``dl`` 0) included: the state a
      refresh merges its batch's lengths into.
    - ``{path}/stats`` — the 1-row corpus stats (n_docs, avg_dl) BM25 needs,
      folded from the stored docstats (``_write_stats``), plus the layout
      manifest (``n_buckets``): serving derives its bucket pruning from the
      stored value, so a build/serve bucket-count mismatch (which would
      silently prune away valid postings) cannot happen. Written LAST —
      every serve path reads its row (memoized on the stats directory's
      listing) before any other artifact, so its presence is the build's
      commit marker: a crash between artifact writes can never be observed
      as a half-built but servable index.

    At 100 TB this build is the once-per-reindex cost that every subsequent
    query amortizes (vocab derives from the just-written postings via a
    column-pruned read-back — no extra corpus pass)."""
    spark = docs.sparkSession
    docstats, postings = _index_rows(docs, id_col, text_col, n_buckets)
    # repartition BY the partition column before the partitioned write
    # (r11, guide §6 — the discipline the vocab write below already had):
    # without it every post-groupBy task writes a file into EVERY bucket
    # dir it holds terms for — tasks × n_buckets KB-files per build
    # (measured 368 tasks at sf0.1), whose open cost every serve, vocab
    # read-back and streaming merge then pays. With it, a bucket's rows
    # land contiguously: one file per bucket per owning task.
    (
        postings.repartition(F.col("term_bucket"))
        .write.partitionBy("term_bucket")
        .mode("overwrite")
        .parquet(f"{path}/postings")
    )
    (
        # read back with the written frame's schema: no inference job
        _vocab(spark.read.schema(postings.schema).parquet(f"{path}/postings"))
        # each bucket file SORTED by term_len in small row groups: the
        # fuzzy serve's pushed [lo, hi] length-band range filter then
        # prunes the dictionary scan to the query lengths' row groups —
        # the zero-space replacement for the retired delete-key index.
        # The sort leads with the partition column: the partitioned
        # writer requires that order and would otherwise replace this
        # sort with its own sort on term_bucket alone.
        .repartition(F.col("term_bucket"))
        .sortWithinPartitions("term_bucket", "term_len", "term")
        .write.option("parquet.block.size", 4 * 1024 * 1024)
        .partitionBy("term_bucket")
        .mode("overwrite")
        .parquet(f"{path}/vocab")
    )
    # The second tokenize pass writes docstats, and stats fold the stored
    # docstats: one map-only pass, where deriving (doc_id, dl) from the
    # postings read-back is a full |postings| distinct shuffle (r12
    # measured that variant at 14 jobs / 301 tasks against 10 / 219) and
    # misses every document that has no posting.
    docstats.write.mode("overwrite").parquet(f"{path}/docstats")
    _write_stats(spark, path, n_buckets, docstats.schema)


def bm25_serve(
    spark: SparkSession,
    index_path: str,
    query_terms: list[str],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int | None = None,
) -> DataFrame:
    """T1 over T7 — score a query FROM the materialized index, never
    touching the document corpus.

    The bucket count is read from the index's own stats manifest (persisted
    by ``build_search_index``), never trusted from the caller: a mismatched
    guess would silently prune away valid postings and return wrong or empty
    scores. Passing ``n_buckets`` explicitly is allowed only as an assertion
    — it must equal the stored value or this raises. The bucket list is then
    computed driver-side with the same CRC-32 the build used (zlib and Spark
    share the standard polynomial).

    Only metadata is memoized: the stats row (n_docs, avg_dl, n_buckets
    enter the plan as literals) and the postings schema, each keyed on its
    directory's listing (``io.listing_memo``), so a warm request launches
    no schema-inference, stats or partition-discovery job. The scan reads
    just the probed ``term_bucket=`` directories that exist, listed afresh
    on every call, and keeps the bucket IN-list as a PartitionFilter: it
    reads |query-term buckets| directories, not the index (plan-asserted in
    ``test_search.py``). (term, doc_id) is unique in the postings, so the
    hits score directly (``_bm25_score``)."""
    import zlib

    stats = _index_stats(spark, index_path)
    n_buckets = _stored_buckets(stats, n_buckets, index_path, "bm25_serve")
    terms = []
    for t in (t.lower() for t in query_terms):
        if t not in terms:
            terms.append(t)
    buckets = sorted({zlib.crc32(t.encode("utf-8")) % n_buckets for t in terms})
    postings = f"{index_path}/postings"
    listing = path_listing(spark, postings)
    present = {name for name, _mtime, _len in listing}
    leaves = [
        f"{postings}/term_bucket={bk}"
        for bk in buckets
        if f"term_bucket={bk}" in present
    ]
    hits = (
        # no probed bucket on disk: read the root, which the filter prunes
        read_parquet(spark, postings, leaves or None, listing)
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
    )
    return _bm25_score(hits, id_col, "term", stats, k1, b)


def bm25_serve_fuzzy(
    spark: SparkSession,
    index_path: str,
    query_terms: list[str],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    plans_out: dict | None = None,
) -> DataFrame:
    """T1+T2 over T7 — AUTO-fuzziness BM25 FROM the materialized index:
    the typo-tolerant query path that never touches the document corpus.

    Lucene's shape (term-dictionary expansion): the query terms expand
    against the ``{index}/vocab`` dictionary with a length-banded
    levenshtein join — a broadcast of the |q| query terms against a
    dictionary scan whose pushed ``term_len`` range filter prunes to the
    query lengths' row groups (the build sorts each bucket file by
    term_len in 4 MB row groups). The expansion work is map-only over the
    banded dictionary slice: no shuffle, parallel in |V|'s partitioning.

    r8 shipped a SymSpell delete-key index here instead; r9 retired it on
    measurement (VERDICT r8 item 4): 38× |V| index rows and ~3× the build
    time bought 1.13× at a 1M-term dictionary and LOST 0.66× at 4M terms
    (``evidence/bench_fuzzy_vocab_r08.json`` / ``_r09.json``) — the
    banded scan's sequential levenshtein over length-pruned row groups
    beats probing ~100 scattered point lookups through an index 38× the
    dictionary's size. At a web corpus's billions of terms the banded
    scan is a parallel map over the (*term-bucketed, length-sorted*)
    dictionary — cluster-sized like every other scan, with no 38× state
    to maintain in the streaming refresher.

    The query terms are a JVM-side literal frame (``io.literal_frame``),
    and the matched (term_bucket, term) -> qterm map joins the postings
    as a broadcast in the same plan, so the expansion runs once, with no
    checkpoint and no collect between jobs. Its banded ``term_len`` filter
    already marks the broadcast side selective, which Spark's
    PartitionPruning rule requires before it injects a dynamic partition
    filter, so no extra marker is needed: the postings scan reads only
    the matched variants' buckets (``dynamicpruningexpression`` in its
    PartitionFilters, plan-asserted in ``test_search.py``). All fuzzy
    variants of a query term score as THAT term (tf sums variants, df
    counts docs with any variant), identical semantics to the scan-path
    ``bm25_scores_fuzzy`` — asserted hash-identical by
    ``q_bm25_fuzzy_served``'s shared oracle. Stats and schemas come from
    the listing-keyed memo, as in ``bm25_serve``.

    Freshness contract: ``build_search_index`` writes stats (the serve
    entry point) last, so until they land no index is servable, a
    streaming refresh's bootstrap batch included (that refresh is the
    build); ``run_stream_index_refresh`` merges vocab BEFORE postings, so
    at every observable point the dictionary covers ⊇ the stored
    postings' terms — a fuzzy query can never miss a served posting;
    dictionary terms whose postings haven't landed yet simply match
    nothing."""
    stats = _index_stats(spark, index_path)
    _check_index_layout(stats, index_path, "bm25_serve_fuzzy")
    qt = []
    for t in (t.lower() for t in query_terms):
        if t not in {q for q, _ in qt}:
            qt.append((t, auto_fuzziness(t)))
    qterms = literal_frame(spark, qt, ["qterm", "fuzz"])
    # literal length band from the query's OWN terms — reaches the vocab
    # reader as a pushed range filter over the term_len-sorted row groups
    lo = min(len(q) - f for q, f in qt)
    hi = max(len(q) + f for q, f in qt)
    vmatch = (
        read_parquet(spark, f"{index_path}/vocab")
        .filter(F.col("term_len").between(F.lit(lo), F.lit(hi)))
        .join(
            F.broadcast(qterms),
            (F.abs(F.col("term_len") - F.length("qterm")) <= F.col("fuzz"))
            & (F.levenshtein(F.col("term"), F.col("qterm")) <= F.col("fuzz")),
        )
        # vocab terms are unique and the broadcast join emits each
        # (term, qterm) pair at most once — no dedup shuffle needed
        .select("term_bucket", "term", "qterm")
    )
    if plans_out is not None:
        # the banded dictionary scan on its own, for the pushdown
        # plan-assertions (same convention as
        # incremental_dedup_pairs_served)
        plans_out["vmatch"] = (
            vmatch._jdf.queryExecution().executedPlan().toString()
        )
    hits = read_parquet(spark, f"{index_path}/postings").join(
        F.broadcast(vmatch), ["term_bucket", "term"]
    )
    # rows are unique per (doc, qterm) after the variant sum
    tf = hits.groupBy(id_col, "dl", "qterm").agg(F.sum("tf").alias("tf"))
    return _bm25_score(tf, id_col, "qterm", stats, k1, b)


@query(
    "q_bm25_served",
    oracle="""
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
    dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term)
    SELECT t.doc_id,
           ROUND(SUM(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                     * (t.tf * 2.2)
                     / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avg_dl))),
                 4) AS score
    FROM tf t JOIN dfc f ON t.term = f.term CROSS JOIN stats s
    GROUP BY t.doc_id
    ORDER BY score DESC, t.doc_id ASC
    LIMIT 50
    """,
)
def q_bm25_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 end-to-end — build the term-bucketed BM25 index, then serve the
    SAME 'spark join stream' top-50 ``q_bm25_topk`` computes by scanning,
    this time from the index. The oracle is q_bm25_topk's oracle verbatim:
    the hash check proves the serving path reproduces the scan path's
    scores exactly. The timed cost here is build+serve (the honest
    once-per-reindex number); serve-only latency and the partition-pruned
    scan are asserted in ``test_search.py``."""
    import shutil
    import tempfile

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    path = tempfile.mkdtemp(prefix="bm25_index_")
    try:
        build_search_index(d, "doc_id", "text", path)
        served = bm25_serve(spark, path, ["spark", "join", "stream"])
        out = served.orderBy(F.desc("score"), F.asc("doc_id")).limit(50)
        # Materialize before the index directory is removed: the returned
        # plan must not depend on the tempdir once this function exits.
        rows = out.collect()
        return spark.createDataFrame(rows, schema=out.schema)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@query(
    "q_bm25_fuzzy_served",
    oracle="""
    WITH dl AS (
        SELECT doc_id,
               len(list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '')) AS dl,
               list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS tokens
        FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avg_dl FROM dl),
    q(qterm, fuzz) AS (
        SELECT * FROM (VALUES ('strem', 1), ('join', 1), ('vectr', 1))
    ),
    m AS (
        SELECT d.doc_id, d.dl, q.qterm, COUNT(*) AS tf
        FROM dl d, UNNEST(d.tokens) AS u(term), q
        WHERE abs(len(u.term) - len(q.qterm)) <= q.fuzz
          AND levenshtein(u.term, q.qterm) <= q.fuzz
        GROUP BY d.doc_id, d.dl, q.qterm
    ),
    dfc AS (SELECT qterm, COUNT(DISTINCT doc_id) AS df FROM m GROUP BY qterm)
    SELECT m.doc_id,
           ROUND(SUM(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                     * (m.tf * 2.2)
                     / (m.tf + 1.2 * (1 - 0.75 + 0.75 * m.dl / s.avg_dl))),
                 4) AS score
    FROM m JOIN dfc f ON m.qterm = f.qterm CROSS JOIN stats s
    GROUP BY m.doc_id
    """,
)
def q_bm25_fuzzy_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2 over T7 end-to-end — build the three-artifact index, then
    serve the SAME typo'd query ``q_bm25_fuzzy`` scores by scanning
    ('strem join vectr'), this time expanded against the stored term
    dictionary and scored from partition-pruned postings. The oracle is
    q_bm25_fuzzy's oracle verbatim: the hash check proves the dictionary-
    expansion serving path reproduces the corpus-scan fuzzy scores
    exactly. Timed cost is build+serve (the honest once-per-reindex
    number); serve-only pruning is plan-asserted in ``test_search.py``."""
    import shutil
    import tempfile

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    path = tempfile.mkdtemp(prefix="bm25_fuzzy_index_")
    try:
        build_search_index(d, "doc_id", "text", path)
        served = bm25_serve_fuzzy(spark, path, ["strem", "join", "vectr"])
        rows = served.collect()
        return spark.createDataFrame(rows, schema=served.schema)
    finally:
        shutil.rmtree(path, ignore_errors=True)
