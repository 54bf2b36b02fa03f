"""Batch data-pipeline utilities.

The operational layer around a training-data corpus: SimHash near-dup
candidate PAIRS (banded, hamming-verified — completing the simhash family:
``dedup.q_dedup_simhash`` emits signatures, this emits verified pairs),
SCD2 dimension building and gap sessionization (the two classic
change-tracking shapes a warehouse feeds from a change-log), single-pass
column profiling, deterministic train/valid/test splitting, PMI
collocation mining, token-budget sequence packing, and the point-in-time
(temporal) join against SCD2 intervals.

Everything is JVM-side DataFrame algebra (no UDFs), every scalar the math
needs (corpus totals) folds into the plan as a broadcast 1-row aggregate,
and every query is oracle-checked bit-for-bit against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import load_table, spread
from projet_data_engineering_spark.operators.dedup import _simhash_bit
from projet_data_engineering_spark.plans.hints import merge_if_large
from projet_data_engineering_spark.registry import query

SIM_BITS = 32
SIM_BANDS = 2  # 2 bands x 16 bits: any pair with hamming <= 1 shares a band
SIM_HAMMING = 1


def _sim_sums_sql() -> str:
    return ",\n           ".join(
        "CASE WHEN SUM(CASE WHEN substr(md5(u.term), {p}, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 "
        "THEN '1' ELSE '0' END AS b{j}".format(p=j + 1, j=j)
        for j in range(SIM_BITS)
    )


def _sim_hamming_sql() -> str:
    return " + ".join(
        f"CASE WHEN substr(s1,{j + 1},1)<>substr(s2,{j + 1},1) THEN 1 ELSE 0 END"
        for j in range(SIM_BITS)
    )


def _simhash_pairs_oracle() -> str:
    concat_bits = " || ".join(f"b{j}" for j in range(SIM_BITS))
    band_w = SIM_BITS // SIM_BANDS
    band_ids = ",".join(str(i) for i in range(SIM_BANDS))
    return f"""
    WITH bits AS (
        SELECT d.doc_id,
           {_sim_sums_sql()}
        FROM (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents) d,
             UNNEST(d.t) AS u(term)
        GROUP BY d.doc_id
    ),
    sims AS (SELECT doc_id, {concat_bits} AS sig FROM bits),
    bands AS (
        SELECT doc_id, sig, i AS band_idx,
               substr(sig, i * {band_w} + 1, {band_w}) AS band_val
        FROM sims CROSS JOIN (SELECT UNNEST([{band_ids}]) AS i)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS d1, a.sig AS s1, b.doc_id AS d2, b.sig AS s2
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc1, doc2, hamming FROM (
        SELECT d1 AS doc1, d2 AS doc2, {_sim_hamming_sql()} AS hamming
        FROM pairs
    ) WHERE hamming <= {SIM_HAMMING}
    """


@query("q_simhash_pairs", oracle=_simhash_pairs_oracle())
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit tf-weighted signature, banded LSH
    candidate generation, exact hamming verification (<= 1 bit).

    Scale shape mirrors MinHash-LSH: split the signature into 2 bands of 16
    bits — any pair within hamming 1 agrees on at least one full band
    (pigeonhole), so the self-join shuffles only on (band_idx, band_val)
    buckets: O(sum bucket^2), never O(n^2). A 16-bit band keeps buckets
    small even on template-heavy corpora (65k distinct values). Signatures
    ride along the band rows so verification needs no extra join; the
    hamming check is 32 JVM-side char compares. The banded table is
    persisted so the signature pipeline computes once, not once per join
    side."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    exploded = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    sums = exploded.groupBy("doc_id").agg(
        *[F.sum(_simhash_bit(j)).alias(f"s{j}") for j in range(SIM_BITS)]
    )
    bits = [
        F.when(F.col(f"s{j}") > 0, "1").otherwise("0") for j in range(SIM_BITS)
    ]
    sims = sums.select("doc_id", F.concat(*bits).alias("sig"))
    band_w = SIM_BITS // SIM_BANDS
    bands = sims.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.substring("sig", i * band_w + 1, band_w)
                    for i in range(SIM_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    ).persist()
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("a.sig").alias("s1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("b.sig").alias("s2"),
        )
        .distinct()
    )
    ham = sum(
        (F.substring("s1", j + 1, 1) != F.substring("s2", j + 1, 1)).cast("int")
        for j in range(SIM_BITS)
    )
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= SIM_HAMMING)
        .select("doc1", "doc2", "hamming")
    )


@query(
    "q_scd2",
    oracle="""
    WITH v AS (
        SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
               LAG(o_orderpriority) OVER w AS prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    ch AS (
        SELECT * FROM v WHERE prev IS NULL OR prev <> o_orderpriority
    )
    SELECT o_custkey AS custkey,
           o_orderpriority AS attr,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER w AS valid_to,
           CASE WHEN LEAD(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END
               AS is_current
    FROM ch
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension build from a change-log: collapse
    consecutive identical attribute values (orders as a per-customer
    priority log), then stamp [valid_from, valid_to) intervals with an
    is_current flag — the batch analogue of the reference's keyed upsert
    history (pairs with ``io.merge_upsert`` / ``q_snapshot_diff``).

    Both windows share one partition key (custkey), so the job is a single
    hash shuffle followed by two sorted window passes; change compression
    happens before the interval window, shrinking the second pass. Ties on
    o_orderdate are broken by o_orderkey in BOTH engines, making the
    version chain total-ordered and the oracle exact."""
    return scd2_intervals(load_table(spark, sf_dir, "orders"))


def scd2_intervals(o: DataFrame) -> DataFrame:
    """Change-compressed type-2 intervals from the orders change-log:
    (custkey, attr, [valid_from, valid_to), is_current). Shared by
    ``q_scd2`` and the point-in-time join ``q_temporal_join``."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ch = o.withColumn("prev", F.lag("o_orderpriority").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority"))
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w2)
    return ch.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("attr"),
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


SESSION_GAP_US = 6 * 3600 * 1_000_000  # 6 hours


def sessionize(
    events: DataFrame,
    gap_us: int = SESSION_GAP_US,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Assign gap-based session IDs: a new session starts when the user is
    inactive for more than ``gap_us`` microseconds. Adds ``session_id``
    (1-based, contiguous per user). One hash shuffle on the user key serves
    the lag window and the running sum (identical window spec)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    lag_us = F.unix_micros(F.lag(ts_col).over(w))
    new_s = (
        F.when(lag_us.isNull(), 1)
        .when(F.unix_micros(ts_col) - lag_us > gap_us, 1)
        .otherwise(0)
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.withColumn("new_s", new_s).withColumn(
        "session_id", F.sum("new_s").over(run).cast("bigint")
    ).drop("new_s")


@query(
    "q_sessionize",
    oracle=f"""
    WITH x AS (
        SELECT user_id, ts, event_id,
               CASE
                   WHEN LAG(ts) OVER w IS NULL THEN 1
                   WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                        > {SESSION_GAP_US} THEN 1
                   ELSE 0
               END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM x
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
    FROM s
    GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap sessionization: a new session starts after >6 h of user
    inactivity; emit per-session event count, start, and duration.

    The batch complement of ``q_stream_session`` (session_window +
    watermark): identical session semantics, but assigns stable session
    IDS via the lag-flag + running-sum idiom, which the streaming API
    doesn't expose. One hash shuffle on user_id serves the lag window, the
    running sum, and the final groupBy (same key throughout — no re-
    partitioning between stages). Gap compare in integer microseconds,
    exact on both engines."""
    s = sessionize(load_table(spark, sf_dir, "events"))
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "dur_us"
        ),
    )


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_totalprice"]


def _profile_oracle() -> str:
    parts = [
        f"""
    SELECT '{c}' AS col_name,
           CAST(MIN({c}) AS DOUBLE) AS min_val,
           CAST(MAX({c}) AS DOUBLE) AS max_val,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_count,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
    FROM orders"""
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@query("q_profile", oracle=_profile_oracle())
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler (min / max / null count / exact NDV per
    column) — the schema-drift and data-quality gate you run on every new
    corpus drop before it enters the pipeline.

    All 12 measures compute in ONE aggregate over ONE scan (Catalyst plans
    the multi-column distinct via Expand), then a 1-row-to-N-rows
    inline explode reshapes wide → long. The oracle scans per column
    because SQL has no cheap transpose — the Spark side is the single-scan
    formulation. At 100 TB swap exact NDV for approx_count_distinct; exact
    is kept here for bit-exact oracle parity."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.min(c).cast("double").alias(f"{c}_min"),
            F.max(c).cast("double").alias(f"{c}_max"),
            F.sum(F.col(c).isNull().cast("int")).cast("bigint").alias(
                f"{c}_nulls"
            ),
            F.countDistinct(c).cast("bigint").alias(f"{c}_ndv"),
        ]
    wide = o.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}_min").alias("min_val"),
                F.col(f"{c}_max").alias("max_val"),
                F.col(f"{c}_nulls").alias("null_count"),
                F.col(f"{c}_ndv").alias("n_distinct"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(rows).alias("p")).select("p.*")


@query(
    "q_train_test_split",
    oracle="""
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT n_chars,
               CASE
                   WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                        AS INT) < 13 THEN 'test'
                   WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                        AS INT) < 26 THEN 'valid'
                   ELSE 'train'
               END AS split
        FROM documents
    )
    GROUP BY split
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5/5/90 train/valid/test split by the first md5 byte of
    the document key — the reproducible alternative to ``randomSplit``:
    membership is a pure function of the key, so re-runs (and other
    engines) assign every document identically, and the split survives
    corpus growth without resampling the holdout. Map-only + one tiny
    aggregate; the same gate pattern as ``q_domain_mix``/
    ``q_sample_stratified``."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    split = (
        F.when(bucket < 13, "test").when(bucket < 26, "valid").otherwise("train")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "q_pmi",
    oracle="""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ),
    uni AS (
        SELECT u.term, COUNT(*) AS c
        FROM toks, UNNEST(toks.t) AS u(term)
        GROUP BY u.term
    ),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni),
    big AS (
        SELECT w1, w2, COUNT(*) AS c_ab FROM (
            SELECT t[i] AS w1, t[i + 1] AS w2
            FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
            WHERE len(t) >= 2
        )
        GROUP BY w1, w2
        HAVING COUNT(*) >= 5
    )
    SELECT w1 || ' ' || w2 AS bigram,
           c_ab,
           ROUND(LN(c_ab * n / (u1.c * u2.c)), 5) AS pmi
    FROM big
    JOIN uni u1 ON big.w1 = u1.term
    JOIN uni u2 ON big.w2 = u2.term
    CROSS JOIN tot
    ORDER BY pmi DESC, bigram
    LIMIT 100
    """,
)
def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information:
    pmi(a,b) = ln(c_ab * N / (c_a * c_b)) over corpus bigrams with support
    >= 5 — the statistically-grounded upgrade of raw bigram counts
    (``q_ngrams``) for boilerplate and multi-word-expression mining.

    Unigram and bigram counts are map-side-combining aggregates over the
    same tokenized scan; the corpus token total N folds in as a broadcast
    1-row aggregate (no driver-side count action — the ``q_tfidf_topterms``
    discipline); the two unigram joins hash-shuffle only |bigrams| >= 5
    survivors. Final top-100 executes as TakeOrderedAndProject on the
    (rounded) score with a lexicographic tie-break, identical in both
    engines."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.lower("text"), " ")
    toks = d.select(t.alias("t"))
    uni = (
        toks.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    tot = F.broadcast(uni.agg(F.sum("c").cast("double").alias("n")))
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i).alias("w1"),
                        F.element_at(F.col("t"), i + 1).alias("w2"),
                    ),
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    u1 = uni.select(F.col("term").alias("t1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("term").alias("t2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(F.col("c_ab") * F.col("n") / (F.col("c1") * F.col("c2"))), 5
    )
    return (
        big.join(u1, F.col("w1") == F.col("t1"))
        .join(u2, F.col("w2") == F.col("t2"))
        .crossJoin(tot)
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "c_ab",
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(100)
    )


@query(
    "q_doc_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id, u.term
        FROM (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents) d,
             UNNEST(d.t) AS u(term)
    ),
    uni AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(-LN(uni.c / tot.n)), 5) AS avg_nll
    FROM toks JOIN uni USING (term) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token surprisal under the corpus's own unigram
    language model: avg(-ln c_t/N) — the cheap perplexity proxy used to
    flag gibberish (high surprisal) and boilerplate (low surprisal) when a
    trained LM isn't in the loop; complements the rule-based
    ``q_text_quality``.

    The unigram table is built from the same tokenized scan it scores
    (self-referential LM); N folds in as a broadcast 1-row aggregate; the
    token→frequency join shuffles tokens once on the term key, then one
    groupBy(doc_id). At 100 TB the unigram table is vocabulary-sized —
    broadcastable after a mild frequency floor."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    uni = toks.groupBy("term").agg(F.count("*").alias("c"))
    tot = F.broadcast(uni.agg(F.sum("c").cast("double").alias("n")))
    return (
        toks.join(uni, "term")
        .crossJoin(tot)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 5).alias("avg_nll"),
        )
    )


_MV_CUTOFF = "1995-06-01"


@query(
    "q_incremental_agg",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18, 6))), 2) AS DOUBLE)
               AS total_price,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 6))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: the revenue-per-priority view
    is computed as PARTIAL aggregates over the pre-cutoff state and the
    post-cutoff delta, then merged by summing partials — and the oracle is
    the ONE-SHOT aggregate over everything, proving the algebraic merge is
    exact (sum-of-sums, sum-of-counts; avg re-derived from merged totals,
    never averaged-of-averages).

    This is the pattern that keeps a 100 TB view fresh for the cost of the
    delta: the old partial is a tiny stored table in production (here it is
    recomputed so the query stays self-contained, but the merge algebra is
    what the test pins). Money sums accumulate in DECIMAL, so partial
    merge order cannot drift a cent — the same discipline as the TPC-H
    money queries."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")
    dec = F.col("o_totalprice").cast("decimal(18,6)")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("pn"), F.sum(dec).alias("psum")
        )

    old = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        old.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("pn").alias("n_orders"), F.sum("psum").alias("tsum"))
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("tsum"), 2).cast("double").alias("total_price"),
        F.round(F.col("tsum").cast("double") / F.col("n_orders"), 4).alias(
            "avg_price"
        ),
    )


@query(
    "q_sample_weighted",
    oracle="""
    SELECT doc_id, n_chars
    FROM (
        SELECT doc_id, n_chars,
               LN((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) + 1.0) / 4294967296.0)
               / n_chars AS es_key
        FROM documents
    )
    ORDER BY es_key DESC, doc_id
    LIMIT 100
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (Efraimidis–Spirakis): keep the top-k
    documents by ln(u)/w where u is a uniform hash of the key and w the
    weight (n_chars — longer docs proportionally likelier). The
    reproducible engine-agnostic analogue of weighted reservoir sampling:
    membership is a pure function of (key, weight), so re-runs and other
    engines draw the SAME sample — the weighted upgrade of
    ``q_sample_bottomk``.

    u derives from the first 8 md5 hex chars normalized to (0, 1] (32 bits
    of entropy; +1 keeps ln finite); ln(u)/w is the log of the classic
    u^(1/w) key, so its descending order IS the E-S draw: ln(u) <= 0, and
    a larger weight pulls the key toward 0 — heavier docs win more often.
    Executes as TakeOrderedAndProject: per-partition k-heaps, no shuffle
    of the corpus, driver merges k·p rows."""
    d = load_table(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    es_key = F.log((u + F.lit(1.0)) / F.lit(4294967296.0)) / F.col("n_chars")
    return (
        d.select("doc_id", "n_chars", es_key.alias("es_key"))
        .orderBy(F.desc("es_key"), "doc_id")
        .limit(100)
        .select("doc_id", "n_chars")
    )


_BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "q_token_count_bpe",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) )
                AS BIGINT) AS total_tokens,
           ROUND(AVG(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}'))), 4)
               AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting under a BPE-ish regex tokenizer — letter runs,
    digit runs, and single punctuation marks as separate tokens (the
    pre-tokenization split every BPE vocabulary starts from), versus
    ``q_token_count``'s whitespace splitter. Budgets shift ~20-40% between
    the two — exactly the gap that breaks corpus token estimates, which is
    why the pipeline carries both. Map-only expansion + one
    map-side-combining aggregate; the character-class pattern means Java
    and RE2-style engines tokenize identically (no backtracking
    constructs)."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PATTERN), 0)
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(ntok).cast("bigint").alias("total_tokens"),
        F.round(F.avg(ntok), 4).alias("avg_tokens"),
    )


@query(
    "q_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, ABS(e.value - med.m) AS d, med.m
        FROM events e JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev
        GROUP BY event_type
    )
    SELECT dev.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN dev.d > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           ROUND(ANY_VALUE(dev.m), 4) AS median_value,
           ROUND(ANY_VALUE(mad.mad), 4) AS mad
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: flag events whose value deviates from the
    per-type median by more than 3 median-absolute-deviations — the
    outlier rule that, unlike z-scores (``q_zscore``), is not itself
    dragged by the outliers it hunts.

    Two grouped exact-percentile aggregates (the |types| medians broadcast
    back onto the event scan — the corpus shuffles only on event_type);
    at 100 TB swap ``percentile`` for the ``percentile_approx`` sketch, as
    ``q_percentile`` documents. Both engines interpolate quantiles
    linearly, so the oracle is exact."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("m")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("m"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(d, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("d") > 3 * F.col("mad")).cast("int"))
            .cast("bigint")
            .alias("n_outliers"),
            F.round(F.first("m"), 4).alias("median_value"),
            F.round(F.first("mad"), 4).alias("mad"),
        )
    )


@query(
    "q_entropy",
    oracle="""
    WITH tc AS (
        SELECT d.source, u.term, COUNT(*) AS c
        FROM (SELECT source, str_split(lower(text), ' ') AS t FROM documents) d,
             UNNEST(d.t) AS u(term)
        GROUP BY d.source, u.term
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           ROUND(LN(CAST(SUM(c) AS DOUBLE))
                 - SUM(c * LN(c)) / CAST(SUM(c) AS DOUBLE), 5) AS entropy
    FROM tc
    GROUP BY source
    """,
)
def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution (nats):
    H = ln N - (1/N)·Σ c·ln c — the corpus-diversity diagnostic that
    separates template/boilerplate sources (low H) from natural text
    (high H), complementing per-document surprisal (``q_doc_logprob``).

    The algebraic form needs only (source, term) counts — one
    map-side-combining aggregate over the tokenized scan, then a
    |sources|-row rollup. No joins, no second scan, no driver math."""
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select(
            "source", F.explode(F.split(F.lower("text"), " ")).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c").cast("double")
    return tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.round(
            F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 5
        ).alias("entropy"),
    )


MG_THRESH_K = 200  # report terms with global share > 1/200 (0.5%)
MG_CAPACITY = 2 * MG_THRESH_K  # per-partition counters; catches share > 1/(cap+1)


def mg_candidates(
    values: DataFrame, col: str = "term", capacity: int = MG_CAPACITY
) -> DataFrame:
    """Per-partition Misra-Gries heavy-hitter candidate nomination: a
    map-only ``mapInPandas`` pass holding at most ``capacity`` counters per
    partition, returning the DISTINCT union of surviving keys.

    Completeness is a guarantee, not a heuristic: a key with global count
    > N/(capacity+1) must be locally heavy (> n_p/(capacity+1)) in at least
    one partition — otherwise summing the per-partition bounds caps its
    global count at N/(capacity+1) — and weighted MG never evicts a locally
    heavy key (each eviction round subtracts its decrement from >= cap+1
    counters, so total decrement <= n_p/(cap+1)). Adversarial partitionings
    (the hitter spread so thin it is never a local top-k member) are
    covered by ``test_mg_candidates_complete_under_adversarial_split``."""

    def mg_batches(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for t, c in pdf[col].value_counts().items():
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > capacity:
                # weighted MG: subtract the (cap+1)-th largest count from
                # all counters; >= cap+1 counters shrink per round, so the
                # total decrement is <= n_p/(cap+1)
                dec = sorted(counters.values(), reverse=True)[capacity]
                counters = {t: c - dec for t, c in counters.items() if c > dec}
        if counters:
            yield pd.DataFrame({col: list(counters)})

    return values.mapInPandas(mg_batches, f"{col} string").distinct()


@query(
    "q_heavy_hitters",
    oracle="""
    WITH tok AS (
        SELECT u.term
        FROM (SELECT str_split(lower(text), ' ') AS t FROM documents) d,
             UNNEST(d.t) AS u(term)
    ), tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(COUNT(*) / (MIN(tot.n) * 1.0), 6) AS share
    FROM tok, tot
    GROUP BY term
    HAVING COUNT(*) * 200 > MIN(tot.n)
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (token share > 1/200) without shuffling the full
    term dictionary: per-partition Misra-Gries summaries nominate
    candidates, then only candidate rows shuffle for an exact recount.

    The MG guarantee composes across partitions: a term with global count
    > N/k must exceed n_p/k in at least one partition (else summing the
    per-partition bounds caps it at N/k), so the union of per-partition
    MG(k) keys is a superset of every true heavy hitter — the recount is
    exact, never approximate. At 100 TB this is the difference between
    shuffling ~10^9 distinct terms and shuffling rows for ~400·partitions
    candidates: pass 1 is map-only (mapInPandas, bounded memory), pass 2
    filters the token stream against a broadcast candidate set before the
    groupBy. The corpus total folds in as a broadcast 1-row aggregate
    (house pattern, see ``textanalysis.q_domain_mix``)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.lower("text"), " ")).alias("term"))
    cand = mg_candidates(toks, "term", MG_CAPACITY)
    tot = toks.agg(F.count("*").alias("n"))
    return (
        toks.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * MG_THRESH_K > F.col("n"))
        .select(
            "term",
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        )
    )


JAC_TAU_NUM, JAC_TAU_DEN = 4, 5  # Jaccard threshold 0.8, kept rational


def ngram_jaccard_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    tau_num: int = JAC_TAU_NUM,
    tau_den: int = JAC_TAU_DEN,
) -> DataFrame:
    """Exact-threshold n-gram Jaccard self-join via PPJoin-style filtering:
    returns every (i, j, jaccard) pair with shingle-set Jaccard >= tau
    (= tau_num/tau_den, kept RATIONAL so every pruning threshold is integer
    arithmetic — no float ceil can shorten a prefix and lose a pair).

    Three losslessness-preserving prunes run before any verification:
    (1) PREFIX — shingles are globally ordered rarest-first (document
    frequency, then term); a qualifying pair must share a shingle within
    each side's first |A| - ceil(tau*|A|) + 1, so the candidate join
    touches only those prefixes — by construction the RAREST shingles, so
    join buckets stay small and O(n^2) all-pairs never materializes;
    (2) LENGTH — jac >= tau forces tau_den*min(|A|,|B|) >=
    tau_num*max(|A|,|B|); (3) POSITIONAL — a prefix match at ranks
    (pa, pb) caps the intersection at min(|A|-pa, |B|-pb) + 1, which must
    reach ceil(tau/(1+tau)*(|A|+|B|)). Candidates are then verified
    exactly. Losslessness vs brute force is property-tested on random
    corpora (``test_ngram_jaccard_join_property``) and against the
    unpruned DuckDB all-pairs oracle every gate run.

    At 100 TB: the shingle table shuffles twice (df stats by term, ranking
    by doc), the candidate join shuffles only the prefix table, and the
    verify join is |candidates| x avg-set-size — each keyed, no all-pairs
    stage anywhere."""
    p, q = tau_num, tau_den
    grams = ", ' ', ".join(
        ["t[i]"] + [f"t[i + {k}]" for k in range(1, ngram)]
    )
    d = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.lower(text_col), " ").alias("t"),
        )
        .where(F.size("t") >= ngram)
    )
    # persisted: the shingle table feeds five consumers (df stats, ranking,
    # sizes, and both verify sides) — without it each one re-runs the
    # explode+distinct shuffle (house pattern, see dedup.q_dedup_minhash)
    sh = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {ngram}),"
                    f" i -> concat({grams}))"
                )
            ).alias("term"),
        )
        .distinct()
        .persist()
    )

    gf = sh.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "term")
    ranked = (
        sh.join(gf, "term")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    )
    # prefix length n - ceil(p*n/q) + 1, ceil done in integers
    prefix = ranked.where(
        F.col("pos") <= F.expr(f"n - ({p} * n + {q - 1}) div {q} + 1")
    ).select("doc_id", "term", "pos", "n")

    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        # size-gated merge hint: both sides are the corpus-derived
        # prefix table — never broadcastable at scale (see
        # containment_join's measured sf10 AQE-broadcast driver OOM; same
        # join shape), but hint-free below the source-bytes gate so small
        # corpora keep the measured-fast broadcast (plans/hints.py)
        merge_if_large(a, size_from=docs).join(
            b, F.col("a.term") == F.col("b.term")
        )
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .where(
            F.expr(f"{q} * least(a.n, b.n) >= {p} * greatest(a.n, b.n)")
            & F.expr(
                "least(a.n - a.pos, b.n - b.pos) + 1"
                f" >= ({p} * (a.n + b.n) + {p + q - 1}) div {p + q}"
            )
        )
        .select(F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"))
        .distinct()
    )

    # verify + size joins carry the same size-gated merge hint as the
    # candidate join: shingle table and per-doc sizes are corpus-derived
    # (one/many rows per doc — billions at 100 TB), and Spark's STATIC
    # size estimate propagates the compressed parquet file size through
    # the explode, so at sf10 it plans all of them as broadcasts and the
    # stacked hash relations OOM the driver (measured via q_dedup_recall)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("i"), "term")
    sb = sh.select(F.col("doc_id").alias("j"), "term")
    inter = (
        cand.join(merge_if_large(sa, size_from=docs), "i")
        .join(merge_if_large(sb, size_from=docs), ["j", "term"])
        .groupBy("i", "j")
        .agg(F.count("*").alias("c"))
    )
    union = F.col("na") + F.col("nb") - F.col("c")
    return (
        inter.join(
            merge_if_large(
                sz.select(F.col("doc_id").alias("i"), F.col("n").alias("na")),
                size_from=docs,
            ),
            "i",
        )
        .join(
            merge_if_large(
                sz.select(F.col("doc_id").alias("j"), F.col("n").alias("nb")),
                size_from=docs,
            ),
            "j",
        )
        .where(F.col("c") * q >= union * p)
        .select("i", "j", F.round(F.col("c") / union, 6).alias("jaccard"))
    )


@query(
    "q_ngram_jaccard_pairs",
    oracle="""
    WITH sd AS (
        SELECT DISTINCT d.doc_id,
               d.t[i] || ' ' || d.t[i + 1] || ' ' || d.t[i + 2] AS term
        FROM (SELECT doc_id, str_split(lower(text), ' ') AS t
              FROM documents) d,
             UNNEST(range(1, len(d.t) - 1)) AS r(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sd GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
        FROM sd a JOIN sd b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i, j, jaccard FROM (
        SELECT i, j,
               ROUND(c / (sa.n + sb.n - c * 1.0), 6) AS jaccard
        FROM inter
        JOIN sz sa ON sa.doc_id = inter.i
        JOIN sz sb ON sb.doc_id = inter.j
        WHERE c * 5 >= (sa.n + sb.n - c) * 4
    )
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ngram_jaccard_join`` over the documents table: trigram shingles,
    tau = 4/5. The DuckDB oracle computes the UNPRUNED all-pairs ground
    truth, so every gate run is an empirical losslessness proof for the
    prefix/length/positional pruning (on this dense template-heavy corpus
    they cut sf0.1 candidates from 4.4M — bigram prefix-only — to ~13k for
    256 true pairs)."""
    return ngram_jaccard_join(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", 3
    )


_ORDER_PRIORITIES = (
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
)


def constraint_audit(
    orders: DataFrame, lineitem: DataFrame, customer: DataFrame
) -> DataFrame:
    """One-pass data-quality constraint audit (the Deequ/expectations
    shape): every ingest gate a warehouse or training pipeline runs before
    trusting a batch — null checks, range checks, domain membership, key
    uniqueness, cross-table referential integrity — evaluated as
    CONDITIONAL AGGREGATES so each table is scanned exactly once, plus one
    broadcast-able anti-join per foreign key.

    Returns (check_name, rows_checked, violations, passed) — the audit report.
    On clean data every ``violations`` is 0 (and the pytest twin proves
    each check actually FIRES by injecting one dirty row per rule —
    a zero-violation report is only trustworthy because of that test).

    At 100 TB: per-table checks are map-side conditional sums (one scan,
    no shuffle beyond the 1-row aggregate); uniqueness rides the same
    aggregate via count - countDistinct; FK orphan counts are left-anti
    joins PINNED to sort-merge — both parents here are fact-proportional,
    so a broadcast (even a planner-estimated one) is a 100 TB OOM. The report is
    |checks| rows — driver-safe by construction."""

    def report(agg_df, specs):
        cols = [
            F.struct(
                F.lit(name).alias("check_name"),
                F.col(checked).cast("bigint").alias("rows_checked"),
                F.col(viol).cast("bigint").alias("violations"),
                (F.col(viol) == 0).alias("passed"),
            )
            for name, checked, viol in specs
        ]
        return agg_df.select(F.explode(F.array(*cols)).alias("r")).select("r.*")

    o_agg = orders.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias(
            "null_date"
        ),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "bad_price"
        ),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dup_key"),
        F.sum(
            F.when(~F.col("o_orderpriority").isin(*_ORDER_PRIORITIES), 1)
            .otherwise(0)
        ).alias("bad_priority"),
    )
    l_agg = lineitem.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(
                (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 100), 1
            ).otherwise(0)
        ).alias("bad_qty"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
            ).otherwise(0)
        ).alias("bad_disc"),
        (
            F.count("*")
            - F.countDistinct(F.struct("l_orderkey", "l_linenumber"))
        ).alias("dup_key"),
    )
    # Both FK parents here (customer, orders) are FACT-PROPORTIONAL — they
    # grow with the corpus, unlike region/nation-style dims — so the anti-
    # join must never broadcast them: Spark's size estimate of the pruned
    # single-key column can slip under autoBroadcastJoinThreshold and plan
    # a driver-built broadcast of millions of keys (observed at sf10:
    # "Not enough memory to build and broadcast" under memory pressure —
    # the drop-list lesson again, this time via the planner's estimate
    # instead of an explicit hint). Pin sort-merge on the parent side;
    # small-dim FKs can leave the choice to AQE.
    fk_orders = (
        orders.join(
            customer.hint("merge"),
            orders["o_custkey"] == customer["c_custkey"],
            "left_anti",
        )
        .agg(F.count("*").alias("v"))
        .crossJoin(F.broadcast(orders.agg(F.count("*").alias("n"))))
    )
    fk_lineitem = (
        lineitem.join(
            orders.hint("merge"),
            lineitem["l_orderkey"] == orders["o_orderkey"],
            "left_anti",
        )
        .agg(F.count("*").alias("v"))
        .crossJoin(F.broadcast(lineitem.agg(F.count("*").alias("n"))))
    )
    return (
        report(
            o_agg,
            [
                ("orders.o_orderdate_not_null", "n", "null_date"),
                ("orders.o_totalprice_positive", "n", "bad_price"),
                ("orders.o_orderkey_unique", "n", "dup_key"),
                ("orders.o_orderpriority_in_domain", "n", "bad_priority"),
            ],
        )
        .unionByName(
            report(
                l_agg,
                [
                    ("lineitem.l_quantity_in_(0,100]", "n", "bad_qty"),
                    ("lineitem.l_discount_in_[0,1]", "n", "bad_disc"),
                    ("lineitem.(l_orderkey,l_linenumber)_unique", "n", "dup_key"),
                ],
            )
        )
        .unionByName(report(fk_orders, [("orders.o_custkey_fk_customer", "n", "v")]))
        .unionByName(
            report(fk_lineitem, [("lineitem.l_orderkey_fk_orders", "n", "v")])
        )
    )


@query(
    "q_constraint_audit",
    oracle="""
    WITH o AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS null_date,
               SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price,
               COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_key,
               SUM(CASE WHEN o_orderpriority NOT IN
                   ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                   THEN 1 ELSE 0 END) AS bad_priority
        FROM orders
    ),
    l AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN l_quantity <= 0 OR l_quantity > 100
                   THEN 1 ELSE 0 END) AS bad_qty,
               SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                   THEN 1 ELSE 0 END) AS bad_disc,
               COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS dup_key
        FROM lineitem
    ),
    fko AS (
        SELECT (SELECT COUNT(*) FROM orders) AS n, COUNT(*) AS v
        FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    ),
    fkl AS (
        SELECT (SELECT COUNT(*) FROM lineitem) AS n, COUNT(*) AS v
        FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    )
    SELECT check_name, CAST(rows_checked AS BIGINT) AS rows_checked,
           CAST(violations AS BIGINT) AS violations,
           violations = 0 AS passed
    FROM (
        SELECT 'orders.o_orderdate_not_null' AS check_name, n AS rows_checked,
               null_date AS violations FROM o
        UNION ALL SELECT 'orders.o_totalprice_positive', n, bad_price FROM o
        UNION ALL SELECT 'orders.o_orderkey_unique', n, dup_key FROM o
        UNION ALL SELECT 'orders.o_orderpriority_in_domain', n, bad_priority FROM o
        UNION ALL SELECT 'lineitem.l_quantity_in_(0,100]', n, bad_qty FROM l
        UNION ALL SELECT 'lineitem.l_discount_in_[0,1]', n, bad_disc FROM l
        UNION ALL SELECT 'lineitem.(l_orderkey,l_linenumber)_unique', n, dup_key
            FROM l
        UNION ALL SELECT 'orders.o_custkey_fk_customer', n, v FROM fko
        UNION ALL SELECT 'lineitem.l_orderkey_fk_orders', n, v FROM fkl
    )
    """,
)
def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``constraint_audit`` over orders/lineitem/customer: 9 checks across
    nulls, ranges, domains, key uniqueness, and two foreign keys — the
    batch-ingest quality gate, one scan per table. Clean synthetic data
    audits to zero violations; each check's ability to FIRE is proven on
    injected dirty rows in ``test_graph_datapipe.py``."""
    return constraint_audit(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "customer"),
    )


CONT_TAU_NUM, CONT_TAU_DEN = 9, 10


def containment_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    tau_num: int = CONT_TAU_NUM,
    tau_den: int = CONT_TAU_DEN,
) -> DataFrame:
    """Exact-threshold CONTAINMENT self-join: every ordered pair (i, j)
    with |S_i ∩ S_j| / |S_i| >= tau over n-gram shingle sets — doc i is a
    near-SUBSET of doc j. This is the asymmetric dup the Jaccard family
    structurally misses: a quote, excerpt, or page-plus-boilerplate has
    high containment but LOW Jaccard when sizes differ (|A∩B|/|A∪B| is
    dragged down by the big side), and MinHash-LSH bands on Jaccard, so
    size-mismatched inclusion pairs never become candidates there.

    Pruning is lossless and all-integer (tau kept rational, like
    ``ngram_jaccard_join``): only the CONTAINED side gets a prefix — a
    qualifying pair must share a shingle within i's first
    |S_i| - ceil(tau*|S_i|) + 1 rarest-first shingles — probed against the
    FULL shingle index of the other side (containment admits no prefix on
    the containing side: j may be arbitrarily large), plus the length
    filter |S_j| >= ceil(tau*|S_i|), plus the POSITIONAL filter: a match
    at ranks (pa, pb) under the shared global rarest-first order caps the
    intersection at min(|S_i| - pa, |S_j| - pb) + 1, which must reach
    ceil(tau*|S_i|). Lossless by the first-shared-term argument (as in
    the Jaccard sibling): a true pair's first shared shingle has no
    shared shingle before it on EITHER side, so the cap is genuine there,
    and pigeonhole puts that shingle inside i's prefix. Candidates are
    then verified exactly.

    At 100 TB: two keyed shuffles for shingle stats + one keyed
    prefix-vs-index join + one keyed verify join — no all-pairs stage,
    and the positional cap evaluates IN-STREAM inside the candidate
    join's own stage, so false candidates die before the distinct/verify
    shuffles ever see them. The candidate join is merge-hinted: both its
    sides scale with the corpus, and at sf10 AQE's runtime size estimate
    (compressed shuffle bytes) converted it to broadcast and killed the
    driver building a multi-million-row hash relation — a hint here
    encodes a true invariant, not a tuning guess. The oracle is the
    unpruned all-pairs ground truth, so every gate run is an empirical
    losslessness proof for the prefix+length+positional pruning.

    Cost is CORPUS-ENTROPY-dependent, measured honestly (r8, 500k docs):
    on a realistic vocabulary (1M terms — web-like shingle entropy) the
    prefix join stays bounded and the whole query runs locally
    (`evidence/bench_containment_r08.json`); on `tools/gen_sf.py`'s
    29,791-distinct-trigram corpus every doc pair shares rare-looking
    shingles and the candidate set is irreducibly ~1.35e9 pairs (measured
    post-positional, 97% of them distinct — no published lossless filter
    can prune what the data doesn't distinguish), which needs a cluster,
    not a laptop; the DuckDB all-pairs oracle is equally quadratic there,
    which is why the pair joins are excluded BY NAME from the sf10 gate
    (`evidence/CHECK_r08_sf10.txt`)."""
    p, q = tau_num, tau_den
    grams = ", ' ', ".join(
        ["t[i]"] + [f"t[i + {k}]" for k in range(1, ngram)]
    )
    d = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.lower(text_col), " ").alias("t"),
        )
        .where(F.size("t") >= ngram)
    )
    sh = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {ngram}),"
                    f" i -> concat({grams}))"
                )
            ).alias("term"),
        )
        .distinct()
        .persist()
    )

    gf = sh.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "term")
    ranked = (
        sh.join(gf, "term")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    )
    prefix = ranked.where(
        F.col("pos") <= F.expr(f"n - ({p} * n + {q - 1}) div {q} + 1")
    ).select("doc_id", "term", "pos", "n")

    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # the full index side carries pos too: the positional cap needs the
    # match's rank within j under the SAME global (df, term) order
    full = ranked.select(
        F.col("doc_id").alias("j"),
        "term",
        F.col("pos").alias("pb"),
        F.col("n").alias("nb"),
    )
    cand = (
        # size-gated merge hint: BOTH sides are corpus-derived (prefix
        # table and the full shingle index) — broadcasting either is wrong
        # at large scale, and AQE's compressed-bytes estimate was measured
        # doing exactly that at sf10 (driver OOM building the hash
        # relation); below the gate the planner keeps broadcast
        merge_if_large(prefix.alias("a"), size_from=docs)
        .join(full.alias("b"), "term")
        .where(F.col("a.doc_id") != F.col("b.j"))
        # length: the containing side must hold at least ceil(tau*|A|)
        .where(F.expr(f"b.nb >= ({p} * a.n + {q - 1}) div {q}"))
        # positional: a match at (pos, pb) caps |A∩B| at
        # min(|A| - pos, |B| - pb) + 1, which must reach ceil(tau*|A|) —
        # evaluated in-stream in the join stage, so false candidates die
        # before the distinct/verify shuffles ever see them
        .where(
            F.expr(
                "least(a.n - a.pos, b.nb - b.pb) + 1"
                f" >= ({p} * a.n + {q - 1}) div {q}"
            )
        )
        .select(F.col("a.doc_id").alias("i"), F.col("b.j").alias("j"))
        .distinct()
    )

    # corpus-derived verify/size sides size-gated-merge-hinted — see the
    # Jaccard sibling: static estimates plan them as broadcasts at sf10
    sa = sh.select(F.col("doc_id").alias("i"), "term")
    sb = sh.select(F.col("doc_id").alias("j"), "term")
    inter = (
        cand.join(merge_if_large(sa, size_from=docs), "i")
        .join(merge_if_large(sb, size_from=docs), ["j", "term"])
        .groupBy("i", "j")
        .agg(F.count("*").alias("c"))
    )
    return (
        inter.join(
            merge_if_large(
                sz.select(F.col("doc_id").alias("i"), F.col("n").alias("na")),
                size_from=docs,
            ),
            "i",
        )
        .where(F.col("c") * q >= F.col("na") * p)
        .select("i", "j", F.round(F.col("c") / F.col("na"), 6).alias("containment"))
    )


@query(
    "q_containment_pairs",
    oracle="""
    WITH sd AS (
        SELECT DISTINCT d.doc_id,
               d.t[i] || ' ' || d.t[i + 1] || ' ' || d.t[i + 2] AS term
        FROM (SELECT doc_id, str_split(lower(text), ' ') AS t
              FROM documents) d,
             UNNEST(range(1, len(d.t) - 1)) AS r(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sd GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
        FROM sd a JOIN sd b ON a.term = b.term AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i, j, ROUND(c / (sa.n * 1.0), 6) AS containment
    FROM inter
    JOIN sz sa ON sa.doc_id = inter.i
    WHERE c * 10 >= sa.n * 9
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``containment_join`` over the documents table: trigram shingles,
    tau = 9/10 — every doc that is a >=90% shingle-subset of another,
    directed. The DuckDB oracle is the UNPRUNED all-pairs ground truth, so
    every gate run empirically proves the prefix+length pruning lossless
    on this corpus."""
    return containment_join(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", 3
    )


PACK_BUDGET = 2048   # context-window token budget
PACK_SHARD = 2000    # docs per packing shard (bounds window-partition size)


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_col: str = "source",
    budget: int = PACK_BUDGET,
    shard_size: int = PACK_SHARD,
) -> DataFrame:
    """Token-budget sequence packing — the layout step that turns a curated
    corpus into fixed-size training windows (every LLM pretraining loader
    does exactly this before batching). Whitespace token counts of
    ``text_col`` feed :func:`pack_windows`."""
    return pack_windows(
        docs.select(
            F.col(stream_col).alias("stream"),
            F.col(id_col).alias("doc"),
            F.size(F.split(F.col(text_col), " ")).alias("ntok"),
        ),
        budget,
        shard_size,
    )


def pack_windows(
    laid: DataFrame, budget: int = PACK_BUDGET, shard_size: int = PACK_SHARD
) -> DataFrame:
    """Pack (stream, doc, ntok) rows into ``budget``-token windows.

    Documents are laid out contiguously per (stream, shard) in ``doc``
    order; a document belongs to the context window its FIRST token lands in
    (cumulative tokens before it, integer-divided by ``budget`` — documents
    overflowing a boundary spill into the next window, the standard packed
    layout). Output: one row per window with its document span and token
    count — the manifest a data loader consumes.

    Scale shape: ONE shuffle, on (stream, shard). The running total is a
    bounded window — ``shard_size`` caps rows per partition, so no stream's
    packing serializes onto a single task no matter how large the corpus
    (the classic global-cumsum trap this op is usually built with). Window
    ids are (shard, seq_in_shard) pairs: shard boundaries start fresh
    windows, which wastes at most one partial window per shard — the same
    deal every sharded pretraining layout accepts."""
    # integer division, not float-divide-then-cast: stays exact over the
    # full int64 id range (float division loses precision past 2^53)
    # ``shard`` is projected below the window (a lateral alias cannot be a
    # window key), so the window's exchange on (stream, shard) also serves
    # the aggregate
    laid = laid.selectExpr(
        "stream", "doc", f"doc div {shard_size} AS shard", "ntok"
    ).selectExpr(
        "stream",
        "doc",
        "shard",
        "ntok",
        "coalesce(sum(ntok) OVER (PARTITION BY stream, shard ORDER BY doc"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        f" div {budget} AS seq_id",
    )
    return laid.groupBy("stream", "shard", "seq_id").agg(
        F.expr("count(*) AS n_docs"),
        F.expr("CAST(sum(ntok) AS BIGINT) AS n_tokens"),
        F.expr("min(doc) AS first_doc"),
        F.expr("max(doc) AS last_doc"),
    )


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT source AS stream, doc_id AS doc,
               doc_id // {PACK_SHARD} AS shard,
               len(str_split(text, ' ')) AS ntok
        FROM documents
    ),
    c AS (
        SELECT stream, doc, shard, ntok,
               COALESCE(SUM(ntok) OVER (
                   PARTITION BY stream, shard ORDER BY doc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM t
    )
    SELECT stream, shard, CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           MIN(doc) AS first_doc, MAX(doc) AS last_doc
    FROM c
    GROUP BY stream, shard, CAST(cum_before // {PACK_BUDGET} AS BIGINT)
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(load_table(spark, sf_dir, "documents"))


q_pack_sequences.__doc__ = f"""``pack_sequences`` over the documents table:
whitespace token counts, {PACK_BUDGET}-token windows, sharded per source
stream. The window manifest (doc span + token count per context window) is
oracle-checked bit-for-bit — a wrong boundary, a lost document, or an
off-by-one in the running total breaks the hash."""


@query(
    "q_temporal_join",
    oracle="""
    WITH v AS (
        SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
               LAG(o_orderpriority) OVER w AS prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    ch AS (
        SELECT * FROM v WHERE prev IS NULL OR prev <> o_orderpriority
    ),
    dim AS (
        SELECT o_custkey AS custkey,
               o_orderpriority AS attr,
               o_orderdate AS valid_from,
               LEAD(o_orderdate) OVER w AS valid_to
        FROM ch
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    f AS (
        SELECT o.o_custkey AS custkey, l.l_shipdate AS ship
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT d.attr,
           COUNT(*) AS n_items,
           COUNT(DISTINCT f.custkey) AS n_customers
    FROM f JOIN dim d
      ON d.custkey = f.custkey
     AND f.ship >= d.valid_from
     AND (d.valid_to IS NULL OR f.ship < d.valid_to)
    GROUP BY d.attr
    """,
)
def q_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: each fact row is matched to the
    dimension VERSION valid at its own timestamp — lineitems against the
    SCD2 priority intervals their customer had AT SHIP TIME (which is often
    a later version than at order time: the query is non-vacuous exactly
    because priorities change between order and ship).

    This is the lookup every warehouse with SCD2 dimensions runs; the
    half-open [valid_from, valid_to) intervals from ``scd2_intervals`` make
    the match unique by construction (no overlap, no gap after a customer's
    first order), so no dedup pass is needed afterward. Plan shape: the
    equi-key (custkey) drives a hash join; the range predicate applies as a
    post-join filter within each key group — never a cross product (plan
    audit enforces). Intervals are change-compressed first, so the joined
    dimension side is small; at 100 TB the dim side broadcasts per
    partition-pruned date range."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    facts = li.join(
        o.select("o_orderkey", F.col("o_custkey").alias("custkey")),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select("custkey", F.col("l_shipdate").alias("ship"))
    dim = scd2_intervals(o)
    joined = facts.join(
        dim,
        (facts["custkey"] == dim["custkey"])
        & (F.col("ship") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ship") < F.col("valid_to"))),
    )
    return joined.groupBy("attr").agg(
        F.count("*").alias("n_items"),
        F.countDistinct(facts["custkey"]).alias("n_customers"),
    )


CHUNK_W, CHUNK_S = 64, 48  # window 64 tokens, stride 48 (25% overlap)


def chunk_windows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = CHUNK_W,
    stride: int = CHUNK_S,
) -> DataFrame:
    """Stride-overlapped context-window chunking: split each document's
    token stream into windows of ``window`` tokens starting every
    ``stride`` tokens — the doc-preparation step for embedding models /
    RAG indexing / long-context eval, and the overlapped complement of
    ``pack_sequences`` (which concatenates docs; this splits them).

    Window starts are 1, 1+S, 1+2S, … while the previous window's end is
    still inside the doc (``start <= n - W + S``), so every token lands in
    at least one chunk, consecutive chunks overlap by ``W - S`` tokens,
    and only the final chunk may be short. Docs shorter than one window
    yield exactly one chunk.

    Pure per-document map work: the start offsets are generated in-plan
    (``sequence`` + ``posexplode``), the chunk is an array ``slice`` — no
    shuffle, no window function, no UDF, so throughput is scan-bound at
    any corpus size and the operator composes with chunk-level dedup or
    embedding stages without a repartition."""
    t = F.split(F.col(text_col), " ")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.lit(1), F.size("t") - F.lit(window - stride)),
        F.lit(stride),
    )
    chunk = F.slice(F.col("t"), F.col("start"), window)
    return (
        docs.select(F.col(id_col), t.alias("t"))
        .select(
            id_col, F.posexplode(starts).alias("chunk_idx", "start"), "t"
        )
        .select(
            id_col,
            "chunk_idx",
            F.col("start").alias("start_token"),
            F.size(chunk).alias("n_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
    )


@query(
    "q_chunk_windows",
    oracle=f"""
    WITH t AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
    s AS (
        SELECT doc_id, t,
               UNNEST(generate_series(
                   1, greatest(1, len(t) - {CHUNK_W - CHUNK_S}), {CHUNK_S}
               )) AS start
        FROM t
    )
    SELECT doc_id,
           CAST((start - 1) // {CHUNK_S} AS INT) AS chunk_idx,
           CAST(start AS INT) AS start_token,
           CAST(len(t[start : start + {CHUNK_W - 1}]) AS INT) AS n_tokens,
           md5(array_to_string(t[start : start + {CHUNK_W - 1}], ' '))
               AS chunk_md5
    FROM s
    """,
)
def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``chunk_windows`` over ``documents`` (W=64, S=48): every doc split
    into overlapped context windows, identified by (doc_id, chunk_idx)
    with the chunk content pinned by md5 — both engines must produce the
    identical chunking down to every token boundary. Boundary/coverage
    properties (every token covered, overlap exactly W−S, short docs one
    chunk) are pytest-proven on hand-built docs."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return chunk_windows(d)


PSI_BINS = 10
PSI_THRESHOLD = 0.2


def psi_drift(
    events: DataFrame,
    split_date: str = "2024-01-16",
    bins: int = PSI_BINS,
    threshold: float = PSI_THRESHOLD,
) -> DataFrame:
    """Population-Stability-Index drift audit between two snapshots of an
    event stream: per event type, how far the ``value`` distribution in the
    CURRENT window (on/after ``split_date``) has moved from the BASELINE
    window before it. The drift gate that pairs with ``constraint_audit``:
    constraints catch broken rows, PSI catches a feed whose rows are all
    individually valid but collectively shifted (sensor recalibrated,
    upstream price rule changed, bot cohort arrived).

    PSI = Σ_bins (p_b − q_b)·ln(p_b/q_b) over a FIXED equi-width 10-bin
    grid spanning the global [min, max] (data-independent binning keeps
    the two snapshots comparable and the oracle exact); counts are
    Laplace-smoothed (+0.5/bin) so empty bins stay finite deterministically
    — no epsilon heuristics. Conventional reading: <0.1 stable, >0.2
    drifted (the ``drifted`` flag compares the ROUNDED psi so both engines
    agree at the boundary).

    Shape: one scan bins every event (the global min/max folds in as a
    broadcast 1-row aggregate), one map-side-combining count per
    (type, bin, side), then |types|×|bins| rows of window algebra — the
    corpus never shuffles twice, the report is |types| rows. Degenerate
    all-equal ``value`` feeds (vmax = vmin) are the caller's guard."""
    e = events.select(
        "event_type",
        "value",
        (F.to_date("ts") < F.lit(split_date)).alias("is_base"),
    )
    rng = e.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    binned = e.crossJoin(F.broadcast(rng)).select(
        "event_type",
        "is_base",
        F.least(
            F.lit(bins - 1),
            F.floor(
                (F.col("value") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * bins
            ),
        )
        .cast("int")
        .alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0)).alias("c_base"),
        F.sum(F.when(~F.col("is_base"), 1).otherwise(0)).alias("c_curr"),
    )
    grid = (
        counts.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin"),
        )
    )
    full = grid.join(counts, ["event_type", "bin"], "left").fillna(
        0, ["c_base", "c_curr"]
    )
    tot = full.groupBy("event_type").agg(
        F.sum("c_base").alias("tot_base"), F.sum("c_curr").alias("tot_curr")
    )
    j = full.join(tot, "event_type")
    smooth = F.lit(bins * 0.5)
    p = (F.col("c_base") + F.lit(0.5)) / (F.col("tot_base") + smooth)
    q = (F.col("c_curr") + F.lit(0.5)) / (F.col("tot_curr") + smooth)
    psi = F.round(F.sum((p - q) * F.log(p / q)), 5)
    return (
        j.groupBy("event_type")
        .agg(
            F.max("tot_base").cast("bigint").alias("n_base"),
            F.max("tot_curr").cast("bigint").alias("n_curr"),
            psi.alias("psi"),
        )
        .select(
            "event_type",
            "n_base",
            "n_curr",
            "psi",
            (F.col("psi") > F.lit(threshold)).alias("drifted"),
        )
    )


@query(
    "q_drift_psi",
    oracle=f"""
    WITH e AS (
        SELECT event_type, value,
               CAST(ts AS DATE) < DATE '2024-01-16' AS is_base
        FROM events
    ),
    rng AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM e),
    binned AS (
        SELECT event_type, is_base,
               CAST(LEAST({PSI_BINS - 1},
                          FLOOR((value - vmin) / (vmax - vmin) * {PSI_BINS}))
                    AS INT) AS bin
        FROM e, rng
    ),
    counts AS (
        SELECT event_type, bin,
               SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS c_base,
               SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS c_curr
        FROM binned GROUP BY event_type, bin
    ),
    grid AS (
        SELECT t.event_type, b.bin
        FROM (SELECT DISTINCT event_type FROM counts) t,
             (SELECT UNNEST(generate_series(0, {PSI_BINS - 1})) AS bin) b
    ),
    full_g AS (
        SELECT g.event_type, g.bin,
               COALESCE(c.c_base, 0) AS c_base,
               COALESCE(c.c_curr, 0) AS c_curr
        FROM grid g
        LEFT JOIN counts c ON g.event_type = c.event_type AND g.bin = c.bin
    ),
    tot AS (
        SELECT event_type, SUM(c_base) AS tot_base, SUM(c_curr) AS tot_curr
        FROM full_g GROUP BY event_type
    ),
    rep AS (
        SELECT f.event_type,
               CAST(MAX(tot_base) AS BIGINT) AS n_base,
               CAST(MAX(tot_curr) AS BIGINT) AS n_curr,
               ROUND(SUM(((c_base + 0.5) / (tot_base + {PSI_BINS * 0.5})
                          - (c_curr + 0.5) / (tot_curr + {PSI_BINS * 0.5}))
                         * LN(((c_base + 0.5) / (tot_base + {PSI_BINS * 0.5}))
                              / ((c_curr + 0.5) / (tot_curr + {PSI_BINS * 0.5})))),
                     5) AS psi
        FROM full_g f JOIN tot USING (event_type)
        GROUP BY f.event_type
    )
    SELECT event_type, n_base, n_curr, psi, psi > {PSI_THRESHOLD} AS drifted
    FROM rep
    """,
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``psi_drift`` over ``events`` split at 2024-01-16: per event type,
    the PSI between the first-half and second-half ``value`` distributions
    plus the conventional >0.2 drift flag. The synthetic feed is stationary
    (psi ≈ 0, no flags) — the flag's ability to FIRE on a genuinely
    shifted distribution is pytest-proven on a planted mean-shift."""
    return psi_drift(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# MinHash-LSH recall contract (r7): the dedup family's accuracy number
# ---------------------------------------------------------------------------


def _dedup_recall_oracle() -> str:
    from projet_data_engineering_spark.operators.dedup import _minhash_oracle

    return f"""
    WITH lsh AS ({_minhash_oracle()}),
    sd AS (
        SELECT DISTINCT d.doc_id,
               d.t[i] || ' ' || d.t[i + 1] || ' ' || d.t[i + 2] AS term
        FROM (SELECT doc_id, str_split(lower(text), ' ') AS t
              FROM documents) d,
             UNNEST(range(1, len(d.t) - 1)) AS r(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sd GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
        FROM sd a JOIN sd b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
        SELECT i, j FROM inter
        JOIN sz sa ON sa.doc_id = inter.i
        JOIN sz sb ON sb.doc_id = inter.j
        WHERE c * {JAC_TAU_DEN} >= (sa.n + sb.n - c) * {JAC_TAU_NUM}
    )
    SELECT n_true, n_found, n_candidates,
           CASE WHEN n_true > 0
                THEN ROUND(n_found / (n_true * 1.0), 4) END AS recall
    FROM (
        SELECT (SELECT COUNT(*) FROM truth) AS n_true,
               (SELECT COUNT(*) FROM truth t
                JOIN lsh p ON t.i = p.doc1 AND t.j = p.doc2) AS n_found,
               (SELECT COUNT(*) FROM lsh) AS n_candidates
    )
    """


@query("q_dedup_recall", oracle=_dedup_recall_oracle())
def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH accuracy contract (the dedup twin of
    ``q_ann_recall``): recall of the banded candidate generator against the
    EXACT trigram-Jaccard ≥ 4/5 ground truth — both sides computed in the
    same shingle space the signatures hash, so the number is the one the
    banding theory predicts (8 hashes × 4 bands of 2: P[collide | jac=0.8]
    = 1−(1−0.8²)⁴ ≈ 0.983). Reports (n_true, n_found, n_candidates,
    recall); n_candidates also exposes the false-positive load the verify
    stage pays.

    Scale shape: ground truth comes from :func:`ngram_jaccard_join` —
    PPJoin prefix/length/positional pruning, provably lossless, never
    all-pairs — so the contract itself runs at corpus scale (the DuckDB
    oracle uses the unpruned all-pairs form, doubling as the pruning's
    losslessness proof); the LSH side is the banded bucket join. The
    membership probe is a ≤|truth|-row hash join."""
    from projet_data_engineering_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    truth = ngram_jaccard_join(d, "doc_id", "text", 3).select(
        F.col("i").alias("doc1"), F.col("j").alias("doc2")
    )
    lsh = minhash_candidate_pairs(d, "doc_id", "text")
    # size-gated merge hint: truth and the LSH candidate list are BOTH
    # O(dup-pairs), i.e. corpus-sized on any real web corpus — at sf10 AQE
    # broadcast-converted this probe join (4.1M-pair side compresses under
    # the 64 MB threshold) and OOMed the driver building the hash relation
    probed = merge_if_large(truth, size_from=d).join(
        lsh.withColumn("f", F.lit(1)), ["doc1", "doc2"], "left"
    ).agg(
        F.count("*").alias("n_true"),
        # count of non-null flags, not sum: stays 0 (never NULL) when the
        # truth set is empty — sf1.0's synthetic corpus genuinely has zero
        # trigram-Jaccard>=0.8 pairs, and the degenerate case must agree
        # across engines
        F.count("f").alias("n_found"),
    )
    cand = lsh.agg(F.count("*").alias("n_candidates"))
    # recall undefined on an empty truth set: NULL, guarded on BOTH engines
    # (an unguarded 0/0 would THROW under ANSI mode here)
    recall = F.when(
        F.col("n_true") > 0,
        F.round(F.col("n_found") / (F.col("n_true") * F.lit(1.0)), 4),
    )
    return probed.crossJoin(cand).select(
        "n_true", "n_found", "n_candidates", recall.alias("recall")
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (r7b): the privacy gate next to the constraint audit
# ---------------------------------------------------------------------------

KANON_K = 5
KANON_BAND = 2000.0


@query(
    "q_k_anonymity",
    oracle=f"""
    SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
           CAST(FLOOR(c_acctbal / {KANON_BAND}) AS BIGINT) AS bal_band,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CASE WHEN COUNT(*) >= {KANON_K} THEN 1 ELSE 0 END AS anon_ok
    FROM customer
    GROUP BY c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / {KANON_BAND}) AS BIGINT)
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney, 2002) over the customer table's
    quasi-identifiers — nation, market segment, and a coarsened account
    balance band: every equivalence class smaller than k={KANON_K} is a
    re-identification risk the pipeline must generalize or suppress
    before the table ships as training data. Pairs with ``q_pii_redact``
    (which removes DIRECT identifiers — this audit is about indirect
    ones) and ``q_constraint_audit`` (same one-aggregate report shape).

    ONE groupBy over the quasi-identifier tuple; the report is
    |equivalence classes| rows. At 100 TB the QI tuple is the shuffle key
    and the class count is map-side combined — the audit costs what any
    distinct-count on those columns costs. The banding constant doubles
    as the generalization knob: widen it until every class clears k."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") / KANON_BAND)
            .cast("bigint")
            .alias("bal_band"),
        )
        .agg(F.count("*").alias("group_size"))
        .select(
            "nationkey",
            "segment",
            "bal_band",
            "group_size",
            F.when(F.col("group_size") >= KANON_K, 1).otherwise(0).alias(
                "anon_ok"
            ),
        )
    )
