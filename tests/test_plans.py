"""Physical-plan assertions: the properties that make these operators hold at
100 TB — pushdown, pruning, broadcast, true top-k, codegen, bounded shuffles.
A change that silently de-optimizes a plan fails here, not on the cluster."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

import __spark_entry__ as entrymod
from projet_data_engineering_spark.plans.explain import (
    codegen_stage_count,
    formatted_plan,
    has_pushed_filter,
    lambda_bodies,
    optimized_plan,
    read_schema_columns,
    shuffle_count,
    uses_broadcast_join,
    uses_take_ordered,
)
from tests.conftest import SF_DIR

Q = entrymod.queries()


def test_isin_filter_pushed_to_scan(spark):
    df = Q["q_filter_isin"](spark, SF_DIR)
    assert has_pushed_filter(df, "o_orderpriority")


def test_range_filter_pushed_to_scan(spark):
    df = Q["q_filter_range"](spark, SF_DIR)
    assert has_pushed_filter(df, "l_quantity")


def test_projection_prunes_scan_columns(spark):
    df = Q["q_project"](spark, SF_DIR)
    cols = read_schema_columns(df, "customer.parquet")
    assert cols == ["c_custkey", "c_name", "c_mktsegment"]


def test_agg_prunes_unused_fact_columns(spark):
    df = Q["q_tpch_q1"](spark, SF_DIR)
    cols = read_schema_columns(df, "lineitem.parquet")
    # 7 columns used; the other 4 (orderkey/partkey/suppkey/linenumber) pruned
    assert set(cols) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_dim_join_broadcasts(spark):
    assert uses_broadcast_join(Q["q_join_inner"](spark, SF_DIR))
    assert uses_broadcast_join(Q["q_join_multi"](spark, SF_DIR))


def test_topk_avoids_full_sort(spark):
    assert uses_take_ordered(Q["q_topk"](spark, SF_DIR))


def test_flagship_stays_in_codegen(spark):
    assert codegen_stage_count(Q["q_tpch_q1"](spark, SF_DIR)) >= 1


def test_shuffle_budgets(spark):
    # single-agg queries: exactly one exchange (partial+final hash agg)
    assert shuffle_count(Q["q_tpch_q1"](spark, SF_DIR)) <= 1
    assert shuffle_count(Q["q_value_counts"](spark, SF_DIR)) <= 1
    # broadcast dim join + agg: the fact side shuffles once, for the agg only
    assert shuffle_count(Q["q_join_inner"](spark, SF_DIR)) <= 1
    # map-only ETL chains: zero shuffles
    assert shuffle_count(Q["q_duration_parse"](spark, SF_DIR)) == 0
    assert shuffle_count(Q["q_case_when"](spark, SF_DIR)) == 0
    assert shuffle_count(Q["q_should_score"](spark, SF_DIR)) == 0


def test_bucketed_join_needs_no_shuffle(spark, tmp_path_factory):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge join with ZERO exchanges — the write-once/join-free path."""
    from projet_data_engineering_spark.io import load_table, write_bucketed
    from projet_data_engineering_spark.plans.explain import shuffle_count

    wh = tmp_path_factory.mktemp("warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{wh}'")
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    write_bucketed(li, "bkt.li_b", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed(o, "bkt.o_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])

    a = spark.table("bkt.li_b")
    b = spark.table("bkt.o_b")
    # disable broadcast so the join strategy is actually exercised
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.join(b, a.l_orderkey == b.o_orderkey)
        assert shuffle_count(j) == 0
        plain = load_table(spark, SF_DIR, "lineitem").join(
            load_table(spark, SF_DIR, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert shuffle_count(plain) >= 1  # the cost bucketing removes
        assert j.count() == plain.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS bkt.li_b")
        spark.sql("DROP TABLE IF EXISTS bkt.o_b")
        spark.sql("DROP DATABASE IF EXISTS bkt")


def test_partitioned_write_prunes_partitions(spark, tmp_path_factory):
    """A lang-partitioned table filtered on lang must scan only the matching
    partition directories (PartitionFilters in the scan, not a post-filter)."""
    from projet_data_engineering_spark.io import load_table, overwrite_table
    from projet_data_engineering_spark.plans.explain import formatted_plan

    out = str(tmp_path_factory.mktemp("part") / "docs")
    overwrite_table(
        load_table(spark, SF_DIR, "documents"), out, partition_by=["lang"]
    )
    df = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = formatted_plan(df)
    assert any(
        "PartitionFilters" in ln and "lang" in ln for ln in plan.splitlines()
    )
    n_en = df.count()
    total = spark.read.parquet(out).count()
    assert 0 < n_en < total


def test_range_join_broadcasts_nested_loop(spark):
    """The tiny band table must broadcast (nested-loop), never shuffle the
    orders side."""
    from projet_data_engineering_spark.plans.explain import formatted_plan

    plan = formatted_plan(Q["q_join_range"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan


def test_asof_join_single_shuffle(spark):
    """The union-trick as-of join must cost exactly one exchange (the
    per-user window partitioning) — no per-pair join blowup."""
    assert shuffle_count(Q["q_join_asof"](spark, SF_DIR)) <= 1


def test_salted_agg_two_shuffles_max(spark):
    """Two-stage salted aggregation: partial (keys+salt) + final (keys)."""
    assert shuffle_count(Q["q_salted_agg"](spark, SF_DIR)) <= 2


def test_exists_plans_as_semi_join(spark):
    """Q4's EXISTS must execute as a semi join — probe-only, no fact-side
    row duplication and no post-join distinct."""
    from projet_data_engineering_spark.plans.explain import formatted_plan

    assert "LeftSemi" in formatted_plan(Q["q_tpch_q4"](spark, SF_DIR))


def test_hof_arrays_map_only(spark):
    """Per-doc token stats via array lambdas: a narrow map over the scan —
    zero shuffles (the explode+groupBy alternative shuffles every token)."""
    assert shuffle_count(Q["q_hof_arrays"](spark, SF_DIR)) == 0


def test_zscore_single_shuffle(spark):
    """Whole-partition window stats: one exchange on the group key serves
    both AVG and STDDEV — no self-join."""
    assert shuffle_count(Q["q_zscore"](spark, SF_DIR)) == 1


def test_grouping_sets_single_shuffle(spark):
    """GROUPING SETS expands before the exchange: two breakdowns, one scan,
    one shuffle."""
    assert shuffle_count(Q["q_grouping_sets"](spark, SF_DIR)) <= 1


def test_stratified_sample_is_pure_filter(spark):
    """Hash-gated sampling must stay a map-only filter — no shuffle, no RNG
    exchange; the gate composes with scan pushdown."""
    assert shuffle_count(Q["q_sample_stratified"](spark, SF_DIR)) == 0


def test_union_evolve_no_shuffle(spark):
    """Schema-evolution union is plan-level concatenation: zero exchanges."""
    assert shuffle_count(Q["q_union_evolve"](spark, SF_DIR)) == 0


def test_ewma_bounded_shuffles(spark):
    """Daily pre-aggregate + one shared window frame: at most two exchanges
    (user_id×day agg, then user_id window)."""
    assert shuffle_count(Q["q_ewma"](spark, SF_DIR)) <= 2


def test_map_funcs_bounded_shuffles(spark):
    """Two-level aggregation into a map column: at most two exchanges."""
    assert shuffle_count(Q["q_map_funcs"](spark, SF_DIR)) <= 2


# --- round 2: new TPC-H shapes + BM25 variants -----------------------------


def test_tpch_q7_broadcasts_dims_and_pushes_dates(spark):
    df = Q["q_tpch_q7"](spark, SF_DIR)
    assert uses_broadcast_join(df)
    assert has_pushed_filter(df, "l_shipdate")
    # lineitem⋈orders(⋈customer) are the only fact shuffles (+1 for the agg)
    assert shuffle_count(df) <= 4


def test_tpch_q8_part_filter_prunes_before_fact_join(spark):
    df = Q["q_tpch_q8"](spark, SF_DIR)
    assert uses_broadcast_join(df)
    assert has_pushed_filter(df, "p_type")
    assert has_pushed_filter(df, "o_orderdate")


def test_tpch_q9_reads_only_needed_lineitem_columns(spark):
    df = Q["q_tpch_q9"](spark, SF_DIR)
    cols = read_schema_columns(df, "lineitem.parquet")
    assert set(cols) == {
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount",
    }


def test_tpch_q15_window_runs_on_aggregate_not_fact(spark):
    # the global-max window must consume the |suppliers|-row aggregate:
    # total shuffles = agg exchange + single-partition exchange (+AQE reuse)
    df = Q["q_tpch_q15"](spark, SF_DIR)
    assert shuffle_count(df) <= 3
    assert has_pushed_filter(df, "l_shipdate")


def test_tpch_q19_part_envelope_prefiltered(spark):
    df = Q["q_tpch_q19"](spark, SF_DIR)
    assert uses_broadcast_join(df)
    assert has_pushed_filter(df, "p_brand") or has_pushed_filter(df, "p_size")


def test_tpch_q22_anti_join_on_pruned_orders(spark):
    df = Q["q_tpch_q22"](spark, SF_DIR)
    cols = read_schema_columns(df, "orders.parquet")
    assert set(cols) == {"o_custkey", "o_orderdate"}
    assert has_pushed_filter(df, "o_orderdate")


def test_bm25_multifield_broadcasts_stats(spark):
    df = Q["q_bm25_multifield"](spark, SF_DIR)
    assert uses_broadcast_join(df)


def test_bm25_fuzzy_expansion_is_broadcast_not_shuffle(spark):
    # since r7 the levenshtein expansion runs on the DISTINCT vocabulary
    # (map-side-combined distinct — the only added shuffle carries |V|
    # terms, not token instances) and the resulting term->qterm map
    # broadcast-hash-joins back onto the exploded stream: per-instance
    # work is one hash probe, never an edit distance. Of the 7 shuffles
    # only the tf groupBy carries matched-token volume — vocab/df/stats/
    # final-score aggregates move |V|, |terms| or |matched docs| rows.
    df = Q["q_bm25_fuzzy"](spark, SF_DIR)
    assert uses_broadcast_join(df)
    assert shuffle_count(df) <= 7


# --- round 2: curation + multimodal plumbing -------------------------------


def test_repetition_is_shuffle_free(spark):
    # per-doc statistic via array lambdas — must NOT explode+groupBy
    assert shuffle_count(Q["q_repetition"](spark, SF_DIR)) == 0


def test_pii_redact_is_map_only(spark):
    assert shuffle_count(Q["q_pii_redact"](spark, SF_DIR)) == 0


def test_contamination_broadcasts_eval_grams(spark):
    df = Q["q_contamination"](spark, SF_DIR)
    assert uses_broadcast_join(df)
    assert shuffle_count(df) <= 3


def test_domain_mix_broadcasts_rates(spark):
    df = Q["q_domain_mix"](spark, SF_DIR)
    assert uses_broadcast_join(df)


def test_media_resize_never_reads_payload(spark):
    # metadata-only planning: documents scan must not include `text`
    df = Q["q_media_resize"](spark, SF_DIR)
    cols = read_schema_columns(df, "documents.parquet")
    assert "text" not in cols
    assert shuffle_count(df) == 0


def test_tfidf_builds_lazily_no_count_action(spark):
    """q_tfidf_topterms folds n_docs into the plan as a broadcast 1-row
    aggregate: constructing the DataFrame must launch ZERO jobs (the old
    shape ran a driver-side d.count() — a full wasted corpus scan at 100 TB)
    and the corpus-size join must be a broadcast."""
    from perfbench.census import Census
    from projet_data_engineering_spark.io import load_table

    census = Census(spark)
    with census.span("baseline"):  # footer-read jobs inherent to a scan
        load_table(spark, SF_DIR, "documents")
    with census.span("build"):  # plan construction must be lazy
        df = Q["q_tfidf_topterms"](spark, SF_DIR)
    baseline, built = (c.jobs for c in census.calls)
    assert built <= baseline     # no count() job beyond the scan's own setup
    assert uses_broadcast_join(df)


def test_tpch_q5_broadcasts_dims_single_fact_shuffle(spark):
    """Q5: supplier/nation/region ride broadcasts; customer is proportional
    to the corpus so it SHUFFLE-joins (broadcasting it would OOM a real
    cluster); the date filter pushes to the orders scan."""
    df = Q["q_tpch_q5"](spark, SF_DIR)
    assert uses_broadcast_join(df)
    assert has_pushed_filter(df, "o_orderdate")
    assert shuffle_count(df) <= 5      # orderkey join, custkey join, agg

def test_tpch_q2_argmin_reuses_groupby_shuffle(spark):
    """Q2's correlated min-cost subquery must be a window over the partkey,
    not a second aggregate + self-join: part/supplier sides broadcast, and
    the whole plan holds ≤3 exchanges (supply groupBy + window partition)."""
    df = Q["q_tpch_q2"](spark, SF_DIR)
    assert uses_broadcast_join(df)
    assert shuffle_count(df) <= 3

def test_tpch_q11_threshold_folds_into_plan(spark):
    """The HAVING-fraction threshold is a broadcast 1-row aggregate, not a
    driver-side scalar: constructing the DataFrame launches no jobs beyond
    the scan's own footer reads."""
    from perfbench.census import Census
    from projet_data_engineering_spark.io import load_table

    census = Census(spark)
    with census.span("baseline"):  # footer reads
        for t in ("lineitem", "supplier", "nation"):
            load_table(spark, SF_DIR, t)
    with census.span("build"):  # must be lazy
        df = Q["q_tpch_q11"](spark, SF_DIR)
    baseline, built = (c.jobs for c in census.calls)
    assert built <= baseline
    assert uses_broadcast_join(df)

def test_tpch_q21_one_fact_shuffle_no_self_joins(spark):
    """Q21's EXISTS/NOT-EXISTS pair must collapse into aggregation over ONE
    orderkey shuffle (per-supp flags reuse the same partitioning for the
    per-order rollup); only the tiny supplier join broadcasts."""
    df = Q["q_tpch_q21"](spark, SF_DIR)
    assert uses_broadcast_join(df)
    assert shuffle_count(df) <= 3      # orderkey agg, reused + s_name agg

def test_sample_bottomk_is_topk_not_full_sort(spark):
    df = Q["q_sample_bottomk"](spark, SF_DIR)
    assert uses_take_ordered(df)
    assert shuffle_count(df) == 0


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Spark's runtime bloom-filter injection — the shuffle-join analogue of
    broadcast pruning: a selective dim filter builds a bloom filter that
    pre-filters the fact side BEFORE its shuffle. On by default since Spark
    3.4; the application-side threshold (10 GB) is met naturally at real
    scale, so the test lowers it to exercise the path on test data."""
    from projet_data_engineering_spark.io import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        o = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            load_table(spark, SF_DIR, "lineitem")
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan
        assert j.count() > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_heavy_hitters_candidates_broadcast_no_dict_shuffle(spark):
    """The exact recount must join the token stream against the BROADCAST
    Misra-Gries candidate set and fold the corpus total in as a broadcast
    1-row aggregate — the full term dictionary never shuffles; the only
    hash exchanges are the tiny candidate distinct, the candidate-term
    recount, and the 1-row total's final-agg exchange."""
    df = Q["q_heavy_hitters"](spark, SF_DIR)
    assert uses_broadcast_join(df)
    assert shuffle_count(df) <= 3


def test_ngram_jaccard_no_cartesian(spark):
    """PPJoin candidate generation and verification are keyed joins on
    shingle/doc ids — an all-pairs CartesianProduct anywhere in the plan
    means the prefix filter stopped doing its job."""
    plan = formatted_plan(Q["q_ngram_jaccard_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_join_no_cartesian(spark):
    """Containment candidate generation probes the contained side's prefix
    against the full shingle index — still a keyed join on term; an
    all-pairs node anywhere means the prefix filter regressed."""
    plan = formatted_plan(Q["q_containment_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pair_join_candidate_stage_is_merge_not_broadcast(spark, monkeypatch):
    """The prefix-vs-index candidate join must plan a SortMergeJoin when
    the source-bytes gate says the corpus is big: both sides are
    corpus-derived, and at sf10 AQE's compressed-bytes estimate was
    measured broadcast-converting it and OOMing the driver building the
    hash relation (SCALING.md "Exact pair joins vs corpus entropy"). r9
    gated the hint on source bytes (plans/hints.py), so this pins BOTH
    halves of the contract: threshold 0 (every corpus is "big") must pin
    SortMergeJoin in the compiled plan, and the default threshold at the
    tiny test SF must leave the plan hint-free (no pinned SMJ required —
    the planner/AQE may broadcast, which is the measured-fast choice)."""
    from projet_data_engineering_spark.operators import datapipe
    from projet_data_engineering_spark.plans import hints

    real = hints.merge_if_large
    monkeypatch.setattr(
        datapipe,
        "merge_if_large",
        lambda df, threshold=0, size_from=None: real(df, 0, size_from),
    )
    for name in ("q_containment_pairs", "q_ngram_jaccard_pairs"):
        plan = formatted_plan(Q[name](spark, SF_DIR))
        assert "SortMergeJoin" in plan, (name, plan[:2000])
    monkeypatch.undo()
    # default gate at sf0.001: hint-free logical plan (no UnresolvedHint
    # survives analysis, so check the attach decision directly)
    from projet_data_engineering_spark.io import load_table

    assert hints.source_bytes(
        load_table(spark, SF_DIR, "documents")
    ) < hints.CORPUS_MERGE_THRESHOLD


@pytest.mark.slow
def test_no_query_plans_cartesian_or_rowwise_python(spark):
    """Repo-wide lint (tools/plan_audit.py twin): no registered query may
    plan a partitioned CartesianProduct or a row-at-a-time Python UDF
    (BatchEvalPython) — cross joins must ride broadcasts and Python must
    enter only through Arrow (MapInPandas / FlatMapGroupsInPandas)."""
    from tools.plan_audit import audit

    assert audit(spark, SF_DIR) == {}


def test_global_window_lint_flags_fact_input_allows_aggregate_input(spark):
    """The unbounded-global-window detector itself (VERDICT r4 watch item):
    a partition-less Window over a fact-sized input is flagged; the same
    window over an aggregate intermediate (the q_tpch_q15 shape) or a
    partitioned window over the fact table is clean."""
    from pyspark.sql import Window

    from projet_data_engineering_spark.io import load_table
    from projet_data_engineering_spark.plans.explain import (
        unbounded_global_windows,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    over_fact = li.withColumn(
        "rn", F.row_number().over(Window.orderBy("l_orderkey"))
    )
    assert unbounded_global_windows(over_fact)

    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    over_agg = agg.withColumn(
        "rnk", F.rank().over(Window.orderBy(F.desc("q")))
    )
    assert unbounded_global_windows(over_agg) == []

    partitioned = li.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        ),
    )
    assert unbounded_global_windows(partitioned) == []


def test_ann_bucketed_layout_prunes_probe_scan(spark, tmp_path):
    """The ANN serving layout the similarity docstrings promise: embeddings
    written partitioned by sign-LSH bucket turn each probe into a
    partition-pruned scan — the probe's filter reaches PartitionFilters and
    only the matching bucket directory is read."""
    from projet_data_engineering_spark.io import load_table
    from projet_data_engineering_spark.operators.similarity import sign_bucket
    from projet_data_engineering_spark.plans.explain import formatted_plan
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        "embedding",
        sign_bucket(F.col("embedding"), n_bits=4).alias("bucket"),
    )
    out = str(tmp_path / "emb_by_bucket")
    e.write.partitionBy("bucket").parquet(out)
    probe_bucket = e.filter(F.col("vec_id") == 0).select("bucket").first()[0]
    probed = spark.read.parquet(out).filter(F.col("bucket") == probe_bucket)
    plan = formatted_plan(probed)
    assert any(
        "PartitionFilters" in ln and "bucket" in ln for ln in plan.splitlines()
    )
    n_total = spark.read.parquet(out).count()
    n_probed = probed.count()
    assert 0 < n_probed < n_total  # genuinely pruned, not vacuous


def test_merge_if_large_gates_on_source_bytes(spark, tmp_path):
    """The size-gated merge hint (plans/hints.py): small file-backed
    frames stay hint-free (planner/AQE keep broadcast), frames at/above
    the threshold get the merge hint, and UNKNOWN sizes — in-memory
    frames, or scans hidden behind a persist() (the cache manager swaps
    the analyzed plan to an InMemoryRelation, so inputFiles goes empty)
    — default to the scale-safe hint unless the caller supplies
    size_from."""
    from pyspark.sql import functions as F

    from projet_data_engineering_spark.plans.hints import (
        merge_if_large,
        source_bytes,
    )

    path = str(tmp_path / "t")
    spark.range(1000).withColumn("v", F.col("id") * 2).write.parquet(path)
    df = spark.read.parquet(path)
    size = source_bytes(df)
    assert size is not None and size > 0

    def hinted(out):
        return "UnresolvedHint" in out._jdf.queryExecution().logical().toString()

    assert not hinted(merge_if_large(df, threshold=size + 1))
    assert hinted(merge_if_large(df, threshold=size))

    # persist hides the scan from inputFiles (InMemoryRelation replaces
    # the file relation on re-analysis) -> unknown -> scale-safe hint
    cached = spark.read.parquet(path).persist()
    derived = cached.select("id").alias("a")
    try:
        if source_bytes(derived) is None:
            assert hinted(merge_if_large(derived, threshold=size + 1))
        # ...unless the caller sizes from the raw source frame — the
        # pattern every pair-join call site uses (size_from=docs)
        assert not hinted(
            merge_if_large(derived, threshold=size + 1, size_from=df)
        )
    finally:
        cached.unpersist()

    # in-memory frames are unknown too
    mem = spark.createDataFrame([(1,)], "x int")
    assert source_bytes(mem) is None
    assert hinted(merge_if_large(mem, threshold=10**12))


def test_source_bytes_unquotes_percent_encoded_paths(spark, tmp_path):
    """ADVICE r9: inputFiles() %-encodes local paths (spaces etc.);
    source_bytes must unquote before stat, or a decodable path reads as
    unknown size and the gate wrongly pins the merge hint on a corpus
    that should keep the measured-fast broadcast path."""
    import os

    from projet_data_engineering_spark.plans.hints import source_bytes

    d = tmp_path / "dir with space"
    spark.range(100).coalesce(1).write.parquet(str(d))
    df = spark.read.parquet(str(d))
    assert any("%20" in f for f in df.inputFiles())
    want = sum(
        os.path.getsize(d / f)
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )
    assert source_bytes(df) == want > 0


@pytest.mark.parametrize(
    "name, per_row",
    [
        ("q_ngrams", "split("),
        ("q_contamination", "split("),
        ("q_repetition", "split("),
        # the cast vector's squared norm, a fold over the whole vector
        ("q_embed_dup_pairs", "aggregate("),
    ],
)
def test_lambdas_read_projected_arrays(spark, name, per_row):
    """A per-row array (the token split, the vector norm) is a projected
    column the lambdas read, not an expression re-run per element: in the
    optimized plan, after CollapseProject, no lambda body contains it."""
    plan = optimized_plan(Q[name](spark, SF_DIR))
    assert per_row in plan
    assert not any(per_row in body for body in lambda_bodies(plan))
