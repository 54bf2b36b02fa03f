"""Skew-mitigation and sketch operators: salting must be result-invisible,
sketches must land within their error bounds."""

from __future__ import annotations

import pyspark.sql.functions as F

import __spark_entry__ as entrymod
from projet_data_engineering_spark.io import load_table
from projet_data_engineering_spark.operators.skew import salted_join
from tests.conftest import SF_DIR

Q = entrymod.queries()


def test_salted_join_matches_plain_join(spark):
    """Any n_salts must produce exactly the plain join's rows."""
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    plain = sorted(map(tuple, li.join(o, "l_orderkey").collect()))
    for n in (1, 4, 13):
        salted = sorted(
            map(
                tuple,
                salted_join(li, o, "l_orderkey", F.hash("l_linenumber"), n).collect(),
            )
        )
        assert salted == plain, f"n_salts={n}"


def test_salted_join_left_outer_keeps_unmatched(spark):
    """Outer semantics survive salting: unmatched big-side rows keep nulls."""
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    # shift keys so some miss
    o = load_table(spark, SF_DIR, "orders").select(
        (F.col("o_orderkey") + 1).alias("l_orderkey"), "o_orderstatus"
    )
    plain = li.join(o, "l_orderkey", "left").filter(
        F.col("o_orderstatus").isNull()
    ).count()
    salted = (
        salted_join(li, o, "l_orderkey", F.hash("l_linenumber"), 4, how="left")
        .filter(F.col("o_orderstatus").isNull())
        .count()
    )
    assert plain == salted and plain > 0


def test_approx_distinct_within_error_bound(spark):
    approx = {
        r["o_orderstatus"]: r["n_custkeys_approx"]
        for r in Q["q_approx_distinct"](spark, SF_DIR).collect()
    }
    exact = {
        r["o_orderstatus"]: r["n"]
        for r in load_table(spark, SF_DIR, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, est in approx.items():
        rel_err = abs(est - exact[k]) / max(exact[k], 1)
        assert rel_err <= 0.10, f"{k}: est={est} exact={exact[k]}"


def test_ivf_neighbors_subset_of_bruteforce_universe(spark):
    """IVF returns real neighbors: every (query, hit) pair's score must equal
    the brute-force cosine for that pair (IVF may miss pairs — it's
    approximate — but must never fabricate scores)."""
    from projet_data_engineering_spark.operators.similarity import as_double, cosine

    e = load_table(spark, SF_DIR, "embeddings").selectExpr(
        "vec_id", f"{as_double('embedding')} AS v"
    )
    a, b = e.alias("a"), e.alias("b")
    all_pairs = {
        (r["q"], r["v"]): r["s"]
        for r in a.join(b, F.col("a.vec_id") < 3)
        .select(
            F.col("a.vec_id").alias("q"),
            F.col("b.vec_id").alias("v"),
            F.expr(f"round({cosine('a.v', 'b.v')}, 4) AS s"),
        )
        .collect()
    }
    for r in Q["q_ann_ivf"](spark, SF_DIR).collect():
        assert all_pairs[(r["query_id"], r["vec_id"])] == r["score"]


def test_sample_deterministic_and_bounded(spark):
    """Seeded sample: identical rows across re-runs; fraction within loose
    Bernoulli bounds."""
    a = sorted(r["doc_id"] for r in Q["q_sample"](spark, SF_DIR).collect())
    b = sorted(r["doc_id"] for r in Q["q_sample"](spark, SF_DIR).collect())
    assert a == b
    total = load_table(spark, SF_DIR, "documents").count()
    assert 0.1 * total <= len(a) <= 0.3 * total


def test_percentile_approx_close_to_exact(spark):
    approx = {
        r["l_returnflag"]: (r["p50_approx"], r["p95_approx"])
        for r in Q["q_percentile_approx"](spark, SF_DIR).collect()
    }
    exact = {
        r["l_returnflag"]: (r["p50"], r["p95"])
        for r in load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        )
        .collect()
    }
    for k in exact:
        for a, e in zip(approx[k], exact[k]):
            assert abs(a - e) / max(abs(e), 1) < 0.05, (k, a, e)


# ---------------------------------------------------------------------------
# Generated Zipf skew: salting bounds the max reduce-task input (VERDICT r4
# item 8 — the TPC-H keys above are uniform, so they never demonstrate WHY
# the salted plans exist)
# ---------------------------------------------------------------------------


def _zipf_rows(spark, n: int = 60_000):
    """Deterministic Zipf-ish key column: key k owns ~n/2^(k+1) rows, so
    key 0 alone holds half the table — the hot-key profile that pins one
    reducer in any shuffle-on-key plan."""
    u = (F.col("id") + 1) / (n + 1)
    return spark.range(n).select(
        "id",
        F.floor(-F.log2(u)).cast("int").alias("key"),
        (F.col("id") % 97).alias("v"),
    )


def _partition_rowcounts(df, cols) -> list[int]:
    """Row count per hash-shuffle partition for the given keys — exactly the
    reduce-task input sizes a groupBy/join on those keys would see."""
    return [
        r["n"]
        for r in df.repartition(32, *cols)
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]


def test_salting_bounds_max_task_input_under_zipf_skew(spark):
    skewed = _zipf_rows(spark)
    n_total = skewed.count()
    hot = skewed.filter(F.col("key") == 0).count()
    assert hot >= n_total * 0.45  # the fixture really is skewed

    naive = _partition_rowcounts(skewed, [F.col("key")])
    # every hot-key row lands in ONE reduce partition: the straggler task
    assert max(naive) >= hot

    salted = _partition_rowcounts(
        skewed.withColumn("_salt", F.pmod(F.hash("id"), F.lit(16))),
        [F.col("key"), F.col("_salt")],
    )
    # 16 salts spread the hot key ~16 ways; assert a conservative 4x bound
    assert max(salted) <= hot // 4
    assert sum(salted) == sum(naive) == n_total


def test_salted_agg_and_join_correct_under_zipf_skew(spark):
    """Salting stays result-invisible on data that actually needs it."""
    from projet_data_engineering_spark.operators.skew import salted_agg

    skewed = _zipf_rows(spark, n=20_000)
    plain = {
        r["key"]: (r["n"], r["s"])
        for r in skewed.groupBy("key")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        r["key"]: (r["n"], r["s"])
        for r in salted_agg(
            skewed,
            ["key"],
            F.hash("id"),
            16,
            partial_aggs={"pn": F.count("*"), "ps": F.sum("v")},
            final_aggs={"n": F.sum("pn"), "s": F.sum("ps")},
        ).collect()
    }
    assert salted == plain

    dim = spark.range(32).select(
        F.col("id").cast("int").alias("key"),
        F.concat(F.lit("label_"), F.col("id")).alias("label"),
    )
    plain_join = (
        skewed.join(dim, "key")
        .groupBy("label")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    salted_join_res = (
        salted_join(skewed, dim, "key", F.hash("id"), 16)
        .groupBy("label")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sorted(map(tuple, salted_join_res)) == sorted(map(tuple, plain_join))


# ---------------------------------------------------------------------------
# bloom-filter join pruning (r7)
# ---------------------------------------------------------------------------


def test_bloom_has_no_false_negatives(spark):
    """Every inserted key must pass its own filter — the property that makes
    the prefilter safe (false positives are removed by the exact join)."""
    from projet_data_engineering_spark.operators.skew import (
        bloom_bitmap,
        bloom_might_contain,
    )

    keys = spark.range(0, 5000, 7).select(F.col("id").alias("k"))
    bitmap = bloom_bitmap(keys, "k")
    passed = keys.filter(bloom_might_contain(F.col("k"), bitmap)).count()
    assert passed == keys.count()


def test_bloom_prefilter_is_selective_and_bounded(spark):
    """The fact prefilter keeps ~matches, not ~corpus, and the bitmap is the
    fixed 64 KiB summary regardless of build-side size."""
    from projet_data_engineering_spark.operators.skew import (
        BLOOM_NWORDS,
        bloom_bitmap,
        bloom_might_contain,
    )

    part = load_table(spark, SF_DIR, "part")
    dim = part.filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 5)
    ).select("p_partkey")
    bitmap = bloom_bitmap(dim, "p_partkey")
    assert len(bitmap) == BLOOM_NWORDS
    li = load_table(spark, SF_DIR, "lineitem")
    total = li.count()
    kept = li.filter(
        bloom_might_contain(F.col("l_partkey"), bitmap)
    ).count()
    matches = li.join(dim, li["l_partkey"] == dim["p_partkey"]).count()
    assert matches <= kept  # no false negatives end-to-end
    assert kept <= max(50, 3 * matches + total // 100)  # selective, FP-light


def test_bloom_join_plan_filters_before_exchange(spark):
    """The membership predicate must sit on the fact scan side — inside the
    codegen stage that feeds the join exchange, not after it."""
    from projet_data_engineering_spark.plans.explain import formatted_plan

    Q = entrymod.queries()
    plan = formatted_plan(Q["q_bloom_join"](spark, SF_DIR))
    assert "xxhash64" in plan          # the bloom predicate is in the plan
    assert "SortMergeJoin" in plan     # modeling the both-sides-shuffle case
    # the filter appears in the scan stage, upstream of the join's exchange:
    # formatted plans list operators bottom-up per stage, so the xxhash64
    # filter's first mention must precede the SortMergeJoin node's
    assert plan.index("xxhash64") > plan.index("SortMergeJoin") or (
        "Filter" in plan.split("SortMergeJoin")[0]
    )


def test_kmv_estimate_within_error_bound(spark):
    """KMV bottom-k estimate vs exact distinct per group: relative error
    within 3/sqrt(k) (three standard deviations of the (k-1)/u_k
    estimator) for every group at SF_DIR."""
    from projet_data_engineering_spark.operators import sampling as sm

    o = load_table(spark, SF_DIR, "orders")
    exact = {
        r["o_orderpriority"]: r["d"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("d"))
        .collect()
    }
    est = {
        r["grp"]: r["distinct_est"]
        for r in sm.kmv_estimate(
            sm.kmv_sketch(o, "o_orderpriority", "o_custkey")
        ).collect()
    }
    assert set(est) == set(exact)
    bound = 3.0 / sm.KMV_K**0.5
    for g, d in exact.items():
        assert abs(est[g] - d) / d <= bound, (g, est[g], d)


def test_kmv_merge_law_is_exact(spark):
    """Union rule: merge(sketch(A), sketch(B)) equals sketch(A ∪ B)
    EXACTLY — same retained hashes, same estimate — for a disjoint
    orderkey split. This is the property that lets per-shard sketches
    roll up to corpus cardinality without a re-scan."""
    from projet_data_engineering_spark.operators import sampling as sm

    o = load_table(spark, SF_DIR, "orders")
    a = o.where(F.col("o_orderkey") % 2 == 0)
    b = o.where(F.col("o_orderkey") % 2 == 1)
    merged = sm.kmv_merge(
        sm.kmv_sketch(a, "o_orderpriority", "o_custkey"),
        sm.kmv_sketch(b, "o_orderpriority", "o_custkey"),
    )
    full = sm.kmv_sketch(o, "o_orderpriority", "o_custkey")
    mrows = {r["grp"]: r["ks"] for r in merged.collect()}
    frows = {r["grp"]: r["ks"] for r in full.collect()}
    assert set(mrows) == set(frows)
    for g in frows:
        assert mrows[g] == frows[g], g
    me = {r["grp"]: r["distinct_est"] for r in sm.kmv_estimate(merged).collect()}
    fe = {r["grp"]: r["distinct_est"] for r in sm.kmv_estimate(full).collect()}
    assert me == fe


def test_kmv_sketch_is_bounded(spark):
    """The persisted artifact is at most k doubles per group, n_seen
    tracks the retained-distinct count, and hashes are sorted unique."""
    from projet_data_engineering_spark.operators import sampling as sm

    rows = sm.kmv_sketch(
        load_table(spark, SF_DIR, "orders"), "o_orderpriority", "o_custkey"
    ).collect()
    assert rows
    for r in rows:
        ks = r["ks"]
        assert 1 <= len(ks) <= sm.KMV_K
        assert r["n_seen"] == len(ks)
        assert ks == sorted(set(ks))
        assert all(0.0 <= u < 1.0 for u in ks)


def test_percentile_sampled_close_to_exact(spark):
    """The deterministic hash-sample percentile estimate tracks the exact
    per-group percentiles: p50/p95 within 10% relative error at k=4096
    (sampling error ~1/sqrt(k) plus quantile density factor)."""
    exact = {
        r["l_returnflag"]: (r["p50"], r["p95"])
        for r in entrymod.queries()["q_percentile"](spark, SF_DIR).collect()
    }
    est = {
        r["l_returnflag"]: (r["p50_est"], r["p95_est"])
        for r in entrymod.queries()["q_percentile_sampled"](
            spark, SF_DIR
        ).collect()
    }
    assert set(est) == set(exact)
    for g, (p50, p95) in exact.items():
        e50, e95 = est[g]
        assert abs(e50 - p50) / p50 <= 0.10, (g, e50, p50)
        assert abs(e95 - p95) / p95 <= 0.10, (g, e95, p95)


def test_cms_never_undercounts_and_collides(spark):
    """CMS hard guarantee: est >= exact for EVERY term (counters only
    accumulate). With w=16 against a 31-term vocabulary the fixture must
    actually collide (some term strictly over-counted), otherwise the
    sketch degenerates to exact counting and the min-over-rows is
    untested."""
    from projet_data_engineering_spark.operators import textanalysis as ta

    d = load_table(spark, SF_DIR, "documents")
    toks = ta._tokens(d)
    exact = {r["t"]: r["c"] for r in toks.groupBy("t").agg(F.count("*").alias("c")).collect()}
    est = {
        r["term"]: r["est_count"]
        for r in entrymod.queries()["q_cms_counts"](spark, SF_DIR).collect()
    }
    assert set(est) == set(exact)
    assert all(est[t] >= exact[t] for t in exact)
    assert any(est[t] > exact[t] for t in exact), "w too large: no collision"


def test_cms_merge_law_is_exact(spark):
    """Counting is linear: cell-wise summed shard sketches equal the
    whole-corpus sketch exactly, hence identical estimates."""
    from projet_data_engineering_spark.operators import textanalysis as ta

    d = load_table(spark, SF_DIR, "documents")
    ta_a = ta._tokens(d.where(F.col("doc_id") % 2 == 0))
    ta_b = ta._tokens(d.where(F.col("doc_id") % 2 == 1))
    merged = ta.cms_merge(ta.cms_sketch(ta_a), ta.cms_sketch(ta_b))
    full = ta.cms_sketch(ta._tokens(d))
    m = {(r["i"], r["bucket"]): r["cnt"] for r in merged.collect()}
    f = {(r["i"], r["bucket"]): r["cnt"] for r in full.collect()}
    assert m == f


def test_cms_unseen_term_estimates_zero_or_low(spark):
    """A probe term absent from the corpus must still get a row, with the
    true CMS estimate (0 when any of its cells is empty — never silently
    dropped, never a min over only its polluted cells)."""
    from projet_data_engineering_spark.operators import textanalysis as ta

    toks = ta._tokens(load_table(spark, SF_DIR, "documents"))
    sketch = ta.cms_sketch(toks)
    probes = spark.createDataFrame(
        [("zzzz-never-in-corpus",), ("join",)], "t string"
    )
    est = {
        r["term"]: r["est_count"]
        for r in ta.cms_estimate(probes, sketch).collect()
    }
    assert "zzzz-never-in-corpus" in est  # not dropped by the join
    exact_join = toks.where(F.col("t") == "join").count()
    assert est["join"] >= exact_join
    # the unseen term's estimate is bounded by its least-polluted cell
    assert est["zzzz-never-in-corpus"] >= 0


def test_cms_join_size_never_undershoots_and_is_bounded(spark):
    """Inner-product law: est >= |A join B| always (buckets only merge
    keys, never split them), and the overshoot stays within 5x the
    expected ||a||1*||b||1/w collision mass (min over d=4 rows makes a
    5x excursion astronomically unlikely)."""
    from projet_data_engineering_spark.operators import sampling as sm

    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    exact = o.join(li, o.o_orderkey == li.l_orderkey).count()
    est = sm.cms_join_size(
        sm.cms_key_sketch(o, "o_orderkey"),
        sm.cms_key_sketch(li, "l_orderkey"),
    ).collect()[0]["est_join_size"]
    assert est >= exact
    slack = 5.0 * o.count() * li.count() / sm.CMS_JS_W
    assert est - exact <= slack, (est, exact, slack)
