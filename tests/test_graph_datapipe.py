"""Tests for the graph-analytics and data-pipeline extension modules.

PageRank and triangle counting get independent hand-computed references on
tiny hand-built graphs (numpy power iteration / known closed forms); the
table-bound queries get invariant checks over sf0.001 output — their exact
values are already pinned bit-for-bit by the DuckDB oracle gate."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entrymod
from projet_data_engineering_spark.operators.graph import (
    DAMPING,
    PR_ITERS,
    pagerank,
    triangle_stats,
)
from projet_data_engineering_spark.plans.explain import (
    shuffle_count,
    uses_take_ordered,
)
from tests.conftest import SF_DIR

Q = entrymod.queries()


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def _numpy_pagerank(edges, iters=PR_ITERS, d=DAMPING):
    """Independent dense reference: same damped/weighted/dangling-aware
    update rule, straight numpy."""
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    w = np.zeros((n, n))
    for u, v, ww in edges:
        w[idx[u], idx[v]] += ww
    outw = w.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[outw == 0].sum()
        contrib = np.zeros(n)
        for i in range(n):
            if outw[i] > 0:
                contrib += r[i] * w[i] / outw[i]
        r = (1 - d) / n + d * (contrib + dangling / n)
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_matches_numpy_reference_with_dangling_node(spark):
    edges = [("A", "B", 2.0), ("A", "C", 1.0), ("B", "A", 1.0), ("D", "A", 1.0)]
    # C is dangling (no out-edges); D is a pure source (rank floor).
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    want = _numpy_pagerank(edges)
    assert set(got) == set(want)
    for node in want:
        assert got[node] == pytest.approx(want[node], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_query_is_a_probability_distribution(spark):
    rows = Q["q_pagerank"](spark, SF_DIR).collect()
    total = sum(r["pagerank"] for r in rows)
    assert total == pytest.approx(1.0, abs=1e-4)  # 6dp rounding per node
    assert all(r["pagerank"] > 0 for r in rows)


# ---------------------------------------------------------------------------
# Triangles
# ---------------------------------------------------------------------------


def test_triangle_stats_on_k4_and_path(spark):
    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], ["p1", "p2"]
    )
    row = triangle_stats(k4).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)
    assert row["clustering_coeff"] == pytest.approx(1.0)

    path = spark.createDataFrame([(1, 2), (2, 3)], ["p1", "p2"])
    row = triangle_stats(path).collect()[0]
    assert (row["n_triangles"], row["clustering_coeff"]) == (0, 0.0)


def test_triangle_orientation_handles_hub_skew(spark):
    # star + one closing edge: hub 1 has degree 4, triangles = 1
    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (2, 3)], ["p1", "p2"]
    )
    row = triangle_stats(star).collect()[0]
    assert row["n_triangles"] == 1


def test_degree_hist_mass_equals_twice_edges(spark):
    hist = Q["q_degree_hist"](spark, SF_DIR).collect()
    tri = Q["q_triangle_count"](spark, SF_DIR).collect()[0]
    assert sum(r["degree"] * r["n_parts"] for r in hist) == 2 * tri["n_edges"]
    assert sum(r["n_parts"] for r in hist) == tri["n_nodes"]


# ---------------------------------------------------------------------------
# SimHash pairs
# ---------------------------------------------------------------------------


def test_simhash_pairs_canonical_and_within_threshold(spark):
    rows = Q["q_simhash_pairs"](spark, SF_DIR).collect()
    assert rows, "sf0.001 corpus contains near-dups; expected candidates"
    for r in rows:
        assert r["doc1"] < r["doc2"]
        assert 0 <= r["hamming"] <= 1
    assert len({(r["doc1"], r["doc2"]) for r in rows}) == len(rows)


# ---------------------------------------------------------------------------
# SCD2 / sessionization
# ---------------------------------------------------------------------------


def test_scd2_intervals_chain_and_compress(spark):
    rows = Q["q_scd2"](spark, SF_DIR).collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["custkey"], []).append(r)
    for versions in by_key.values():
        versions.sort(key=lambda r: r["valid_from"])
        currents = [r for r in versions if r["is_current"] == 1]
        assert len(currents) == 1 and currents[0] is versions[-1]
        assert versions[-1]["valid_to"] is None
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] == b["valid_from"]  # gapless chain
            assert a["attr"] != b["attr"]  # change-compressed


def test_sessionize_partitions_all_events(spark):
    sess = Q["q_sessionize"](spark, SF_DIR).collect()
    from projet_data_engineering_spark.io import load_table

    total = load_table(spark, SF_DIR, "events").count()
    assert sum(r["n_events"] for r in sess) == total
    for r in sess:
        assert r["n_events"] >= 1 and r["dur_us"] >= 0
    # session ids are contiguous 1..k per user
    by_user: dict = {}
    for r in sess:
        by_user.setdefault(r["user_id"], []).append(r["session_id"])
    for ids in by_user.values():
        assert sorted(ids) == list(range(1, len(ids) + 1))


# ---------------------------------------------------------------------------
# Profiling / splits / PMI
# ---------------------------------------------------------------------------


def test_profile_invariants_and_single_scan(spark):
    df = Q["q_profile"](spark, SF_DIR)
    rows = df.collect()
    assert {r["col_name"] for r in rows} == {
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
    }
    for r in rows:
        assert r["min_val"] <= r["max_val"]
        assert r["null_count"] == 0
        assert r["n_distinct"] >= 1
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("parquet") <= 1  # one scan feeds all measures


def test_train_test_split_is_deterministic_and_complete(spark):
    from projet_data_engineering_spark.io import load_table

    a = {r["split"]: (r["n_docs"], r["total_chars"])
         for r in Q["q_train_test_split"](spark, SF_DIR).collect()}
    b = {r["split"]: (r["n_docs"], r["total_chars"])
         for r in Q["q_train_test_split"](spark, SF_DIR).collect()}
    assert a == b  # pure function of the key — no RNG
    total = load_table(spark, SF_DIR, "documents").count()
    assert sum(n for n, _ in a.values()) == total
    assert a.get("train", (0, 0))[0] > a.get("test", (0, 0))[0]


def test_weighted_sample_favors_heavy_docs(spark):
    from projet_data_engineering_spark.io import load_table

    sample = Q["q_sample_weighted"](spark, SF_DIR).collect()
    again = Q["q_sample_weighted"](spark, SF_DIR).collect()
    assert [r["doc_id"] for r in sample] == [r["doc_id"] for r in again]
    corpus = load_table(spark, SF_DIR, "documents").select("n_chars").collect()
    corpus_mean = sum(r["n_chars"] for r in corpus) / len(corpus)
    sample_mean = sum(r["n_chars"] for r in sample) / len(sample)
    # weights = n_chars: a faithful E-S draw oversamples long documents
    assert sample_mean > corpus_mean
    assert uses_take_ordered(Q["q_sample_weighted"](spark, SF_DIR))


def test_bpe_tokenizer_counts_at_least_whitespace_words(spark):
    ws = {r["lang"]: r for r in Q["q_token_count"](spark, SF_DIR).collect()}
    bpe = {r["lang"]: r for r in Q["q_token_count_bpe"](spark, SF_DIR).collect()}
    assert set(ws) == set(bpe)
    for lang in ws:
        assert bpe[lang]["n_docs"] == ws[lang]["n_docs"]
        # punctuation splits off as extra tokens; whitespace words only merge
        assert bpe[lang]["total_tokens"] >= ws[lang]["total_tokens"]


def test_anomaly_mad_matches_numpy(spark):
    from projet_data_engineering_spark.io import load_table

    rows = load_table(spark, SF_DIR, "events").select(
        "event_type", "value"
    ).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    got = {r["event_type"]: r for r in Q["q_anomaly_mad"](spark, SF_DIR).collect()}
    assert set(got) == set(by_type)
    for t, vals in by_type.items():
        v = np.array(vals)
        med = np.percentile(v, 50)  # linear interpolation — same rule
        d = np.abs(v - med)
        mad = np.percentile(d, 50)
        assert got[t]["n_events"] == len(vals)
        assert got[t]["median_value"] == pytest.approx(med, abs=1e-4)
        assert got[t]["mad"] == pytest.approx(mad, abs=1e-4)
        assert got[t]["n_outliers"] == int((d > 3 * mad).sum())


def test_entropy_matches_numpy_and_is_bounded(spark):
    from collections import Counter

    from projet_data_engineering_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "text"
    ).collect()
    counts: dict = {}
    for r in docs:
        counts.setdefault(r["source"], Counter()).update(
            r["text"].lower().split(" ")
        )
    got = {r["source"]: r for r in Q["q_entropy"](spark, SF_DIR).collect()}
    assert set(got) == set(counts)
    for src, ctr in counts.items():
        c = np.array(list(ctr.values()), dtype=np.float64)
        n = c.sum()
        h = np.log(n) - (c * np.log(c)).sum() / n
        assert got[src]["n_tokens"] == int(n)
        assert got[src]["entropy"] == pytest.approx(h, abs=1e-4)
        assert 0 <= got[src]["entropy"] <= np.log(len(ctr)) + 1e-9


def test_pmi_ranked_and_supported(spark):
    rows = Q["q_pmi"](spark, SF_DIR).collect()
    assert rows
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    assert all(r["c_ab"] >= 5 for r in rows)
    assert uses_take_ordered(Q["q_pmi"](spark, SF_DIR))


# ---------------------------------------------------------------------------
# Plan shapes
# ---------------------------------------------------------------------------


def test_split_and_sessionize_shuffle_budgets(spark):
    # hash-gated split: one aggregation exchange only
    assert shuffle_count(Q["q_train_test_split"](spark, SF_DIR)) <= 1
    # sessionize: windows + groupBy all share the user_id partitioning
    assert shuffle_count(Q["q_sessionize"](spark, SF_DIR)) <= 2
    # scd2: both windows on the same key — one exchange
    assert shuffle_count(Q["q_scd2"](spark, SF_DIR)) <= 2


def test_sessionize_function_property(spark):
    """Randomized check of the reusable sessionize(): session id increments
    exactly at gaps > gap_us, restarts at 1 per user, never skips."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from projet_data_engineering_spark.operators.datapipe import sessionize

    base = dt.datetime(2024, 1, 1)

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),  # user
                st.integers(min_value=0, max_value=200_000),  # offset sec
            ),
            min_size=1,
            max_size=40,
        )
    )
    def check(evts):
        rows = [
            (i, u, base + dt.timedelta(seconds=off))
            for i, (u, off) in enumerate(evts)
        ]
        df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
        gap_us = 3600 * 1_000_000
        out = sessionize(df, gap_us=gap_us).collect()
        by_user: dict = {}
        for r in out:
            by_user.setdefault(r["user_id"], []).append(r)
        for user_rows in by_user.values():
            user_rows.sort(key=lambda r: (r["ts"], r["event_id"]))
            expect = 1
            prev_ts = None
            for r in user_rows:
                if prev_ts is not None and (
                    (r["ts"] - prev_ts).total_seconds() * 1_000_000 > gap_us
                ):
                    expect += 1
                assert r["session_id"] == expect
                prev_ts = r["ts"]

    check()


def test_incremental_agg_merge_is_exact(spark):
    """The merged-partials view must equal a one-shot aggregate (the oracle
    pins values; here pin the merge against Spark's own one-shot plan)."""
    import pyspark.sql.functions as SF

    from projet_data_engineering_spark.io import load_table

    got = {
        r["o_orderpriority"]: (r["n_orders"], r["total_price"], r["avg_price"])
        for r in Q["q_incremental_agg"](spark, SF_DIR).collect()
    }
    o = load_table(spark, SF_DIR, "orders")
    dec = SF.col("o_totalprice").cast("decimal(18,6)")
    oneshot = o.groupBy("o_orderpriority").agg(
        SF.count("*").alias("n"),
        SF.round(SF.sum(dec), 2).cast("double").alias("t"),
        SF.round(SF.sum(dec).cast("double") / SF.count("*"), 4).alias("a"),
    )
    want = {r["o_orderpriority"]: (r["n"], r["t"], r["a"]) for r in oneshot.collect()}
    assert got == want


def test_pagerank_edge_derivation_broadcasts_dims(spark):
    from projet_data_engineering_spark.operators.graph import (
        trade_network_edges,
    )
    from projet_data_engineering_spark.plans.explain import formatted_plan

    # r12: pagerank() checkpoints its edge input at setup, so the fact
    # join no longer appears in the returned rank frame's plan — pin the
    # dims-broadcast shape on the edge derivation itself.
    plan = formatted_plan(trade_network_edges(spark, SF_DIR))
    # supplier + both nation aliases broadcast onto the fact scan; the only
    # proportional-table join (customer) may shuffle
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_pagerank_round_loop_is_job_lean(spark):
    """r12 regression pin: the round loop must not re-run the edge
    derivation or re-join outw per round — 5 iterations over the ≤25-node
    trade network should cost a bounded number of jobs (was 88 at sf0.1
    before the checkpoint/fold overhaul) and the returned plan must read
    checkpointed blocks, not the fact join."""
    from perfbench.census import Census
    from projet_data_engineering_spark.plans.explain import formatted_plan

    census = Census(spark)
    with census.span("q_pagerank"):
        df = Q["q_pagerank"](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
    n_jobs = census.calls[-1].jobs
    assert n_jobs <= 40, f"pagerank ran {n_jobs} jobs (round loop bloat?)"
    plan = formatted_plan(df)
    assert "Scan ExistingRDD" in plan  # rounds read checkpointed state


def test_simhash_pairs_no_cartesian(spark):
    from projet_data_engineering_spark.plans.explain import formatted_plan

    plan = formatted_plan(Q["q_simhash_pairs"](spark, SF_DIR))
    # candidate generation must go through the band-bucket equi-join,
    # never an all-pairs product
    assert "CartesianProduct" not in plan
    assert "band_val" in plan


def test_heavy_hitters_matches_exact_counter(spark):
    from collections import Counter

    from projet_data_engineering_spark.io import load_table
    from projet_data_engineering_spark.operators.datapipe import MG_THRESH_K

    docs = load_table(spark, SF_DIR, "documents").select("text").collect()
    ctr: Counter = Counter()
    for r in docs:
        ctr.update(r["text"].lower().split(" "))
    n = sum(ctr.values())
    expected = {t: c for t, c in ctr.items() if c * MG_THRESH_K > n}
    got = {r["term"]: r for r in Q["q_heavy_hitters"](spark, SF_DIR).collect()}
    # MG candidate nomination must be COMPLETE: exactly the true heavy
    # hitters survive the exact recount, with exact counts
    assert set(got) == set(expected)
    for t, c in expected.items():
        assert got[t]["cnt"] == c
        assert got[t]["share"] == pytest.approx(c / n, abs=1e-6)


def _exact_trigram_jaccard_pairs(docs, tau=0.8):
    sets = {}
    for doc_id, text in docs:
        t = text.lower().split(" ")
        sh = {f"{t[i]} {t[i+1]} {t[i+2]}" for i in range(len(t) - 2)}
        if sh:
            sets[doc_id] = sh
    ids = sorted(sets)
    out = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            i, j = ids[x], ids[y]
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            if union and inter / union >= tau:
                out[(i, j)] = inter / union
    return out


def test_ngram_jaccard_pairs_lossless_vs_bruteforce(spark):
    from projet_data_engineering_spark.io import load_table

    docs = [
        (r["doc_id"], r["text"])
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    expected = _exact_trigram_jaccard_pairs(docs)
    got = {
        (r["i"], r["j"]): r["jaccard"]
        for r in Q["q_ngram_jaccard_pairs"](spark, SF_DIR).collect()
    }
    # prefix/length/positional pruning must lose NO pair vs brute force
    assert set(got) == set(expected)
    for pair, jac in expected.items():
        assert got[pair] == pytest.approx(jac, abs=1e-6)


def test_mg_candidates_complete_under_adversarial_split(spark):
    """The partitioning that breaks naive per-partition top-k nomination:
    the true heavy hitter is spread perfectly evenly across 8 partitions,
    while every partition carries its OWN locally-dominant decoys, so the
    hitter is never a local top-1. Misra-Gries capacity k still guarantees
    nomination of anything with global share > 1/(k+1)."""
    from projet_data_engineering_spark.operators.datapipe import mg_candidates

    n_part, cap = 8, 9
    rows = []
    for p in range(n_part):
        # local decoys dominate each partition (count 40 each)...
        rows += [(p, f"decoy_{p}_{d}") for d in range(4) for _ in range(40)]
        # ...while the global hitter shows up only 30 times per partition
        rows += [(p, "needle") for _ in range(30)]
    df = (
        spark.createDataFrame(rows, "p int, term string")
        .repartition(n_part, "p")
        .select("term")
    )
    total = len(rows)  # 8 * 190 = 1520; needle = 240 > total/(cap+1) = 152
    got = {r["term"] for r in mg_candidates(df, "term", cap).collect()}
    assert "needle" in got
    # and the downstream exact recount would keep only true heavies: every
    # term above total/(cap+1) is nominated
    from collections import Counter

    ctr = Counter(t for _, t in rows)
    for t, c in ctr.items():
        if c * (cap + 1) > total:
            assert t in got


def test_ngram_jaccard_join_property(spark):
    """Randomized losslessness: on small corpora drawn from a tiny
    vocabulary (forcing dense overlap — the adversarial case for prefix
    pruning), ngram_jaccard_join(bigrams, tau=1/2) must return EXACTLY the
    brute-force pair set, with exact jaccard values."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from projet_data_engineering_spark.operators.datapipe import (
        ngram_jaccard_join,
    )

    vocab = ["a", "b", "c", "d"]

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.sampled_from(vocab), min_size=2, max_size=8
            ),
            min_size=2,
            max_size=8,
        )
    )
    def check(docs):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r["i"], r["j"]): r["jaccard"]
            for r in ngram_jaccard_join(
                df, "doc_id", "text", ngram=2, tau_num=1, tau_den=2
            ).collect()
        }
        sets = {}
        for i, toks in enumerate(docs):
            sh = {f"{toks[k]} {toks[k+1]}" for k in range(len(toks) - 1)}
            if sh:
                sets[i] = sh
        expected = {}
        ids = sorted(sets)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                i, j = ids[x], ids[y]
                inter = len(sets[i] & sets[j])
                union = len(sets[i] | sets[j])
                if union and 2 * inter >= union:
                    expected[(i, j)] = inter / union
        assert set(got) == set(expected)
        for pair, jac in expected.items():
            assert got[pair] == pytest.approx(jac, abs=1e-6)

    check()


def test_pack_sequences_layout_matches_sequential_walk(spark):
    """pack_sequences vs a literal python walk: contiguous layout per
    (stream, shard), window = cum-tokens-before div budget, docs overflowing
    a boundary belong to the window their first token lands in."""
    from projet_data_engineering_spark.operators.datapipe import pack_sequences

    docs = [
        # (doc_id, stream, n_tokens) — budget 10, shard size 4
        (0, "a", 4),   # shard 0, win 0 (offset 0)
        (1, "a", 5),   # win 0 (offset 4)
        (2, "a", 3),   # win 0 (offset 9) -> overflows into win 1
        (3, "a", 2),   # win 1 (offset 12)
        (4, "a", 9),   # shard 1 restarts at offset 0 -> win 0
        (5, "a", 2),   # shard 1, win 0 (offset 9)
        (6, "b", 25),  # other stream, its own layout
        (7, "b", 1),   # offset 25 -> win 2
    ]
    df = spark.createDataFrame(
        [(i, s, " ".join(["tok"] * n)) for i, s, n in docs],
        "doc_id bigint, source string, text string",
    )
    got = {
        (r["stream"], r["shard"], r["seq_id"]): (
            r["n_docs"], r["n_tokens"], r["first_doc"], r["last_doc"]
        )
        for r in pack_sequences(df, budget=10, shard_size=4).collect()
    }
    assert got == {
        ("a", 0, 0): (3, 12, 0, 2),
        ("a", 0, 1): (1, 2, 3, 3),
        ("a", 1, 0): (2, 11, 4, 5),
        ("b", 1, 0): (1, 25, 6, 6),
        ("b", 1, 2): (1, 1, 7, 7),
    }


def test_pack_sequences_property_matches_python_reference(spark):
    """Randomized parity: pack_sequences on arbitrary (stream, token-count)
    corpora must equal a literal sequential python walk — cumulative offsets,
    shard restarts, and window ids all included."""
    from collections import defaultdict

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from projet_data_engineering_spark.operators.datapipe import pack_sequences

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(st.sampled_from(["s1", "s2"]), st.integers(1, 12)),
            min_size=1,
            max_size=24,
        )
    )
    def run(spec):
        budget, shard_size = 7, 5
        rows = [
            (i, stream, " ".join(["w"] * ntok))
            for i, (stream, ntok) in enumerate(spec)
        ]
        # python reference: per (stream, shard) running offset in doc order
        expect = defaultdict(lambda: [0, 0, None, None])  # n_docs, toks, lo, hi
        offsets: dict = defaultdict(int)
        for i, (stream, ntok) in enumerate(spec):
            shard = i // shard_size
            seq = offsets[(stream, shard)] // budget
            k = (stream, shard, seq)
            e = expect[k]
            e[0] += 1
            e[1] += ntok
            e[2] = i if e[2] is None else e[2]
            e[3] = i
            offsets[(stream, shard)] += ntok
        df = spark.createDataFrame(
            rows, "doc_id bigint, source string, text string"
        )
        got = {
            (r["stream"], r["shard"], r["seq_id"]): [
                r["n_docs"], r["n_tokens"], r["first_doc"], r["last_doc"]
            ]
            for r in pack_sequences(
                df, budget=budget, shard_size=shard_size
            ).collect()
        }
        assert got == {k: list(v) for k, v in expect.items()}

    run()


def _py_bpe(texts, n_merges):
    """Literal sequential BPE, TUPLE-keyed pairs (ADVICE r4: plain string
    concatenation conflates ('a','ba') with ('ab','a')); tie-break count
    desc, (left, right) asc — the ground truth both trainer modes must
    replay exactly."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if len(w) >= 2:
                words[w] += 1
    vocab = {tuple(w): f for w, f in words.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        new_vocab = {}
        for syms, f in vocab.items():
            out, pend = [], None
            for s in syms:
                if pend is not None and (pend, s) == best:
                    out.append(pend + s)
                    pend = None
                else:
                    if pend is not None:
                        out.append(pend)
                    pend = s
            if pend is not None:
                out.append(pend)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


BPE_CORPORA = [
    # greedy overlap ('aaaa' + merge (a,a) -> [aa, aa]) + merged-symbol pairs
    [
        "aaaa abab low lower lowest",
        "abab abab low low newer newer",
        "aaaa banana low newer",
    ],
    # concat-ambiguity stress: 'ab'/'ba' symbols coexist with 'a','b' so
    # tuple pairs like ('ab','a') and ('a','ba') arise in later rounds —
    # string-concat keying would conflate them
    [
        "ababa ababa abab aba",
        "baba baab aab aba aba",
        "aaaa aaab baaa abba",
    ],
    # self-pairs and chained merges over a tiny alphabet
    [
        "aaaaaa aaa aa",
        "cc ccc cccc aacc",
        "acac caca aacc ccaa",
    ],
]


@pytest.mark.parametrize("corpus", range(len(BPE_CORPORA)))
@pytest.mark.parametrize("max_batch", [1, 8])
@pytest.mark.slow
def test_bpe_train_matches_python_reference(spark, corpus, max_batch):
    """Exact parity of the distributed BPE trainer — BOTH one-merge-per-round
    (max_batch=1, literally sequential) and batched rounds (max_batch=8,
    provably-safe prefixes) — with the tuple-keyed python reference."""
    from pyspark.sql import Row

    from projet_data_engineering_spark.operators.textanalysis import bpe_train

    texts = BPE_CORPORA[corpus]
    docs = spark.createDataFrame([Row(text=t) for t in texts])
    got = bpe_train(docs, n_merges=12, max_batch=max_batch)
    want = _py_bpe(texts, 12)
    assert got == want


def test_bpe_train_batching_cuts_round_count(spark):
    """The point of batched selection: disjoint top pairs apply in ONE fold
    round. A corpus with many independent frequent pairs must train the
    same merge table in fewer Spark rounds than merges."""
    from pyspark.sql import Row

    from projet_data_engineering_spark.operators.textanalysis import bpe_train

    # 8 disjoint two-letter words (one pair each) with strictly descending
    # frequencies: all 8 are mutually safe, so one round fits the whole batch
    pairs = ["ab", "cd", "ef", "gh", "ij", "kl", "mn", "op"]
    texts = [" ".join(pairs[: 8 - k]) for k in range(8)]
    docs = spark.createDataFrame([Row(text=t) for t in texts])
    stats: dict = {}
    got = bpe_train(docs, n_merges=8, max_batch=8, stats=stats)
    assert got == _py_bpe(texts, 8)
    assert stats["rounds"] < 8, stats
    seq_stats: dict = {}
    seq = bpe_train(docs, n_merges=8, max_batch=1, stats=seq_stats)
    assert seq == got
    assert seq_stats["rounds"] == 8


def _py_bpe_encode_count(word: str, merges: list) -> int:
    """Sequential rank-order greedy encode — the segmentation bpe_train's
    own merge application would produce for this word."""
    syms = list(word)
    for left, right in merges:
        out, pend = [], None
        for s in syms:
            if pend is not None and (pend, s) == (left, right):
                out.append(pend + s)
                pend = None
            else:
                if pend is not None:
                    out.append(pend)
                pend = s
        if pend is not None:
            out.append(pend)
        syms = out
    return len(syms)


def test_bpe_encode_matches_python_segmentation(spark):
    """Train on Spark, encode on Spark; every doc's token count equals the
    pure-python encode with the PYTHON-trained merge table (which itself
    matches the Spark-trained one — proven separately)."""
    from pyspark.sql import Row

    from projet_data_engineering_spark.operators.textanalysis import (
        bpe_encode,
        bpe_train,
    )

    texts = BPE_CORPORA[1]
    docs = spark.createDataFrame(
        [Row(doc_id=i, lang="en", text=t) for i, t in enumerate(texts)]
    )
    merges = bpe_train(docs, n_merges=10)
    assert merges == _py_bpe(texts, 10)
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_encode(docs, merges).collect()
    }
    for i, t in enumerate(texts):
        ws = [w for w in t.lower().split(" ") if w]
        want = sum(_py_bpe_encode_count(w, merges) for w in ws)
        assert got[i] == (len(ws), want), (i, t)


def test_bpe_encode_token_count_shrinks_with_merges(spark):
    """More merges can only shrink (never grow) the token count, and the
    count is always >= word count (a word is at least one token)."""
    from pyspark.sql import Row

    from projet_data_engineering_spark.operators.textanalysis import (
        bpe_encode,
        bpe_train,
    )

    texts = BPE_CORPORA[0]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    merges = bpe_train(docs, n_merges=8)
    totals = []
    for k in (0, 3, 8):
        enc = bpe_encode(docs, merges[:k])
        agg = enc.agg(
            F.sum("n_tokens").alias("t"), F.sum("n_words").alias("w")
        ).collect()[0]
        totals.append(agg["t"])
        assert agg["t"] >= agg["w"]
    assert totals[0] >= totals[1] >= totals[2]
    assert totals[0] > totals[2]  # the merges actually fired


def test_boilerplate_flags_within_source_templates(spark):
    """The shared 5-gram dictionary is per-source: the template sentence
    repeated in src-a's two docs is boilerplate THERE, but the same words in
    the src-b doc (no second src-b doc shares them) are not."""
    from pyspark.sql import Row

    from projet_data_engineering_spark.operators import textanalysis as ta

    tmpl = "subscribe to our newsletter today"
    rows = [
        Row(doc_id=1, source="a", text=tmpl + " alpha beta gamma delta"),
        Row(doc_id=2, source="a", text=tmpl + " epsilon zeta eta theta"),
        Row(doc_id=3, source="a", text="iota kappa lambda mu nu xi"),
        Row(doc_id=4, source="b", text=tmpl + " omicron pi rho sigma"),
    ]
    docs = spark.createDataFrame(rows)
    d = docs.select("doc_id", "source", F.split("text", " ").alias("w"))
    sh = d.select(
        "doc_id", "source",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("w") - 4, F.lit(0)))
        ).alias("i"),
        "w",
    ).select(
        "doc_id", "source",
        F.concat_ws(" ", F.slice("w", F.col("i"), F.lit(5))).alias("g"),
    )
    boiler = {
        (r["source"], r["g"])
        for r in sh.groupBy("source", "g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter("nd >= 2")
        .collect()
    }
    assert all(s == "a" for s, _ in boiler)  # src-b copy is NOT boilerplate
    assert ("a", tmpl) in boiler
    assert ta.q_boilerplate is not None  # registered


# ---------------------------------------------------------------------------
# containment_join (r7)
# ---------------------------------------------------------------------------


def _exact_trigram_containment_pairs(docs, tau=0.9):
    """Brute-force directed ground truth: (i, j) with |Si ∩ Sj|/|Si| >= tau."""
    sets = {}
    for i, text in docs:
        toks = text.lower().split(" ")
        sh = {
            " ".join(toks[k : k + 3]) for k in range(len(toks) - 2)
        } if len(toks) >= 3 else set()
        if sh:
            sets[i] = sh
    out = {}
    for i in sets:
        for j in sets:
            if i == j:
                continue
            c = len(sets[i] & sets[j])
            if c >= tau * len(sets[i]):
                out[(i, j)] = c / len(sets[i])
    return out


def test_containment_pairs_lossless_vs_bruteforce(spark):
    from projet_data_engineering_spark.io import load_table

    docs = [
        (r["doc_id"], r["text"])
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    expected = _exact_trigram_containment_pairs(docs)
    got = {
        (r["i"], r["j"]): r["containment"]
        for r in Q["q_containment_pairs"](spark, SF_DIR).collect()
    }
    # prefix/length pruning must lose NO directed pair vs brute force
    assert set(got) == set(expected)
    for pair, cont in expected.items():
        assert got[pair] == pytest.approx(cont, abs=1e-6)


def test_containment_finds_inclusion_pairs_jaccard_structurally_misses(spark):
    """The motivating case: a short quote fully contained in a long doc has
    containment 1.0 but Jaccard far below any dedup threshold — the
    Jaccard family (and MinHash-LSH banding on it) cannot surface it."""
    from projet_data_engineering_spark.operators.datapipe import (
        containment_join,
        ngram_jaccard_join,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{k}" for k in range(80))
    df = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote}")], ["doc_id", "text"]
    )
    cont = {
        (r["i"], r["j"]): r["containment"]
        for r in containment_join(df, "doc_id", "text", 3, 9, 10).collect()
    }
    assert cont[(1, 2)] == pytest.approx(1.0)
    assert (2, 1) not in cont  # directed: the big doc is NOT inside the quote
    jac = {
        (r["i"], r["j"])
        for r in ngram_jaccard_join(df, "doc_id", "text", 3, 4, 5).collect()
    }
    assert jac == set()  # jaccard ≈ 7/89 — invisible to the symmetric family


@pytest.mark.slow
def test_containment_join_property(spark):
    """Randomized losslessness on dense tiny-vocab corpora (adversarial for
    prefix pruning): containment_join(bigrams, tau=1/2) must return EXACTLY
    the brute-force directed pair set with exact values."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from projet_data_engineering_spark.operators.datapipe import (
        containment_join,
    )

    vocab = ["a", "b", "c", "d"]

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=2, max_size=8),
            min_size=2,
            max_size=8,
        )
    )
    def check(docs):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r["i"], r["j"]): r["containment"]
            for r in containment_join(
                df, "doc_id", "text", ngram=2, tau_num=1, tau_den=2
            ).collect()
        }
        sets = {}
        for i, toks in enumerate(docs):
            sh = {f"{toks[k]} {toks[k+1]}" for k in range(len(toks) - 1)}
            if sh:
                sets[i] = sh
        expected = {}
        for i in sets:
            for j in sets:
                if i != j:
                    c = len(sets[i] & sets[j])
                    if 2 * c >= len(sets[i]):
                        expected[(i, j)] = c / len(sets[i])
        assert set(got) == set(expected)
        for pair, v in expected.items():
            assert got[pair] == pytest.approx(v, abs=1e-6)

    check()


# ---------------------------------------------------------------------------
# constraint_audit (r7)
# ---------------------------------------------------------------------------


def test_constraint_audit_every_check_fires_on_dirty_rows(spark):
    """A zero-violation report is only trustworthy if every rule can FIRE:
    one dirty row per rule, and the audit must count each exactly once."""
    import datetime

    from projet_data_engineering_spark.operators.datapipe import (
        constraint_audit,
    )

    d = datetime.date(2024, 1, 1)
    orders = spark.createDataFrame(
        [
            (1, 10, "O", 100.0, d, "1-URGENT"),      # clean
            (2, 10, "O", 100.0, None, "2-HIGH"),     # null date
            (3, 10, "O", -5.0, d, "3-MEDIUM"),       # non-positive price
            (4, 10, "O", 100.0, d, "9-BOGUS"),       # domain violation
            (4, 10, "O", 100.0, d, "5-LOW"),         # duplicate key
            (5, 99, "O", 100.0, d, "5-LOW"),         # FK orphan (no cust 99)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        [
            (1, 1, 5.0, 0.05),    # clean
            (1, 2, 500.0, 0.05),  # quantity out of range
            (1, 3, 5.0, 1.5),     # discount out of range
            (1, 3, 5.0, 0.05),    # duplicate (orderkey, linenumber)
            (77, 1, 5.0, 0.05),   # FK orphan (no order 77)
        ],
        "l_orderkey long, l_linenumber long, l_quantity double, "
        "l_discount double",
    )
    customer = spark.createDataFrame([(10,)], "c_custkey long")

    got = {
        r["check_name"]: (r["violations"], r["passed"])
        for r in constraint_audit(orders, lineitem, customer).collect()
    }
    assert got == {
        "orders.o_orderdate_not_null": (1, False),
        "orders.o_totalprice_positive": (1, False),
        "orders.o_orderkey_unique": (1, False),
        "orders.o_orderpriority_in_domain": (1, False),
        "orders.o_custkey_fk_customer": (1, False),
        "lineitem.l_quantity_in_(0,100]": (1, False),
        "lineitem.l_discount_in_[0,1]": (1, False),
        "lineitem.(l_orderkey,l_linenumber)_unique": (1, False),
        "lineitem.l_orderkey_fk_orders": (1, False),
    }


def test_constraint_audit_on_generated_data(spark):
    """On the driver's synthetic tables the audit passes 8 of 9 checks and
    CATCHES a real generator property: (l_orderkey, l_linenumber) is not
    unique in the synthetic lineitem (the generator samples line numbers
    independently, unlike real TPC-H) — exactly the kind of silent
    assumption break the audit exists to surface before a pipeline
    joins/aggregates on that key."""
    from projet_data_engineering_spark.io import load_table
    from projet_data_engineering_spark.operators.datapipe import (
        constraint_audit,
    )

    out = {
        r["check_name"]: r
        for r in constraint_audit(
            load_table(spark, SF_DIR, "orders"),
            load_table(spark, SF_DIR, "lineitem"),
            load_table(spark, SF_DIR, "customer"),
        ).collect()
    }
    assert len(out) == 9
    assert all(r["rows_checked"] > 0 for r in out.values())
    dup = out.pop("lineitem.(l_orderkey,l_linenumber)_unique")
    assert not dup["passed"] and dup["violations"] > 0
    assert all(r["passed"] and r["violations"] == 0 for r in out.values())


# ---------------------------------------------------------------------------
# chunk_windows (r7)
# ---------------------------------------------------------------------------


def test_chunk_windows_boundaries_and_coverage(spark):
    """Hand-built docs around the W/S boundaries: exact-W doc -> one chunk;
    W+1 -> two chunks with the tail chunk short; every token covered;
    consecutive chunks overlap exactly W-S tokens; short doc -> one chunk."""
    import hashlib

    from projet_data_engineering_spark.operators.datapipe import (
        chunk_windows,
    )

    W, S = 10, 7

    def doc(n):
        return " ".join(f"w{i}" for i in range(1, n + 1))

    docs = spark.createDataFrame(
        [(1, doc(10)), (2, doc(11)), (3, doc(3)), (4, doc(24)), (5, doc(17))],
        "doc_id long, text string",
    )
    rows = chunk_windows(docs, window=W, stride=S).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for chunks in by_doc.values():
        chunks.sort(key=lambda r: r["chunk_idx"])

    def md5(tokens):
        return hashlib.md5(" ".join(tokens).encode()).hexdigest()

    # exact-W doc: one chunk, full width
    assert [(r["start_token"], r["n_tokens"]) for r in by_doc[1]] == [(1, 10)]
    assert by_doc[1][0]["chunk_md5"] == md5([f"w{i}" for i in range(1, 11)])
    # W+1: second chunk starts at S+1, holds the remaining 4 tokens
    assert [(r["start_token"], r["n_tokens"]) for r in by_doc[2]] == [
        (1, 10), (8, 4)
    ]
    # shorter than W: single short chunk
    assert [(r["start_token"], r["n_tokens"]) for r in by_doc[3]] == [(1, 3)]
    # n=24: starts 1,8,15 (22 > 24-10+7=21 stops); last chunk 15..24
    assert [(r["start_token"], r["n_tokens"]) for r in by_doc[4]] == [
        (1, 10), (8, 10), (15, 10)
    ]
    # coverage + overlap on every doc
    lengths = {1: 10, 2: 11, 3: 3, 4: 24, 5: 17}
    for did, chunks in by_doc.items():
        covered = set()
        for r in chunks:
            covered |= set(
                range(r["start_token"], r["start_token"] + r["n_tokens"])
            )
        assert covered == set(range(1, lengths[did] + 1)), did
        for a, b in zip(chunks, chunks[1:]):
            assert b["start_token"] - a["start_token"] == S


# ---------------------------------------------------------------------------
# psi_drift (r7)
# ---------------------------------------------------------------------------


def test_psi_drift_fires_on_planted_shift(spark):
    """A planted mean-shift must raise the drifted flag; a stationary type
    in the same feed must not — and the PSI value must equal a pure-python
    recomputation of the same smoothed formula exactly (5 dp)."""
    import datetime
    import math

    from projet_data_engineering_spark.operators.datapipe import psi_drift

    base_day = datetime.datetime(2024, 1, 10)
    curr_day = datetime.datetime(2024, 1, 20)
    rows = []
    # 'stable': identical uniform spread on both sides
    for i in range(200):
        rows.append((base_day, "stable", float(i % 100)))
        rows.append((curr_day, "stable", float(i % 100)))
    # 'shifted': low values before, high values after
    for i in range(200):
        rows.append((base_day, "shifted", float(i % 30)))
        rows.append((curr_day, "shifted", 70.0 + float(i % 30)))
    events = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    )
    got = {r["event_type"]: r for r in psi_drift(events).collect()}

    assert not got["stable"]["drifted"]
    assert got["stable"]["psi"] < 0.01
    assert got["shifted"]["drifted"] and got["shifted"]["psi"] > 0.2
    assert got["shifted"]["n_base"] == got["shifted"]["n_curr"] == 200

    # exact recomputation: global range is [0, 100) -> width-10 bins
    vmin, vmax = 0.0, 99.0
    for etype, series in (
        ("shifted", ([float(i % 30) for i in range(200)],
                     [70.0 + float(i % 30) for i in range(200)])),
    ):
        cb, cc = [0] * 10, [0] * 10
        for v in series[0]:
            cb[min(9, int((v - vmin) / (vmax - vmin) * 10))] += 1
        for v in series[1]:
            cc[min(9, int((v - vmin) / (vmax - vmin) * 10))] += 1
        psi = sum(
            ((b + 0.5) / (200 + 5.0) - (c + 0.5) / (200 + 5.0))
            * math.log(((b + 0.5) / (200 + 5.0)) / ((c + 0.5) / (200 + 5.0)))
            for b, c in zip(cb, cc)
        )
        assert got[etype]["psi"] == round(psi, 5)
