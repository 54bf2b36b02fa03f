"""Dedup + similarity behavior on planted fixtures: MinHash must recall
planted near-dups, exact dedup exact copies; merge upsert is idempotent."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import merge_upsert
from projet_data_engineering_spark.operators.dedup import (
    minhash_candidate_pairs,
    minhash_signatures,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE.replace("warm", "cold")),      # near-dup of 1
        Row(doc_id=3, text=BASE),                               # exact dup of 1
        Row(doc_id=4, text="completely different content about spark sql "
                           "query optimization and shuffle partitioning at scale"),
        Row(doc_id=5, text="another unrelated document discussing streaming "
                           "watermarks state stores and exactly once semantics"),
    ]
    return spark.createDataFrame(rows)


def test_minhash_recalls_planted_near_dups(planted):
    pairs = {(r["doc1"], r["doc2"]) for r in
             minhash_candidate_pairs(planted, "doc_id", "text").collect()}
    assert (1, 3) in pairs          # exact dup always collides
    assert (1, 2) in pairs          # 1-word-out-of-22 near dup
    assert (4, 5) not in pairs      # unrelated docs don't


def test_minhash_signature_deterministic(planted):
    a = sorted(map(tuple, minhash_signatures(planted, "doc_id", "text").collect()))
    b = sorted(map(tuple, minhash_signatures(planted, "doc_id", "text").collect()))
    assert a == b


def test_merge_upsert_semantics_and_idempotence(spark):
    old = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    new = spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="c")])
    once = merge_upsert(old, new, "k")
    got = {r["k"]: r["v"] for r in once.collect()}
    assert got == {1: "a", 2: "B", 3: "c"}      # new wins, old survives, insert
    twice = merge_upsert(once, new, "k")
    assert {tuple(r) for r in twice.collect()} == {tuple(r) for r in once.collect()}


def test_knn_self_similarity_excluded_and_ranked(spark):
    """q_embed_knn's top-20 neighbours of vector 0 never include vector 0
    itself and come back ranked: scores non-increasing, ties by id."""
    from projet_data_engineering_spark.registry import all_queries
    from tests.conftest import SF_DIR

    rows = all_queries()["q_embed_knn"](spark, SF_DIR).collect()
    assert len(rows) == 20
    assert 0 not in {r["vec_id"] for r in rows}
    keys = [(-r["score"], r["vec_id"]) for r in rows]
    assert keys == sorted(keys)


def test_connected_components_properties(spark):
    """Cluster labels are valid: every edge's endpoints share a root, and
    every root is the minimum id of its cluster."""
    from projet_data_engineering_spark.io import load_table, spread
    from projet_data_engineering_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
    )
    from tests.conftest import SF_DIR

    d = spread(load_table(spark, SF_DIR, "documents"), "doc_id")
    pairs = minhash_candidate_pairs(d, "doc_id", "text").persist()
    labels = {
        r["node"]: r["root"]
        for r in connected_components(pairs).collect()
    }
    for r in pairs.collect():
        assert labels[r["doc1"]] == labels[r["doc2"]]
    from collections import defaultdict

    members = defaultdict(list)
    for node, root in labels.items():
        members[root].append(node)
    for root, nodes in members.items():
        assert root == min(nodes)
    pairs.unpersist()


def test_connected_components_lineage_bounded(spark):
    """A chain graph forces one propagation hop per round; the checkpointed
    loop must converge with a logical plan whose depth reflects only the
    rounds since the last localCheckpoint, not the full iteration count."""
    from projet_data_engineering_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [Row(doc1=i, doc2=i + 1) for i in range(12)]
    )
    labels = connected_components(chain, max_iter=15, checkpoint_every=3)
    got = {r["node"]: r["root"] for r in labels.collect()}
    assert got == {i: 0 for i in range(13)}     # single component rooted at 0

    # Lineage bound: the surviving plan holds at most the joins accumulated
    # since the last checkpoint (< 2 * checkpoint_every), never the ~12
    # propagation rounds the chain needed.
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") < 6, plan


@pytest.mark.slow
def test_connected_components_refuses_truncated_convergence(spark):
    """A diameter-d component needs ~d min-label rounds; a max_iter below
    that must RAISE, never return silently-wrong labels (at sf5 the giant
    near-dup component needs ~25 rounds — a silent cap of 15 mislabeled it
    until this guard existed). The same chain through LSS converges in
    O(log n) rounds and must agree with the converged min-label run."""
    from projet_data_engineering_spark.operators.dedup import (
        connected_components,
        connected_components_lss,
    )

    chain = spark.createDataFrame([Row(doc1=i, doc2=i + 1) for i in range(30)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=10).collect()

    want = {i: 0 for i in range(31)}
    got = {
        r["node"]: r["root"]
        for r in connected_components(chain, max_iter=40).collect()
    }
    assert got == want
    got_lss = {
        r["node"]: r["root"] for r in connected_components_lss(chain).collect()
    }
    assert got_lss == want


def test_merge_upsert_null_overwrites_old_value(spark):
    """Mongo $set semantics: a matched new row wins WHOLESALE — a legitimate
    NULL in the new record must overwrite the old non-NULL value, not be
    coalesced away (a per-column coalesce would resurrect stale values)."""
    old = spark.createDataFrame([Row(k=1, v="a", w=10), Row(k=2, v="b", w=20)])
    new = spark.createDataFrame(
        [Row(k=2, v=None, w=99)],
        schema="k bigint, v string, w bigint",
    )
    got = {r["k"]: (r["v"], r["w"]) for r in merge_upsert(old, new, "k").collect()}
    assert got == {1: ("a", 10), 2: (None, 99)}


def test_merge_upsert_intra_batch_duplicates_last_write_wins(spark):
    """Mongo ordered bulk applies ops in sequence: with duplicate keys in
    ONE new batch, the last write (by order_col) wins and exactly one row
    per key survives the merge."""
    old = spark.createDataFrame([Row(k=1, v="old", seq=0)])
    new = spark.createDataFrame(
        [Row(k=1, v="first", seq=1), Row(k=1, v="second", seq=2),
         Row(k=2, v="x", seq=1), Row(k=2, v="y", seq=3)]
    )
    merged = merge_upsert(old, new, "k", order_col="seq")
    got = {r["k"]: r["v"] for r in merged.collect()}
    assert merged.count() == 2
    assert got == {1: "second", 2: "y"}


@pytest.mark.slow
def test_lss_components_match_label_propagation(spark):
    """Large-star/small-star must produce the identical (node, root) labels
    as min-label propagation — on a long chain (worst case for propagation,
    where LSS's O(log n) round bound is the whole point), a star, and two
    disjoint components."""
    from projet_data_engineering_spark.operators.dedup import (
        connected_components,
        connected_components_lss,
    )

    cases = [
        [Row(doc1=i, doc2=i + 1) for i in range(20)],              # 21-chain
        [Row(doc1=100, doc2=v) for v in (101, 102, 103)],          # star
        [Row(doc1=1, doc2=2), Row(doc1=10, doc2=11),
         Row(doc1=11, doc2=12), Row(doc1=2, doc2=1)],              # 2 comps + dup edge
    ]
    for rows in cases:
        pairs = spark.createDataFrame(rows)
        lss = {(r["node"], r["root"])
               for r in connected_components_lss(pairs).collect()}
        ref = {(r["node"], r["root"])
               for r in connected_components(pairs, max_iter=25).collect()}
        assert lss == ref, rows

    # Lineage stays flat: every LSS round re-checkpoints, so the final label
    # plan carries at most one round of joins regardless of graph shape.
    labels = connected_components_lss(
        spark.createDataFrame([Row(doc1=i, doc2=i + 1) for i in range(20)])
    )
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 2, plan


def _component_minima(edges: list[tuple[int, int]]) -> set[tuple[int, int]]:
    """(node, smallest node of its component) for every endpoint of a
    non-loop edge: a pure-Python union-find, sharing no code with Spark."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            parent[find(a)] = find(b)
    comp_min: dict[int, int] = {}
    for v in list(parent):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {(v, comp_min[find(v)]) for v in parent}


def _lss(spark, edges, **kwargs) -> set[tuple[int, int]]:
    from projet_data_engineering_spark.operators.dedup import (
        connected_components_lss,
    )

    pairs = spark.createDataFrame(edges, "doc1 bigint, doc2 bigint")
    return {
        (r["node"], r["root"])
        for r in connected_components_lss(pairs, **kwargs).collect()
    }


@pytest.mark.parametrize(
    "edges",
    [
        [(100, 101), (100, 102), (103, 100)],
        # no node is both hi and lo, yet hi 3 has two lo: not converged
        [(3, 1), (3, 2)],
        [(i, i + 1) for i in range(20)],
        [(1, 2), (10, 11), (11, 12), (2, 1)],
        [],
    ],
    ids=["star", "fan-in", "21-chain", "two-components-dup-edge", "empty"],
)
def test_lss_components_match_union_find_on_fixed_shapes(spark, edges):
    """The star test that ends the large-star/small-star loop stops on the
    component minima, on the shapes it could stop early on."""
    assert _lss(spark, edges) == _component_minima(edges)


def test_lss_refuses_to_return_unconverged_labels(spark):
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        _lss(spark, [(i, i + 1) for i in range(20)], max_iter=1)


@pytest.mark.slow
def test_lss_components_match_union_find_on_random_graphs(spark):
    """Property check: on random graphs, large-star/small-star labels must
    equal a pure-Python union-find's component minima (an oracle with zero
    shared code). Deterministic seed — the value is the graph variety, not
    hypothesis shrinking (each example costs Spark jobs)."""
    import random

    rng = random.Random(42)
    for _ in range(6):
        n = rng.randint(2, 40)
        m = rng.randint(1, 60)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
        assert _lss(spark, edges) == _component_minima(edges), edges


def test_dup_spans_content_anchoring_is_shift_invariant(spark):
    """The property fixed-stride sampling lacks: the same 60-char plagiarized
    run is found even when its byte offset differs between documents,
    because windows anchor on CONTENT (md5 of the local 8-gram), not on
    position."""
    from pyspark.sql import Row

    from projet_data_engineering_spark.registry import all_queries
    import projet_data_engineering_spark.operators.dedup as dd

    shared = "the quick brown fox jumps over the lazy dog again and again ok"
    docs = [
        Row(doc_id=1, text="AAAA " + shared + " tail one", lang="en",
            source="s1", n_chars=0),
        Row(doc_id=2, text="a totally different long prefix here " + shared,
            lang="en", source="s2", n_chars=0),
        Row(doc_id=3, text="no overlap with the others at all, none",
            lang="en", source="s3", n_chars=0),
    ]
    df = spark.createDataFrame(docs)
    import tempfile, os

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = all_queries()["q_dup_spans"](spark, tmp).collect()
    assert len(out) > 0                       # shifted copy found
    assert all(r["n_docs"] == 2 for r in out)  # only docs 1+2 share spans


def test_groupsafe_split_keeps_near_dup_pairs_together(spark):
    """The leakage property itself: every MinHash near-dup pair lands in ONE
    split under cluster-root keying, while doc-id keying (the naive rule)
    demonstrably separates at least one pair on the same corpus."""
    from projet_data_engineering_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
    )
    from projet_data_engineering_spark.io import load_table
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents")
    pairs = minhash_candidate_pairs(d, "doc_id", "text").persist()
    labels = connected_components(pairs).withColumnRenamed("node", "doc_id")

    def split_of(key_col):
        b = F.conv(
            F.substring(F.md5(key_col.cast("string")), 1, 2), 16, 10
        ).cast("int")
        return F.when(b < 13, "test").when(b < 26, "valid").otherwise("train")

    keyed = (
        d.select("doc_id")
        .join(labels, "doc_id", "left")
        .withColumn("root", F.coalesce("root", "doc_id"))
        .select(
            "doc_id",
            split_of(F.col("root")).alias("safe_split"),
            split_of(F.col("doc_id")).alias("naive_split"),
        )
    )
    a = keyed.select(
        F.col("doc_id").alias("doc1"),
        F.col("safe_split").alias("s1"),
        F.col("naive_split").alias("n1"),
    )
    b = keyed.select(
        F.col("doc_id").alias("doc2"),
        F.col("safe_split").alias("s2"),
        F.col("naive_split").alias("n2"),
    )
    j = pairs.join(a, "doc1").join(b, "doc2")
    assert j.filter(F.col("s1") != F.col("s2")).count() == 0   # no leakage
    assert j.filter(F.col("n1") != F.col("n2")).count() > 0    # naive leaks


def test_incremental_dedup_corpus_never_shuffles(spark):
    """The incremental-ingest scale contract: the only Exchange in the whole
    plan belongs to the (tiny) candidate distinct — batch bands and
    candidates broadcast, so the corpus is scanned, never shuffled."""
    from projet_data_engineering_spark.io import load_table
    from projet_data_engineering_spark.operators.dedup import (
        incremental_dedup_pairs,
    )
    from projet_data_engineering_spark.plans.explain import (
        formatted_plan,
        shuffle_count,
    )
    from tests.conftest import SF_DIR

    # plain load_table (no spread rebalance): the query wrapper's spread()
    # adds repartitions that exist only because the test corpus is one file
    d = load_table(spark, SF_DIR, "documents")
    df = incremental_dedup_pairs(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
    )
    plan = formatted_plan(df)
    # broadcast joins only — no SortMergeJoin / ShuffledHashJoin anywhere
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # the candidate-dedup HashAggregate pair is the single permitted exchange
    assert shuffle_count(df) <= 1


@pytest.mark.slow
def test_incremental_dedup_served_matches_statefree_and_prunes(spark, tmp_path):
    """The materialized-state daily-ingest path (build_dedup_state +
    incremental_dedup_pairs_served) must reproduce the state-free path's
    (batch_doc, corpus_doc, jaccard) rows exactly, and both corpus-side
    scans must carry PartitionFilters (band_bucket for candidate probing,
    doc_bucket for Jaccard verification) — the contract that a batch never
    pays a corpus-wide signature recompute."""
    from projet_data_engineering_spark.operators.dedup import (
        build_dedup_state,
        incremental_dedup_pairs,
        incremental_dedup_pairs_served,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog tonight",
        "the quick brown fox jumps over the lazy dog at dawn",
        "completely different content about spark streaming joins",
        "yet another unrelated document mentioning vector search",
        "the quick brown fox jumps over the lazy dog tonight",
        "spark streaming joins with completely different content",
    ]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts * 5)]
    ).withColumn("doc_id", F.monotonically_increasing_id())
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)

    state = str(tmp_path / "dedup_state")
    build_dedup_state(corpus, state, n_buckets=16)
    plans: dict = {}
    served = incremental_dedup_pairs_served(
        spark, state, batch, plans_out=plans
    )
    direct = incremental_dedup_pairs(corpus, batch)
    got = {tuple(r) for r in served.collect()}
    want = {tuple(r) for r in direct.collect()}
    assert got == want and got

    # candidate probe stage: stored bands scan pruned by band_bucket
    assert "PartitionFilters" in plans["probe"], plans["probe"]
    assert "band_bucket" in plans["probe"].split("PartitionFilters", 1)[1], (
        plans["probe"]
    )
    # verification stage (the returned plan): wordsets pruned by doc_bucket
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert "doc_bucket" in plan.split("PartitionFilters", 1)[1], plan
    # state layout on disk is genuinely bucket-partitioned (inside the
    # log table's base dir since r11 — build writes base_1)
    assert any(
        p.name.startswith("band_bucket=")
        for p in (tmp_path / "dedup_state" / "bands" / "base_1").iterdir()
    )
    assert any(
        p.name.startswith("doc_bucket=")
        for p in (tmp_path / "dedup_state" / "wordsets" / "base_1").iterdir()
    )


@pytest.mark.slow
def test_ann_served_matches_inplan_ivf_and_prunes(spark, tmp_path):
    """The materialized IVF index (build_ann_index + ann_serve) must
    reproduce q_ann_ivf's in-plan (query, neighbor, score, rank) rows
    exactly, and the serve scan must carry a cent_id PartitionFilter over
    fewer inverted lists than the index holds — the corpus is never
    scanned at query time."""
    import glob

    from projet_data_engineering_spark.operators.similarity import (
        ann_serve,
        as_double,
        build_ann_index,
        q_ann_ivf,
    )

    sf_dir = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ann_idx")
    build_ann_index(e, idx)
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.expr(f"{as_double('embedding')} AS v"),
    )
    served = ann_serve(spark, idx, queries, nprobe=2, topk=5)
    got = {tuple(r) for r in served.collect()}
    want = {tuple(r) for r in q_ann_ivf(spark, sf_dir).collect()}
    assert got == want and got

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert "cent_id" in plan.split("PartitionFilters", 1)[1], plan
    # the probes prune the lists scan at run time (dynamic partition pruning)
    list_scans = [
        seg for seg in plan.split("FileScan")[1:] if "cent_id" in seg[:300]
    ]
    assert list_scans, plan
    for seg in list_scans:
        pf = seg.split("PartitionFilters", 1)[1][:300]
        assert "dynamicpruningexpression(cent_id" in pf, seg[:900]
    # layout: one inverted-list directory per centroid, probes touch fewer
    lists_on_disk = glob.glob(f"{idx}/assignments/cent_id=*")
    assert len(lists_on_disk) >= 4
    # 3 queries x nprobe 2 <= 6 lists, and fewer than the index holds
    # (otherwise nothing was pruned) — counted by the scan's "number of
    # partitions read" metric, since a dynamic filter's list is not in
    # the plan text
    from projet_data_engineering_spark.plans.explain import (
        scan_partitions_read,
    )

    (read,) = scan_partitions_read(served).values()
    assert read <= 6 and read < len(lists_on_disk), (read, lists_on_disk)


# ---------------------------------------------------------------------------
# fuzzy_contamination (r7)
# ---------------------------------------------------------------------------


def test_fuzzy_contamination_planted(spark):
    """Planted leakage: a train doc that is a near-copy of an eval doc must
    be flagged, an exact copy must score 1.0, and matches must be
    CROSS-COHORT only — train/train and eval/eval near-dup pairs never
    appear in the report."""
    from pyspark.sql import Row

    from projet_data_engineering_spark.operators.textanalysis import (
        fuzzy_contamination,
    )

    other = (
        "entirely different prose treating broadcast joins adaptive "
        "execution and columnar shuffle readers in production clusters"
    )
    rows = [
        Row(doc_id=13, text=BASE),                              # eval
        Row(doc_id=26, text=BASE.replace("lazy", "sleepy")),    # eval near-dup
        Row(doc_id=1, text=BASE.replace("warm", "cold")),       # train near-copy
        Row(doc_id=2, text=BASE),                               # train exact copy
        Row(doc_id=3, text=other),                              # train, clean
        Row(doc_id=4, text=other.replace("production", "staging")),  # train pair
    ]
    docs = spark.createDataFrame(rows)
    got = {
        r["doc_id"]: r
        for r in fuzzy_contamination(
            docs, F.col("doc_id") % 13 == 0
        ).collect()
    }
    assert set(got) == {1, 2}          # 3/4 collide only with each other
    assert got[2]["max_jaccard"] == 1.0
    assert 0.2 <= got[1]["max_jaccard"] < 1.0
    # both eval docs collide with train doc 2 (exact + near) -> count >= 2
    assert got[2]["n_eval_matches"] == 2


# ---------------------------------------------------------------------------
# rrf_fuse / q_hybrid_search (r7)
# ---------------------------------------------------------------------------


def test_rrf_fuse_hand_example(spark):
    """Fusion math on a hand-built pair of legs: overlap doc sums both
    contributions, single-leg docs carry rank 0 on the missing side, and
    the overlap doc outranks a better single-leg rank (the RRF point)."""
    from projet_data_engineering_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, lex_rank int"
    )
    vec = spark.createDataFrame(
        [(20, 1), (40, 2)], "vec_id long, vec_rank int"
    )
    got = {r["doc_id"]: r for r in rrf_fuse(lex, vec).collect()}

    assert set(got) == {10, 20, 30, 40}
    assert got[20]["bm25_rank"] == 2 and got[20]["ann_rank"] == 1
    assert got[20]["rrf"] == round(1 / 62 + 1 / 61, 6)
    assert got[10]["ann_rank"] == 0 and got[10]["rrf"] == round(1 / 61, 6)
    assert got[40]["bm25_rank"] == 0 and got[40]["rrf"] == round(1 / 62, 6)
    # both-legs beats any single leg's best here
    assert got[20]["rrf"] > max(got[10]["rrf"], got[30]["rrf"], got[40]["rrf"])


def test_hybrid_search_legs_agree_with_their_sources(spark):
    """The fused frame's per-leg ranks must reproduce q_bm25_topk's and
    q_embed_knn's own orderings (truncated to the hybrid k)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    from projet_data_engineering_spark.operators.similarity import (
        HYBRID_TOPK,
    )

    Q = entrymod.queries()
    fused = Q["q_hybrid_search"](spark, SF_DIR).collect()
    bm = [
        r["doc_id"]
        for r in Q["q_bm25_topk"](spark, SF_DIR).collect()[:HYBRID_TOPK]
    ]
    ann = [
        r["vec_id"]
        for r in Q["q_embed_knn"](spark, SF_DIR).collect()[:HYBRID_TOPK]
    ]
    got_bm = {r["doc_id"]: r["bm25_rank"] for r in fused if r["bm25_rank"] > 0}
    got_ann = {r["doc_id"]: r["ann_rank"] for r in fused if r["ann_rank"] > 0}
    assert got_bm == {d: i + 1 for i, d in enumerate(bm)}
    assert got_ann == {d: i + 1 for i, d in enumerate(ann)}
    # every fused score is the sum of its legs' reciprocal contributions
    for r in fused:
        want = (1.0 / (60 + r["bm25_rank"]) if r["bm25_rank"] else 0.0) + (
            1.0 / (60 + r["ann_rank"]) if r["ann_rank"] else 0.0
        )
        assert r["rrf"] == round(want, 6)


# ---------------------------------------------------------------------------
# canonical_keepers / q_dedup_canonical (r7)
# ---------------------------------------------------------------------------


def test_canonical_keeper_prefers_quality_over_min_id(spark):
    """Planted cluster where the HIGHEST-id member is the clean long
    original and the lower ids are truncated variants: the keeper must be
    the high-quality doc — exactly where keep-best differs from the
    min-id rule — with the cluster still rooted at the min id."""
    long_body = (BASE + " ") * 4  # ~100 tokens -> length factor saturates
    rows = [
        # cluster: 1 & 2 truncated copies, 3 the full original (same prose,
        # so MinHash links them; lengths differ, so quality differs)
        (1, long_body[: len(long_body) // 2]),
        (2, long_body[: len(long_body) // 2] + " extra tail words here"),
        (3, long_body),
        # a singleton far away in shingle space
        (9, "completely different text about databases and indexes " * 3),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    from projet_data_engineering_spark.operators.dedup import (
        canonical_keepers,
    )

    out = canonical_keepers(docs).collect()
    assert len(out) == 1  # one multi-doc cluster; the singleton is dropped
    c = out[0]
    assert c["cluster_root"] == 1  # component label stays min-id
    assert c["n_members"] == 3
    assert c["keeper"] == 3  # but the KEEPER is the best-quality member
    assert c["keeper_quality"] > 0.75  # length factor saturated for the keeper


def test_canonical_keeper_tie_breaks_on_min_id(spark):
    """Identical copies (identical quality) must keep the smallest id —
    the deterministic tie contract."""
    body = (BASE + " ") * 4
    docs = spark.createDataFrame(
        [(5, body), (7, body), (11, body)], "doc_id long, text string"
    )
    from projet_data_engineering_spark.operators.dedup import (
        canonical_keepers,
    )

    out = canonical_keepers(docs).collect()
    assert len(out) == 1
    assert out[0]["keeper"] == 5 and out[0]["n_members"] == 3


def test_dedup_recall_contract_holds_on_corpus(spark):
    """On the synthetic corpus the banded LSH must find at least the
    banding-theory floor of the exact trigram-Jaccard >= 0.8 pairs
    (P[collide | jac=0.8] ~ 0.983 with 4 bands of 2), and the candidate
    count must dominate the found count (candidates superset truth hits)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    r = entrymod.queries()["q_dedup_recall"](spark, SF_DIR).collect()[0]
    assert r["n_true"] > 0
    assert r["n_found"] <= r["n_true"]
    assert r["n_candidates"] >= r["n_found"]
    assert r["recall"] >= 0.95
