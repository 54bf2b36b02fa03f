"""Deduplication operators for large-scale corpus curation.

Beyond the reference's exact dedup (``scraper/main.py:88,114-116`` seen-set;
``product_id = md5(url)`` at ``scraper/main.py:139``), this module adds the
near-dup family a training-data pipeline needs — each expressed as shuffle-
bounded DataFrame algebra, no UDFs, no driver-side collection:

- exact:          hash-groupBy on a content hash — one shuffle of (hash, id);
- MinHash + LSH:  shingle → K minhashes → band → bucket self-join. Candidate
                  generation is O(sum of bucket^2) not O(n^2): the classic
                  scale path for 100 TB corpora;
- SimHash:        64->16-bit signed-sum signature; equal signatures bucket
                  near-dups with a single groupBy;
- n-gram Jaccard: exact word-set verification of the MinHash candidate
                  pairs — two keyed joins sized by |candidates|, no blocking.

Determinism note: all hashing is md5-based (identical hex in Spark and
DuckDB), so every operator here is oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import (
    load_table,
    read_log_table,
    spread,
    write_log_base,
)
from projet_data_engineering_spark.plans.hints import merge_if_large
from projet_data_engineering_spark.registry import query
from projet_data_engineering_spark.session import graph_loop

N_HASHES = 8
BAND_SIZE = 2  # 8 hashes / 2 per band = 4 bands


def _shingles(tokens: Column) -> Column:
    """Distinct word 3-grams. element_at is 1-based; caller guarantees
    size(tokens) >= 3 so indices stay in range under ANSI mode."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(tokens, i),
                F.element_at(tokens, i + 1),
                F.element_at(tokens, i + 2),
            ),
        )
    )


def minhash_signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, h0..h{K-1}) — K minhashes from ceil(K/4) md5 passes.

    Each md5('seed|'+shingle) yields four independent 32-bit (8-hex-char)
    slices; minhash k = lexicographic min of slice k over the shingle set.
    min over a uniform hash is a valid Jaccard-preserving minhash, and hex
    strings compare identically in Spark and DuckDB. Narrow map-only stage;
    hashing cost is 2 md5 per shingle instead of 8.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    base = docs.filter(F.size(toks) >= 3).select(
        F.col(id_col), _shingles(toks).alias("sh")
    )
    n_seeds = (N_HASHES + 3) // 4
    for seed in range(n_seeds):
        prefix = f"{seed}|"

        def _hash(s, _p=prefix):
            return F.md5(F.concat(F.lit(_p), s))

        # transform() lambda must accept exactly one positional arg (a second
        # would receive the element index) — hence the named helper.
        base = base.withColumn(
            f"m{seed}", F.transform(F.col("sh"), lambda s: _hash(s))
        )

    def slice_min(k: int) -> Column:
        off = (k % 4) * 8

        def _slice(m, _off=off):
            return F.substring(m, _off + 1, 8)

        return F.array_min(
            F.transform(F.col(f"m{k // 4}"), lambda m: _slice(m))
        ).alias(f"h{k}")

    return base.select(id_col, *[slice_min(k) for k in range(N_HASHES)])


def lsh_bands(sig: DataFrame, id_col: str) -> DataFrame:
    """Explode signatures into (id, band_idx, band_val) — bucket key rows."""
    n_bands = N_HASHES // BAND_SIZE
    bands = F.array(
        *[
            F.concat_ws(
                "|", *[F.col(f"h{b * BAND_SIZE + r}") for r in range(BAND_SIZE)]
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(
        id_col, F.posexplode(bands).alias("band_idx", "band_val")
    )


def minhash_candidate_pairs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """MinHash-LSH candidate pairs: ids sharing any band bucket.

    The self-join shuffles on (band_idx, band_val) — co-locating only docs
    whose signatures collide. At 100 TB this is the only join that matters;
    AQE splits hot buckets (boilerplate-heavy corpora produce them).

    The band table is persisted across the self-join: without it Spark would
    recompute the whole shingle+hash pipeline for both join sides. It is tiny
    (4 short strings per doc) at any corpus size."""
    bands = lsh_bands(minhash_signatures(docs, id_col, text_col), id_col).persist()
    return candidate_pairs_from_bands(bands, id_col, size_from=docs)


def candidate_pairs_from_bands(
    bands: DataFrame, id_col: str, size_from: DataFrame | None = None
) -> DataFrame:
    """The band-bucket self-join on an ALREADY-MATERIALIZED band table
    (r11: the streaming ingest computes one signature pass per micro-batch
    and feeds it to every consumer — within-pairs, the served probe, the
    state merge — instead of re-shingling the batch three times).

    ``size_from=None`` skips the sort-merge hint: a checkpointed band
    table has no input files to size, and the only hint-free caller is
    the micro-batch path, where the sides are batch-sized and the
    planner's broadcast choice is the measured-fast one."""
    a = bands.alias("a")
    b = bands.alias("b")
    # size-gated merge hint: both sides are the corpus-derived band
    # table — never broadcastable at scale (AQE's compressed-bytes
    # estimate sits under the 64 MB threshold at sf10 while the
    # in-heap hash relation does not), but pinning sort-merge at
    # small corpus sizes cost 1.7x the anchor (r8 verdict), so the
    # hint attaches only past the source-bytes gate (plans/hints.py)
    left = a if size_from is None else merge_if_large(a, size_from=size_from)
    return (
        left.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc1"), F.col(f"b.{id_col}").alias("doc2")
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Driver queries
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
    SELECT content_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
    FROM (SELECT doc_id,
                 md5(array_to_string(
                     list_sort(list_distinct(str_split(lower(text), ' '))), ' '))
                     AS content_hash
          FROM documents)
    GROUP BY content_hash
    HAVING COUNT(*) > 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via canonicalized content hash (reference D2: ``md5(url)``
    key): hash over the sorted distinct token set (the q_fingerprint
    canonical form — raw-byte md5 finds zero duplicates in this corpus, which
    would make the check vacuous). Groups of equivalent docs; ``keeper`` =
    canonical survivor. One shuffle of (32-byte hash, id) pairs regardless of
    document size."""
    d = load_table(spark, sf_dir, "documents")
    canon = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))), " "
        )
    )
    return (
        d.select("doc_id", canon.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_copies") > 1)
    )


def _minhash_oracle(src: str = "documents") -> str:
    h_cols = ",\n               ".join(
        f"list_aggregate(list_transform(sh, x -> "
        f"substr(md5(concat('{k // 4}|', x)), {(k % 4) * 8 + 1}, 8)), 'min') AS h{k}"
        for k in range(N_HASHES)
    )
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band_idx, "
        f"concat_ws('|', h{b * BAND_SIZE}, h{b * BAND_SIZE + 1}) AS band_val FROM sigs"
        for b in range(N_HASHES // BAND_SIZE)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM {src}
    ),
    shingled AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(t) - 2),
                   i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS sh
        FROM toks WHERE len(t) >= 3
    ),
    sigs AS (
        SELECT doc_id,
               {h_cols}
        FROM shingled
    ),
    bands AS (
{band_selects}
    )
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
    """


@query("q_dedup_minhash", oracle=_minhash_oracle())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs over ``documents`` (8 hashes,
    4 bands × 2 rows ⇒ catches pairs with Jaccard ≳ 0.7).

    The input is repartitioned before hashing: the test corpus arrives as one
    parquet file (one partition), which would serialize the md5 work onto a
    single core. On a real multi-file corpus the scan is already parallel and
    the repartition collapses to a cheap rebalance."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return minhash_candidate_pairs(d, "doc_id", "text")


def _simhash_bit(j: int) -> Column:
    hexed = F.substring(F.md5("term"), j + 1, 1)
    return F.when(hexed.isin(*"89abcdef"), 1).otherwise(-1)


def _simhash_oracle() -> str:
    sums = ",\n           ".join(
        "CASE WHEN SUM(CASE WHEN substr(md5(u.term), {p}, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 "
        "THEN '1' ELSE '0' END AS b{j}".format(p=j + 1, j=j)
        for j in range(16)
    )
    concat_bits = " || ".join(f"b{j}" for j in range(16))
    return f"""
    WITH bits AS (
        SELECT d.doc_id,
           {sums}
        FROM (SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents) d,
             UNNEST(d.t) AS u(term)
        GROUP BY d.doc_id
    )
    SELECT doc_id, {concat_bits} AS simhash FROM bits
    """


@query("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit, tf-weighted): per token, bit j of md5 contributes
    ±1; signature bit = sign of the sum. Equal signatures ⇒ near-dup bucket.
    One explode + one groupBy; signature comparison is then a cheap
    equality/hamming join — the memory-light alternative to MinHash."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    exploded = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    sums = exploded.groupBy("doc_id").agg(
        *[F.sum(_simhash_bit(j)).alias(f"s{j}") for j in range(16)]
    )
    bits = [
        F.when(F.col(f"s{j}") > 0, "1").otherwise("0") for j in range(16)
    ]
    return sums.select("doc_id", F.concat(*bits).alias("simhash"))


def _jaccard_oracle() -> str:
    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    ws AS (
        SELECT doc_id, list_distinct(str_split(lower(text), ' ')) AS ws
        FROM documents
    )
    SELECT doc1, doc2, jaccard FROM (
        SELECT p.doc1, p.doc2,
               ROUND(len(list_intersect(a.ws, b.ws))
                     / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))),
                     4) AS jaccard
        FROM pairs p
        JOIN ws a ON a.doc_id = p.doc1
        JOIN ws b ON b.doc_id = p.doc2
    )
    WHERE jaccard >= 0.2
    """


@query("q_dedup_jaccard", oracle=_jaccard_oracle())
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard verification of MinHash-LSH candidates.

    The verify stage downstream of ``minhash_candidate_pairs``: candidates
    come from the banded LSH self-join (O(sum of bucket^2), never all-pairs),
    and each candidate pair is scored exactly by joining the word-set table
    onto both sides — two keyed joins sized by |candidates|, not by any
    blocking scheme. An earlier revision blocked on (lang, 50-char length
    bucket) instead, which is O(block^2) with block sizes growing linearly in
    the corpus — quadratic at scale; the candidate-driven shape is O(cand).
    For exact-THRESHOLD joins without an LSH front end, use the lossless
    PPJoin path ``datapipe.ngram_jaccard_join``."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    cand = minhash_candidate_pairs(d, "doc_id", "text")
    ws = d.select(
        "doc_id",
        F.array_distinct(F.split(F.lower("text"), " ")).alias("ws"),
    )
    a = ws.select(F.col("doc_id").alias("doc1"), F.col("ws").alias("wsa"))
    b = ws.select(F.col("doc_id").alias("doc2"), F.col("ws").alias("wsb"))
    inter = F.size(F.array_intersect("wsa", "wsb"))
    union = F.size("wsa") + F.size("wsb") - inter
    return (
        cand.join(a, "doc1")
        .join(b, "doc2")
        .select(
            "doc1", "doc2", F.round(inter / union, 4).alias("jaccard")
        )
        .filter(F.col("jaccard") >= 0.2)
    )


def connected_components(
    pairs: DataFrame,
    left: str = "doc1",
    right: str = "doc2",
    max_iter: int = 64,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Connected components over candidate pairs → (node, root) with root =
    the smallest id reachable: the clustering stage between near-dup pair
    generation and keeper selection.

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels; converges in O(component
    diameter) rounds. Each round is one join + one groupBy — fully
    data-parallel; the driver only orchestrates the loop and checks
    convergence via a 1-row label-sum aggregate (labels are min-folded, so
    the sum strictly decreases until the fixpoint — no join, no collect of
    data). Candidate-pair graphs are
    sparse by construction (LSH bands), so rounds are cheap at any corpus
    size.

    Lineage is truncated with ``localCheckpoint(eager=True)`` every
    ``checkpoint_every`` rounds: without it each round's plan builds on the
    previous round's, so planning cost grows linearly with iterations even
    when persist bounds recompute. On a real cluster with unreliable
    executors, swap ``localCheckpoint`` (executor-local blocks) for a
    reliable ``checkpoint()`` to the cluster FS; billion-edge graphs would
    additionally swap the propagation step for the large-star/small-star
    variant.

    Small graphs run the loop with AQE off: see ``session.graph_loop``."""
    # Symmetrize in ONE pass over the pair input: the old two-branch union
    # (e ∪ swap(e)) computed the upstream pair pipeline twice when the
    # persist first materialized (each branch is an independent subtree
    # until the cache exists — r11, guide §2.4). explode doubles rows
    # map-side instead.
    e = pairs.select(F.col(left).alias("a"), F.col(right).alias("b"))
    edges = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        # localCheckpoint instead of persist (r12): a cached plan keeps
        # its PRE-AQE partitioning (canChangeCachedPlanOutputPartitioning
        # is off), so the persisted edge frame stayed 200-wide on tiny
        # graphs and the width probe could never see "small"; the
        # checkpoint RDD carries the AQE-finalized width — and truncates
        # the pair pipeline's lineage like the LSS variant already did.
        .localCheckpoint(eager=True)
    )
    # The edge frame ends in a MAP (explode) over the pair pipeline, so
    # its width is the upstream's (spread's): the edge count decides.
    with graph_loop(edges, count_edges=True) as g:
        edges = g.edges
        labels = (
            g.pin(edges.select("a"), "a")
            .distinct()
            .select(F.col("a").alias("node"), F.col("a").alias("root"))
            .persist()
        )
        # Convergence check: labels are min-folded each round, so every
        # node's root is non-increasing and the node set is fixed — the
        # label SUM is strictly decreasing until the fixpoint. Comparing
        # 1-row sums costs a single aggregate per round instead of the old
        # join+filter+count (a second full labels shuffle per round).
        prev_sum = None
        converged = False
        for i in range(max_iter):
            nbr = edges.join(g.hint(labels), edges.b == labels.node).select(
                F.col("a").alias("node"), "root"
            )
            new_labels = g.group(labels.union(nbr), "node").agg(
                F.min("root").alias("root")
            )
            if g.small or (i + 1) % checkpoint_every == 0:
                # Truncates the logical plan to a scan of materialized
                # blocks, so plan depth stays O(checkpoint_every) regardless
                # of rounds. Lazy: the convergence aggregate below
                # materializes it in the same job (r11 — eager cost one
                # extra job per checkpoint round). A small graph
                # checkpoints EVERY round: the whole round is one job
                # either way, and blocks beat re-running the propagation
                # join.
                new_labels = new_labels.localCheckpoint(eager=False)
            else:
                new_labels = new_labels.persist()
            cur_sum = new_labels.agg(F.sum("root")).first()[0]
            labels.unpersist()
            labels = new_labels
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
    if not converged:
        # Truncated propagation would silently mislabel every node farther
        # than max_iter hops from its component min — at sf5 the synthetic
        # near-dup graph's giant component needs ~25 rounds, which a cap of
        # 15 quietly got wrong. Wrong-but-plausible labels are worse than an
        # error: refuse. Diameter-heavy graphs belong on the O(log n)
        # ``connected_components_lss`` path instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter or use connected_components_lss (O(log n) rounds)"
        )
    return g.result(labels)


def connected_components_lss(
    pairs: DataFrame,
    left: str = "doc1",
    right: str = "doc2",
    max_iter: int = 40,
) -> DataFrame:
    """Connected components via alternating large-star / small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    the production-scale variant of ``connected_components``.

    Min-label propagation converges in O(component diameter) rounds; the
    star algorithm converges in O(log n) rounds regardless of diameter, so a
    billion-node path-shaped component costs ~30 rounds instead of a
    billion. Each round is two groupBy-min + join passes over the (always
    shrinking) edge set; edges are kept canonical as (hi, lo) with hi > lo,
    and every round is localCheckpoint-ed so lineage stays constant-depth.

    Returns (node, root) for every node in ``pairs``, root = component min —
    same contract as ``connected_components`` (oracle-checked against the
    same recursive-CTE transitive closure in ``q_dedup_clusters_lss``).

    Small graphs run the loop with AQE off: see ``session.graph_loop``."""
    e = pairs.select(F.col(left).alias("a"), F.col(right).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    edges = (
        e.select(F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if edges.rdd.getNumPartitions() == 0:
        # No edge (AQE coalesced the empty distinct to no partition): no
        # component and no round to run. The rounds would only fold empty
        # frames, and their broadcast jobs race, so the stages an empty
        # graph ran varied from call to call.
        return edges.select(F.col("hi").alias("node"), F.col("lo").alias("root"))
    with graph_loop(edges) as g:
        edges = g.edges
        # Node universe from the CHECKPOINTED canonical edges, not the raw
        # pairs input: every (a != b) pair contributes both endpoints to the
        # edge set, so the two are identical — and deriving it from
        # ``pairs`` re-ran the whole upstream pair pipeline (the MinHash
        # band self-join, in the curation callers) a second time just to
        # list vertices (r11, guide §2.4: one subtree, one computation).
        nodes = g.pin(
            edges.select(F.col("hi").alias("node")).union(
                edges.select(F.col("lo").alias("node"))
            ),
            "node",
        ).distinct()
        prev_sig: tuple | None = None
        converged = False
        for _ in range(max_iter):
            # Large-star: every node attaches its larger neighbors to the
            # min of its full neighborhood (including itself).
            sym = edges.select(
                F.col("hi").alias("u"), F.col("lo").alias("v")
            ).union(edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
            mins = g.group(sym, "u").agg(
                F.least(F.min("v"), F.col("u")).alias("m")
            )
            large = (
                sym.join(g.hint(mins), "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
                .filter(F.col("hi") != F.col("lo"))
                # No distinct here: mins2's groupBy-min is duplicate-blind
                # and new_edges re-distincts — dropping it saves one full
                # shuffle per round (set semantics restored at the round
                # boundary).
            )
            # Small-star: every node rewires its smaller neighbors (and
            # itself) to the min of those; operates on the (child > parent)
            # edge list.
            mins2 = g.group(large, "hi").agg(F.min("lo").alias("m"))
            rewired = (
                large.join(g.hint(mins2), "hi")
                .filter(F.col("lo") != F.col("m"))
                .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            )
            self_edges = mins2.select("hi", F.col("m").alias("lo"))
            # LAZY checkpoint, materialized by the fingerprint aggregate
            # below: the agg job computes the round's edge set once, caches
            # its blocks and truncates lineage AND returns the 1-row
            # fingerprint — one job per round where eager-checkpoint + agg
            # cost two (r11; the round loop is job-latency-bound at every
            # SF because each round's data volume shrinks while the fixed
            # job cost does not).
            new_edges = g.pin(
                rewired.union(self_edges).filter(F.col("hi") != F.col("lo")),
                "hi",
                "lo",
            ).distinct().localCheckpoint(eager=False)
            # Convergence test in two tiers: a cheap 1-row (count, sum hi,
            # sum lo) fingerprint every round, and only when the fingerprint
            # matches the previous round's, the definitive set-equality
            # check — so steady-state rounds cost one aggregate, and the
            # exact proof is paid once at the end, never heuristically
            # skipped. (A small graph runs the proof as a broadcast
            # anti-join: same ⊆ test — both sides are distinct and the
            # fingerprint already pins equal counts, so empty-anti ⟺ set
            # equality.)
            cur_sig = tuple(
                new_edges.agg(
                    F.count("*"), F.sum("hi"), F.sum("lo")
                ).first()
            )
            if cur_sig == prev_sig:
                if g.small:
                    extra = new_edges.join(
                        F.broadcast(edges), ["hi", "lo"], "left_anti"
                    )
                else:
                    extra = new_edges.subtract(edges)
                proof = extra.count() == 0
            else:
                proof = False
            prev_sig = cur_sig
            edges = new_edges
            if proof:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components_lss did not converge in {max_iter} rounds"
            )
        # Converged: depth-1 stars — every child row points at its
        # component min.
        child = edges.select(F.col("hi").alias("node"), F.col("lo").alias("root"))
        out = nodes.join(g.hint(child), "node", "left").select(
            "node", F.coalesce("root", F.col("node")).alias("root")
        )
        if g.small:
            # materialize inside the loop's session: the caller's action
            # then reads stored blocks instead of re-planning the label join
            out = out.localCheckpoint(eager=False)
            out.count()
        return g.result(out)


def _clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    undirected AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION ALL
        SELECT doc2 AS a, doc1 AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM undirected
        UNION
        SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a
    )
    SELECT a AS node, LEAST(a, MIN(b)) AS root
    FROM reach GROUP BY a
    """


@query("q_dedup_clusters", oracle=_clusters_oracle())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash candidate pairs → connected components → (node, root) cluster
    assignment (root = keeper id, the min of the cluster). The iterative
    Spark fixpoint is oracle-checked against DuckDB's recursive-CTE
    transitive closure — same clusters, bit for bit."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = minhash_candidate_pairs(d, "doc_id", "text")
    return connected_components(pairs)


def _dedup_apply_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    undirected AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION ALL
        SELECT doc2 AS a, doc1 AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM undirected
        UNION
        SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a
    ),
    clusters AS (
        SELECT a AS node, LEAST(a, MIN(b)) AS root FROM reach GROUP BY a
    )
    SELECT lang, COUNT(*) AS n_docs
    FROM documents
    WHERE doc_id NOT IN (SELECT node FROM clusters WHERE node <> root)
    GROUP BY lang
    """


@query("q_dedup_apply", oracle=_dedup_apply_oracle())
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline applied: MinHash candidates → connected
    components → drop every non-keeper → surviving corpus counts per lang.

    The final subtraction is a plain ``left_anti`` with NO broadcast hint:
    the drop list's cardinality is O(near-duplicate docs), which on a real
    web corpus (30-80% near-dup rate) is O(corpus) — billions of rows at
    100 TB. A hard ``broadcast()`` there OOMs the driver; leaving the
    strategy to AQE means Spark broadcasts when the runtime size actually
    fits ``autoBroadcastJoinThreshold`` and falls back to a shuffled
    sort-merge anti-join that degrades gracefully when it doesn't
    (see SCALING.md "Drop-list anti-joins")."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # LSS: O(log n) rounds at any component diameter (see q_curate).
    labels = connected_components_lss(
        minhash_candidate_pairs(d, "doc_id", "text")
    )
    drop = labels.filter(F.col("node") != F.col("root")).select(
        F.col("node").alias("doc_id")
    )
    return (
        d.join(drop, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


SPAN_W = 32       # duplicated-span window (chars)
SPAN_ANCHOR = 8   # content-defined anchor gram
# anchor fires when md5(gram) starts with '0' -> avg stride 16 chars


@query(
    "q_dup_spans",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lower(text) AS t, length(lower(text)) AS n
        FROM documents WHERE length(text) >= {SPAN_W}
    ),
    anchored AS (
        SELECT doc_id, substr(t, CAST(i AS BIGINT), {SPAN_W}) AS span
        FROM t, UNNEST(generate_series(1, n - {SPAN_W - 1})) AS g(i)
        WHERE substr(md5(substr(t, CAST(i AS BIGINT), {SPAN_ANCHOR})), 1, 1)
              = '0'
    )
    SELECT md5(span) AS span_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occ
    FROM anchored
    GROUP BY span
    HAVING COUNT(DISTINCT doc_id) > 1
    """,
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated SPAN detection — the exact-substring dedup
    signal (suffix-array dedup a la 'Deduplicating Training Data Makes
    Language Models Better'), distributed as hashed shingle sampling.

    Sampling is CONTENT-DEFINED, not stride-defined: a window starts
    wherever the {SPAN_ANCHOR}-gram's md5 opens with a zero nibble (avg
    every 16 chars), so two occurrences of the same text anchor at the SAME
    relative positions regardless of their byte offsets in different
    documents — fixed-stride sampling would miss shifted copies, the common
    case. Any shared run >= ~{SPAN_W}+16 chars contains an anchored window
    with high probability; the span windows themselves are grouped, so a
    reported pair is EXACT (no false positives). ~1/16 of character
    positions emit a row: corpus scan + one groupBy on the span — the same
    budget as the token-level shingle ops. At 100 TB, feed the flagged
    span groups to `connected_components` for cluster-level removal."""
    d = (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", F.lower("text").alias("t"))
        .withColumn("n", F.length("t"))
        .filter(F.col("n") >= SPAN_W)
    )
    anchored = (
        d.select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(1), F.col("n") - (SPAN_W - 1))
            ).alias("p"),
        )
        .filter(
            F.substring(
                F.md5(F.expr(f"substring(t, p, {SPAN_ANCHOR})")), 1, 1
            )
            == "0"
        )
        .select("doc_id", F.expr(f"substring(t, p, {SPAN_W})").alias("span"))
    )
    return (
        anchored.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .filter(F.col("n_docs") > 1)
        .select(F.md5("span").alias("span_hash"), "n_docs", "n_occ")
    )


def _split_groupsafe_oracle() -> str:
    bucket = "CAST(concat('0x', substr(md5(CAST(root AS VARCHAR)), 1, 2)) AS INT)"
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    undirected AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION ALL
        SELECT doc2 AS a, doc1 AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM undirected
        UNION
        SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a
    ),
    clusters AS (
        SELECT a AS node, LEAST(a, MIN(b)) AS root FROM reach GROUP BY a
    ),
    keyed AS (
        SELECT d.doc_id, d.n_chars, COALESCE(c.root, d.doc_id) AS root
        FROM documents d LEFT JOIN clusters c ON c.node = d.doc_id
    )
    SELECT split, COUNT(*) AS n_docs,
           COUNT(DISTINCT root) AS n_clusters,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT n_chars, root,
               CASE WHEN {bucket} < 13 THEN 'test'
                    WHEN {bucket} < 26 THEN 'valid'
                    ELSE 'train' END AS split
        FROM keyed
    )
    GROUP BY split
    """


@query("q_split_groupsafe", oracle=_split_groupsafe_oracle())
def q_split_groupsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split: the md5-bucket rule of
    ``q_train_test_split``, but keyed on the near-dup CLUSTER ROOT instead
    of the document id — so a near-duplicate of a test document can never
    land in train (the contamination path a doc-keyed split leaves wide
    open; with ~5% near-dup clusters, doc-keyed splitting leaks a constant
    fraction of the holdout). Membership is a pure function of the cluster
    root: deterministic across runs, engines, and corpus growth.

    Pipeline: MinHash candidates -> connected components -> join the
    (node, root) relabel map onto the corpus -> map-only split + one tiny
    aggregate. The relabel map has one row per CLUSTERED doc — O(near-dup
    docs), which a high-duplication web corpus makes O(corpus) — so the
    join carries NO broadcast hint: AQE broadcasts when the runtime size
    fits and shuffle-joins when it doesn't (SCALING.md "Drop-list
    anti-joins"; same reasoning as q_dedup_apply/q_curate)."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # LSS: O(log n) rounds at any component diameter (see q_curate).
    labels = connected_components_lss(
        minhash_candidate_pairs(d, "doc_id", "text")
    ).withColumnRenamed("node", "doc_id")
    keyed = d.select("doc_id", "n_chars").join(
        labels, "doc_id", "left"
    ).withColumn("root", F.coalesce("root", "doc_id"))
    bucket = F.conv(
        F.substring(F.md5(F.col("root").cast("string")), 1, 2), 16, 10
    ).cast("int")
    split = (
        F.when(bucket < 13, "test").when(bucket < 26, "valid").otherwise("train")
    )
    return (
        keyed.select(split.alias("split"), "root", "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("root").alias("n_clusters"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


def incremental_dedup_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.2,
) -> DataFrame:
    """Incremental near-dup detection: match an INCOMING batch against the
    EXISTING corpus without re-pairing the corpus with itself — the daily
    ingest shape (the reference's seen-set check ``scraper/main.py:88``
    at corpus scale).

    Both sides get the same per-doc MinHash band signatures; the batch's
    band table is BROADCAST against the corpus's (batch << corpus is the
    contract), so candidate generation is map-only over corpus bands and
    the corpus NEVER shuffles. Candidates (small) then broadcast back onto
    the two word-set tables for exact Jaccard verification — also map-only
    on the corpus side. Total corpus cost: two scans, zero shuffles."""
    bands_c = lsh_bands(minhash_signatures(corpus, id_col, text_col), id_col)
    bands_b = lsh_bands(minhash_signatures(batch, id_col, text_col), id_col)
    cand = (
        bands_c.alias("c")
        .join(
            F.broadcast(bands_b.alias("b")),
            (F.col("c.band_idx") == F.col("b.band_idx"))
            & (F.col("c.band_val") == F.col("b.band_val")),
        )
        .select(
            F.col(f"b.{id_col}").alias("batch_doc"),
            F.col(f"c.{id_col}").alias("corpus_doc"),
        )
        .distinct()
    )
    ws = F.array_distinct(F.split(F.lower(text_col), " "))
    ws_c = corpus.select(
        F.col(id_col).alias("corpus_doc"), ws.alias("wsc")
    )
    ws_b = batch.select(F.col(id_col).alias("batch_doc"), ws.alias("wsb"))
    inter = F.size(F.array_intersect("wsb", "wsc"))
    union = F.size("wsb") + F.size("wsc") - inter
    return (
        ws_c.join(F.broadcast(cand), "corpus_doc")
        .join(F.broadcast(ws_b), "batch_doc")
        .select(
            "batch_doc",
            "corpus_doc",
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def build_dedup_state(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Materialize the corpus's near-dup SERVING STATE — the daily-ingest
    answer to "don't re-minhash 100 TB per batch" (the corpus-signature
    analogue of ``search.build_search_index``):

    - ``{path}/bands``: (_pk, id, band_idx, band_val) PARTITIONED by
      ``band_bucket = crc32(band_val) % n_buckets`` — a batch's probe scan
      prunes to the buckets its own band values hash into. ``_pk`` is the
      ``"{id}|{band_idx}"`` merge key the streaming refresher
      (``streaming.dedup_ingest.dedup_ingest_batch``) upserts on, so a
      batch-built state bootstraps straight into the streaming path
      (ADVICE r6: the two writers must agree on the bands schema);
    - ``{path}/wordsets``: (id, distinct-word set) PARTITIONED by
      ``doc_bucket = crc32(id) % n_buckets`` — exact-Jaccard verification
      reads only the candidate docs' buckets;
    - ``{path}/stats``: 1-row layout manifest (n_buckets) — serving derives
      its bucket arithmetic from the stored value, never a caller guess
      (the lesson ADVICE r5 taught ``bm25_serve``).

    Build cost is one corpus pass per artifact, paid once per reindex; the
    per-batch serve cost then tracks batch size (see
    ``incremental_dedup_pairs_served`` and evidence/bench_incdedup_r06)."""
    spark = corpus.sparkSession
    bands = (
        lsh_bands(minhash_signatures(corpus, id_col, text_col), id_col)
        .withColumn(
            "band_bucket", F.pmod(F.crc32("band_val"), F.lit(n_buckets))
        )
        .withColumn(
            "_pk",
            F.concat_ws("|", F.col(id_col).cast("string"), F.col("band_idx")),
        )
    )
    # log-table base write (r11): repartitions ON the partition column so
    # each bucket directory gets ONE file instead of one per shuffle
    # partition — a pruned probe then opens |buckets| files, not
    # |buckets|×|partitions| (at real scale, size n_buckets so one bucket
    # ~ one 128-256 MB file). Writing through write_log_base means the
    # streaming refresher's delta commits land on the SAME layout the
    # one-shot build produces (one reader, io.read_log_table, for both).
    write_log_base(bands, f"{path}/bands", "band_bucket")
    ws = corpus.select(
        F.col(id_col),
        F.array_distinct(F.split(F.lower(text_col), " ")).alias("ws"),
    ).withColumn(
        "doc_bucket",
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(n_buckets)),
    )
    write_log_base(ws, f"{path}/wordsets", "doc_bucket")
    spark.range(1).select(F.lit(n_buckets).alias("n_buckets")).write.mode(
        "overwrite"
    ).parquet(f"{path}/stats")


def incremental_dedup_pairs_served(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.2,
    plans_out: dict | None = None,
    bands: DataFrame | None = None,
    wordsets: DataFrame | None = None,
) -> DataFrame:
    """``incremental_dedup_pairs`` against MATERIALIZED corpus state: the
    batch is the only text that gets shingled/hashed; the corpus side is
    two partition-pruned columnar scans of stored signatures.

    ``bands`` / ``wordsets``: the batch's ALREADY-MATERIALIZED band table
    (``lsh_bands(minhash_signatures(...))``, eagerly checkpointed) and
    wordset table (``(id_col, ws)``) — the streaming ingest passes both so
    one signature pass per micro-batch serves every consumer (r11); when
    None they are computed here, preserving the standalone call shape.

    1. batch band signatures (map-only over the batch);
    2. candidates come from a broadcast hash join of batch bands onto the
       stored bands scan; the join carries a ``band_bucket`` equality
       conjunct (true by construction — both sides hash the same
       ``band_val``), so DYNAMIC partition pruning trims the scan to the
       batch's band buckets from the already-built broadcast
       (PartitionFilters, plan-asserted in ``test_dedup_similarity.py``).
       r12: this replaces a driver-side distinct+collect of the bucket
       list — a blocking job per batch that, at steady state, always
       returned ALL buckets (measured 64/64 at sf1: 0.67 s of pure
       round-trip buying zero pruning; DPP prunes exactly when pruning
       helps and costs nothing when it does not);
    3. the candidates' ``doc_bucket`` (computed map-side from
       ``corpus_doc``, same crc32 the writer used) rides the candidate
       broadcast into the wordset-scan join the same way — dynamic
       pruning instead of a second collected IN-list — and the batch-side
       wordset broadcast is semi-joined down to the candidate batch docs
       first (only candidates are ever verified, so shipping the whole
       batch's word arrays to every executor was dead broadcast weight:
       12.5 K arrays → |cand| at sf1).

    Identical output to the state-free path (pytest parity + the shared
    driver oracle via ``q_dedup_incremental_served``); the difference is
    purely WHERE the corpus work happens — once at build, not per batch."""
    n_buckets = int(
        spark.read.parquet(f"{state_path}/stats").first()["n_buckets"]
    )
    if bands is not None:
        bands_b = bands.withColumn(
            "band_bucket", F.pmod(F.crc32("band_val"), F.lit(n_buckets))
        )
    else:
        bands_b = (
            lsh_bands(minhash_signatures(batch, id_col, text_col), id_col)
            .withColumn(
                "band_bucket", F.pmod(F.crc32("band_val"), F.lit(n_buckets))
            )
            .localCheckpoint(eager=True)
        )
    # log-table read (r11): base (bucket-partitioned, dynamically pruned
    # via the join below) ∪ any live streaming deltas — the builder
    # writes base_1, the streaming refresher appends deltas on top
    bands_c = read_log_table(spark, f"{state_path}/bands")
    # band_bucket >= 0 is a no-op (pmod is non-negative): it marks the
    # broadcast side as carrying a selective predicate, which is what
    # Spark's PartitionPruning rule requires before it will inject the
    # dynamic filter (verified: without it DPP never fires here)
    cand = (
        bands_c.alias("c")
        .join(
            F.broadcast(
                bands_b.filter(F.col("band_bucket") >= 0).alias("b")
            ),
            (F.col("c.band_bucket") == F.col("b.band_bucket"))
            & (F.col("c.band_idx") == F.col("b.band_idx"))
            & (F.col("c.band_val") == F.col("b.band_val")),
        )
        .select(
            F.col(f"b.{id_col}").alias("batch_doc"),
            F.col(f"c.{id_col}").alias("corpus_doc"),
        )
        .distinct()
        .withColumn(
            "doc_bucket",
            F.pmod(
                F.crc32(F.col("corpus_doc").cast("string")), F.lit(n_buckets)
            ),
        )
    )
    if plans_out is not None:
        # the candidate probe executes eagerly below (its output feeds
        # two verify-join broadcasts), so its pruned-scan plan is not part
        # of the returned DataFrame's plan — surface it for plan-assertions
        plans_out["probe"] = (
            cand._jdf.queryExecution().executedPlan().toString()
        )
    cand = cand.localCheckpoint(eager=True)
    ws_c = read_log_table(spark, f"{state_path}/wordsets").select(
        F.col(id_col).alias("corpus_doc"),
        F.col("ws").alias("wsc"),
        "doc_bucket",
    )
    if wordsets is not None:
        ws_b = wordsets.select(
            F.col(id_col).alias("batch_doc"), F.col("ws").alias("wsb")
        )
    else:
        ws_b = batch.select(
            F.col(id_col).alias("batch_doc"),
            F.array_distinct(F.split(F.lower(text_col), " ")).alias("wsb"),
        )
    # broadcast only the word arrays verification will touch
    ws_b = ws_b.join(
        F.broadcast(cand.select("batch_doc").distinct()), "batch_doc", "semi"
    )
    inter = F.size(F.array_intersect("wsb", "wsc"))
    union = F.size("wsb") + F.size("wsc") - inter
    # doc_bucket >= 0: same no-op selectivity marker as the band probe —
    # lets DPP prune the wordset scan's partitions from the candidate
    # broadcast when the candidates concentrate in few buckets
    cand_v = cand.filter(F.col("doc_bucket") >= 0)
    return (
        ws_c.join(
            F.broadcast(cand_v),
            (ws_c["corpus_doc"] == cand_v["corpus_doc"])
            & (ws_c["doc_bucket"] == cand_v["doc_bucket"]),
        )
        .drop(ws_c["corpus_doc"])
        .drop(ws_c["doc_bucket"])
        .join(F.broadcast(ws_b), "batch_doc")
        .select(
            "batch_doc",
            "corpus_doc",
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _incremental_oracle() -> str:
    return f"""
    WITH allpairs AS ({_minhash_oracle()}),
    ws AS (
        SELECT doc_id, list_distinct(str_split(lower(text), ' ')) AS ws
        FROM documents
    ),
    cand AS (
        SELECT CASE WHEN doc1 % 10 = 0 THEN doc1 ELSE doc2 END AS batch_doc,
               CASE WHEN doc1 % 10 = 0 THEN doc2 ELSE doc1 END AS corpus_doc
        FROM allpairs
        WHERE (doc1 % 10 = 0) <> (doc2 % 10 = 0)
    )
    SELECT batch_doc, corpus_doc, jaccard FROM (
        SELECT c.batch_doc, c.corpus_doc,
               ROUND(len(list_intersect(a.ws, b.ws))
                     / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))),
                     4) AS jaccard
        FROM cand c
        JOIN ws a ON a.doc_id = c.batch_doc
        JOIN ws b ON b.doc_id = c.corpus_doc
    )
    WHERE jaccard >= 0.2
    """


@query("q_dedup_incremental", oracle=_incremental_oracle())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``incremental_dedup_pairs`` with every 10th document playing the
    incoming batch and the rest the existing corpus. Band signatures are
    pure per-doc functions, so batch-vs-corpus candidates equal exactly the
    cross-set subset of the full self-join's pairs — which is what the
    oracle computes independently. The Spark plan is the scale story: the
    corpus side never shuffles (broadcast batch bands, broadcast
    candidates)."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    batch = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    return incremental_dedup_pairs(corpus, batch)


@query("q_dedup_incremental_served", oracle=_incremental_oracle())
def q_dedup_incremental_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVED daily-ingest shape end-to-end: materialize the corpus's
    bucketed dedup state (``build_dedup_state``), then match the batch
    against the stored state (``incremental_dedup_pairs_served``) — same
    split and same independent oracle as ``q_dedup_incremental``, so the
    hash check proves the serving path reproduces the state-free path's
    pairs exactly. The timed cost is build+serve (the honest once-per-
    reindex number); serve-only latency is published in
    evidence/bench_incdedup_r06."""
    import shutil
    import tempfile

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    batch = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    path = tempfile.mkdtemp(prefix="dedup_state_")
    try:
        build_dedup_state(corpus, path)
        out = incremental_dedup_pairs_served(spark, path, batch)
        # Materialize before the state directory is removed: the returned
        # plan must not depend on the tempdir once this function exits.
        rows = out.collect()
        return spark.createDataFrame(rows, schema=out.schema)
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# Canonical selection (r7): keep the BEST cluster member, not the min-id one
# ---------------------------------------------------------------------------


def _dedup_canonical_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    undirected AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION ALL
        SELECT doc2 AS a, doc1 AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM undirected
        UNION
        SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a
    ),
    clusters AS (
        SELECT a AS node, LEAST(a, MIN(b)) AS root FROM reach GROUP BY a
    ),
    lab AS (
        SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS root,
               ROUND(LEAST(len(str_split(lower(d.text), ' ')) / 50.0, 1.0)
                     * (0.5 + LEAST(
                         len(list_filter(str_split(lower(d.text), ' '),
                                         x -> x IN ('the','a','of','and','is')))
                         / len(str_split(lower(d.text), ' ')), 0.5)),
                     4) AS quality
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node
    )
    SELECT root AS cluster_root, keeper, keeper_quality, n_members
    FROM (
        SELECT root,
               FIRST(doc_id ORDER BY quality DESC, doc_id ASC) AS keeper,
               FIRST(quality ORDER BY quality DESC, doc_id ASC)
                   AS keeper_quality,
               COUNT(*) AS n_members
        FROM lab GROUP BY root
    ) WHERE n_members > 1
    """


def canonical_keepers(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Quality-aware canonical selection per near-dup cluster: MinHash
    candidates → connected components → keep the HIGHEST-QUALITY member of
    each multi-doc cluster (ties → min id), returning (cluster_root,
    keeper, keeper_quality, n_members). ``q_dedup_apply``'s min-id keeper
    is the textbook shape; production curation keeps the best copy — a
    near-dup cluster typically mixes a clean original with truncated or
    boilerplate-wrapped variants, and WHICH copy survives changes the
    training corpus (the keeper here differs from min-id whenever a
    higher-id member scores better; pytest plants exactly that case).

    Scale shape: quality is map-only column algebra (the ``q_text_quality``
    formula, 4dp-rounded so the argmax is engine-portable); the per-cluster
    argmax is ONE groupBy aggregate — max(struct(quality, −id)) with
    map-side combine, no window over the corpus and no second shuffle for
    the sizes (same aggregate). Cluster labels come from the O(log n)-round
    large-star/small-star fixpoint, the billion-node path."""
    d = docs
    labels = connected_components_lss(
        minhash_candidate_pairs(d, id_col, text_col)
    )
    toks = F.split(F.lower(text_col), " ")
    n_tokens = F.size(toks)
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "is"))
    )
    quality = F.round(
        F.least(n_tokens / F.lit(50.0), F.lit(1.0))
        * (0.5 + F.least(n_stop / n_tokens, F.lit(0.5))),
        4,
    )
    lab = (
        d.select(F.col(id_col), quality.alias("quality"))
        .join(labels, F.col(id_col) == F.col("node"), "left")
        .select(
            id_col,
            F.coalesce("root", F.col(id_col)).alias("root"),
            "quality",
        )
    )
    agg = lab.groupBy("root").agg(
        F.count("*").alias("n_members"),
        F.max(
            F.struct(
                F.col("quality").alias("q"), (-F.col(id_col)).alias("negid")
            )
        ).alias("b"),
    )
    return agg.filter(F.col("n_members") > 1).select(
        F.col("root").alias("cluster_root"),
        (-F.col("b.negid")).alias("keeper"),
        F.col("b.q").alias("keeper_quality"),
        "n_members",
    )


@query("q_dedup_canonical", oracle=_dedup_canonical_oracle())
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`canonical_keepers` over the documents corpus — the
    keep-the-best-copy dedup tier. See the helper for semantics and the
    one-aggregate scale shape."""
    return canonical_keepers(
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
    )


# ---------------------------------------------------------------------------
# Semantic dedup over trained clusters (r7): the SemDeDup shape
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.35
SEMDEDUP_K = 32  # registered-query cluster count — the SCALED shape (k ∝ n)


def _semdedup_oracle(k: int = SEMDEDUP_K, iters: int = 2) -> str:
    """DuckDB transcription with the quantizer's k PARAMETERIZED — the
    shared kmeans CTE builder retrains the identical k-cluster model, so
    the oracle follows whatever cluster count the registered query runs
    (r7 verdict: a fixed k=8 oracle pinned the query to the one
    configuration whose pair stage cannot model its own 100×)."""
    from projet_data_engineering_spark.operators.ml import (
        DIM,
        kmeans_centroid_ctes,
    )

    ctes, cfinal = kmeans_centroid_ctes(k, iters, DIM, prefix="sd")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    cent AS (SELECT cid AS cent_id, ce AS cv FROM {cfinal}),
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
    dups AS (
        SELECT DISTINCT hi.vec_id
        FROM assign lo JOIN assign hi
          ON lo.cent_id = hi.cent_id AND lo.vec_id < hi.vec_id
        WHERE ROUND(list_cosine_similarity(lo.v, hi.v), 4) >= {SEMDEDUP_TAU}
    )
    SELECT a.vec_id, a.cent_id,
           CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
    FROM assign a LEFT JOIN dups d ON a.vec_id = d.vec_id
    """


@query("q_semdedup", oracle=_semdedup_oracle())
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al., 2023): assign
    every embedding to a TRAINED k-means cluster (the same md5-seeded
    quantizer recipe the IVF index uses), compute pairwise cosine ONLY
    within each cluster, and drop any vector that is ≥ τ-similar to a
    lower-id vector in its cluster (greedy-by-id acceptance —
    deterministic, the same contract as the streaming near-dup ingest).

    Registered in its PRODUCTION shape (r8): k=SEMDEDUP_K clusters (k is
    the knob that must grow with the corpus — see :func:`semdedup_flags`)
    and the Arrow/BLAS pair stage, so the hash-oracled artifact is the
    same plan that scales; the oracle retrains the identical k-cluster
    quantizer via the parameterized CTE builder. The JVM exact-arithmetic
    pair tier stays flag-for-flag parity-pinned in
    tests/test_dsir_semdedup.py."""
    e = load_table(spark, sf_dir, "embeddings")
    return semdedup_flags(e, k=SEMDEDUP_K, arrow_pairs=True)


def semdedup_flags(
    emb: DataFrame,
    k: int = 8,
    tau: float = SEMDEDUP_TAU,
    arrow_pairs: bool = False,
) -> DataFrame:
    """(vec_id, cent_id, keep) SemDeDup flags over ``k`` trained clusters.

    The embedding twin of MinHash-LSH dedup, with learned clusters as the
    blocking key instead of hash bands: the corpus-wide shuffle is ONE
    repartition by cent_id; the O(n²) cosine work is confined to
    cluster-sized blocks. k is the knob that keeps blocks task-sized —
    EXACTLY like LSH band width: with k fixed, blocks grow O(n) and the
    pair stage grows O(n²/k); with k ∝ n (the paper runs tens of
    thousands of clusters), blocks stay constant and the pair stage is
    LINEAR in the corpus. Assignment is map-only against LITERAL centroids
    (k is bounded by construction). The keep column comes back as an int
    flag so the output doubles as the drop-list builder: at scale the
    `keep = 0` slice feeds the same bucketed anti-join the
    `build_dedup_state` layout serves — never a corpus-sized broadcast
    (r6 lesson).

    ``arrow_pairs`` picks the pair-stage engine. False (default, the
    oracled path) runs the within-cluster pair JOIN in the JVM — exact
    fold arithmetic, but a row-form pair join materializes O(block²) rows
    each carrying two dim-sized arrays, which is COPY-bound long before it
    is compute-bound (measured >10 min at sf5/k=40 vs ~BLAS-seconds of
    actual math). True runs BOTH stages vectorized — assignment as one
    ``mapInPandas`` argmax against the literal centroid matrix (see the
    inline janino note), each cluster through ``applyInPandas`` with a
    numpy matmul — the production tier for real block sizes; cosine
    rounds to 4 dp before the τ compare, the same tolerance that already
    reconciles the Arrow twin ``q_embed_knn_arrow`` with the JVM fold, and
    pytest pins flag-for-flag parity between both engines on the
    fixtures."""
    import math

    from projet_data_engineering_spark.operators.ml import kmeans_centroids
    from projet_data_engineering_spark.operators.similarity import (
        as_double,
        cosine_unrolled,
        dot_unrolled,
    )

    b = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    # k is the scale knob, so the model stays bounded (k rows) however big
    # the corpus: collect it and assign against LITERAL centroids — plain
    # codegen arithmetic per (row, candidate), no HOF lambdas, no per-row
    # artifact copying. Bit-identical to the broadcast-artifact argmax
    # (same fold order, same 4-dp rounding, same lowest-cid tie-break);
    # fold-based assignment measured ~86 s at sf5/k=40 vs seconds unrolled.
    cent_rows = sorted(
        (r["cid"], [float(x) for x in r["ce"]])
        for r in kmeans_centroids(emb, k=k, iters=2).collect()
    )
    if arrow_pairs:
        # Production tier: BOTH stages numpy. Past k≈16 the k·dim literal
        # argmax expression exceeds janino's 64 KB method limit — the
        # compile ATTEMPT alone on the megabyte generated class costs
        # ~15 s of driver time per job before the interpreted fallback
        # (measured at k=32/sf0.1), so the scaled shape assigns in the
        # same engine that flags: one mapInPandas argmax over the literal
        # centroid matrix (a closure constant), then the per-cluster
        # flag pass. Same 4-dp-rounded cosine + lowest-cid tie-break;
        # flag parity vs the exact JVM tier is pinned in pytest.
        import numpy as np

        cmat = np.array([cv for _, cv in cent_rows], dtype=np.float64)
        cid_lut = np.array([cid for cid, _ in cent_rows], dtype=np.int64)
        cnorm = np.sqrt((cmat * cmat).sum(axis=1))

        def assign_batches(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                cos = np.round(
                    (x @ cmat.T)
                    / (np.sqrt((x * x).sum(axis=1))[:, None] * cnorm[None, :]),
                    4,
                )
                best = cos.argmax(axis=1)  # first max = lowest cid
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "v": pdf["v"],
                        "cent_id": cid_lut[best].astype("int32"),
                    }
                )

        assigned = b.mapInPandas(
            assign_batches, schema="vec_id bigint, v array<double>, cent_id int"
        )

        def flag_cluster(pdf):
            import numpy as np
            import pandas as pd

            pdf = pdf.sort_values("vec_id").reset_index(drop=True)
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            Vn = V / np.sqrt((V * V).sum(axis=1))[:, None]
            C = np.round(Vn @ Vn.T, 4)
            dropped = np.triu(C >= tau, 1).any(axis=0)
            return pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cent_id": pdf["cent_id"],
                    "keep": np.where(dropped, 0, 1).astype("int32"),
                }
            )

        return assigned.groupBy("cent_id").applyInPandas(
            flag_cluster, schema="vec_id bigint, cent_id int, keep int"
        )
    vnorm = F.sqrt(dot_unrolled(F.col("v"), F.col("v")))

    def _dot_lit(cv: list[float]) -> F.Column:
        expr = None
        for i, x in enumerate(cv, start=1):
            t = F.element_at(F.col("v"), i) * F.lit(x)
            expr = (F.lit(0.0) + t) if expr is None else expr + t
        return expr

    cands = []
    for cid, cv in cent_rows:
        s = 0.0
        for x in cv:
            s += x * x  # same left-to-right fold the JVM runs
        cos = F.round(_dot_lit(cv) / (vnorm * F.lit(math.sqrt(s))), 4)
        cands.append(F.struct((-cos).alias("neg_cos"), F.lit(cid).alias("cid")))
    assigned = (
        b.select(
            "vec_id", "v", F.array_min(F.array(*cands))["cid"].alias("cent_id")
        )
        .localCheckpoint(eager=True)  # the materialized assignment table —
        # shared by both sides of the within-cluster pair join
    )
    a, c = assigned.alias("a"), assigned.alias("b")
    dups = (
        a.join(
            c,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        # unrolled cosine: bit-identical to the HOF fold, but codegen-bound —
        # the pair stage is O(sum of block²)·O(dim), and interpreted lambdas
        # made it the scale bottleneck (174 s at sf5 fold-based)
        .filter(
            F.round(cosine_unrolled(F.col("a.v"), F.col("b.v")), 4) >= tau
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dups.withColumn("_dup", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cent_id",
            F.when(F.col("_dup").isNull(), 1).otherwise(0).alias("keep"),
        )
    )


