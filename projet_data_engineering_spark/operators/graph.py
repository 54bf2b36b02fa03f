"""Graph analytics over relational-derived edge tables (round 3 extension).

Training-data curation keeps producing graphs — the MinHash candidate-pair
graph drives cluster dedup (``dedup.connected_components``), link graphs
drive crawl prioritisation (``crawl.crawl_frontier``) and page-importance
weighting of training corpora. This module adds the two classic global
algorithms on top of the existing connected-components family:

- **PageRank** (weighted, damped, dangling-mass aware) as pure DataFrame
  iteration — each round is one join + one aggregate, lineage bounded by
  ``localCheckpoint`` exactly like the CC loop;
- **Triangle counting / global clustering coefficient** via the oriented
  wedge-join: edges are oriented low-degree → high-degree before the wedge
  self-join, which bounds wedge fan-out by sqrt(m) per node on skewed
  graphs (the count itself is orientation-invariant, so the simple
  id-ordered SQL oracle still matches bit-for-bit).

Edge tables here derive from the corpus itself (no synthetic inputs): the
nation-level trade network (customer nation → supplier nation flows) and
the part co-purchase graph (parts appearing in the same order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_data_engineering_spark.io import load_table
from projet_data_engineering_spark.registry import query
from projet_data_engineering_spark.session import graph_loop

DAMPING = 0.85
PR_ITERS = 5


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def pagerank(
    edges: DataFrame,
    damping: float = DAMPING,
    iters: int = PR_ITERS,
) -> DataFrame:
    """Weighted PageRank over ``edges(src, dst, w)``; returns (node, rank).

    r'(v) = (1-d)/N + d * (sum_{u->v} r(u) * w(u,v)/outw(u) + dangling/N)

    Round-loop shape (r12, guide §2.4/§1.2 — the CC/LSS recipe; before it
    the loop ran 88 jobs / 5 707 tasks at sf0.1):

    - **Round-invariant state is built once.** ``outw`` never changes, so
      it is folded into the edge frame at setup (``ew`` carries ``ow`` —
      the per-round outw re-join is gone), and the DANGLING-node set is
      fixed (a node with no out-edges never gains one), so ``nmeta``
      carries an ``is_d`` flag plus the broadcast node count — the
      per-round left-join + null-filter for the dangling mass collapses
      to a filter-aggregate on the checkpointed rank vector.
    - **One eager checkpoint at setup** (the canonical edge projection):
      its RDD partitioning is the AQE-finalized post-aggregate layout, so
      every round works on right-sized partitions instead of inheriting
      the edge derivation's width (the ``versioned._sized`` disease — at
      sf0.1 the old loop dragged ~65 tasks/job through 25-row frames).
    - **Per-round checkpoints are LAZY**, materialized by the next round's
      dangling-mass aggregate in the same job (the LSS discipline): one
      small job per round instead of eager-checkpoint + broadcast jobs.
    - **The dangling mass and N are 1-row bounded aggregates collected to
      the driver** (the LSS star check's ``.first()`` shape) and re-enter
      the plan as literals — a broadcast-crossJoin of the same 1-row
      frame costs an extra broadcast-exchange job per round for identical
      bits. The update itself folds contributions and the node universe
      in ONE union-aggregate (no per-round left join): nodes without
      in-edges carry a NULL contribution, so ``sum`` sees exactly the
      multiset the old ``groupBy(dst)`` + ``coalesce`` saw.
    - **Small graphs run the loop with AQE off**: see ``session.graph_loop``.

    The per-round arithmetic (sum(rank·w/ow), (1−d)/N + d·(c + dm/N))
    performs the identical IEEE operations in the identical order as the
    pre-r12 loop (driver doubles are the same doubles) in BOTH modes —
    the modes differ only in physical layout — so the 6dp-rounded oracle
    contract is unchanged. At 100 TB the edge table shuffles once per
    round on dst; nodes/ranks are proportional to |V| << |E|."""
    e = edges.select(
        F.col("src"), F.col("dst"), F.col("w").cast("double").alias("w")
    ).localCheckpoint(eager=True)
    with graph_loop(e) as g:
        e = g.edges
        outw = g.group(e, "src").agg(F.sum("w").alias("ow"))
        # (src, dst, w, ow): the contribution join's round-invariant side.
        # Lazy checkpoint — materialized once inside the first job that
        # computes contributions, read as blocks by every later round.
        ew = e.join(g.hint(outw), "src").localCheckpoint(eager=False)
        # Node universe + the (fixed) dangling flag in ONE exchange off
        # the checkpointed edges: a node is dangling iff it never appears
        # as src (outw never changes, so neither does is_d — the old loop
        # re-derived it per round via a left join + null filter).
        nmeta = g.group(
            e.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("src").alias("node"),
                            F.lit(True).alias("has_out"),
                        ),
                        F.struct(
                            F.col("dst").alias("node"),
                            F.lit(False).alias("has_out"),
                        ),
                    )
                ).alias("x")
            ).select("x.node", "x.has_out"),
            "node",
        ).agg((~F.max("has_out")).alias("is_d")).localCheckpoint(eager=False)
        # bounded: |V| is a count, 1 row back. An empty graph has no node
        # to rank: its rank frames stay empty, and 1/N must not divide by 0
        nn = float(nmeta.count()) or 1.0
        ranks = nmeta.select(
            "node", "is_d", F.lit(1.0 / nn).alias("rank")
        )
        for i in range(iters):
            # 1-row bounded collect (the LSS star-check shape); this job
            # also materializes the previous round's lazy checkpoint — on
            # a small graph it IS the round's one job
            dm = ranks.filter(F.col("is_d")).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0))
            ).first()[0]
            upd = (
                ew.join(g.hint(ranks), ew["src"] == ranks["node"])
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") * F.col("w") / F.col("ow")).alias("c"),
                    F.lit(None).cast("boolean").alias("is_d"),
                )
            )
            base = nmeta.select(
                "node", F.lit(None).cast("double").alias("c"), "is_d"
            )
            ranks = (
                g.group(upd.unionByName(base), "node")
                .agg(F.sum("c").alias("c"), F.max("is_d").alias("is_d"))
                .select(
                    "node",
                    "is_d",
                    (
                        F.lit((1.0 - damping) / nn)
                        + damping
                        * (
                            F.coalesce(F.col("c"), F.lit(0.0))
                            + F.lit(dm / nn)
                        )
                    ).alias("rank"),
                )
            )
            ranks = ranks.localCheckpoint(eager=False)
        if g.small:
            # materialize the last round inside the loop's session, so the
            # caller's action is a 1-job scan of stored blocks instead of
            # a fresh AQE re-plan of the round chain
            ranks.count()
        return g.result(ranks).select("node", "rank")


def _pagerank_oracle(iters: int = PR_ITERS, damping: float = DAMPING) -> str:
    """Unrolled-iteration DuckDB oracle for weighted PageRank over the
    nation trade network. Each iteration is two CTEs (dangling mass, next
    rank vector) — the literal SQL transcription of :func:`pagerank`.

    ``edges`` and every rank vector are MATERIALIZED: ``r{i+1}`` reads
    ``r{i}`` twice, so inlined CTEs would grow the plan as 2^iters copies
    of the lineitem join (measured at sf0.01: inlined, it overran a
    5.5 GB DuckDB memory limit; materialized, it runs in 0.03 s with the
    same rows)."""
    ctes = [
        """edges AS MATERIALIZED (
            SELECT cn.n_name AS src, sn.n_name AS dst,
                   CAST(COUNT(*) AS DOUBLE) AS w
            FROM lineitem l
            JOIN orders o    ON l.l_orderkey = o.o_orderkey
            JOIN customer c  ON o.o_custkey = c.c_custkey
            JOIN supplier s  ON l.l_suppkey = s.s_suppkey
            JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
            JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
            GROUP BY cn.n_name, sn.n_name
        )""",
        """nodes AS (
            SELECT src AS node FROM edges UNION SELECT dst FROM edges
        )""",
        "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM nodes)",
        "outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src)",
        """r0 AS MATERIALIZED (
            SELECT node, 1.0 / nn AS rank FROM nodes CROSS JOIN n
        )""",
    ]
    for i in range(iters):
        ctes.append(
            f"""dang{i} AS (
            SELECT COALESCE(SUM(rank), 0.0) AS dm
            FROM r{i} LEFT JOIN outw ON r{i}.node = outw.src
            WHERE outw.ow IS NULL
        )"""
        )
        ctes.append(
            f"""r{i + 1} AS MATERIALIZED (
            SELECT nodes.node,
                   (1.0 - {damping}) / n.nn
                   + {damping} * (COALESCE(con.c, 0.0) + dang{i}.dm / n.nn)
                   AS rank
            FROM nodes CROSS JOIN n CROSS JOIN dang{i}
            LEFT JOIN (
                SELECT e.dst AS node, SUM(r{i}.rank * e.w / outw.ow) AS c
                FROM edges e
                JOIN r{i} ON r{i}.node = e.src
                JOIN outw ON outw.src = e.src
                GROUP BY e.dst
            ) con ON nodes.node = con.node
        )"""
        )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT node AS nation, ROUND(rank, 6) AS pagerank FROM r{iters}
    """


def trade_network_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nation trade network: edge (customer nation → supplier nation)
    weighted by lineitem count. This derivation is the 100-TB part of
    q_pagerank — a star join where both nation dims (and supplier)
    broadcast onto the fact scan and the only fact shuffle is the customer
    key join (proportional table, never broadcast — the Q5/Q10
    discipline). Exposed as a function so the dims-broadcast shape stays
    plan-pinned (``test_graph_datapipe.py``) now that ``pagerank``
    checkpoints its edge input at setup (the returned rank frame's plan
    reads blocks, not the fact join)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cn_name")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("sn_key"))
        .groupBy(F.col("cn_name").alias("src"), F.col("sn_name").alias("dst"))
        .agg(F.count("*").cast("double").alias("w"))
    )


@query("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade network
    (:func:`trade_network_edges`), 5 damped iterations with dangling-mass
    redistribution. The iteration runs on the |V|≤25-node aggregate.
    Ranks rounded to 6dp on both engines: each rank is a ≤26-term
    similar-magnitude double sum, so cross-engine drift is ~1e-15."""
    ranks = pagerank(trade_network_edges(spark, sf_dir))
    return ranks.select(
        F.col("node").alias("nation"), F.round("rank", 6).alias("pagerank")
    )


# ---------------------------------------------------------------------------
# Triangle counting
# ---------------------------------------------------------------------------


def _copurchase_edges(spark: SparkSession, sf_dir: str, modulus: int = 4) -> DataFrame:
    """Undirected co-purchase edges: distinct part pairs appearing in the
    same order, canonicalised p1 < p2. The ``l_partkey % modulus == 0``
    gate is a deterministic density knob (the pair join is quadratic in
    items-per-order, the wedge join quadratic in degree) — both engines
    apply the identical gate so the oracle sees the same graph."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % modulus == 0
    )
    a = l.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = l.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("p2")
    )
    return (
        a.join(b, (a["l_orderkey"] == b["okey"]) & (a["p1"] < b["p2"]))
        .select("p1", "p2")
        .distinct()
    )


_TRI_EDGES_SQL = """
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0
"""


@query(
    "q_triangle_count",
    oracle=f"""
    WITH e AS ({_TRI_EDGES_SQL}),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e
        ) GROUP BY node
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
                  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           tri.n_triangles AS n_triangles,
           ROUND(3.0 * tri.n_triangles
                 / (SELECT SUM(d * (d - 1) / 2.0) FROM deg), 6)
           AS clustering_coeff
    FROM tri
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph. See :func:`triangle_stats` for the scale design."""
    return triangle_stats(_copurchase_edges(spark, sf_dir))


def triangle_stats(edges: DataFrame) -> DataFrame:
    """1-row (n_nodes, n_edges, n_triangles, clustering_coeff) for an
    undirected simple graph given as canonical edges (p1 < p2, distinct).

    Scale shape: edges are re-oriented low-(degree,id) → high-(degree,id)
    before the wedge self-join, so a hub of degree D generates O(sqrt(m))
    wedges instead of O(D²) — the standard skew fix for power-law graphs.
    The triangle COUNT is orientation-invariant, which is why the oracle
    can use plain id-ordering and still match exactly. Wedge join and
    closing join are both equi-joins on part keys (hash-shuffled, AQE
    handles residual skew); the coefficient folds in as an aggregate —
    no driver-side scalars."""
    # localCheckpoint instead of persist (r12): a cached plan keeps its
    # PRE-AQE partitioning, so the wedge/closing joins below inherited the
    # session's full shuffle width on however small the edge set is (672
    # tasks at sf0.1; 200-wide in the driver's vanilla session). The
    # checkpoint RDD carries the AQE-finalized width — the joins then run
    # at the data's own scale in both sessions.
    e = edges.localCheckpoint(eager=True)
    deg = (
        e.select(F.col("p1").alias("node"))
        .unionAll(e.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # orient by (degree, id): u -> v iff (d_u, u) < (d_v, v)
    d1 = deg.select(F.col("node").alias("p1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("node").alias("p2"), F.col("d").alias("d2"))
    oriented = (
        e.join(d1, "p1")
        .join(d2, "p2")
        .select(
            F.when(
                (F.col("d1") < F.col("d2"))
                | ((F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))),
                F.struct(F.col("p1").alias("u"), F.col("p2").alias("v")),
            )
            .otherwise(F.struct(F.col("p2").alias("u"), F.col("p1").alias("v")))
            .alias("uv")
        )
        .select("uv.u", "uv.v")
        # eager checkpoint, not persist: three consumers (both wedge arms
        # + the closing join) and the same pre-AQE-width cache disease
        .localCheckpoint(eager=True)
    )
    w1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    w2 = oriented.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    wedges = w1.join(w2, F.col("b") == F.col("b2")).select("a", "b", "c")
    closing = oriented.select(
        F.col("u").alias("ca"), F.col("v").alias("cc")
    )
    tri = wedges.join(
        closing, (F.col("a") == F.col("ca")) & (F.col("c") == F.col("cc"))
    ).agg(F.count("*").alias("n_triangles"))
    counts = F.broadcast(
        e.agg(F.count("*").alias("n_edges")).crossJoin(
            deg.agg(
                F.count("*").alias("n_nodes"),
                F.sum(F.col("d") * (F.col("d") - 1) / 2.0).alias("n_wedges"),
            )
        )
    )
    return (
        F.broadcast(tri)
        .crossJoin(counts)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
                "clustering_coeff"
            ),
        )
    )


@query(
    "q_degree_hist",
    oracle=f"""
    WITH e AS ({_TRI_EDGES_SQL}),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e
        ) GROUP BY node
    )
    SELECT d AS degree, COUNT(*) AS n_parts
    FROM deg GROUP BY d
    """,
)
def q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the diagnostic you run
    BEFORE a triangle/wedge job to decide whether skew mitigation is needed.
    Two map-side-combining aggregations; the second groupBy is over |V|
    rows."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("p1").alias("node"))
        .unionAll(e.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    return deg.groupBy(F.col("d").alias("degree")).agg(
        F.count("*").alias("n_parts")
    )


# ---------------------------------------------------------------------------
# Label propagation (r7b): community detection over the co-purchase graph
# ---------------------------------------------------------------------------

LPA_ROUNDS = 3


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """Synchronous label propagation (Raghavan et al., 2007) with a
    deterministic contract: every node starts labeled with its own id;
    each round it adopts the most frequent label among its NEIGHBORS,
    ties toward the smallest label — no randomized visit order, so the
    result is reproducible and oracle-transcribable round by round.

    Scale shape per round: one message shuffle (edges joined to the
    current label frame on dst) + one (node, label) count + one argmax
    aggregate — max(struct(cnt, −label)) so the tie-break rides the same
    aggregate, never a window over the corpus. Labels are a node-sized
    frame; with deeper runs add periodic localCheckpoint exactly like the
    connected-components loop (at 3 rounds the lineage stays shallow).
    LPA is the cheap community pass next to :func:`connected components`:
    components find reachability islands, LPA splits dense regions
    within them."""
    sym = edges.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst")
    ).unionAll(
        edges.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        msgs = sym.join(
            labels, sym["dst"] == labels["node"]
        ).select(F.col("src").alias("n"), "label")
        counts = msgs.groupBy("n", "label").agg(F.count("*").alias("c"))
        labels = (
            counts.groupBy("n")
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("b"))
            .select(F.col("n").alias("node"), (-F.col("b.nl")).alias("label"))
        )
    return labels


@query(
    "q_label_prop",
    oracle=f"""
    WITH e AS ({_TRI_EDGES_SQL}),
    sym AS (SELECT p1 AS src, p2 AS dst FROM e
            UNION ALL SELECT p2, p1 FROM e),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
    l1 AS (
        SELECT node, label FROM (
            SELECT s.src AS node, l.label,
                   ROW_NUMBER() OVER (PARTITION BY s.src
                       ORDER BY COUNT(*) DESC, l.label ASC) AS rn
            FROM sym s JOIN l0 l ON s.dst = l.node
            GROUP BY s.src, l.label
        ) WHERE rn = 1
    ),
    l2 AS (
        SELECT node, label FROM (
            SELECT s.src AS node, l.label,
                   ROW_NUMBER() OVER (PARTITION BY s.src
                       ORDER BY COUNT(*) DESC, l.label ASC) AS rn
            FROM sym s JOIN l1 l ON s.dst = l.node
            GROUP BY s.src, l.label
        ) WHERE rn = 1
    ),
    l3 AS (
        SELECT node, label FROM (
            SELECT s.src AS node, l.label,
                   ROW_NUMBER() OVER (PARTITION BY s.src
                       ORDER BY COUNT(*) DESC, l.label ASC) AS rn
            FROM sym s JOIN l2 l ON s.dst = l.node
            GROUP BY s.src, l.label
        ) WHERE rn = 1
    )
    SELECT node, label AS community FROM l3
    """,
)
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round deterministic label propagation over the part co-purchase
    graph (same edge derivation + density gate as ``q_triangle_count``,
    so the oracle sees the identical graph). Returns every node's
    community label; the oracle unrolls the three rounds as CTEs — a
    wrong tie-break or a missed reverse edge fails the hash."""
    return label_propagation(
        _copurchase_edges(spark, sf_dir), LPA_ROUNDS
    ).select("node", F.col("label").alias("community"))
