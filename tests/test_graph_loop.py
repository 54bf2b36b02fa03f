"""The iterative graph loops (``dedup.connected_components``,
``dedup.connected_components_lss``, ``graph.pagerank``) and their shared
scope, ``session.graph_loop``: empty graphs return empty frames, and a
small graph's loop never changes how the caller's session plans."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql.classic.dataframe import DataFrame

from projet_data_engineering_spark.io import load_table, spread
from projet_data_engineering_spark.operators.dedup import (
    _minhash_oracle,
    connected_components,
    connected_components_lss,
    minhash_candidate_pairs,
)
from projet_data_engineering_spark.operators.graph import pagerank
from projet_data_engineering_spark.recipes.curation import (
    _funnel_oracle,
    curate_corpus,
)
from tests.conftest import SF_DIR

AQE = "spark.sql.adaptive.enabled"
PAIRS = "doc1 bigint, doc2 bigint"


@pytest.mark.parametrize(
    "loop, schema, columns",
    [
        (connected_components, PAIRS, ["node", "root"]),
        (connected_components_lss, PAIRS, ["node", "root"]),
        (pagerank, "src string, dst string, w double", ["node", "rank"]),
    ],
    ids=["cc", "lss", "pagerank"],
)
def test_loop_on_an_empty_graph_returns_an_empty_frame(
    spark, loop, schema, columns
):
    out = loop(spark.createDataFrame([], schema))
    assert out.columns == columns
    assert out.collect() == []


def test_curate_corpus_without_near_duplicate_pairs_matches_the_oracle(
    spark, tmp_path
):
    """The test corpus minus every document of a MinHash candidate pair has
    no pair left: the build must run through an empty component graph and
    still produce the oracle's funnel."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    con.execute(
        f"""COPY (
            WITH pairs AS ({_minhash_oracle()})
            SELECT * FROM documents WHERE doc_id NOT IN (
                SELECT doc1 FROM pairs UNION SELECT doc2 FROM pairs)
        ) TO '{tmp_path}/documents.parquet' (FORMAT parquet)"""
    )
    con.execute(
        "CREATE OR REPLACE VIEW documents AS "
        f"SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    want = sorted(con.execute(_funnel_oracle()).fetchall())
    con.close()

    docs = spread(load_table(spark, str(tmp_path), "documents"), "doc_id")
    assert minhash_candidate_pairs(docs, "doc_id", "text").count() == 0
    out = curate_corpus(docs)
    try:
        got = sorted(tuple(r) for r in out["funnel"].collect())
    finally:
        out["_labels"].unpersist()
        out["_contaminated"].unpersist()
    assert got == want
    assert ("1_dedup", *want[0][1:]) in got  # no document was dropped


def test_small_graph_loop_leaves_the_caller_session_adaptive(
    spark, monkeypatch
):
    """Every loop round ends in a 1-row ``first()``. Patched, it plans a
    query on the caller's session while the loop is inside its scope: that
    plan must stay adaptive while the loop's own session has AQE off. A
    loop that raises leaves the caller's conf as it was."""
    seen = []
    first = DataFrame.first

    def probe(self):
        if self.sparkSession is not spark:
            plan = spark.range(8).groupBy("id").count()._jdf
            seen.append((
                self.sparkSession.conf.get(AQE),
                "AdaptiveSparkPlan"
                in plan.queryExecution().executedPlan().toString(),
            ))
        return first(self)

    monkeypatch.setattr(DataFrame, "first", probe)
    chain = spark.createDataFrame([Row(doc1=i, doc2=i + 1) for i in range(30)])
    assert {r["root"] for r in connected_components_lss(chain).collect()} == {0}
    ranks = pagerank(
        spark.createDataFrame([("a", "b", 1.0), ("b", "a", 1.0)],
                              "src string, dst string, w double")
    )
    assert sum(r["rank"] for r in ranks.collect()) == pytest.approx(1.0)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=10)

    assert seen and set(seen) == {("false", True)}
    assert spark.conf.get(AQE) == "true"
    # the loops' outputs are frames of the caller's session
    assert ranks.sparkSession is spark
