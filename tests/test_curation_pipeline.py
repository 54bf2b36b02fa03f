"""The composed curation pipeline (recipes/curation.py): stage-vs-standalone
parity and the invariants the composition must preserve (VERDICT r6 item 5).
Each stage is oracle-checked on its own as a registered query; these tests
pin that the COMPOSITION computes the same relations and that the funnel
accounting is self-consistent."""

from contextlib import ExitStack

import pytest

from pyspark.sql import functions as F

from projet_data_engineering_spark.io import load_table, spread
from tests.conftest import SF_DIR, curated


def _docs(spark):
    return spread(load_table(spark, SF_DIR, "documents"), "doc_id")


def test_funnel_is_monotone_and_consistent(spark):
    docs = _docs(spark)
    with curated(docs) as out:
        funnel = {
            r["stage"]: (r["n_docs"], r["n_tokens"])
            for r in out["funnel"].collect()
        }
        # docs only ever leave the corpus through stages 0->4
        chain = ["0_raw", "1_dedup", "2_quality", "3_decontaminated",
                 "4_redacted"]
        for a, b in zip(chain, chain[1:]):
            assert funnel[a][0] >= funnel[b][0]
            assert funnel[a][1] >= funnel[b][1]
        assert funnel["0_raw"][0] == docs.count()
        # stage 4 == stage 3 (redaction drops nothing, only rewrites)
        assert funnel["4_redacted"] == funnel["3_decontaminated"]
        # splits partition stage 4 exactly
        split_docs = sum(
            v[0] for k, v in funnel.items() if k.startswith("5_split_")
        )
        assert split_docs == funnel["4_redacted"][0]
        # packing conserves train tokens bit-for-bit
        train = funnel.get("5_split_train", (0, 0))
        assert funnel["6_train_windows"][1] == train[1]


@pytest.mark.slow
def test_dedup_stage_matches_standalone_query(spark):
    """Stage-1 survivors equal q_dedup_apply's survivor relation (the
    standalone dedup-applied query) — same drop list, reused labels."""
    from projet_data_engineering_spark.operators.dedup import q_dedup_apply

    docs = _docs(spark)
    with curated(docs) as out:
        standalone = {
            r["lang"]: r["n_docs"]
            for r in q_dedup_apply(spark, SF_DIR).collect()
        }
        funnel = {
            r["stage"]: r["n_docs"] for r in out["funnel"].collect()
        }
        assert funnel["1_dedup"] == sum(standalone.values())


def test_no_contaminated_doc_and_no_eval_doc_survives(spark):
    """Every doc q_contamination flags (shares a 5-gram with the eval
    probe), and every eval-probe doc itself, is absent from the shipped
    splits."""
    from projet_data_engineering_spark.operators.textanalysis import (
        q_contamination,
    )

    with curated(_docs(spark)) as out:
        shipped = {r["doc_id"] for r in out["splits"].collect()}
        flagged = {
            r["doc_id"] for r in q_contamination(spark, SF_DIR).collect()
        }
        assert flagged, "test corpus should contain contamination"
        assert not (shipped & flagged)
        assert not any(d % 97 == 0 for d in shipped)


def test_split_is_leakage_safe_on_cluster_roots(spark):
    """Split membership is a pure function of the near-dup cluster ROOT.
    After dedup only roots ship (root == doc_id for every survivor), so the
    per-root check alone would be vacuous; the live property is about the
    DROPPED cluster members: had any of them shipped instead (loosened
    threshold, corpus growth re-introducing a near-dup), root-keying sends
    it to its root's split, while doc-id-keying would scatter real clusters
    across splits — assert both halves on the reused labels."""

    def bucket_of(col):
        return F.conv(
            F.substring(F.md5(col.cast("string")), 1, 2), 16, 10
        ).cast("int")

    def split_of(b):
        return (
            F.when(b < 13, "test").when(b < 26, "valid").otherwise("train")
        )

    with curated(_docs(spark)) as out:
        assert (
            out["splits"].groupBy("root")
            .agg(F.countDistinct("split").alias("n"))
            .filter("n > 1")
            .count()
            == 0
        )
        # every shipped doc IS its cluster root -> keyed correctly
        assert out["splits"].filter("root <> doc_id").count() == 0
        members = out["_labels"].filter(F.col("doc_id") != F.col("root"))
        assert members.count() > 0, "corpus should contain near-dup clusters"
        judged = members.select(
            split_of(bucket_of(F.col("doc_id"))).alias("by_doc"),
            split_of(bucket_of(F.col("root"))).alias("by_root"),
        )
        # doc-keying would actually scatter (the leak root-keying closes)
        assert judged.filter("by_doc <> by_root").count() > 0
        # and the root-keyed assignment of a member equals its shipped
        # root's split wherever the root survived to ship
        shipped = out["splits"].select(
            F.col("root").alias("r"), F.col("split").alias("ship_split")
        )
        mism = (
            members.join(shipped, members["root"] == shipped["r"])
            .withColumn("member_split", split_of(bucket_of(F.col("root"))))
            .filter("member_split <> ship_split")
        )
        assert mism.count() == 0


def test_redaction_scrubs_planted_pii(spark):
    """Plant synthetic PII in the text column; the pipeline's redaction
    stage must scrub it and count it, doc for doc."""
    planted = _docs(spark).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" reach me at someone@example.com or +1-555-"),
            (F.col("doc_id") % 10000).cast("string"),
        ),
    )
    with curated(planted) as out:
        s = out["splits"]
        assert s.filter(F.col("n_pii") < 2).count() == 0
        assert (
            s.filter(
                F.col("redacted").contains("example.com")
                | F.col("redacted").rlike(r"\+1-555-[0-9]")
            ).count()
            == 0
        )
        assert s.filter(
            F.col("redacted").contains("<EMAIL>")
            & F.col("redacted").contains("<PHONE>")
        ).count() == s.count()


def test_funnel_matches_the_oracle(spark):
    """The funnel on the standard corpus, which has both near-dup clusters
    and contaminated documents, equals the DuckDB transcription row for
    row."""
    from projet_data_engineering_spark.recipes.curation import _funnel_oracle
    from tools.check import make_duckdb

    con = make_duckdb(SF_DIR)
    try:
        want = sorted(con.execute(_funnel_oracle()).fetchall())
    finally:
        con.close()
    with curated(_docs(spark)) as out:
        got = sorted(tuple(r) for r in out["funnel"].collect())
    assert got == want


def test_no_lambda_re_splits_the_text(spark, monkeypatch):
    """Each document is tokenized once: the shingle, stopword and 5-gram
    lambdas read a projected token array. In the optimized plans of
    ``minhash_signatures`` and of every frame ``curate_corpus`` stores (the
    status frame among them), no lambda body calls ``split(`` — neither
    when the tokenizer is pasted into a lambda as SQL text nor when
    CollapseProject inlines a once-read token column back into one."""
    from pyspark.sql.classic.dataframe import DataFrame

    from projet_data_engineering_spark.operators.dedup import (
        minhash_signatures,
    )
    from projet_data_engineering_spark.plans.explain import (
        lambda_bodies,
        optimized_plan,
    )

    stored = []
    checkpoint = DataFrame.localCheckpoint

    def record(self, *args, **kwargs):
        stored.append(optimized_plan(self))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", record)
    docs = _docs(spark)
    plans = [optimized_plan(minhash_signatures(docs, "doc_id", "text"))]
    with curated(docs):
        pass
    plans += stored
    # the status frame: it tokenizes the text and probes the 5-grams
    assert any("split(" in p and "array_join(" in p for p in stored)
    for plan in plans:
        assert not any("split(" in body for body in lambda_bodies(plan))


def _star_docs(spark, path):
    """The test corpus without the documents of any candidate pair, plus
    copies of two others under new ids: its near-dup graph is two one-edge
    stars."""
    from projet_data_engineering_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    docs = _docs(spark)
    paired = minhash_candidate_pairs(docs, "doc_id", "text").select(
        F.explode(F.array("doc1", "doc2")).alias("doc_id")
    )
    alone = docs.join(paired, "doc_id", "left_anti")
    top = docs.agg(F.max("doc_id")).first()[0]
    copies = alone.orderBy("doc_id").limit(2).withColumn(
        "doc_id", F.col("doc_id") + top + 1
    )
    alone.unionByName(copies).write.parquet(f"{path}/documents.parquet")
    return spread(load_table(spark, str(path), "documents"), "doc_id")


def test_outputs_read_the_stored_status_frame(spark, tmp_path):
    """After ``curate_corpus`` the windows write and the funnel collect read
    the stored per-document frame: a couple of jobs each, and neither plan
    scans the documents or explodes 5-grams again. The standard corpus's
    near-dup graph is no set of stars, so ``curate_corpus`` itself runs
    component rounds; its ceiling holds in a session's first build too."""
    from perfbench.census import Census

    docs = _docs(spark)
    census = Census(spark)
    with ExitStack() as stack:
        with census.span("curate"):
            out = stack.enter_context(curated(docs))
        with census.span("windows"):
            out["train_windows"].write.parquet(str(tmp_path / "windows"))
        with census.span("funnel"):
            out["funnel"].collect()
        curate, windows, funnel = census.calls
        assert curate.jobs <= 18
        # the windows are packed once, by the write; the funnel counts the
        # stored windows with its stage rows in one aggregate
        assert windows.jobs <= 1
        assert funnel.jobs <= 2
        for df in (out["train_windows"], out["funnel"]):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "documents.parquet" not in plan
            assert not any(
                "Generate" in line and "array_join" in line
                for line in plan.splitlines()
            )


def test_a_star_shaped_corpus_curates_without_a_component_round(
    spark, tmp_path, monkeypatch
):
    """A near-dup graph that is already a set of stars is its own cluster
    labelling, so the build runs no connected-components round."""
    from perfbench.census import Census
    from projet_data_engineering_spark.operators import dedup

    def no_loop(*args, **kwargs):
        raise AssertionError("a star-shaped graph entered the round loop")

    monkeypatch.setattr(dedup, "graph_loop", no_loop)
    docs = _star_docs(spark, tmp_path)
    census = Census(spark)
    with ExitStack() as stack:
        with census.span("curate"):
            out = stack.enter_context(curated(docs))
        labels = {tuple(r) for r in out["_labels"].collect()}
    (curate,) = census.calls
    # two (copy -> original) labels and the two originals' own
    assert len(labels) == 4 and sum(d == r for d, r in labels) == 2
    assert curate.jobs <= 14


def test_a_stage_no_document_reaches_still_has_a_funnel_row(spark):
    """Like the oracle's per-stage global aggregates, a stage every document
    is dropped before reports 0 docs and NULL tokens instead of vanishing."""
    with curated(_docs(spark), min_quality=2.0) as out:
        funnel = {r["stage"]: tuple(r)[1:] for r in out["funnel"].collect()}
    assert funnel["1_dedup"][0] > 0
    for stage in ("2_quality", "3_decontaminated", "4_redacted",
                  "6_train_windows"):
        assert funnel[stage] == (0, None)
    assert not any(s.startswith("5_split_") for s in funnel)
