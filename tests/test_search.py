"""Search subsystem properties (SURVEY.md §5.2.3): match-set semantics are
exact (golden rows); BM25 scores are property-tested, not value-matched
(scores are engine-specific — parity with ES scores is a non-goal)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from projet_data_engineering_spark.operators.search import (
    bm25_scores,
    build_posting_lists,
    search_topk,
    should_search,
)

DOCS = [
    Row(doc_id=1, text="chocolate cake with dark chocolate icing"),
    Row(doc_id=2, text="vanilla cake"),
    Row(doc_id=3, text="chocolat tart"),  # 1 edit from 'chocolate' tokens? no: fuzzy vs contains
    Row(doc_id=4, text="fruit salad, no sugar"),
    Row(doc_id=5, text="1egg omelette with cheese"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS)


def test_should_search_min_match(docs):
    out = should_search(docs, "text", ["chocolate", "cake"], min_should_match=1)
    got = {r["doc_id"]: r["matched_clauses"] for r in out.collect()}
    assert got[1] == 2       # both clauses
    assert got[2] == 1       # cake only
    assert 4 not in got      # no clause → filtered


def test_fuzzy_clause_catches_typo(docs):
    # 'chocolate' (len 9 ⇒ fuzziness 2) fuzzy-matches token 'chocolat'
    out = should_search(docs, "text", ["chocolate"], min_should_match=1)
    ids = {r["doc_id"] for r in out.collect()}
    assert 3 in ids


def test_wildcard_catches_glued_token(docs):
    # reference app/main.py:128-136 — '*egg*' catches '1egg'
    out = should_search(docs, "text", ["egg"], min_should_match=1)
    ids = {r["doc_id"] for r in out.collect()}
    assert 5 in ids


def test_bm25_more_matches_scores_higher(docs):
    scores = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(docs, "doc_id", "text", ["chocolate", "cake"]).collect()
    }
    # doc 1 matches both terms (chocolate ×2) — must outrank doc 2 (cake only)
    assert scores[1] > scores[2]


def test_topk_is_prefix_of_topk_plus_one(docs):
    top2 = [r["doc_id"] for r in search_topk(docs, "doc_id", "text", "chocolate cake", k=2).collect()]
    top3 = [r["doc_id"] for r in search_topk(docs, "doc_id", "text", "chocolate cake", k=3).collect()]
    assert top3[:2] == top2


def test_posting_lists_tf(docs):
    postings = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in build_posting_lists(docs, "doc_id", "text").collect()
    }
    assert postings[("chocolate", 1)] == 2
    assert postings[("cake", 2)] == 1
    assert ("sugar", 4) in postings


def test_bm25_served_matches_scan_path_and_prunes(spark, tmp_path):
    """The materialized-index serving path (build_search_index + bm25_serve)
    must reproduce the scan path's BM25 scores exactly, and the serve scan
    must PRUNE to the query terms' buckets — the PartitionFilters line is
    the 100 TB contract (a query reads |terms| buckets, not the index)."""
    from projet_data_engineering_spark.operators.search import (
        bm25_serve,
        build_search_index,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=t)
            for i, t in enumerate(
                [
                    "spark joins streams with spark sql",
                    "vanilla cake recipe",
                    "stream processing with spark",
                    "join orders to lineitem",
                    "fruit salad no sugar",
                    "spark spark spark",
                ]
            )
        ]
    )
    idx = str(tmp_path / "idx")
    build_search_index(docs, "doc_id", "text", idx, n_buckets=16)

    served = bm25_serve(spark, idx, ["spark", "join"], n_buckets=16)
    scan = bm25_scores(docs, "doc_id", "text", ["spark", "join"])
    got = {r["doc_id"]: r["score"] for r in served.collect()}
    want = {r["doc_id"]: r["score"] for r in scan.collect()}
    assert got == want and got  # same docs, identical 4dp scores

    # Partition pruning: the postings scan must carry a term_bucket
    # PartitionFilter, and the pruned file set must be smaller than the
    # full index (16 buckets, 2 query terms -> at most 2 read).
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters", 1)[1][:400]
    assert "term_bucket" in pf, plan
    import zlib

    for t in ("spark", "join"):
        assert str(zlib.crc32(t.encode()) % 16) in pf, pf
    # the index holds more buckets than the query touches, so the filter
    # genuinely prunes (otherwise the assertion above proves nothing)
    on_disk = {
        p.name
        for p in (tmp_path / "idx" / "postings").iterdir()
        if p.name.startswith("term_bucket=")
    }
    assert len(on_disk) > 2
    # the scan lists only the probed bucket directories, never the root
    from projet_data_engineering_spark.plans.explain import (
        scan_partitions_read,
    )

    probed = {
        f"term_bucket={zlib.crc32(t.encode()) % 16}" for t in ("spark", "join")
    }
    scans = scan_partitions_read(served)
    assert scans, plan
    for roots in scans:
        leaves = {r.rsplit("/", 1)[1] for r in roots.split(",")}
        assert leaves <= probed, (leaves, probed)
    # serve-only plan touches no document column — the corpus is not in it
    assert "text#" not in plan


def test_bm25_fuzzy_served_matches_scan_path_and_prunes(spark, tmp_path):
    """The dictionary-expansion fuzzy serving path (bm25_serve_fuzzy) must
    reproduce bm25_scores_fuzzy's scores exactly, expand typo'd terms via
    the vocab artifact only, and prune the postings scan to the matched
    variants' buckets."""
    from projet_data_engineering_spark.operators.search import (
        bm25_scores_fuzzy,
        bm25_serve_fuzzy,
        build_search_index,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=t)
            for i, t in enumerate(
                [
                    "spark joins streams with spark sql",
                    "vanilla cake recipe",
                    "stream processing with spark",
                    "join orders to lineitem",
                    "fruit salad no sugar",
                    "spark spark spark",
                ]
            )
        ]
    )
    idx = str(tmp_path / "idx")
    build_search_index(docs, "doc_id", "text", idx, n_buckets=16)

    terms = ["strem", "joins"]  # both typo'd/inflected; AUTO fuzziness 1
    served = bm25_serve_fuzzy(spark, idx, terms)
    scan = bm25_scores_fuzzy(docs, "doc_id", "text", terms)
    got = {r["doc_id"]: r["score"] for r in served.collect()}
    want = {r["doc_id"]: r["score"] for r in scan.collect()}
    assert got == want and got  # same docs, identical 4dp scores

    # the postings scan carries a term_bucket PartitionFilter — the
    # matched variants prune it at run time (dynamic partition pruning)...
    plan = served._jdf.queryExecution().executedPlan().toString()
    post_scans = [
        seg for seg in plan.split("FileScan")[1:] if "doc_id" in seg[:700]
    ]
    assert post_scans, plan
    for seg in post_scans:
        pf = seg.split("PartitionFilters", 1)[1][:400]
        assert "dynamicpruningexpression(term_bucket" in pf, seg[:900]
    # ...and the corpus text column appears nowhere in the serve plan
    assert "text#" not in plan

    # vocab artifact exists, is term-unique, and covers every posting term
    vocab = {r["term"] for r in spark.read.parquet(f"{idx}/vocab").collect()}
    posting_terms = {
        r["term"] for r in spark.read.parquet(f"{idx}/postings").collect()
    }
    assert posting_terms <= vocab


def test_bm25_fuzzy_served_no_match_is_empty(spark, tmp_path):
    from projet_data_engineering_spark.operators.search import (
        bm25_serve_fuzzy,
        build_search_index,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="delta")]
    )
    idx = str(tmp_path / "idx")
    build_search_index(docs, "doc_id", "text", idx, n_buckets=8)
    assert bm25_serve_fuzzy(spark, idx, ["zzzzzzzzzz"]).count() == 0


def test_fuzzy_band_expansion_is_lossless(spark, tmp_path):
    """The length-banded dictionary expansion (bm25_serve_fuzzy's vmatch
    stage, incl. the pushed term_len row-group band) must recover EXACTLY
    the term->qterm pairs an unbanded |V| x |q| levenshtein join over the
    corpus tokens finds — checked on the real fixture vocabulary with
    every AUTO fuzziness tier (0, 1, 2)."""
    from pyspark.sql import functions as F

    from projet_data_engineering_spark.io import load_table
    from projet_data_engineering_spark.operators.search import (
        auto_fuzziness,
        build_search_index,
        tokenize,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    idx = str(tmp_path / "idx")
    build_search_index(docs, "doc_id", "text", idx, n_buckets=16)
    terms = ["up", "strem", "vectr", "window", "aggregatee"]
    qt = [(t, auto_fuzziness(t)) for t in terms]
    qdf = spark.createDataFrame(qt, ["qterm", "fuzz"])
    full = {
        (r["term"], r["qterm"])
        for r in (
            docs.select(F.explode(tokenize(F.col("text"))).alias("term"))
            .distinct()
            .join(
                F.broadcast(qdf),
                (F.abs(F.length("term") - F.length("qterm")) <= F.col("fuzz"))
                & (F.levenshtein("term", "qterm") <= F.col("fuzz")),
            )
            .collect()
        )
    }
    lo = min(len(q) - f for q, f in qt)
    hi = max(len(q) + f for q, f in qt)
    banded = {
        (r["term"], r["qterm"])
        for r in (
            spark.read.parquet(f"{idx}/vocab")
            .filter(F.col("term_len").between(F.lit(lo), F.lit(hi)))
            .join(
                F.broadcast(qdf),
                (F.abs(F.col("term_len") - F.length("qterm")) <= F.col("fuzz"))
                & (F.levenshtein("term", "qterm") <= F.col("fuzz")),
            )
            .collect()
        )
    }
    assert banded == full and full  # lossless AND the fixture exercises it


def test_bm25_fuzzy_served_prunes_the_dictionary_scan(spark, tmp_path):
    """The fuzzy serve plan must read the vocab artifact through a pushed
    term_len length-band range filter (the build sorts each bucket file by
    term_len, so the band prunes row groups) and the postings artifact
    through a term_bucket IN PartitionFilter — never an unpruned scan."""
    from projet_data_engineering_spark.operators.search import (
        bm25_serve_fuzzy,
        build_search_index,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark joins streams"),
            Row(doc_id=2, text="stream processing with spark"),
        ]
    )
    idx = str(tmp_path / "idx")
    build_search_index(docs, "doc_id", "text", idx, n_buckets=16)
    plans: dict = {}
    served = bm25_serve_fuzzy(spark, idx, ["strem"], plans_out=plans)
    served.collect()
    plan = served._jdf.queryExecution().executedPlan().toString()
    # the banded dictionary scan is also surfaced on its own, as the
    # vmatch plan
    vocab_scans = [
        seg
        for seg in plans["vmatch"].split("FileScan")[1:]
        if "term_len" in seg[:700]
    ]
    assert vocab_scans, plans["vmatch"]
    for seg in vocab_scans:
        pushed = seg.split("PushedFilters", 1)[1][:300]
        assert "GreaterThanOrEqual(term_len" in pushed, seg[:900]
        assert "LessThanOrEqual(term_len" in pushed, seg[:900]
    post_scans = [
        seg
        for seg in plan.split("FileScan")[1:]
        if "doc_id" in seg[:700] and "tf" in seg[:700]
    ]
    assert post_scans, plan
    for seg in post_scans:
        # a literal bucket predicate — IN for multi-bucket queries,
        # collapsed to = when one bucket survives
        pf = seg.split("PartitionFilters", 1)[1][:200]
        assert "term_bucket" in pf and (" IN " in pf or " = " in pf), seg[:900]


def test_vocab_files_are_sorted_by_term_len_then_term(spark, tmp_path):
    """Every stored vocab file is ordered by (term_len, term), the order
    the fuzzy serve's pushed length-band filter prunes row groups by."""
    import pyarrow.parquet as pq

    from projet_data_engineering_spark.io import load_table
    from projet_data_engineering_spark.operators.search import build_search_index
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    build_search_index(docs, "doc_id", "text", str(tmp_path / "idx"), n_buckets=16)
    files = sorted((tmp_path / "idx" / "vocab").glob("term_bucket=*/*.parquet"))
    assert len(files) > 1
    for f in files:
        t = pq.read_table(f, columns=["term_len", "term"]).to_pydict()
        keys = list(zip(t["term_len"], t["term"]))
        assert keys == sorted(keys), f.parent.name


def test_index_layout_version_guard(spark, tmp_path):
    """ADVICE r9: the on-disk index layout changed in r9 (vocab gained
    term_len; the SymSpell artifact was retired) with no version marker.
    build_search_index now stamps layout_version in the stats manifest;
    fuzzy serving and the streaming refresher must REJECT an index
    written by the old layout instead of silently null-filling term_len
    (which would drop old terms from the banded BETWEEN filter)."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from projet_data_engineering_spark.operators.search import (
        BM25_LAYOUT_VERSION,
        bm25_serve_fuzzy,
        build_search_index,
    )
    from projet_data_engineering_spark.streaming.windows import (
        index_refresh_batch,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=0, text="spark streams"), Row(doc_id=1, text="cake")]
    )
    idx = str(tmp_path / "idx")
    build_search_index(docs, "doc_id", "text", idx, n_buckets=4)
    stats = spark.read.parquet(f"{idx}/stats")
    assert stats.select("layout_version").first()[0] == BM25_LAYOUT_VERSION
    # current layout: both paths work
    assert bm25_serve_fuzzy(spark, idx, ["spark"]).count() == 1
    index_refresh_batch(
        spark.createDataFrame([Row(doc_id=2, text="spark joins")]),
        idx, n_buckets=4,
    )

    # simulate a pre-r9 index: stats manifest without the stamp
    # (re-read: the refresh above overwrote the stats files)
    spark.catalog.refreshByPath(f"{idx}/stats")
    stats = spark.read.parquet(f"{idx}/stats")
    legacy = stats.drop("layout_version").collect()
    spark.createDataFrame(
        legacy, schema=stats.drop("layout_version").schema
    ).write.mode("overwrite").parquet(f"{idx}/stats")
    spark.catalog.refreshByPath(f"{idx}/stats")
    with pytest.raises(ValueError, match="layout_version"):
        bm25_serve_fuzzy(spark, idx, ["spark"])
    with pytest.raises(ValueError, match="layout_version"):
        index_refresh_batch(
            spark.createDataFrame([Row(doc_id=3, text="more spark")]),
            idx, n_buckets=4,
        )

    # a v2 index: stamped 2, and its build wrote no docstats
    shutil.rmtree(f"{idx}/docstats")
    spark.createDataFrame(
        legacy, schema=stats.drop("layout_version").schema
    ).withColumn("layout_version", F.lit(2)).write.mode("overwrite").parquet(
        f"{idx}/stats"
    )
    with pytest.raises(ValueError, match="layout_version=2"):
        bm25_serve_fuzzy(spark, idx, ["spark"])
    with pytest.raises(ValueError, match="layout_version=2"):
        index_refresh_batch(
            spark.createDataFrame([Row(doc_id=3, text="more spark")]),
            idx, n_buckets=4,
        )


def test_check_index_layout_empty_stats_manifest(spark):
    """r11 advice: an EMPTY stats manifest (crash between index dirs and
    stats rows landing), which ``_index_stats`` reads as None, must
    surface the rebuild ValueError, not a raw TypeError."""
    import pytest

    from projet_data_engineering_spark.operators.search import (
        _check_index_layout,
    )

    with pytest.raises(ValueError, match="layout_version"):
        _check_index_layout(None, "/fake/idx", "test")
