"""Serving freshness under the listing-keyed metadata memo (io.listing_memo).

Each serve path memoizes metadata — stats rows, schemas, the IVF quantizer
— under its directory's listing. Every test here warms the memo, changes
the artifact in place (refresh, rebuild, commit, compaction) and serves
again: the answer must reflect the change. A memo keyed on the path alone
would serve the stale value and fail each of them."""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from projet_data_engineering_spark.operators.search import (
    bm25_scores,
    bm25_scores_fuzzy,
    bm25_serve,
    bm25_serve_fuzzy,
    build_search_index,
)
from projet_data_engineering_spark.operators.similarity import (
    ann_serve,
    build_ann_index,
)
from projet_data_engineering_spark.operators.versioned import (
    compact_versions,
    read_version,
    versioned_upsert,
)
from projet_data_engineering_spark.streaming.ann_refresh import (
    ann_refresh_batch,
)
from projet_data_engineering_spark.streaming.windows import (
    index_refresh_batch,
)

N_BUCKETS = 16
FIRST = ["spark streams data", "stream joins", "data spark"]
# candidates for a term whose bucket directory the first batch did not write
NEW_TERMS = ["quokka", "zebra", "walrus", "narwhal", "ocelot", "axolotl"]


def _docs(spark, texts, start=0):
    return spark.createDataFrame(
        [Row(doc_id=start + i, text=t) for i, t in enumerate(texts)]
    )


def _scores(df):
    return {r["doc_id"]: r["score"] for r in df.collect()}


def _new_bucket_term(idx: str) -> str:
    import os

    on_disk = set(os.listdir(f"{idx}/postings"))
    for t in NEW_TERMS:
        if f"term_bucket={zlib.crc32(t.encode()) % N_BUCKETS}" not in on_disk:
            return t
    raise AssertionError("no candidate term lands in a new bucket")


def test_bm25_serves_a_refresh_into_a_new_bucket(spark, tmp_path):
    """A refresh adds a doc whose term lands in a bucket directory that did
    not exist: exact and fuzzy serving find it, and score with the new
    n_docs (the scan path over the grown corpus is the reference)."""
    idx = str(tmp_path / "idx")
    first = _docs(spark, FIRST)
    index_refresh_batch(first, idx, n_buckets=N_BUCKETS)
    assert _scores(bm25_serve(spark, idx, ["spark"])) == _scores(
        bm25_scores(first, "doc_id", "text", ["spark"])
    )
    assert bm25_serve_fuzzy(spark, idx, ["sprk"]).count() == 2

    term = _new_bucket_term(idx)
    index_refresh_batch(
        _docs(spark, [f"{term} spark"], start=len(FIRST)),
        idx,
        n_buckets=N_BUCKETS,
    )
    grown = _docs(spark, FIRST + [f"{term} spark"])
    new_doc = len(FIRST)

    got = _scores(bm25_serve(spark, idx, [term, "spark"]))
    assert new_doc in got
    # n_docs moved from 3 to 4: every score is the grown corpus's
    assert got == _scores(bm25_scores(grown, "doc_id", "text", [term, "spark"]))

    fuzzy = [term[:-1], "sprk"]  # one deletion each: AUTO fuzziness 1
    got = _scores(bm25_serve_fuzzy(spark, idx, fuzzy))
    assert new_doc in got
    assert got == _scores(bm25_scores_fuzzy(grown, "doc_id", "text", fuzzy))


def test_bm25_rebuild_with_other_bucket_count_is_served(spark, tmp_path):
    """A rebuild at the same path with a different n_buckets is served with
    the new count, and asserting the old count raises."""
    idx = str(tmp_path / "idx")
    docs = _docs(spark, FIRST)
    want = _scores(bm25_scores(docs, "doc_id", "text", ["spark", "stream"]))
    build_search_index(docs, "doc_id", "text", idx, n_buckets=16)
    assert _scores(bm25_serve(spark, idx, ["spark", "stream"], n_buckets=16)) == want

    build_search_index(docs, "doc_id", "text", idx, n_buckets=8)
    assert _scores(bm25_serve(spark, idx, ["spark", "stream"], n_buckets=8)) == want
    with pytest.raises(ValueError, match="n_buckets=8"):
        bm25_serve(spark, idx, ["spark"], n_buckets=16)


def test_bm25_refresh_refuses_another_bucket_count(spark, tmp_path):
    """A refresh with another n_buckets than the stored manifest's raises
    before writing anything: its postings would land in other bucket
    directories than the serve prunes to. The index keeps serving the
    scan path's scores."""
    idx = str(tmp_path / "idx")
    docs = _docs(spark, ["spark streams", "cake", "spark cake", "data spark"])
    build_search_index(docs, "doc_id", "text", idx, n_buckets=N_BUCKETS)
    with pytest.raises(ValueError, match=f"n_buckets={N_BUCKETS}"):
        index_refresh_batch(_docs(spark, ["spark cake"], start=4), idx)
    terms = ["spark", "cake"]
    want = _scores(bm25_scores(docs, "doc_id", "text", terms))
    assert len(want) == 4
    assert _scores(bm25_serve(spark, idx, terms)) == want


VSCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)
DIM = 64  # the k-means trainer's default dimension


def _vec(cluster: int, wobble: float) -> list:
    v = [0.0] * DIM
    for j in range(16):
        v[cluster * 16 + j] = 1.0
    v[cluster * 16 + 3] += wobble
    return v


def _vecs(spark, ids, cluster_of, wobble=lambda i: 0.1 * (i % 7)):
    return spark.createDataFrame(
        [(i, _vec(cluster_of(i), wobble(i))) for i in ids], VSCHEMA
    )


def test_ann_serves_a_vector_appended_after_a_rebuild(spark, tmp_path):
    """Serve, rebuild the index at the same path on another corpus (a new
    quantizer), append one vector with ``ann_refresh_batch``: serving that
    vector with nprobe=1 probes the list the NEW quantizer assigned it to,
    so it comes back as its own nearest neighbour."""
    idx = str(tmp_path / "ann")
    build_ann_index(_vecs(spark, range(24), lambda i: i % 4), idx, k=4)
    q = spark.createDataFrame([(0, _vec(0, 0.0))], "query_id long, v array<double>")
    assert ann_serve(spark, idx, q, nprobe=1, exclude_self=False).count() == 5

    build_ann_index(
        _vecs(spark, range(100, 124), lambda i: (i // 6) % 4), idx, k=4
    )
    # a wobble no corpus vector has, so no neighbour ties it at 4 dp
    new = 999
    ann_refresh_batch(_vecs(spark, [new], lambda i: 2, lambda i: 1.5), idx, k=4)
    q = spark.createDataFrame(
        [(new, _vec(2, 1.5))], "query_id long, v array<double>"
    )
    top = ann_serve(spark, idx, q, nprobe=1, exclude_self=False).collect()
    assert (top[0]["vec_id"], top[0]["rank"]) == (new, 1), top


def _version(spark, path, version=None):
    df = read_version(spark, path, "k", version)
    return sorted(df.columns), {
        r["k"]: tuple(r[c] for c in sorted(df.columns) if c != "k")
        for r in df.collect()
    }


def test_read_version_after_upsert_and_compaction(spark, tmp_path):
    """Reads stay correct after a further commit and after a compaction
    rewrites a version directory in place — here v2, whose own change set
    lacked column b and whose folded base carries it."""
    path = str(tmp_path / "t")
    versioned_upsert(
        spark.createDataFrame(
            [(k, f"a{k}", f"b{k}") for k in range(1, 5)], "k long, a string, b string"
        ),
        path,
        "k",
    )
    versioned_upsert(
        spark.createDataFrame([(1, "a1'"), (2, "a2'")], "k long, a string"),
        path,
        "k",
    )
    v2 = {1: ("a1'", None), 2: ("a2'", None), 3: ("a3", "b3"), 4: ("a4", "b4")}
    assert _version(spark, path) == (["a", "b", "k"], v2)

    versioned_upsert(
        spark.createDataFrame([(3, "a3'", "b3'")], "k long, a string, b string"),
        path,
        "k",
    )
    v3 = {**v2, 3: ("a3'", "b3'")}
    assert _version(spark, path) == (["a", "b", "k"], v3)
    assert _version(spark, path, 2) == (["a", "b", "k"], v2)

    compact_versions(spark, path, "k", 2)
    assert _version(spark, path) == (["a", "b", "k"], v3)
    assert _version(spark, path, 2) == (["a", "b", "k"], v2)


def test_read_version_added_column(spark, tmp_path):
    """A column added in v2: latest reads have it — also after the prefix
    is compacted into v3, whose own change set lacked it — and the
    older as-of does not."""
    path = str(tmp_path / "t")
    versioned_upsert(
        spark.createDataFrame([(1, "x"), (2, "y")], "k long, a string"),
        path,
        "k",
    )
    versioned_upsert(
        spark.createDataFrame([(2, "y2", 20)], "k long, a string, b int"),
        path,
        "k",
    )
    versioned_upsert(
        spark.createDataFrame([(1, "x3")], "k long, a string"), path, "k"
    )
    latest = (["a", "b", "k"], {1: ("x3", None), 2: ("y2", 20)})
    assert _version(spark, path, 1) == (["a", "k"], {1: ("x",), 2: ("y",)})
    assert _version(spark, path) == latest

    compact_versions(spark, path, "k", 3)
    assert _version(spark, path) == latest
    assert _version(spark, path, 3) == latest
