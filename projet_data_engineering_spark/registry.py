"""Query registry backing ``__spark_entry__.py``.

Every operator module registers its driver-checkable queries here with the
``@query`` decorator: a name, a ``(spark, sf_dir) -> DataFrame`` callable and
(where SQL-expressible) the equivalent DuckDB oracle SQL. Column names are
aliased identically on both sides — the driver's compare sorts columns by name
and hashes values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a driver query; ``oracle=None`` marks non-SQL-expressible ops
    (driver falls back to a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The external driver checks the first 50 names of ``queries()``. The
# queries whose code changed since its last check (r12) lead the walk, so a
# truncated check re-verifies them first; every other query follows in
# registration order.
CHANGED_SINCE_DRIVER_CHECK = (
    # the curation build and the stages it composes
    "q_curate", "q_curation_funnel", "q_text_quality", "q_pack_sequences",
    "q_split_groupsafe", "q_contamination_fuzzy",
    # the near-dup family: SQL-text MinHash, star-checked LSS components
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_jaccard",
    "q_dedup_clusters", "q_dedup_clusters_lss", "q_dedup_apply",
    "q_dedup_canonical", "q_dedup_incremental", "q_dedup_incremental_served",
    "q_dedup_recall", "q_semdedup", "q_stream_dedup_ingest",
    # the ANN family: SQL-text scoring, one-call quantizer literal
    "q_ann_ivf", "q_ann_ivf_served", "q_ann_lsh", "q_ann_pq",
    "q_ann_pq_rerank", "q_ann_recall", "q_embed_knn", "q_embed_dup_pairs",
    "q_embed_quantize", "q_hybrid_search", "q_pq_encode", "q_pq_recall",
    "q_stream_ann_refresh", "q_stream_pq_refresh",
    # the serve paths (listing-keyed metadata memo), and the rest changed
    # since r12
    "q_bm25_served", "q_bm25_fuzzy_served", "q_pq_served",
    "q_time_travel_evolve", "q_pagerank", "q_stream_stack",
    "q_crawl_frontier",
)


def _ordered(names: list[str]) -> list[str]:
    """Walk order: :data:`CHANGED_SINCE_DRIVER_CHECK`, then registration
    order."""
    first = [n for n in CHANGED_SINCE_DRIVER_CHECK if n in names]
    return first + [n for n in names if n not in first]


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {n: _QUERIES[n] for n in _ordered(list(_QUERIES))}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {n: _ORACLES[n] for n in _ordered(list(_ORACLES))}


_LOADED = False


def _load_all() -> None:
    """Import every operator module so decorators run. Import order is
    registration order: the walk order after
    :data:`CHANGED_SINCE_DRIVER_CHECK`."""
    global _LOADED
    if _LOADED:
        return
    from projet_data_engineering_spark import crawl  # noqa: F401
    from projet_data_engineering_spark.recipes import curation  # noqa: F401
    from projet_data_engineering_spark.streaming import (  # noqa: F401
        ann_refresh,
        cms_ingest,
        dedup_ingest,
        drift,
        pq_refresh,
        stack,
        versioned_sink,
        windows,
    )
    from projet_data_engineering_spark.operators import (  # noqa: F401
        pq,
        search,
        similarity,
        skew,
        textanalysis,
        relational,
        analytic,
        dedup,
        etl,
        multimodal,
        warehouse,
        sampling,
        graph,
        datapipe,
        ml,
        corpusmix,
        versioned,
    )

    _LOADED = True
