"""Cache-lifetime contract (r6 VERDICT #6): every registry query that
persists intermediates must attach handles so ``unpersist_cached``
leaves the SQL cache EMPTY — no reliance on the runner's global
clearCache.  The full-registry proof runs in
``tools/check_correctness.py`` (``_cache_lifetime`` in the committed
CORRECTNESS_LOCAL JSON); this pytest pins the contract in CI on the
known-persisting representatives of each operator family.
"""

from __future__ import annotations

import pytest

from platform_etl_openfda_faers_spark.operators.cache import (
    cached_deps,
    unpersist_cached,
)

PERSISTING_QUERIES = [
    "faers_llr",                  # contingency pair table (cache_input)
    "dedup_ngram_jaccard_capped",  # pruned inverted index
    "dedup_jaccard_prefix",        # shingle arrays + prefix table
    "corpus_curation_pipeline",    # feats + survivors + pruned index
    "graph_pagerank",              # edges + node list
    # emb_pq_adc_topk moved to the localCheckpoint contract (r16 #17):
    # its trained codebooks are lineage-truncated, not SQL-cached — see
    # test_pq_freeze_trained_contract below.
]


def _sql_cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", PERSISTING_QUERIES)
def test_query_releases_all_caches_via_handles(spark, sf_dir, name):
    from platform_etl_openfda_faers_spark.plans import benchmarks

    spark.catalog.clearCache()  # isolate from other tests
    assert _sql_cache_empty(spark)
    df = benchmarks.SPARK_QUERIES[name](spark, sf_dir)
    assert len(df.collect()) > 0
    assert len(cached_deps(df)) > 0, f"{name} should attach cache handles"
    released = unpersist_cached(df)
    assert released > 0
    assert _sql_cache_empty(spark), (
        f"{name} left SQL-cached tables behind after unpersist_cached"
    )
    # second release is a safe no-op
    assert unpersist_cached(df) == 0


def test_pq_freeze_trained_contract(spark, sf_dir):
    """r16 #17: the PQ family's trained tables are lineage-truncated via
    a lazy ``localCheckpoint`` instead of a persist.  Contract: (a) the
    query leaves the SQL cache EMPTY with no handles to release (storage
    is ContextCleaner-owned RDD checkpoint blocks, which the correctness
    runner's residue sweep already itemizes and unpersists); (b) the
    checkpointed codebooks are VALUE-IDENTICAL to an un-checkpointed
    rebuild (the decimal-exact rounded Lloyd means make materialization
    layout-independent, so truncation cannot change results)."""
    from platform_etl_openfda_faers_spark.operators import similarity
    from platform_etl_openfda_faers_spark.plans import benchmarks

    spark.catalog.clearCache()
    df = benchmarks.SPARK_QUERIES["emb_pq_adc_topk"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    assert cached_deps(df) == [], (
        "emb_pq_adc_topk should no longer attach SQL-cache handles"
    )
    assert _sql_cache_empty(spark), (
        "emb_pq_adc_topk must not SQL-cache anything under the "
        "localCheckpoint contract"
    )
    emb = benchmarks.load_emb(spark, sf_dir)
    plain = similarity.pq_codebooks(emb, dim=64, m=4, k=8)
    frozen = benchmarks._freeze_trained(
        similarity.pq_codebooks(emb, dim=64, m=4, k=8)
    )
    assert sorted(map(tuple, plain.collect()), key=lambda t: t[:2]) == (
        sorted(map(tuple, frozen.collect()), key=lambda t: t[:2])
    ), "localCheckpoint changed the trained codebook values"
