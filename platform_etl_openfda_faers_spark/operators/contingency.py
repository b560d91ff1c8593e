"""Exact 2x2 contingency table + LLR per (drug, reaction) pair.

Reference: ``stage/OpenFdaEtl.scala:110-160`` (W1-W3, A1, F10/F11, P7).  The
reference computes the three distinct-counts with HLL++
``approx_count_distinct`` over unordered windows because Spark forbids exact
``count_distinct`` over a window — so its A/B/C/D carry ~5% rsd error
(reference quirk #1).

Our engine computes them EXACTLY via three group-by aggregates joined back
(SURVEY §4 recommendation): at 100 TB, windows materialize entire
partitions per key (every pair row for a hot reaction lands in one task),
while groupBy does map-side partial aggregation and the joined-back
aggregates are small enough to broadcast.  The reference's HLL++ window
semantics are covered by the ``w_approx_distinct`` registry query.

Output columns: (drug, reaction, A, B, C, D, uniq_report_ids_by_drug,
uniq_report_ids_by_reaction, uniq_reports_total, aterm, cterm, acterm, llr).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import stats
from .filters import finite_metric


def contingency_llr(
    pairs: DataFrame,
    report_col: str = "safetyreportid",
    drug_col: str = "chembl_id",
    reaction_col: str = "reaction_reactionmeddrapt",
    cache_input: bool = False,
) -> DataFrame:
    """pairs(report, drug, reaction) -> one row per (drug, reaction) + stats.

    The pair table is consumed four times (A1 total count, pair aggregate,
    two marginals).  ``cache_input=False`` keeps the pruned-re-scan shape:
    every consumer is a distinct-count, so Catalyst prunes columns and
    eliminates any upstream ``distinct()`` per consumer — four cheap pruned
    scans beat materializing the full three-column pair set when the
    lineage is a cheap parquet scan or already persisted (``pipeline.run``
    persists its pairs).  Set ``cache_input=True`` for an expensive lineage
    nothing else persists.  Measured crossover on the star-schema pairs
    (4-table join + DISTINCT): caching costs ~9% at sf0.1 but wins 36% at
    sf1 (15.1s -> 9.7s) and the gap grows with scale — the flagship query
    passes True.

    Partitioning contract: every count-distinct here first deduplicates on
    (its key, report id), which needs its input clustered by those columns.
    Pairs that arrive hash-partitioned by ``report_col`` — as
    ``flatten.explode_reports`` emits them, and as the table ``pipeline.run``
    persists keeps them — already satisfy all four, so Spark drops the four
    pair-level dedup shuffles and moves only the small per-key partial
    counts.  On the traced ``faers_release`` benchmark workload (4-core VM)
    that cut the contingency from 13 stages and 6.36 MB of shuffle to 9
    stages and 0.89 MB.  Any other partitioning gives the same exact rows;
    Spark then shuffles the pairs for each count as before.
    """
    # NULL-semantics guard: countDistinct (and DuckDB's COUNT(DISTINCT))
    # EXCLUDE a NULL report id, while the reference's
    # pairs.select(...).distinct().count() (OpenFdaEtl.scala:143) counts NULL
    # as one extra value — total N would diverge by one if a null report id
    # ever reached this operator.  Dropping null ids here makes every count
    # (A, marginals, total) see the same population, so the deliberate
    # divergence from the reference is "null reports contribute nothing"
    # rather than an off-by-one only in N.
    pairs = pairs.where(F.col(report_col).isNotNull())
    count = F.countDistinct(report_col)
    if cache_input:
        from pyspark import StorageLevel

        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)

    # A1 — the reference collects total N to the driver and folds it back as
    # a literal (stage/OpenFdaEtl.scala:143,150), which costs a *blocking*
    # extra job before the real one can even be submitted.  A 1-row
    # broadcast cross-join carries the same scalar lazily: all four
    # aggregates plan into one job and run concurrently (measured ~1.4x on
    # faers_llr at sf0.1).  The driver-scalar pattern itself is still
    # covered by the a1_distinct_count query.
    total_agg = pairs.agg(F.countDistinct(report_col).alias("uniq_reports_total"))

    # A per (drug, reaction): the big aggregate — shuffles once on the pair key
    # with map-side partial aggregation.
    a = pairs.groupBy(drug_col, reaction_col).agg(count.alias("A"))

    # Per-drug and per-reaction marginals: output cardinality == #drugs /
    # #reactions (small) -> broadcast them back onto the pair-level rows.
    by_drug = pairs.groupBy(drug_col).agg(count.alias("uniq_report_ids_by_drug"))
    by_reaction = pairs.groupBy(reaction_col).agg(
        count.alias("uniq_report_ids_by_reaction")
    )

    df = (
        a.join(F.broadcast(by_drug), [drug_col])
        .join(F.broadcast(by_reaction), [reaction_col])
        .crossJoin(F.broadcast(total_agg))
        .withColumn("C", F.col("uniq_report_ids_by_drug") - F.col("A"))
        .withColumn("B", F.col("uniq_report_ids_by_reaction") - F.col("A"))
        .withColumn(
            "D",
            F.col("uniq_reports_total") - F.col("A") - F.col("B") - F.col("C"),
        )
    )

    a_, b_, c_, d_ = (F.col(x).cast("double") for x in ("A", "B", "C", "D"))
    df = (
        df.withColumn("aterm", stats.aterm(a_, b_))
        .withColumn("cterm", stats.cterm(c_, d_))
        .withColumn("acterm", stats.acterm(a_, b_, c_, d_))
        .withColumn("llr", stats.llr(a_, b_, c_, d_))
    )

    # P7 — drop NULL/NaN llr (C=0 or B=0 degenerate cells), like the reference.
    out = df.where(finite_metric(F.col("llr")))
    if cache_input:
        # expose the persisted pair table for caller-owned cleanup
        # (operators/cache.py contract); runners that clearCache between
        # queries need not bother
        from .cache import attach_cached

        attach_cached(out, pairs)
    return out
