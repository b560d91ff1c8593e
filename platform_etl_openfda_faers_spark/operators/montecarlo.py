"""Monte-Carlo critical values for the FDA LRT significance filter.

Reference: ``stage/MonteCarloSampling.scala:11-59`` + the Breeze kernel in
``utils/MathUtils.scala:8-75``.  Per drug j with n_j unique reports, reaction
base counts n_i and grand total N:

1. simulate ``permutations`` multinomial allocations of n_j reports across
   the drug's reactions with probabilities n_i / sum(n_i)  (the reference's
   ``rmultinom`` — sequential conditional binomials — IS the multinomial
   distribution with normalized probabilities; NumPy's
   ``Generator.multinomial`` samples the same law);
2. per simulated cell X:  llr = X*(ln X - ln n_i) + (z-X)*(ln(z-X) - ln(N-n_i))
   - z*ln z + z*ln N  with z = n_j;  NaN/Inf cells -> 0;
3. max over reactions per permutation -> ``permutations`` maxima;
4. critical value = linear-interpolation percentile of the maxima (Breeze
   ``DescriptiveStats.percentile`` == ``numpy.percentile`` default).

Differences from the reference (deliberate, SURVEY §2.10 quirks #2/#6):
- seeded: each drug gets an independent RNG stream derived from
  (root seed, crc32(drug)) so results don't depend on partition layout;
- the per-drug n_i vector is collected in sorted reaction order
  (``sort_array(collect_list(struct(...)))``) instead of nondeterministic
  ``collect_list`` order.

Scale notes: the grouped input is one row per drug (10^3-10^5 rows — tiny
next to the pair table), so a plain Python UDF is called once per drug, on
every core, and each call runs the whole simulation vectorized in NumPy.
The workers import NumPy only: this module imports neither pandas nor
pyarrow, which keeps them lean when one runs per core.  The simulation cost
is O(permutations x reactions-per-drug) independent of corpus size.  The
critval table that joins back (J5) is broadcast.
"""

from __future__ import annotations

import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _critical_value(
    n_j: int,
    n_i: np.ndarray,
    total: int,
    permutations: int,
    percentile: float,
    rng: np.random.Generator,
) -> float:
    """NumPy port of the LRT critical-value simulation (MathUtils.scala:8-41)."""
    z = float(n_j)
    big_n = float(total)
    y = n_i.astype(np.float64)
    p = y / y.sum()

    # (permutations, K) simulated allocation matrix.
    x = rng.multinomial(n_j, p, size=permutations).astype(np.float64)
    maxima = _llr_matrix(x, y, z, big_n).max(axis=1)
    return float(np.percentile(maxima, percentile * 100.0))


def _llr_matrix(x: np.ndarray, y: np.ndarray, z: float, big_n: float) -> np.ndarray:
    """Per-cell LLR of the simulated matrix ``x`` (overwritten), NaN/Inf -> 0.

    Evaluates ``x*(ln x - ln y) + (z-x)*(ln(z-x) - ln(N-y)) - z ln z + z ln N``
    in place: the same IEEE operations in the same order as the plain
    expression (so bit-identical), but with two ``(permutations, K)`` work
    buffers instead of one per temporary.
    """
    with np.errstate(divide="ignore", invalid="ignore"):
        llrs = np.log(x)
        llrs -= np.log(y)
        llrs *= x
        np.subtract(z, x, out=x)
        rest = np.log(x)
        rest -= np.log(big_n - y)
        rest *= x
        llrs += rest
        llrs -= z * np.log(z)
        llrs += z * np.log(big_n)
    llrs[~np.isfinite(llrs)] = 0.0
    return llrs


def _drug_seed(root_seed: int, drug: object) -> np.random.Generator:
    """Partition-layout-independent per-drug RNG stream."""
    return np.random.default_rng(
        np.random.SeedSequence([root_seed, zlib.crc32(str(drug).encode("utf-8"))])
    )


def critical_values(
    stage1: DataFrame,
    drug_col: str = "chembl_id",
    reaction_col: str = "reaction_reactionmeddrapt",
    permutations: int = 100,
    percentile: float = 0.95,
    seed: int = 42,
) -> DataFrame:
    """Stage-1 pair stats -> one ``(drug, critval)`` row per drug (A4 + U1-U3)."""

    # A4 — per-drug vector of per-reaction base counts.  first() is safe for
    # the per-drug constants (reference quirk #6); the n_i vector is sorted
    # by reaction term for deterministic seeding.  The explicit-count
    # repartition spreads the drugs over every core: AQE would coalesce the
    # small per-drug table into one partition (one task runs the kernel),
    # but never merges a repartition with a partition count, and the
    # aggregate reuses this exchange instead of adding its own.
    parallelism = stage1.sparkSession.sparkContext.defaultParallelism
    grouped = stage1.repartition(parallelism, drug_col).groupBy(drug_col).agg(
        F.first("uniq_reports_total").alias("uniq_reports_total"),
        F.first("uniq_report_ids_by_drug").alias("uniq_report_ids_by_drug"),
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(reaction_col).alias("r"),
                        F.col("uniq_report_ids_by_reaction").alias("n"),
                    )
                )
            ),
            lambda s: s["n"],
        ).alias("n_i"),
    )

    # No type hints: PySpark would try to infer a pandas UDF eval type.
    def critval(drug, n_j, n_i, total):
        return _critical_value(
            int(n_j),
            np.asarray(n_i, dtype=np.float64),
            int(total),
            permutations,
            percentile,
            _drug_seed(seed, drug),
        )

    # Row-at-a-time and pickled, not Arrow: the worker then needs neither
    # pandas nor pyarrow.  asNondeterministic() only stops Catalyst from
    # pushing the join-back's ``critval > 0`` below this projection, which
    # would evaluate the kernel twice (once under the Filter, once above).
    # The value IS deterministic: each drug's RNG is seeded from
    # (seed, crc32(drug)).
    critval_udf = F.udf(critval, T.DoubleType(), useArrow=False).asNondeterministic()

    return grouped.select(
        F.col(drug_col),
        critval_udf(
            F.col(drug_col).cast("string"),
            F.col("uniq_report_ids_by_drug"),
            F.col("n_i"),
            F.col("uniq_reports_total"),
        ).alias("critval"),
    )


def monte_carlo_filter(
    stage1: DataFrame,
    drug_col: str = "chembl_id",
    reaction_col: str = "reaction_reactionmeddrapt",
    permutations: int = 100,
    percentile: float = 0.95,
    seed: int = 42,
    meddra_col: str | None = "meddraCode",
    cache_stage1: bool = False,
) -> DataFrame:
    """Full stage 2: critvals -> broadcast join back (J5) -> P8 filter ->
    final projection [chembl_id, event, count, llr, critval(, meddraCode)].

    ``cache_stage1`` persists the input (the reference does, ETL.scala:27);
    measured at sf0.1 it's a wash for parquet-backed lineages (two pruned
    parallel scans ~= one cached pass), so it defaults off and the raw-JSON
    pipeline opts in where recomputing the flatten genuinely hurts.

    Reference: ``stage/MonteCarloSampling.scala:40-57``.
    """
    if cache_stage1:
        from pyspark import StorageLevel

        stage1 = stage1.persist(StorageLevel.MEMORY_AND_DISK)
    critvals = critical_values(
        stage1, drug_col, reaction_col, permutations, percentile, seed
    )
    out_cols = [
        F.col(drug_col),
        F.col(reaction_col).alias("event"),
        F.col("A").alias("count"),
        F.col("llr"),
        F.col("critval"),
    ]
    if meddra_col is not None and meddra_col in stage1.columns:
        out_cols.append(F.col(meddra_col))
    out = (
        stage1.join(F.broadcast(critvals), [drug_col], "inner")
        .where((F.col("llr") > F.col("critval")) & (F.col("critval") > 0))
        .select(*out_cols)
    )
    if cache_stage1:
        from .cache import attach_cached

        attach_cached(out, stage1)
    return out
