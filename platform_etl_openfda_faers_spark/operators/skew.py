"""Skew-resilient join / aggregate building blocks.

FAERS key distributions are heavily skewed (blockbuster drugs, very common
reactions — SURVEY §4 flags ``drug_name`` as a hot-key join).  AQE's skew
join handles sort-merge partitions at runtime; these operators are the
explicit, planner-independent tools for the cases AQE can't fix:

- ``salted_join``: replicate the *small* side across ``salt`` buckets and
  spread the big side's hot keys uniformly over them — a single hot key
  becomes ``salt`` tasks instead of one straggler.  Exactly semantics-
  preserving for ``inner``/``left`` joins (every big row still meets every
  matching small row exactly once), so the DuckDB oracle is the plain join.
- ``salted_count_distinct``: exact two-phase distinct count per key —
  pre-partition the *values* by hash into disjoint salt buckets, count
  distinct within each (no bucket overlap => counts add), sum per key.  The
  shuffle key becomes (key, salt): a hot group's state splits ``salt`` ways.

Both are pure DataFrame compositions — deterministic (hash-derived salt,
never RNG) and no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``on``, hot-key-resilient.

    The big side gets a deterministic salt in ``[0, salt)`` from the hash of
    its whole row (uniform even when the join key is constant); the small
    side is exploded to every salt value.  The join condition becomes
    ``(on, _salt)`` so each hot key spreads over ``salt`` shuffle partitions.
    Supports ``inner`` and ``left`` (semantics identical to the unsalted
    join); the small side is replicated ``salt``x — keep it the dimension
    side.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    big_salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt))
    )
    small_salted = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))
    return big_salted.join(small_salted, [on, "_salt"], how).drop("_salt")


def salted_count_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    salt: int = 16,
) -> DataFrame:
    """Exact ``COUNT(DISTINCT value) GROUP BY key`` that survives hot keys,
    as (key, ``n_distinct``).

    Values are hash-partitioned into ``salt`` disjoint buckets, distinct-
    counted per (key, bucket), and summed per key — exact because a value
    lands in exactly one bucket.  Turns one giant per-key distinct state
    into ``salt`` bounded ones; the same shape Spark uses internally for
    multi-column distinct rewrites, made explicit and tunable.
    """
    bucketed = df.withColumn(
        "_vsalt", F.pmod(F.xxhash64(F.col(value_col)), F.lit(salt))
    )
    partial = bucketed.groupBy(group_col, "_vsalt").agg(
        F.countDistinct(value_col).alias("_partial")
    )
    return partial.groupBy(group_col).agg(
        F.sum("_partial").alias("n_distinct")
    )
