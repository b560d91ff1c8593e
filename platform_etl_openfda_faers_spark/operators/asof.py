"""As-of (point-in-time) join — an operator the reference lacks but a
time-series/event pipeline needs (beyond-reference surface).

For each left row, attach the latest right row with ``right.time <=
left.time`` within the same ``by`` key (direction='backward'; 'forward' is
the mirror).

Spark-first implementation: the union-and-window trick — tag both sides,
union on (key, time), then ``last(right_payload, ignorenulls=True)`` over a
window ordered by (time, tag) with unbounded-preceding frame.  One shuffle
on the key, no range-condition join (a naive ``left.time >= right.time``
range join is O(n*m) per key and dies at scale); skewed keys are handled by
AQE since the shuffle is a plain hash partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Point-in-time join.  ``on`` = time column, ``by`` = equi-key.

    Returns every left row plus the as-of right payload columns (renamed
    with the suffix ``_right``), NULL when no right row precedes (backward) / follows
    (forward) it.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    right_cols = right_cols or [c for c in right.columns if c not in (on, by)]

    payload = F.struct(*[F.col(c) for c in right_cols])
    r = right.select(
        F.col(by),
        F.col(on).alias("_t"),
        F.lit(0).alias("_side"),
        payload.alias("_payload"),
    )
    l = left.select(
        F.col(by),
        F.col(on).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_left"),
    )
    r = r.withColumn("_left", F.lit(None).cast(l.schema["_left"].dataType))

    unioned = l.unionByName(r)
    if direction == "backward":
        # right rows sort before left rows at equal time (inclusive match)
        w = (
            Window.partitionBy(by)
            .orderBy(F.col("_t").asc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = unioned.withColumn(
            "_match", F.last("_payload", ignorenulls=True).over(w)
        )
    else:
        w = (
            Window.partitionBy(by)
            .orderBy(F.col("_t").desc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = unioned.withColumn(
            "_match", F.last("_payload", ignorenulls=True).over(w)
        )

    out = filled.where(F.col("_side") == 1)
    cols = [F.col(f"_left.{c}").alias(c) for c in left.columns]
    cols += [F.col(f"_match.{c}").alias(f"{c}_right") for c in right_cols]
    return out.select(*cols)
