"""Filter operators, including the broadcast blacklist anti-join.

Reference: J1 ``stage/OpenFdaEtl.scala:57-62`` — left_anti join of pair rows
against a curated reaction blacklist, right side broadcast (no shuffle of the
big side).  P7/P8 metric filters from ``stage/OpenFdaEtl.scala:157`` and
``stage/MonteCarloSampling.scala:53-54``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def anti_join_blacklist(pairs: DataFrame, blacklist: DataFrame) -> DataFrame:
    """Drop rows whose ``reaction_reactionmeddrapt`` appears in the
    blacklist's ``reactions`` column (J1).

    The blacklist is tiny (hundreds of terms) -> broadcast; the anti-join is
    then a map-side hash probe with zero shuffle of the large side — the
    only strategy that survives a 100 TB left side.
    """
    return pairs.join(
        F.broadcast(blacklist),
        pairs["reaction_reactionmeddrapt"] == blacklist["reactions"],
        "left_anti",
    )


def finite_metric(c: Column) -> Column:
    """``c IS NOT NULL AND NOT isnan(c)`` — P7 (OpenFdaEtl.scala:157)."""
    return c.isNotNull() & ~F.isnan(c)
