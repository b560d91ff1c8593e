"""Stored-index parameter-stamp contract (ADVICE r12).

Every stored-index family writes tables that a LATER session reads back
and serves from (``corpus_index=``).  A table built with different
parameters — an audio landmark index built with a smaller ``max_dt``
than the serve-time value, a chunk table from an older geometry — would
silently drop matches or change results.  The builder therefore stamps
an ``index_fp`` column (md5 over the family name + sorted build
parameters), and the serving path asserts it row-wise with a
filter-side ``assert_true`` — lazy, one constant comparison per index
row, and (unlike a projected-then-dropped assert column) NOT prunable by
Catalyst.  The four families here have fixed geometries identified by
family name + scalar build params.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def index_fingerprint(family: str, **params) -> str:
    """md5 over the family name and its sorted build parameters — the
    identity a stored table carries and a serving call must match."""
    text = family + "|" + ",".join(
        f"{k}={params[k]!r}" for k in sorted(params)
    )
    return hashlib.md5(text.encode()).hexdigest()


def stamp_index(df: DataFrame, family: str, **params) -> DataFrame:
    """Add the ``index_fp`` build-parameter stamp column (a constant —
    negligible parquet footprint after dictionary encoding)."""
    return df.withColumn(
        "index_fp", F.lit(index_fingerprint(family, **params))
    )


def guard_index(df: DataFrame, family: str, **params) -> DataFrame:
    """Assert a stored index was built by ``family`` with exactly these
    parameters.  Presence is checked eagerly (a pre-stamp table cannot
    be validated — rebuild it); the value check is a lazy filter
    predicate that raises on the first mismatching row."""
    assert "index_fp" in df.columns, (
        f"stored index lacks index_fp — rebuild it with the {family} "
        "builder (pre-stamp tables cannot be checked against the "
        "serve-time parameters)"
    )
    expected = index_fingerprint(family, **params)
    msg: Column = F.lit(
        f"stale stored index: index_fp does not match {family} with "
        f"params {dict(sorted(params.items()))} — rebuild the index with "
        "the parameters the serving call uses"
    )
    return df.where(
        F.assert_true(F.col("index_fp") == F.lit(expected), msg).isNull()
    )
