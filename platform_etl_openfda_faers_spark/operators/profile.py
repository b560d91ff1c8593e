"""One-pass table profiling (data-quality / dataset-card groundwork).

Per-column null counts, distinct counts, and min/max in a SINGLE
aggregate over ONE scan of the table — the long-format rows come from an
unpivot of the 1-row aggregate, not per-column re-scans (a
union-of-selects profiler re-reads the table once per column; at 100 TB
that is the difference between one pass and |columns| passes).

Distinct counts are exact ``countDistinct``, which Spark plans via an
Expand of |columns| copies — fine for profiling samples and small tables,
and every number is engine-exact, so the oracle-checked query compares
them directly.

The unpivot is built from TYPED Column expressions (``explode`` of an
array of per-column structs), never from interpolated SQL strings: the
internal aggregate aliases are INDEX-based (``_nulls_0`` ...), and the
emitted ``col_name`` is a ``lit`` — so column names containing spaces,
quotes, dots, or any other non-identifier characters profile correctly
(r6 ADVICE: the previous ``stack()``/``selectExpr`` formulation raised a
ParseException on a column named ``bad col`` and a quote in a name
corrupted the generated expression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NUMERIC_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal",
)


def _exact_col(name: str):
    """Column reference that resolves ``name`` VERBATIM: backtick-quoted
    with embedded backticks doubled, so dots stay literal and quotes /
    spaces never reach the attribute parser."""
    return F.col("`" + name.replace("`", "``") + "`")


def profile_table(df: DataFrame) -> DataFrame:
    """Long-format profile: one row per column of ``df`` with
    (col_name, n_rows, n_nulls, n_distinct, min_num, max_num, min_str,
    max_str) — numeric min/max as double, everything else as string,
    the other pair NULL."""
    cols = df.columns
    dtypes = dict(df.dtypes)
    # _exact_col resolves each name verbatim (a bare F.col/df[...] would
    # parse dots and backticks); aggregate aliases are positional so
    # arbitrary names never become identifiers
    aggs = [F.count(F.lit(1)).alias("_n")]
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = []
    for i, c in enumerate(cols):
        aggs.append(
            F.sum(F.when(_exact_col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"_nulls_{i}")
        )
        aggs.append(F.countDistinct(_exact_col(c)).cast("long").alias(f"_nd_{i}"))
        numeric = dtypes[c].startswith(_NUMERIC_PREFIXES)
        if numeric:
            aggs.append(F.min(_exact_col(c)).cast("double").alias(f"_min_{i}"))
            aggs.append(F.max(_exact_col(c)).cast("double").alias(f"_max_{i}"))
        else:
            aggs.append(F.min(_exact_col(c).cast("string")).alias(f"_min_{i}"))
            aggs.append(F.max(_exact_col(c).cast("string")).alias(f"_max_{i}"))
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"_nulls_{i}").alias("n_nulls"),
                F.col(f"_nd_{i}").alias("n_distinct"),
                (F.col(f"_min_{i}") if numeric else null_d).alias("min_num"),
                (F.col(f"_max_{i}") if numeric else null_d).alias("max_num"),
                (null_s if numeric else F.col(f"_min_{i}")).alias("min_str"),
                (null_s if numeric else F.col(f"_max_{i}")).alias("max_str"),
            )
        )
    one = df.agg(*aggs)
    return (
        one.select(
            F.col("_n").alias("n_rows"),
            F.explode(F.array(*structs)).alias("_p"),
        )
        .select(
            F.col("_p.col_name").alias("col_name"),
            "n_rows",
            F.col("_p.n_nulls").alias("n_nulls"),
            F.col("_p.n_distinct").alias("n_distinct"),
            F.col("_p.min_num").alias("min_num"),
            F.col("_p.max_num").alias("max_num"),
            F.col("_p.min_str").alias("min_str"),
            F.col("_p.max_str").alias("max_str"),
        )
    )
