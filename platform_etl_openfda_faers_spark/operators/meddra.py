"""MedDRA preferred/low-level term enrichment (J3, J4, F5, A3).

Reference: ``stage/OpenFdaEtl.scala:167-191`` — left-outer join pair rows to
pt.asc on the reaction term, then to llt.asc, take the best-available code
(``coalesce(pt_code, llt_code)``), dedup to one row per (drug, reaction).

Both MedDRA tables are small dimension tables -> broadcast (the reference
relies on Spark auto-broadcast; we hint explicitly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def add_meddra_codes(
    df: DataFrame,
    preferred_terms: DataFrame,
    low_level_terms: DataFrame,
) -> DataFrame:
    """Attach ``meddraCode`` and dedup to one row per (``chembl_id``,
    ``reaction_reactionmeddrapt``)."""
    reaction_col = "reaction_reactionmeddrapt"
    joined = (
        df.join(
            F.broadcast(preferred_terms),
            df[reaction_col] == preferred_terms["pt_name"],
            "left_outer",
        )
        .join(
            F.broadcast(low_level_terms),
            df[reaction_col] == low_level_terms["llt_name"],
            "left_outer",
        )
        .withColumn("meddraCode", F.coalesce(F.col("pt_code"), F.col("llt_code")))
        .drop("pt_name", "llt_name", "pt_code", "llt_code")
    )
    # A3 — dropDuplicates on the pair key (OpenFdaEtl.scala:189).
    return joined.dropDuplicates(["chembl_id", reaction_col])


def stub_meddra_code(df: DataFrame) -> DataFrame:
    """No-MedDRA branch: constant empty code (OpenFdaEtl.scala:40-48)."""
    return df.withColumn("meddraCode", F.lit(""))
