"""Flatten nested FAERS reports into (report, drug, reaction) pair rows.

Reference: ``stage/OpenFdaEtl.scala:64-108`` (``prepareAdverseEventsData``):
two ``explode``s produce the cross-product of a report's reactions x drugs
(L1), then each drug's synonym array explodes to one row per name (L2), with
normalization (F1-F8) and the reporter-qualification / suspect-drug /
death-report filters (P5, P6) applied as early as possible so Catalyst can
push them below the explodes where legal.

Scale note: explode multiplies rows (a report with 10 reactions x 5 drugs x
4 synonyms -> 200 rows).  Filtering *before* exploding (qualification is a
report-level field) keeps the blow-up bounded — the reference filters after
its wide projection; we filter report-level predicates pre-explode.

The exploded rows are hash-partitioned by ``safetyreportid`` once, just
before the final ``distinct()``: the distinct needs no exchange of its own,
and the pair table reaches ``contingency_llr`` already clustered by report,
which is what each of its count-distincts needs — so none of them shuffles
the pairs again (at ~130 GB of JSON, each such exchange moves about one pair
table).  Reports are bounded in size, so the partitioning adds no skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import (
    default_empty,
    default_empty_array,
    merged_name_array,
    normalize_term,
)

HEALTH_PROFESSIONAL_QUALIFICATIONS = ("1", "2", "3")
SUSPECT_DRUG_CHARACTERIZATION = "1"


def explode_reports(reports: DataFrame) -> DataFrame:
    """Narrow report rows -> one row per (report, reaction, drug-name).

    Input schema: the ``load_fda_reports`` projection (safetyreportid,
    qualification, seriousness_death, patient struct).
    """
    # Report-level predicates first (P5 qualification, P6 death) — cheaper
    # than filtering the exploded cross-product.
    qualified = reports.where(
        F.col("qualification").isin(*HEALTH_PROFESSIONAL_QUALIFICATIONS)
        & (F.col("seriousness_death") == "0")
        & F.col("safetyreportid").isNotNull()
    )

    # L1: one row per reaction, then one per drug (cross-product within a
    # report) — stage/OpenFdaEtl.scala:68-70.
    with_reaction = qualified.select(
        "safetyreportid",
        F.explode("patient.reaction").alias("reaction_struct"),
        F.col("patient.drug").alias("drugs"),
    ).select(
        "safetyreportid",
        normalize_term(F.col("reaction_struct.reactionmeddrapt")).alias(
            "reaction_reactionmeddrapt"
        ),
        F.explode("drugs").alias("drug_struct"),
    )

    # P5 (drug-level): suspect drug only — drugcharacterization = '1'.
    suspect = with_reaction.where(
        F.col("drug_struct.drugcharacterization") == SUSPECT_DRUG_CHARACTERIZATION
    )

    # F6-F8: merge medicinalproduct + openfda name arrays, dedup, explode (L2).
    names = merged_name_array(
        F.array(default_empty(F.lower(F.col("drug_struct.medicinalproduct")))),
        default_empty_array(F.col("drug_struct.openfda.generic_name")),
        default_empty_array(F.col("drug_struct.openfda.brand_name")),
        default_empty_array(F.col("drug_struct.openfda.substance_name")),
    )

    exploded = suspect.select(
        "safetyreportid",
        "reaction_reactionmeddrapt",
        F.explode(names).alias("raw_drug_name"),
    ).select(
        "safetyreportid",
        "reaction_reactionmeddrapt",
        F.lower(F.col("raw_drug_name")).alias("drug_name"),
    )

    # P6 null/empty guards — stage/OpenFdaEtl.scala:104-106; then the one
    # exchange, by report id (see the scale note).
    return (
        exploded.where(
            F.col("drug_name").isNotNull()
            & (F.col("drug_name") != "")
            & F.col("reaction_reactionmeddrapt").isNotNull()
            & (F.col("reaction_reactionmeddrapt") != "")
        )
        .repartition("safetyreportid")
        .distinct()
    )
