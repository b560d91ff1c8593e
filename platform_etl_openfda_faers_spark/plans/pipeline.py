"""End-to-end FAERS pipeline composer (reference: ``ETL.scala`` +
``stage/OpenFdaEtl.scala:16-55``).

Dataflow (SURVEY §3.2):

    load_chembl_drug_list  ─┐
    load_fda_reports ──> explode_reports ──> anti_join_blacklist ──> J2
        ──> persist (cleaned pairs)
             ├──> contingency_llr (exact A/B/C/D + llr) ──> meddra codes
             │    (or stub) ──> persist ──┬──> writers ("Unfiltered" stage 1)
             │                            └──> monte_carlo_filter ──> persist
             │                                 ──> writers (significant pairs)
             └──> stratified sample (optional; significant ids + raw
                  reports) ──> writers

Persist placement (all MEMORY_AND_DISK): the cleaned pairs, a raw-JSON
flatten that the contingency and the sample both read, so the JSON is parsed
once for them (the sampled raw reports take one more pass); stage 1, read by
its writer and the MC stage; and the MC output (reference:
``stage/OpenFdaEtl.scala:43,47``, ``ETL.scala:27``).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig, SamplingConfig
from ..operators.cache import attach_cached
from ..operators.contingency import contingency_llr
from ..operators.drugmap import map_to_chembl
from ..operators.filters import anti_join_blacklist
from ..operators.flatten import explode_reports
from ..operators.meddra import add_meddra_codes, stub_meddra_code
from ..operators.montecarlo import monte_carlo_filter
from ..operators.sampling import (
    sample_clean_rows,
    sample_raw_reports,
    stratified_sample_ids,
)
from ..sources import readers, writers


def clean_pairs(
    reports: DataFrame, drug_list: DataFrame, blacklist: DataFrame
) -> DataFrame:
    """Cleaned (report, drug, reaction) pairs: flatten -> blacklist anti-join
    -> ChEMBL synonym map.  Shared by stage 1 and the sampling side output
    (reference: ``stage/OpenFdaEtl.scala:30-41``)."""
    pairs = explode_reports(reports)
    pairs = anti_join_blacklist(pairs, blacklist)
    return map_to_chembl(pairs, drug_list)


def open_fda_stage1(
    pairs: DataFrame,
    meddra_pt: DataFrame | None = None,
    meddra_llt: DataFrame | None = None,
) -> DataFrame:
    """Stage 1 ("Unfiltered"): pair stats + llr over the ``clean_pairs``
    output, MedDRA-enriched if given.  ``run`` passes the persisted pairs,
    which the sampling side output reads too.
    """
    table = contingency_llr(pairs)
    if meddra_pt is not None and meddra_llt is not None:
        return add_meddra_codes(table, meddra_pt, meddra_llt)
    return stub_meddra_code(table)


def stratified_sampling_outputs(
    raw_reports: DataFrame,
    pairs: DataFrame,
    significant: DataFrame,
    sampling: SamplingConfig,
) -> tuple[DataFrame, DataFrame]:
    """The stratified-sampling side output (reference:
    ``stage/OpenFdaEtl.scala:50-53`` -> ``stage/StratifiedSampling.scala:14-41``).

    Sample ``fraction`` of significant ChEMBL ids and ``fraction`` of all
    cleaned ids by md5 bucket, union the key sets (J6), pull every cleaned
    row for those ids (J7), then the raw reports for the sampled report ids.
    Those are unchanged ``load_fda_reports`` rows, whose ``patient`` struct
    holds exactly the pinned ``readers.FAERS_SCHEMA`` fields — every field
    the flatten reads — so the sample is still valid pipeline input (quirk
    #4: the reference stamps ``seriousnessdeath = 1`` onto every sampled
    report, which would make it unusable as pipeline input).

    Returns (sampled_clean, sampled_raw).
    """
    ids = stratified_sample_ids(
        significant, pairs, fraction=sampling.fraction, seed=sampling.seed
    )
    sampled_clean = sample_clean_rows(pairs, ids)
    sampled_raw = sample_raw_reports(raw_reports, sampled_clean)
    return sampled_clean, sampled_raw


def run(spark: SparkSession, config: EngineConfig) -> DataFrame:
    """Full pipeline from config paths; returns the significant-pairs result."""
    fda = config.fda
    reports = readers.load_fda_reports(spark, fda.fda_data)
    drug_list = readers.load_chembl_drug_list(spark, fda.chembl_drugs)
    blacklist = readers.load_blacklist(spark, fda.blacklist)
    meddra_pt = meddra_llt = None
    if fda.meddra_path:
        meddra_pt = readers.load_meddra_preferred_terms(
            spark, f"{fda.meddra_path}/MedAscii/pt.asc"
        )
        meddra_llt = readers.load_meddra_low_level_terms(
            spark, f"{fda.meddra_path}/MedAscii/llt.asc"
        )

    pairs = clean_pairs(reports, drug_list, blacklist).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    stage1 = open_fda_stage1(pairs, meddra_pt, meddra_llt).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    result = monte_carlo_filter(
        stage1,
        permutations=fda.montecarlo.permutations,
        percentile=fda.montecarlo.percentile,
        seed=fda.montecarlo.seed,
    ).persist(StorageLevel.MEMORY_AND_DISK)

    if fda.output_path:
        writers.write_outputs(
            stage1, list(fda.outputs), f"{fda.output_path}/agg_by_chembl"
        )
        writers.write_outputs(
            result, list(fda.outputs), f"{fda.output_path}/agg_critval_drug"
        )

    if fda.sampling.enabled:
        sampled_clean, sampled_raw = stratified_sampling_outputs(
            reports, pairs, result, fda.sampling
        )
        if fda.output_path:
            writers.write_outputs(
                sampled_clean,
                list(fda.outputs),
                f"{fda.output_path}/sampled_clean",
            )
            writers.write_outputs(
                sampled_raw,
                list(fda.outputs),
                f"{fda.output_path}/sampled_raw_reports",
            )
    # stage1 and the pairs feed only this function: released here once the
    # outputs are written, else attached to result.  result stays persisted
    # for the caller and carries its own handle for caller-owned cleanup
    # (operators/cache.py contract).
    stage1_caches = [stage1, pairs]
    attach_cached(result, result)
    if fda.output_path:
        for h in stage1_caches:
            h.unpersist()
    else:
        attach_cached(result, *stage1_caches)
    return result
