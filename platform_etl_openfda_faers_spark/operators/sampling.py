"""Stratified sampling side-output (A5, J6, J7).

Reference: ``stage/StratifiedSampling.scala`` — sample 10% of significant
results and 10% of all cleaned rows, full-outer-merge their ChEMBL id sets,
pull every cleaned row for those ids, then emit the raw reports for the
sampled report ids.

Fixes two reference quirks (SURVEY §2.10): #2 — unseeded ``sample()``
becomes an md5 bucket of the key (``hash_sample``), the same on any layout;
#4 — the reference stamps ``seriousnessdeath = lit(1)`` onto every sampled
raw report, which would make the sample unusable as pipeline input (the
death filter would drop everything); we preserve original fields.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(key: Column, seed: int = 42, buckets: int = 10_000) -> Column:
    """Deterministic bucket in [0, buckets) from a key column.

    md5-derived (first 8 hex chars -> long) so the identical expression can
    run in any engine (the DuckDB oracle replicates it verbatim) and the
    result is independent of partition layout, task retries, and Spark
    version — none of which hold for ``df.sample()``'s per-partition RNG.
    """
    h = F.conv(
        F.substring(F.md5(F.concat_ws("#", key.cast("string"), F.lit(str(seed)))), 1, 8),
        16,
        10,
    ).cast("long")
    return h % buckets


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: int = 42,
    buckets: int = 10_000,
) -> DataFrame:
    """Reproducible ~``fraction`` sample keyed on ``key_col``.

    The scale-friendly replacement for A5's unseeded ``sample()``
    (``stage/StratifiedSampling.scala:22-23``): a pure filter — no RNG
    state, pushes down to the scan, and re-runs select identical rows.
    Rows with equal keys are kept or dropped together (sample-by-key).
    """
    return df.where(hash_bucket(F.col(key_col), seed, buckets) < round(fraction * buckets))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    fraction: float,
    seed: int = 42,
    buckets: int = 10_000,
) -> DataFrame:
    """Per-stratum deterministic sample: the bucket is salted with the
    stratum, so each stratum draws an independent ~``fraction`` subset."""
    salted = F.concat_ws("|", F.col(stratum_col).cast("string"), F.col(key_col).cast("string"))
    return df.where(hash_bucket(salted, seed, buckets) < round(fraction * buckets))


def temperature_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    rate: float,
    alpha: float = 0.5,
    seed: int = 42,
    buckets: int = 10_000,
) -> DataFrame:
    """Temperature-based domain rebalancing — the standard data-mix
    resampling law for LLM training corpora: keep each row of group ``s``
    with probability ``p_s = min(1, rate * n_s^(alpha-1))``, so the
    expected kept volume per group is ``rate * n_s^alpha`` — sub-linear
    in group size for ``alpha < 1`` (big domains down-weighted, small
    domains kept whole).  ``alpha=0.5`` is sqrt-scaling mixing; ``alpha=1``
    is a plain uniform ``rate`` sample; ``alpha=0`` caps every group at
    ~``rate`` rows.

    Deterministic and oracle-replayable: membership is the md5 bucket of
    the row key against an INTEGER per-group threshold
    ``floor(buckets * p_s)``.  For ``alpha=0.5`` the threshold chain is
    sqrt -> divide -> multiply -> floor — every step correctly rounded
    IEEE double in both Spark and DuckDB, so thresholds are bit-identical
    cross-engine (general ``alpha`` uses ``pow``, which is NOT guaranteed
    correctly rounded across libm implementations — fine within one
    engine, but don't hash-compare it across engines).

    Scale shape: one map-side-combined count per group (a |groups|-row
    table joined back — AQE broadcasts it when small), then a map-only
    integer-threshold filter.  No per-row RNG state, reproducible across
    runs, partition layouts, and engines.

    NULL groups are a real group (r6 ADVICE fix): rows whose ``group_col``
    is NULL count as one domain and sample at that domain's rate — the
    threshold join is null-safe (``eqNullSafe``), where a plain equi-join
    would silently drop every NULL-group row regardless of ``rate``.
    """
    reserved = {"_thr", "_thr_group"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"temperature_sample reserves internal columns {sorted(reserved)}; "
            "rename them on the input frame first"
        )
    counts = df.groupBy(group_col).agg(F.count("*").alias("_n"))
    n = F.col("_n").cast("double")
    if alpha == 0.5:
        p = F.lit(float(rate)) / F.sqrt(n)
    elif alpha == 1.0:
        p = F.lit(float(rate))
    elif alpha == 0.0:
        p = F.lit(float(rate)) / n
    else:
        p = F.lit(float(rate)) * F.pow(n, F.lit(float(alpha) - 1.0))
    thr = counts.select(
        F.col(group_col).alias("_thr_group"),
        F.floor(F.lit(float(buckets)) * F.least(F.lit(1.0), p))
        .cast("long")
        .alias("_thr"),
    )
    out = df.join(
        thr, F.col(group_col).eqNullSafe(F.col("_thr_group"))
    ).where(hash_bucket(F.col(key_col), seed, buckets) < F.col("_thr"))
    # drop the join-side columns; restore the input column order
    return out.select(df.columns)


def stratified_sample_ids(
    significant: DataFrame,
    all_clean: DataFrame,
    fraction: float = 0.1,
    seed: int = 42,
    key: str = "chembl_id",
) -> DataFrame:
    """J6 — the union of two ``hash_sample`` key sets: ``fraction`` of the
    significant ids (salt ``seed``) and of all cleaned ids (``seed + 1``)."""
    return (
        hash_sample(significant.select(key), key, fraction, seed)
        .union(hash_sample(all_clean.select(key), key, fraction, seed + 1))
        .distinct()
    )


def sample_clean_rows(all_clean: DataFrame, sampled_ids: DataFrame, key: str = "chembl_id") -> DataFrame:
    """J7 — keep cleaned rows whose key is in the sampled id set.

    Expressed as ``left_semi`` (the reference uses an inner join against a
    deduped key list — semi-join by intent, SURVEY §2.4 J7); semi avoids
    duplicating rows if the id list ever carries duplicates and lets Spark
    broadcast the small side.
    """
    return all_clean.join(F.broadcast(sampled_ids), [key], "left_semi")


def sample_raw_reports(
    raw: DataFrame, sampled_clean: DataFrame, report_key: str = "safetyreportid"
) -> DataFrame:
    """Raw reports for the sampled report ids — fields unchanged.

    From ``pipeline.run`` these are ``load_fda_reports`` rows, so they carry
    exactly the pinned ``FAERS_SCHEMA`` fields, which is still valid
    pipeline input.

    No broadcast hint: the id list scales with the sampled fraction of the
    corpus (unbounded at 100 TB), unlike the drug-key list in
    ``sample_clean_rows`` whose cardinality is capped by the ChEMBL
    vocabulary.  AQE picks broadcast when the measured size allows.
    """
    ids = sampled_clean.select(report_key).distinct()
    return raw.join(ids, [report_key], "left_semi")


def weighted_sample_topk(
    df: DataFrame,
    weight: Column,
    key: Column,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """Weighted random sample WITHOUT replacement of ``k`` rows — the A-Res
    scheme (Efraimidis-Spirakis): each row draws a key ``u^(1/w)`` from a
    uniform ``u`` and the sample is the global top-k by that key, so
    inclusion probability is proportional to weight.  The canonical
    importance-sampling primitive of corpus curation (sample documents by
    quality score).

    The uniform is hash-derived from ``key`` + ``seed`` (md5, same
    expression any engine can replicate) rather than an RNG — fully
    deterministic across partitioning, retries, and engines, so the DuckDB
    oracle checks exact row membership, not just counts.  The global top-k
    plans as TakeOrderedAndProject (per-partition heaps + one k-row merge,
    no global sort shuffle).  Rows with weight <= 0 are excluded.

    Output: input columns + ``w`` (weight) + ``ares_key``.  Ranking uses
    the UNROUNDED key (rounding first would collapse the near-1.0 tail of
    ``u^(1/w)`` into mass ties and destroy the weighting); the emitted
    key is rounded to 6 per the transcendental-output discipline.  A
    last-ulp libm divergence could in principle flip the k-th boundary
    between engines — for hash-derived "generic" reals the odds are
    negligible (same argument as scoring round-6 everywhere else).

    ``w`` and ``ares_key`` are RESERVED output names (``_ares`` is reserved
    internally): an input column with any of those names would come out
    duplicated and ambiguous downstream, so the call raises instead.
    """
    reserved = {"w", "ares_key", "_ares"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"weighted_sample_topk reserves output columns {sorted(reserved)}; "
            "rename them on the input frame first"
        )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", key.cast("string"), F.lit(str(seed)))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    # uniform in (0, 1]: (h + 1) / 2^60
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    ares = F.pow(u, F.lit(1.0) / weight.cast("double"))
    return (
        df.where(weight > 0)
        .select("*", weight.cast("double").alias("w"), ares.alias("_ares"))
        .orderBy(F.col("_ares").desc(), key.asc())
        .limit(k)
        .select("*", F.round("_ares", 6).alias("ares_key"))
        .drop("_ares")
    )
