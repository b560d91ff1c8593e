"""Error-bound tests for the sketch family (portable Count-Min, HLL,
KMV/theta): the published error guarantees ARE the contract being
tested, next to the exact oracle replay the registry queries get."""

from platform_etl_openfda_faers_spark.functions import sketches
from platform_etl_openfda_faers_spark.plans import benchmarks
from platform_etl_openfda_faers_spark.sources.readers import load_table


def test_count_min_bounds(spark, sf_dir):
    """The registry's portable Count-Min (d=3 rows x w=64 buckets) keeps
    the CM guarantee on every probed key: the estimate never
    undercounts, and overcounts by at most eps*N with eps = e/w."""
    import math

    n_total = load_table(spark, sf_dir, "lineitem").count()
    eps = math.e / 64
    rows = benchmarks.sketch_count_min_portable(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.est >= r.true_cnt, r
        assert r.est <= r.true_cnt + eps * n_total, (r, n_total)


def test_hll_portable_within_error_bound(spark):
    """The portable HLL's estimate lands within ~3 standard errors
    (sigma ~= 1.04/sqrt(64) ~= 13%) of the true distinct count, and the
    registers/estimate are identical under repartitioning (mergeable
    max-aggregate + exact integer harmonic sum)."""
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.functions.sketches import (
        hll_portable_estimate,
    )

    n = 5000
    df = spark.range(n).select(
        F.col("id").alias("k"), F.lit("g").alias("grp")
    )
    est = hll_portable_estimate(df, "k", "grp").collect()[0].hll_est
    assert abs(est / n - 1.0) < 0.4, est

    est2 = (
        hll_portable_estimate(df.repartition(17), "k", "grp")
        .collect()[0]
        .hll_est
    )
    assert est2 == est  # partition-layout independence, bit-exact


def test_kmv_estimate_bounds_and_exactness(spark):
    """KMV per-side estimate (``est_a``/``est_b`` of the pair operator)
    within ~3 standard errors (sigma ~= 1/sqrt(k-2) ~= 6.3% at k=256) of
    the true cardinality; an UNFILLED sketch is exact; the registers are
    partition-layout independent (distinct + global bottom-k)."""
    k = 256
    rows = [(0, i) for i in range(5000)] + [(9, i) for i in range(50)]
    df = spark.createDataFrame(rows, ["grp", "key"])
    regs = sketches.kmv_hashes(df, "key", "grp", k=k)
    est = sketches.kmv_pair_overlap(regs, k=k).collect()[0]
    assert abs(est.est_a / 5000 - 1.0) < 0.2, est
    assert est.est_b == 50.0  # unfilled -> exact

    regs2 = sketches.kmv_hashes(df.repartition(13), "key", "grp", k=k)
    a = sorted(map(tuple, regs.collect()))
    b = sorted(map(tuple, regs2.collect()))
    assert a == b  # layout-independent, bit-exact


def test_kmv_pair_overlap_estimates(spark):
    """Union/intersection estimates land within ~4 sigma of truth on two
    half-overlapping sets, and degenerate EXACTLY when both sketches are
    unfilled (theta = 2^60 -> the intersection sample IS the intersection)."""
    k = 256
    rows = [(0, i) for i in range(3000)] + [(1, i) for i in range(2000, 6000)]
    df = spark.createDataFrame(rows, ["grp", "key"])
    regs = sketches.kmv_hashes(df, "key", "grp", k=k)
    ov = sketches.kmv_pair_overlap(regs, k=k).collect()[0]
    assert abs(ov.est_union / 6000 - 1.0) < 0.25, ov
    # intersection variance is higher (smaller sample below theta)
    assert abs(ov.est_inter / 1000 - 1.0) < 0.5, ov

    small = [(0, i) for i in range(100)] + [(1, i) for i in range(60, 160)]
    sdf = spark.createDataFrame(small, ["grp", "key"])
    sregs = sketches.kmv_hashes(sdf, "key", "grp", k=k)
    sov = sketches.kmv_pair_overlap(sregs, k=k).collect()[0]
    assert sov.est_a == 100.0 and sov.est_b == 100.0
    assert sov.est_union == 160.0 and sov.est_inter == 40.0
