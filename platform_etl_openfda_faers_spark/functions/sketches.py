"""Portable, mergeable sketches beyond HLL++ (``approx_count_distinct``)
and the Bloom-prefilter join: KMV/theta set-expression sketches and a
portable HyperLogLog.

Every sketch is a fixed-size summary per group (mergeable across
partitions — the property that makes them 100 TB-safe: each executor
folds its partition and only summaries move, so driver traffic is
O(sketch), not O(data)), and every hash is the repo's portable 60-bit
md5 primitive, so each sketch replays bit-for-bit in the DuckDB oracle.
Error bounds are pinned by ``tests/test_sketches.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TWO60 = 1 << 60  # hash space of the 60-bit md5 primitive


def kmv_hashes(
    df: DataFrame, key_col: str, group_col: str, k: int = 256
) -> DataFrame:
    """Per-group KMV (k-minimum-values) sketch: the ``k`` smallest DISTINCT
    60-bit md5 hashes of ``key_col`` — (grp, hv, pos) rows, pos = 1..k.

    The KMV/theta family (Bar-Yossef et al. 2002; Dasgupta et al.,
    "Theta sketches") is the mergeable-summary answer to SET-EXPRESSION
    cardinality: unlike HLL registers (union-only), two KMV sketches
    support union AND intersection estimates — at 100 TB that is "how
    much do these two corpora overlap" without ever joining them.

    Plan shape: one DISTINCT on (grp, hash) — map-side partial dedup,
    one shuffle — then a per-group bottom-k window.  The ``pos <= k``
    rank filter triggers Catalyst's **WindowGroupLimit** pushdown
    (Spark 3.5+): every map task forwards only its LOCAL bottom-k per
    group before the shuffle, so the per-group reducer sorts at most
    ``#map-partitions x k`` rows — NOT the group's full hash universe.
    A hand-rolled salted two-phase bottom-k was measured structurally
    redundant against this (the optimizer's partial limit already
    bounds the reducer); the plan audit in ``test_plan_audits.py`` pins
    the pushdown so a Spark regression or a rewrite that breaks the
    rank-filter pattern gets caught.  Output is <= k rows per group
    regardless of corpus size (the sketch contract); the hash is the
    repo's portable 60-bit primitive, so the whole sketch replays
    bit-for-bit in the DuckDB oracle (same md5, same ordering).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    d = df.select(F.col(group_col).alias("grp"), h.alias("hv")).distinct()
    w = Window.partitionBy("grp").orderBy("hv")
    return d.withColumn("pos", F.row_number().over(w)).where(F.col("pos") <= k)


def kmv_pair_overlap(regs: DataFrame, k: int = 256) -> DataFrame:
    """Pairwise set-expression estimates from per-group KMV sketches:
    one row per unordered group pair (grp_a < grp_b) with

    - ``est_a`` / ``est_b`` — per-side distinct estimates,
    - ``est_union`` — KMV estimate over the k smallest of the combined
      (deduplicated) hash sets,
    - ``est_inter`` — theta-sketch intersection: with
      theta = min(theta_a, theta_b) (theta_g = h_k of side g, or 2^60
      when the side's sketch is unfilled and therefore exact), count the
      hashes present in BOTH sketches below theta and scale by
      2^60 / theta.

    Everything downstream of the sketches is O(k x #groups) rows — the
    pair enumeration, the union re-sketch and the intersection join all
    operate on sketch-sized data, so the operator's cost at 100 TB is
    the one DISTINCT inside ``kmv_hashes``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    per = regs.groupBy("grp").agg(
        F.count("*").alias("n"), F.max("hv").alias("hk")
    )
    theta = F.when(F.col("n") < k, F.lit(_TWO60)).otherwise(F.col("hk"))
    per = per.select("grp", "n", "hk", theta.alias("theta"))

    pa = per.select(
        F.col("grp").alias("grp_a"),
        F.col("n").alias("n_a"),
        F.col("hk").alias("hk_a"),
        F.col("theta").alias("theta_a"),
    )
    pb = per.select(
        F.col("grp").alias("grp_b"),
        F.col("n").alias("n_b"),
        F.col("hk").alias("hk_b"),
        F.col("theta").alias("theta_b"),
    )
    pairs = pa.join(pb, F.col("grp_a") < F.col("grp_b"))

    ra = regs.select(F.col("grp").alias("grp_a"), "hv")
    rb = regs.select(F.col("grp").alias("grp_b"), "hv")

    # union re-sketch: k smallest of the deduplicated combined hashes
    both = (
        pairs.select("grp_a", "grp_b")
        .join(ra, ["grp_a"])
        .select("grp_a", "grp_b", "hv")
        .union(
            pairs.select("grp_a", "grp_b")
            .join(rb, ["grp_b"])
            .select("grp_a", "grp_b", "hv")
        )
        .distinct()
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("hv")
    utop = both.withColumn("pos", F.row_number().over(w)).where(F.col("pos") <= k)
    uagg = utop.groupBy("grp_a", "grp_b").agg(
        F.count("*").alias("un"), F.max("hv").alias("uhk")
    )

    # intersection sample: hashes in BOTH sketches, below the pair theta
    inter = (
        pairs.select("grp_a", "grp_b", "theta_a", "theta_b")
        .join(ra, ["grp_a"])
        .join(rb, ["grp_b", "hv"])
        .where(F.col("hv") < F.least("theta_a", "theta_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count("*").alias("ni"))
    )

    out = (
        pairs.join(uagg, ["grp_a", "grp_b"], "left")
        .join(inter, ["grp_a", "grp_b"], "left")
        .na.fill({"ni": 0})
    )
    est_a = F.when(F.col("n_a") < k, F.col("n_a").cast("double")).otherwise(
        F.round(F.lit(float(k - 1) * float(_TWO60)) / F.col("hk_a"), 6)
    )
    est_b = F.when(F.col("n_b") < k, F.col("n_b").cast("double")).otherwise(
        F.round(F.lit(float(k - 1) * float(_TWO60)) / F.col("hk_b"), 6)
    )
    est_u = F.when(F.col("un") < k, F.col("un").cast("double")).otherwise(
        F.round(F.lit(float(k - 1) * float(_TWO60)) / F.col("uhk"), 6)
    )
    pair_theta = F.least("theta_a", "theta_b")
    est_i = F.round(
        F.col("ni") * F.lit(float(_TWO60)) / pair_theta.cast("double"), 6
    )
    return out.select(
        "grp_a",
        "grp_b",
        est_a.alias("est_a"),
        est_b.alias("est_b"),
        est_u.alias("est_union"),
        est_i.alias("est_inter"),
    )


# Registers per HyperLogLog sketch; the portable estimator's constants
# (alpha_64) are fixed for it.
_HLL_M = 64


def hll_portable_registers(df: DataFrame, key_col: str, group_col: str):
    """Per-group 64-register HyperLogLog from a PORTABLE hash — the
    HLL analogue of the portable Count-Min below: every step is integer /
    string arithmetic both Spark and an ANSI-SQL oracle compute
    identically, so (unlike ``approx_count_distinct``'s engine-specific
    HLL++ binary) the whole sketch replays bit-for-bit cross-engine.

    Hash: the repo's 60-bit md5 primitive (first 15 hex chars as bigint).
    bucket = h % 64; the remaining ``w = h div 64`` (< 2^54) yields
    rho = 55 - bitlength(w) (w = 0 → 55), computed EXACTLY via the
    binary-string length — no float log2 at bucket boundaries.  Registers
    are a max-aggregate: mergeable across partitions, fixed size per
    group, O(sketch) driver traffic — the 100 TB sketch contract.

    Returns (grp, bucket, m) rows for present buckets only; the estimator
    accounts for absent buckets arithmetically.
    """
    from pyspark.sql import functions as F

    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    rows = df.select(
        F.col(group_col).alias("grp"), h.alias("hv")
    ).select(
        "grp",
        (F.col("hv") % _HLL_M).alias("bucket"),
        F.expr(f"hv div {_HLL_M}").alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.bin(F.col("w")))
    )
    return rows.select("grp", "bucket", rho.alias("rho")).groupBy(
        "grp", "bucket"
    ).agg(F.max("rho").alias("m"))


def hll_portable_estimate(df: DataFrame, key_col: str, group_col: str) -> DataFrame:
    """(grp, hll_est): the HLL estimate off ``hll_portable_registers``.

    Float discipline: the harmonic denominator Σ 2^(-M_j) is scaled by
    2^55 so it becomes an EXACT integer sum (shiftleft, ≤ 2^61 — order-
    independent, partition-layout independent); the estimate is then ONE
    double division of that integer (α_m·m²·2^55 / denom — the α product
    is exact because ·4096 and ·2^55 are power-of-two scalings), rounded
    to 6.  Small-range linear counting (est ≤ 2.5m, empty buckets
    present) uses ln → round 6, same branch predicate in the oracle.
    """
    from pyspark.sql import functions as F

    regs = hll_portable_registers(df, key_col, group_col)
    hs = regs.groupBy("grp").agg(
        F.sum(F.expr("shiftleft(1L, 55 - m)")).alias("num_present"),
        F.count("*").alias("present"),
    )
    two55 = 36028797018963968  # 2^55
    denom = F.col("num_present") + (64 - F.col("present")) * F.lit(two55)
    v = F.lit(64) - F.col("present")
    raw = (F.lit(0.709) * F.lit(4096)) * F.lit(two55) / F.col("denom")
    est = F.when(
        (raw <= 160.0) & (v > 0),
        F.round(F.lit(64) * F.log(F.lit(64.0) / v), 6),
    ).otherwise(F.round(raw, 6))
    return hs.withColumn("denom", denom).select("grp", est.alias("hll_est"))
