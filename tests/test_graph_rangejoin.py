"""Unit tests: connected components (min-label fixpoint) and the binned
interval join (exact parity with a naive range-condition join)."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.operators.graph import (
    connected_components,
    connected_components_twophase,
)
from platform_etl_openfda_faers_spark.operators.rangejoin import interval_join


def test_connected_components_basic(spark):
    # two chains and an isolated edge: {1-2-3-4}, {10-11}, {20-21-22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        ["src", "dst"],
    )
    got = {
        (r["id"], r["comp"])
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_long_path_converges(spark):
    # a 12-node path needs multiple propagation rounds; all must collapse to 0
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["src", "dst"]
    )
    comp = connected_components(edges, "src", "dst")
    assert comp.select(F.collect_set("comp")).first()[0] == [0]
    assert comp.count() == 12


def test_twophase_matches_min_label_on_mixed_graph(spark):
    # chains, a clique, an isolated edge — both algorithms must agree exactly
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22),
             (30, 31), (31, 32), (30, 32), (40, 41)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = sorted(map(tuple, connected_components(df, "src", "dst").collect()))
    b = sorted(
        map(tuple, connected_components_twophase(df, "src", "dst").collect())
    )
    assert a == b


def test_twophase_long_path_converges_in_few_rounds(spark):
    # a 64-node path has diameter 63: min-label would need 63 rounds, the
    # two-phase rewrite must finish within its default 30-round budget
    # (O(log n) in practice)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["src", "dst"]
    )
    comp = connected_components_twophase(edges, "src", "dst")
    assert comp.select(F.collect_set("comp")).first()[0] == [0]
    assert comp.count() == 64


def test_twophase_random_graph_matches_min_label(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = sorted(map(tuple, connected_components(df, "src", "dst").collect()))
    b = sorted(
        map(tuple, connected_components_twophase(df, "src", "dst").collect())
    )
    assert a == b


def test_interval_join_matches_naive_range_join(spark):
    base = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, i % 3, base + timedelta(seconds=37 * i)) for i in range(40)],
        ["l_id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(j, j % 3, base + timedelta(seconds=11 * j)) for j in range(120)],
        ["r_id", "k", "r_ts"],
    )
    got = {
        (r["l_id"], r["r_id"])
        for r in interval_join(
            left, right, key="k", left_ts="ts", right_ts="r_ts",
            lower_s=-100.0, upper_s=50.0,
        ).collect()
    }
    naive = {
        (r["l_id"], r["r_id"])
        for r in left.join(
            right.withColumnRenamed("k", "k2"),
            (F.col("k") == F.col("k2"))
            & (F.unix_micros("r_ts") >= F.unix_micros("ts") - 100_000_000)
            & (F.unix_micros("r_ts") <= F.unix_micros("ts") + 50_000_000),
        ).collect()
    }
    assert got == naive and len(got) > 0


def test_connected_components_raises_when_not_converged(spark):
    # 12-node path has diameter 11; 3 rounds cannot reach the fixpoint and
    # returning the partial labels would be silently wrong (ADVICE r1)
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, "src", "dst", max_iterations=3)


def test_interval_join_rejects_submicrosecond_window(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, 1, datetime(2024, 1, 1))], ["l_id", "k", "ts"]
    )
    with pytest.raises(ValueError, match="microsecond"):
        interval_join(
            df, df.toDF("r_id", "k", "r_ts"), key="k",
            left_ts="ts", right_ts="r_ts", lower_s=0.0, upper_s=4e-7,
        )


def test_interval_join_left_outer_matches_naive(spark):
    base = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, i % 5, base + timedelta(seconds=200 * i)) for i in range(30)],
        ["l_id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(j, j % 3, base + timedelta(seconds=77 * j)) for j in range(40)],
        ["r_id", "k", "r_ts"],
    )
    got = {
        (r["l_id"], r["r_id"])
        for r in interval_join(
            left, right, key="k", left_ts="ts", right_ts="r_ts",
            lower_s=-60.0, upper_s=60.0, how="left_outer", left_id="l_id",
        ).collect()
    }
    naive = {
        (r["l_id"], r["r_id"])
        for r in left.join(
            right.withColumnRenamed("k", "k2"),
            (F.col("k") == F.col("k2"))
            & (F.unix_micros("r_ts") >= F.unix_micros("ts") - 60_000_000)
            & (F.unix_micros("r_ts") <= F.unix_micros("ts") + 60_000_000),
            "left_outer",
        ).collect()
    }
    assert got == naive
    # outer mode keeps every left row at least once
    assert {l for l, _ in got} == set(range(30))
    # and there is at least one unmatched left (null right id)
    assert any(r is None for _, r in got)


def test_interval_join_outer_synthetic_id_handles_duplicate_rows(spark):
    """Without left_id, a synthetic unique id must make outer/semi correct
    even when left rows are full duplicates (a caller-supplied non-unique
    id would silently suppress the unmatched twin)."""
    base = datetime(2024, 1, 1)
    # two IDENTICAL left rows; one right row matching both
    left = spark.createDataFrame(
        [(1, base), (1, base), (2, base + timedelta(hours=9))], ["k", "ts"]
    )
    right = spark.createDataFrame(
        [(1, base + timedelta(seconds=30), "hit")], ["k", "r_ts", "tag"]
    )
    out = interval_join(
        left, right, key="k", left_ts="ts", right_ts="r_ts",
        lower_s=0.0, upper_s=60.0, how="left_outer",
    )
    rows = sorted((r["k"], r["tag"]) for r in out.collect())
    # BOTH duplicate rows match; the k=2 row survives unmatched
    assert rows == [(1, "hit"), (1, "hit"), (2, None)]
    assert out.columns == ["k", "ts", "r_ts", "tag"]  # no synthetic leak
    semi = interval_join(
        left, right, key="k", left_ts="ts", right_ts="r_ts",
        lower_s=0.0, upper_s=60.0, how="left_semi",
    )
    assert sorted(r["k"] for r in semi.collect()) == [1, 1]
    assert semi.columns == ["k", "ts"]


def test_interval_join_accepts_ntz_timestamps(spark):
    # parquet micros with isAdjustedToUTC=0 read as TIMESTAMP_NTZ; the
    # operator must relabel to TIMESTAMP rather than fail analysis
    base = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, 0, base + timedelta(seconds=10 * i)) for i in range(5)],
        ["l_id", "k", "ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    right = left.toDF("r_id", "k", "r_ts")
    out = interval_join(
        left, right, key="k", left_ts="ts", right_ts="r_ts",
        lower_s=-5.0, upper_s=5.0,
    )
    # each row matches exactly itself (10s spacing > 5s tolerance)
    assert sorted((r["l_id"], r["r_id"]) for r in out.collect()) == [
        (i, i) for i in range(5)
    ]


def test_interval_join_left_semi_matches_naive(spark):
    base = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, i % 5, base + timedelta(seconds=200 * i)) for i in range(30)],
        ["l_id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(j, j % 3, base + timedelta(seconds=77 * j)) for j in range(40)],
        ["r_id", "k", "r_ts"],
    )
    got = sorted(
        r["l_id"]
        for r in interval_join(
            left, right, key="k", left_ts="ts", right_ts="r_ts",
            lower_s=-60.0, upper_s=60.0, how="left_semi", left_id="l_id",
        ).collect()
    )
    naive = sorted(
        r["l_id"]
        for r in left.join(
            right.withColumnRenamed("k", "k2"),
            (F.col("k") == F.col("k2"))
            & (F.unix_micros("r_ts") >= F.unix_micros("ts") - 60_000_000)
            & (F.unix_micros("r_ts") <= F.unix_micros("ts") + 60_000_000),
            "left_semi",
        ).collect()
    )
    assert got == naive and len(got) > 0
    assert len(got) == len(set(got))  # at most once per left row


def test_interval_join_pre_epoch_timestamps(spark):
    """Timestamps before 1970 make unix_micros negative, where integer
    division truncates toward zero instead of flooring — bin boundaries
    around zero widen, but coverage stays exact (division is monotone, the
    left explode spans lo_bin..hi_bin, and the precise predicate re-checks
    survivors).  Lock that in."""
    base = datetime(1969, 12, 31, 23, 59)  # straddles the epoch
    left = spark.createDataFrame(
        [(i, i % 2, base + timedelta(seconds=37 * i)) for i in range(20)],
        ["l_id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(j, j % 2, base + timedelta(seconds=11 * j)) for j in range(40)],
        ["r_id", "k", "r_ts"],
    )
    got = {
        (r["l_id"], r["r_id"])
        for r in interval_join(
            left, right, key="k", left_ts="ts", right_ts="r_ts",
            lower_s=-45.0, upper_s=45.0,
        ).collect()
    }
    naive = {
        (r["l_id"], r["r_id"])
        for r in left.join(
            right.withColumnRenamed("k", "k2"),
            (F.col("k") == F.col("k2"))
            & (F.unix_micros("r_ts") >= F.unix_micros("ts") - 45_000_000)
            & (F.unix_micros("r_ts") <= F.unix_micros("ts") + 45_000_000),
        ).collect()
    }
    assert got == naive and len(got) > 0


def test_pagerank_matches_numpy_reference(spark):
    """Fixed-iteration PageRank equals a NumPy power-iteration reference
    (same no-dangling-redistribution convention, same per-step rounding);
    its two cached inputs are attached for release, exactly once."""
    from platform_etl_openfda_faers_spark.operators.cache import (
        unpersist_cached,
    )
    from platform_etl_openfda_faers_spark.operators.graph import pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    ranks = pagerank(spark.createDataFrame(edges, ["src", "dst"]), iterations=3)
    got = {r.node: r.rank for r in ranks.collect()}
    assert unpersist_cached(ranks) == 2   # edge projection + node list
    assert unpersist_cached(ranks) == 0   # second call is a no-op

    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    out = {n: [] for n in nodes}
    for s, d_ in edges:
        out[s].append(d_)
    from decimal import Decimal

    n = len(nodes)
    r = {nd: round(1.0 / n, 10) for nd in nodes}
    for _ in range(3):
        # mirror the engine's evaluation order exactly: contributions
        # rounded to 12, summed EXACTLY (decimal), then one fused
        # base + damping*s expression rounded to 10
        contribs = {nd: [] for nd in nodes}
        for s in nodes:
            for d_ in out[s]:
                contribs[d_].append(round(r[s] / len(out[s]), 12))
        r = {
            nd: round(
                (1.0 - 0.85) / n
                + 0.85 * float(sum(Decimal(repr(c)) for c in contribs[nd])),
                10,
            )
            for nd in nodes
        }
    expect = {nd: float(r[nd]) for nd in nodes}
    assert got == expect, (got, expect)
    # ranks form a probability-like vector (dangling leak keeps sum <= 1)
    assert 0.5 < sum(got.values()) <= 1.000001
