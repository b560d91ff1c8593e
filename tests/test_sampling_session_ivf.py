"""Tests for the deterministic sampling operators, session windows (batch ==
streaming), and the IVF approximate-nearest-neighbor path."""

import pytest
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.operators import sampling, similarity
from platform_etl_openfda_faers_spark.sources.readers import load_table
from platform_etl_openfda_faers_spark.streaming import events as ev


# ---------------------------------------------------------------------------
# hash_sample / stratified_hash_sample


def test_hash_sample_deterministic_and_layout_independent(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    s1 = sorted(
        r.o_orderkey
        for r in sampling.hash_sample(orders, "o_orderkey", 0.1).collect()
    )
    s2 = sorted(
        r.o_orderkey
        for r in sampling.hash_sample(
            orders.repartition(7), "o_orderkey", 0.1
        ).collect()
    )
    assert s1 == s2
    assert len(s1) > 0


def test_hash_sample_fraction_close(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    total = orders.count()
    kept = sampling.hash_sample(orders, "o_orderkey", 0.2).count()
    # md5 buckets are ~uniform; allow generous tolerance at tiny SF
    assert 0.1 * total < kept < 0.3 * total


def test_hash_sample_keys_move_together(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    sampled = sampling.hash_sample(li, "l_orderkey", 0.2)
    # every orderkey is either fully in or fully out
    per_key = (
        li.groupBy("l_orderkey").agg(F.count("*").alias("n_all"))
        .join(
            sampled.groupBy("l_orderkey").agg(F.count("*").alias("n_kept")),
            ["l_orderkey"],
        )
        .where(F.col("n_all") != F.col("n_kept"))
    )
    assert per_key.count() == 0


def test_hash_sample_threshold_rounds_fraction(spark):
    """The bucket threshold is ``round(fraction * buckets)``: 0.57 * 10_000
    is 5699.999..., which truncation cuts to 5699, dropping every key in
    bucket 5699 (key 9524, and stratum 4 / key 15651, at seed 42).  Both
    samplers select exactly the keys of a plain-Python md5 replica."""
    import hashlib

    def bucket(key):
        return int(hashlib.md5(f"{key}#42".encode()).hexdigest()[:8], 16) % 10_000

    keys = range(20_000)
    df = spark.range(len(keys)).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    )
    plain = {r.k for r in sampling.hash_sample(df, "k", 0.57).collect()}
    assert 9524 in plain
    assert plain == {k for k in keys if bucket(k) < 5700}
    strat = {
        r.k for r in sampling.stratified_hash_sample(df, "k", "g", 0.57).collect()
    }
    assert 15651 in strat
    assert strat == {k for k in keys if bucket(f"{k % 7}|{k}") < 5700}


def test_stratified_sample_covers_strata(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    out = sampling.stratified_hash_sample(
        orders, "o_orderkey", "o_orderpriority", 0.3
    )
    n_strata = orders.select("o_orderpriority").distinct().count()
    got = out.select("o_orderpriority").distinct().count()
    assert got == n_strata


# ---------------------------------------------------------------------------
# session windows


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_sessions"))
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def test_temperature_sample_law_and_determinism(spark):
    """temperature_sample keeps ~rate*n^alpha rows per group, caps p at 1,
    is key-deterministic (re-running selects the identical set), and the
    alpha edge cases degrade to the documented laws."""
    rows = [(f"d{i}", "big" if i < 4000 else "small", i) for i in range(4200)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "i"])
    out = sampling.temperature_sample(df, "source", "doc_id", rate=2.0)
    got = out.groupBy("source").count().collect()
    by = {r["source"]: r["count"] for r in got}
    # big: n=4000 -> p = 2/sqrt(4000) ~ 0.0316 -> ~126 expected
    assert 60 <= by.get("big", 0) <= 220
    # small: n=200 -> p = 2/sqrt(200) ~ 0.1414 -> ~28 expected
    assert 10 <= by.get("small", 0) <= 55
    # determinism: identical membership on re-run and on a repartition
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {
        r["doc_id"]
        for r in sampling.temperature_sample(
            df.repartition(7), "source", "doc_id", rate=2.0
        ).collect()
    }
    assert ids1 == ids2
    # column order preserved through the internal name-join
    assert out.columns == df.columns
    # alpha=1: plain uniform rate (p = rate for every group)
    uni = sampling.temperature_sample(df, "source", "doc_id", rate=0.5, alpha=1.0)
    n_uni = uni.count()
    assert 1600 <= n_uni <= 2600
    # alpha=0: every group capped at ~rate rows; rate >= n keeps everything
    cap = sampling.temperature_sample(df, "source", "doc_id", rate=5000.0, alpha=0.0)
    assert cap.count() == 4200


def test_temperature_sample_keeps_null_group(spark):
    """NULL group_col rows are a real domain (r6 ADVICE fix): with
    alpha=1 and rate>=1 — documented as keep-everything — NULL-source
    rows must survive, and at alpha=0.5 they sample at the NULL domain's
    own rate instead of vanishing through the threshold equi-join."""
    rows = [(f"d{i}", None if i % 2 else "src", i) for i in range(100)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, i long"
    )
    kept = sampling.temperature_sample(
        df, "source", "doc_id", rate=1000.0, alpha=1.0
    )
    assert kept.count() == 100  # p capped at 1 for BOTH domains
    # sqrt-law: NULL domain (n=50) keeps ~2*sqrt(50)~14 of its rows
    part = sampling.temperature_sample(df, "source", "doc_id", rate=2.0)
    null_kept = part.where(F.col("source").isNull()).count()
    assert 0 < null_kept < 50
    # reserved internal names are rejected, not silently clobbered
    bad = df.withColumnRenamed("i", "_thr")
    with pytest.raises(ValueError, match="_thr"):
        sampling.temperature_sample(bad, "source", "doc_id", rate=2.0)


def test_session_streaming_equals_batch(spark, events_dir):
    batch = spark.read.schema(ev.EVENT_SCHEMA).parquet(events_dir)
    expected = sorted(map(tuple, ev.session_counts(batch).collect()))
    stream = ev.read_event_stream(spark, events_dir)
    got_df = ev.run_available_now(ev.session_counts(stream), "sessions_test")
    got = sorted(map(tuple, got_df.collect()))
    assert got == expected
    assert len(got) > 0


def test_session_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 1.0),  # same session (gap 10m < 30m)
        (1, "2024-01-01 01:00:00", 1.0),  # new session (gap 50m)
        (2, "2024-01-01 00:00:00", 1.0),  # separate user
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts_s", "value"]).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    out = {
        (r.user_id, r.session_start): r.n_events
        for r in ev.session_counts(df).collect()
    }
    assert out == {
        (1, "2024-01-01 00:00:00"): 2,
        (1, "2024-01-01 01:00:00"): 1,
        (2, "2024-01-01 00:00:00"): 1,
    }


# ---------------------------------------------------------------------------
# IVF ANN


def test_ivf_recall_on_testdata(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_is_subset_of_bruteforce_scores(spark, sf_dir):
    """Every IVF hit's score must equal the exact cosine (rerank is exact)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=10**6)
    approx = similarity.ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2)
    ex = {(r.query_id, r.neighbor_id): r.score for r in exact.collect()}
    for r in approx.collect():
        assert ex[(r.query_id, r.neighbor_id)] == r.score


def test_weighted_sample_topk_matches_formula(spark):
    """A-Res membership replicated independently in Python (hashlib md5 +
    math.pow) — exact row set and ordering key, not just counts."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.operators.sampling import (
        weighted_sample_topk,
    )

    rows = [(i, (i * 7) % 13 + 1) for i in range(200)]  # (id, weight 1..13)
    df = spark.createDataFrame(rows, ["doc_id", "wt"])
    got = weighted_sample_topk(
        df, weight=F.col("wt"), key=F.col("doc_id"), k=20, seed=42
    ).collect()

    def ares(i, w):
        h = int(hashlib.md5(f"{i}#42".encode()).hexdigest()[:15], 16)
        return math.pow((h + 1) / float(1 << 60), 1.0 / w)

    expect = sorted(
        ((ares(i, w), i, w) for i, w in rows), key=lambda t: (-t[0], t[1])
    )[:20]
    assert [(r.doc_id, r.w) for r in got] == [(i, float(w)) for _, i, w in expect]
    assert [r.ares_key for r in got] == [round(a, 6) for a, _, _ in expect]


def test_weighted_sample_rejects_reserved_column_collision(spark):
    """An input column named w / ares_key / _ares would come out duplicated
    and ambiguous — the operator must raise, not silently emit dupes."""
    import pytest
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.operators.sampling import (
        weighted_sample_topk,
    )

    for bad in ("w", "ares_key", "_ares"):
        df = spark.range(10).select(
            F.col("id").alias("doc_id"), F.lit(1.0).alias(bad)
        )
        with pytest.raises(ValueError, match=bad):
            weighted_sample_topk(df, F.lit(1.0), F.col("doc_id"), k=3)


def test_weighted_sample_plan_is_take_ordered(spark):
    """Global top-k must plan as TakeOrderedAndProject, not a full sort."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.operators.sampling import (
        weighted_sample_topk,
    )

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 9 + 1).alias("wt")
    )
    out = weighted_sample_topk(df, F.col("wt"), F.col("doc_id"), k=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "TakeOrderedAndProject" in buf.getvalue()


def test_weighted_sample_invariant_under_partitioning(spark):
    """The sampled set must not depend on partition layout — the property
    that distinguishes hash-derived uniforms from df.sample()'s
    per-partition RNG."""
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.operators.sampling import (
        weighted_sample_topk,
    )

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 17 + 1).alias("wt")
    )
    def sample(frame):
        return sorted(
            (r.doc_id, r.ares_key)
            for r in weighted_sample_topk(
                frame, F.col("wt"), F.col("doc_id"), k=25
            ).collect()
        )

    a = sample(df.repartition(1))
    b = sample(df.repartition(13, "doc_id"))
    c = sample(df.repartition(32))
    assert a == b == c and len(a) == 25


def test_kmeans_centroids_match_numpy_reference(spark):
    """Two Lloyd iterations must reproduce an independent NumPy
    implementation exactly (round-6 assignment scores, lowest-cell
    tie-break, decimal-exact means rounded to 6)."""
    import numpy as np
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.operators import similarity

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((120, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        ["vec_id", "embedding"],
    )
    k, iters = 4, 2
    got = {
        r.cell: list(r.centroid)
        for r in similarity.kmeans_centroids(
            df, k=k, iterations=iters
        ).collect()
    }

    cent = {i: vecs[i].copy() for i in range(k)}
    for _ in range(iters):
        members = {c: [] for c in cent}
        for i in range(120):
            scores = {
                c: round(
                    float(
                        vecs[i] @ v / (np.linalg.norm(vecs[i]) * np.linalg.norm(v))
                    ),
                    6,
                )
                for c, v in cent.items()
            }
            best = min(scores, key=lambda c: (-scores[c], c))
            members[best].append(i)
        cent = {
            c: np.round(np.mean(vecs[m], axis=0), 6)
            for c, m in members.items()
            if m
        }
    assert set(got) == set(cent)
    for c in cent:
        assert np.allclose(got[c], cent[c], atol=2e-6), c

    # partition-layout invariance: the decimal-sum update must not depend
    # on how rows are distributed
    got2 = {
        r.cell: list(r.centroid)
        for r in similarity.kmeans_centroids(
            df.repartition(13), k=k, iterations=iters
        ).collect()
    }
    assert got == got2
