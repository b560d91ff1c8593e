"""Similarity-search tests: exact top-k values, LSH recall vs the exact
baseline, bucket determinism."""

import pytest
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.operators import similarity


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [0.7, 0.7, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (5, [0.95, 0.05, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk_ordering(vecs):
    out = similarity.brute_force_topk(vecs, vecs.where(F.col("vec_id") == 0), k=3)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [5, 1, 3]
    assert rows[0].score > rows[1].score > rows[2].score
    assert all(r.query_id == 0 for r in rows)


def test_lsh_recall_on_testdata(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.hyperplane_lsh_topk(
        emb, queries, k=5, n_planes=4, n_tables=8
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_lsh_buckets_deterministic(spark, vecs):
    b1 = similarity.add_lsh_buckets(vecs, "embedding", n_planes=4, n_tables=2, dim=4)
    b2 = similarity.add_lsh_buckets(
        vecs.repartition(3), "embedding", n_planes=4, n_tables=2, dim=4
    )
    assert sorted(
        (r.vec_id, r.table, r.bucket) for r in b1.collect()
    ) == sorted((r.vec_id, r.table, r.bucket) for r in b2.collect())


def test_cosine_near_duplicates_symmetric_pairs(vecs):
    out = similarity.cosine_near_duplicates(
        vecs, threshold=0.99, n_planes=2, n_tables=4
    )
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 5) in pairs or (1, 5) in pairs  # the tight cluster collides
    assert all(a < b for a, b in pairs)


def test_quantize_int8_bounds_and_dequant_error(spark):
    """q in [-127,127]; dequantized q*scale within scale/2 of the input
    per element; zero vectors quantize to scale 0 with all-zero q."""
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.functions.vectors import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -1.25, 3.0, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        ["vec_id", "e"],
    )
    scale, q = quantize_int8(F.col("e"))
    rows = {r.vec_id: r for r in df.select("vec_id", "e", scale.alias("s"), q.alias("q")).collect()}
    r1 = rows[1]
    assert all(-127 <= x <= 127 for x in r1.q)
    assert max(abs(x) for x in r1.q) == 127  # absmax element hits full range
    for orig, qi in zip(r1.e, r1.q):
        assert abs(qi * r1.s - orig) <= r1.s / 2 + 1e-12
    r2 = rows[2]
    assert r2.s == 0.0 and r2.q == [0, 0, 0, 0]


def test_pq_adc_recall_and_map_only_encode(spark, sf_dir):
    """PQ-ADC approximate top-k: (a) the encode stage must be map-only
    off broadcast codebooks (zero Exchange between scan and codes);
    (b) ADC top-5 must overlap substantially with exact brute-force
    top-5 (the embeddings are near-uniform unit vectors, a hard case —
    require mean recall well above the ~8/2000-per-neighbor chance
    level); (c) codebooks have m*k rows of width dim/m."""
    import contextlib
    import io
    import re

    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.operators import similarity
    from platform_etl_openfda_faers_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebooks(emb, dim=64, m=4, k=8, iterations=1)
    rows = cb.collect()
    assert len(rows) <= 4 * 8 and {r.sub for r in rows} == {0, 1, 2, 3}
    assert all(len(r.centroid) == 16 for r in rows)

    # map-only claim is about the CORPUS path: with materialized
    # codebooks (as at scale, where trained codebooks are tiny literals)
    # the encode plan must scan embeddings once and shuffle nothing by
    # hash — the only exchanges are the m bounded SinglePartition
    # collapses of the 8-row codebooks into broadcast arrays
    cb_lit = spark.createDataFrame(rows, cb.schema)
    enc = similarity.pq_encode(emb, cb_lit, dim=64, m=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        enc.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange hashpartitioning" not in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan

    queries = emb.where(F.col("vec_id") < 10)
    adc = similarity.pq_adc_topk(emb, queries, cb, k=5, dim=64, m=4)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    adc_n = {(r.query_id, r.neighbor_id) for r in adc.collect()}
    ex_n = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(adc_n & ex_n) / len(ex_n)
    assert recall >= 0.2, recall


def test_ivf_pq_prunes_candidates_and_overlaps_adc(spark, sf_dir):
    """The composed IVF-PQ must (a) score strictly fewer pairs than
    unpruned ADC (cells prune), (b) stay deterministic across partition
    layouts, (c) rank by the same ADC scores — every (query, neighbor,
    score) it returns must carry the identical score the unpruned ADC
    assigns that pair."""
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.operators import similarity
    from platform_etl_openfda_faers_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    queries = emb.where(F.col("vec_id") < 10)
    coarse = similarity.kmeans_centroids(emb, k=8, iterations=1)
    cb = similarity.pq_codebooks(emb, dim=64, m=4, k=8, iterations=1)

    ivfpq = similarity.ivf_pq_topk(
        emb, queries, coarse, cb, k=5, nprobe=3, dim=64, m=4
    )
    rows = ivfpq.collect()
    assert {r.query_id for r in rows} == set(range(10))
    assert all(1 <= r.rank <= 5 for r in rows)

    # candidate pruning: with 8 cells and nprobe=3, each query scores a
    # strict subset of the corpus (cells partition the corpus)
    c = emb.select(
        F.col("vec_id").alias("_nid"),
        F.col("embedding").cast("array<double>").alias("_v"),
    )
    c_cells = similarity.ivf_cells(c, coarse, "_nid", "_v", nprobe=1)
    probed = (
        c_cells.groupBy("cell").count().orderBy(F.desc("count")).collect()
    )
    top3 = sum(r["count"] for r in probed[:3])
    assert top3 < n  # even the worst-case probe set is a strict subset

    # score agreement with unpruned ADC on the returned pairs
    adc = similarity.pq_adc_topk(emb, queries, cb, k=n, dim=64, m=4)
    adc_scores = {
        (r.query_id, r.neighbor_id): r.score
        for r in adc.where(F.col("query_id") < 10).collect()
    }
    for r in rows:
        assert adc_scores[(r.query_id, r.neighbor_id)] == r.score, r

    # layout independence
    again = {
        (r.query_id, r.neighbor_id, r.score, r.rank)
        for r in similarity.ivf_pq_topk(
            emb.repartition(7), queries, coarse, cb, k=5, nprobe=3,
            dim=64, m=4,
        ).collect()
    }
    assert again == {(r.query_id, r.neighbor_id, r.score, r.rank) for r in rows}


def test_frozen_centroid_append_is_content_addressed(spark, sf_dir):
    """The incremental-IVF property: appending a batch to a frozen-centroid
    index must not move ANY existing corpus vector's cell assignment —
    assignments are content-addressed (vector x centroids), so the corpus
    side of the index is persistable and only batch vectors need scoring
    at ingest.  Also pins that corpus-only training differs from
    full-set training (the query is exercising a real frozen index, not
    accidentally retraining)."""
    from platform_etl_openfda_faers_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).limit(200)
    corpus = emb.where(F.col("vec_id") % 7 != 0)
    cent = similarity.kmeans_centroids(corpus, k=8, iterations=1)

    c = corpus.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("_v"),
    )
    full = emb.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("_v"),
    )
    corpus_only = {
        (r._id, r.cell)
        for r in similarity.ivf_cells(c, cent, "_id", "_v", nprobe=1).collect()
    }
    with_batch = {
        (r._id, r.cell)
        for r in similarity.ivf_cells(full, cent, "_id", "_v", nprobe=1).collect()
        if r._id % 7 != 0
    }
    assert corpus_only == with_batch and corpus_only

    full_cent = {
        tuple(r.centroid)
        for r in similarity.kmeans_centroids(emb, k=8, iterations=1).collect()
    }
    frozen = {tuple(r.centroid) for r in cent.collect()}
    assert frozen != full_cent

def test_semantic_incremental_law(spark, sf_dir):
    """The incremental SemDeDup form's defining law: within FROZEN
    corpus-trained cells, its output equals the full within-cell pair
    join over the union restricted to batch-touching pairs — and
    batch-batch doubles collapse via the normalized DISTINCT (cosine
    commutes exactly)."""
    from platform_etl_openfda_faers_spark.functions.vectors import cosine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    is_new = F.col("vec_id") % 7 == 0
    cent = similarity.kmeans_centroids(
        emb.where(~is_new), k=8, iterations=2
    )
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cells = similarity.ivf_cells(v, cent, "vec_id", "e", nprobe=1)
    a = cells.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("e_a"), "cell"
    )
    b = cells.select(
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("e_b"),
        F.col("cell").alias("cell_b"),
    )
    full = (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select(
            "id_a",
            "id_b",
            "cell",
            F.round(cosine(F.col("e_a"), F.col("e_b")), 6).alias("score"),
        )
        .where(F.col("score") >= 0.2)
    )
    want = {
        (r.id_a, r.id_b): (r.cell, r.score)
        for r in full.collect()
        if r.id_a % 7 == 0 or r.id_b % 7 == 0
    }
    got = {
        (r.id_a, r.id_b): (r.cell, r.score)
        for r in similarity.semantic_near_duplicates_incremental(
            emb.where(is_new), emb.where(~is_new), threshold=0.2
        ).collect()
    }
    assert got == want
    assert got  # harness must produce batch-touching pairs
    assert all(x % 7 == 0 or y % 7 == 0 for x, y in got)


def test_ivf_cells_keep_passthrough(spark):
    """keep= carries extra input columns through the assignment unchanged
    and does not perturb the assignment itself — the explicit-threading
    contract the incremental SemDeDup batch flag relies on (referencing a
    dropped column downstream only works via implicit missing-reference
    resolution and breaks the moment a barrier lands inside ivf_cells)."""
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0], i % 2 == 0) for i in range(8)],
        ["_id", "_v", "flag"],
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["cell", "centroid"]
    )
    plain = {
        r._id: r.cell
        for r in similarity.ivf_cells(vecs, cent, "_id", "_v", nprobe=1).collect()
    }
    kept = similarity.ivf_cells(
        vecs, cent, "_id", "_v", nprobe=1, keep=("flag",)
    ).collect()
    assert {r._id: r.cell for r in kept} == plain
    assert all(r.flag == (r._id % 2 == 0) for r in kept)
    # the kept column must survive a downstream filter + barrier
    df = similarity.ivf_cells(vecs, cent, "_id", "_v", nprobe=1, keep=("flag",))
    assert df.where(F.col("flag")).distinct().count() == 4


def test_ivf_topk_from_stored_parquet_index(spark, sf_dir, tmp_path):
    """The stored-index contract for the ANN family, end-to-end through
    REAL storage (the IVF analogue of the simhash64 stored-index test):
    write the corpus's ivf_index_table to parquet partitioned on cell —
    the assignment table a production vector index computes once at
    ingest next to its frozen centroids — re-run ivf_topk with
    corpus_cells= the stored table, and assert (a) results are IDENTICAL
    to the recompute path and (b) the stored run's plan never touches the
    corpus embedding source: every embeddings.parquet scan carries the
    QUERY predicate, the corpus side is the index parquet scan."""
    from platform_etl_openfda_faers_spark.sources import writers

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 7 != 0)
    queries = emb.where(F.col("vec_id") % 7 == 0)
    cent = similarity.kmeans_centroids(corpus, k=8, iterations=2)
    # freeze the trained centroids to a concrete table so both runs (and
    # the stored index) share bit-identical cells without re-training
    cent = spark.createDataFrame(cent.collect(), schema=cent.schema)

    idx_path = str(tmp_path / "ivf_index")
    writers.write_partitioned(
        similarity.ivf_index_table(corpus, cent), idx_path, ["cell"]
    )
    stored_idx = spark.read.parquet(idx_path)

    recompute = similarity.ivf_topk(
        corpus, queries, k=5, nprobe=3, centroids=cent
    )
    from_store = similarity.ivf_topk(
        None, queries, k=5, nprobe=3, centroids=cent, corpus_cells=stored_idx
    )
    a = sorted(map(tuple, recompute.collect()))
    b = sorted(map(tuple, from_store.collect()))
    assert a == b
    assert a, "harness must produce at least one neighbor"

    # Plan contract: the stored run reads embeddings ONLY for the query
    # batch (vec_id % 7 = 0); the corpus vectors come from the index scan
    # (c_vec present in a FileScan's read schema).
    plan = from_store._jdf.queryExecution().executedPlan().toString()
    emb_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "embeddings.parquet" in ln
    ]
    assert emb_scans, plan
    for ln in emb_scans:
        assert "% 7) = 0" in ln and "NOT " not in ln, ln
    assert any(
        "FileScan" in ln and "c_vec" in ln for ln in plan.splitlines()
    ), plan
    # control: the recompute plan DOES read corpus embeddings (NOT side)
    rplan = recompute._jdf.queryExecution().executedPlan().toString()
    assert any(
        "embeddings.parquet" in ln and "NOT " in ln
        for ln in rplan.splitlines()
        if "FileScan" in ln
    ), rplan

    # misuse guards: exactly one corpus form
    with pytest.raises(AssertionError):
        similarity.ivf_topk(corpus, queries, centroids=cent,
                            corpus_cells=stored_idx)
    with pytest.raises(AssertionError):
        similarity.ivf_topk(None, queries, centroids=cent)

    # stale-index guard: serving with centroids that differ from the ones
    # the stored index was built with must fail LOUDLY at execution, not
    # silently change results (r11 ADVICE)
    other_cent = spark.createDataFrame(
        [(int(r.cell), [float(x) + 0.5 for x in r.centroid])
         for r in cent.collect()],
        schema=cent.schema,
    )
    stale = similarity.ivf_topk(
        None, queries, k=5, nprobe=3, centroids=other_cent,
        corpus_cells=stored_idx,
    )
    with pytest.raises(Exception, match="stale IVF index"):
        stale.collect()
    # and a fingerprint-less table (pre-contract index) is rejected up
    # front instead of served unchecked
    with pytest.raises(AssertionError, match="index_fp"):
        similarity.ivf_topk(
            None, queries, centroids=cent,
            corpus_cells=stored_idx.drop("index_fp"),
        )


def test_cell_occupancy_invariants(spark, sf_dir):
    """emb_cell_occupancy: occupancy accounts for EVERY corpus vector
    exactly once, the integer permille columns replay from the counts,
    the rank is count-descending with cell tie-break, and every reported
    cell is a real trained centroid."""
    from platform_etl_openfda_faers_spark.operators import similarity
    from platform_etl_openfda_faers_spark.plans.benchmarks import (
        emb_cell_occupancy,
    )

    rows = emb_cell_occupancy(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    total = emb.count()
    assert sum(r.n_vectors for r in rows) == total
    assert len(rows) <= 8
    for r in rows:
        assert r.share_permille == (r.n_vectors * 1000) // total
        assert r.load_permille == (r.n_vectors * 8 * 1000) // total
    ranked = sorted(rows, key=lambda r: (-r.n_vectors, r.cell))
    assert [r.occ_rank for r in ranked] == list(range(1, len(rows) + 1))
    cent_cells = {
        c.cell
        for c in similarity.kmeans_centroids(emb, k=8, iterations=2).collect()
    }
    assert {r.cell for r in rows} <= cent_cells


def test_plane_lit_bit_identical(spark):
    """r16 #18: the one-call SQL-literal hyperplane (`_plane_lit`) must
    produce the BIT-identical array<double> the former element-wise
    ``F.array(*[F.lit(float(x))])`` form produced — repr is the shortest
    round-trip decimal and the ``...D`` literal parses it back exactly.
    Checked over every plane the LSH family actually uses (all tables of
    the emb_lsh_ann / multiprobe / sparse configs)."""
    import struct

    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.operators.similarity import (
        _plane_lit,
        random_hyperplanes,
    )

    planes = []
    for n_planes, n_tables, seed, dim in [
        (4, 8, 42, 64),   # emb_lsh_ann
        (6, 3, 42, 64),   # emb_lsh_multiprobe_topk
        (8, 2, 42, 64),   # add_lsh_buckets defaults
        (6, 4, 7, 32),    # off-default shape
    ]:
        for t in range(n_tables):
            planes.extend(random_hyperplanes(dim, n_planes, seed + t))
    one = spark.range(1)
    for i in range(0, len(planes), 16):
        batch = planes[i : i + 16]
        row = one.select(
            *[_plane_lit(p).alias(f"n{j}") for j, p in enumerate(batch)],
            *[
                F.array(*[F.lit(float(x)) for x in p]).alias(f"o{j}")
                for j, p in enumerate(batch)
            ],
        ).head()
        for j, p in enumerate(batch):
            new, old = row[f"n{j}"], row[f"o{j}"]
            assert [struct.pack("<d", x) for x in new] == [
                struct.pack("<d", x) for x in old
            ], f"plane {i + j}: SQL literal round-trip changed a double"


def test_bucket_key_sql_matches_columnwise(spark, sf_dir):
    """r16 #18 (part 2): the single-``F.expr`` bucket key must equal the
    former column-wise construction (per-plane higher-order dot +
    when/otherwise sum) bit-for-bit on real embeddings, across every
    (n_planes, n_tables) geometry the registry uses."""
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.functions.vectors import dot
    from platform_etl_openfda_faers_spark.operators.similarity import (
        _bucket_key,
        _plane_lit,
        random_hyperplanes,
    )

    def columnwise_key(vec_col, planes):
        key = F.lit(0).cast("long")
        for i, plane in enumerate(planes):
            bit = F.when(
                F.round(dot(vec_col, _plane_lit(plane)), 6) >= 0,
                F.lit(1 << i),
            ).otherwise(F.lit(0))
            key = key + bit.cast("long")
        return key

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    v_sql = "CAST(`e` AS ARRAY<DOUBLE>)"
    v_col = F.col("e").cast("array<double>")
    checks = []
    for n_planes, n_tables in [(4, 8), (6, 3), (8, 4)]:
        for t in range(n_tables):
            planes = random_hyperplanes(64, n_planes, 42 + t)
            checks.append(
                _bucket_key(v_sql, planes) == columnwise_key(v_col, planes)
            )
    all_equal = checks[0]
    for c in checks[1:]:
        all_equal = all_equal & c
    bad = emb.where(~all_equal).count()
    assert bad == 0, "SQL bucket key diverged from column-wise form"


def test_ranked_cells_sql_matches_columnwise(spark, sf_dir):
    """r17 (the r16 #18 recipe applied to the PQ/IVF builders): the
    single-``F.expr`` centroid argmax ranking used by ``ivf_cells`` /
    ``pq_encode`` must equal the former column-wise construction
    (higher-order ``transform`` with nested cosine lambdas) bit-for-bit
    on real embeddings — struct order, rounding, and tie-breaks
    included."""
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.functions.vectors import cosine
    from platform_etl_openfda_faers_spark.operators.similarity import (
        _ranked_cells_sql,
        _sql_ident,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_v")
    )
    cent = kmeans_centroids(emb, "vec_id", "_v", k=8, iterations=1)
    cent_arr = cent.groupBy().agg(
        F.collect_list(F.struct(F.col("cell"), F.col("centroid"))).alias("_cents")
    )

    def columnwise_ranked(vec_col, sd):
        return F.sort_array(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    (-F.round(cosine(vec_col, c["centroid"]), sd)).alias(
                        "_neg_score"
                    ),
                    c["cell"].alias("cell"),
                ),
            )
        )

    joined = emb.join(F.broadcast(cent_arr))
    for sd in (6, 4):
        sql_form = F.expr(_ranked_cells_sql("_cents", _sql_ident("_v"), sd))
        bad = joined.where(
            sql_form.cast("string") != columnwise_ranked(F.col("_v"), sd).cast("string")
        ).count()
        assert bad == 0, f"SQL ranked-cells diverged from column-wise form (sd={sd})"


def test_pq_lut_sql_matches_columnwise(spark, sf_dir):
    """r17: the one-``F.expr`` ADC lookup-table entry (rounded subspace
    dot) must equal the former Column-form ``round(dot(slice(..), _c))``
    bit-for-bit for every subspace geometry the registry uses."""
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.functions.vectors import dot
    from platform_etl_openfda_faers_spark.operators.similarity import (
        _dot_sql,
        pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_q")
    )
    for dim, m, k in [(64, 4, 8), (64, 8, 16)]:
        width = dim // m
        cb = pq_codebooks(emb, "vec_id", "_q", dim=dim, m=m, k=k, iterations=1)
        for s in (0, m - 1):
            side = cb.where(F.col("sub") == s).select(
                F.col("cell").alias("_code"), F.col("centroid").alias("_c")
            )
            j = emb.crossJoin(F.broadcast(side))
            sql_form = F.expr(
                f"round({_dot_sql(f'slice(_q, {s * width + 1}, {width})', '_c')}, 6)"
            )
            col_form = F.round(
                dot(F.slice(F.col("_q"), s * width + 1, width), F.col("_c")), 6
            )
            bad = j.where(sql_form != col_form).count()
            assert bad == 0, f"LUT SQL diverged (dim={dim} m={m} sub={s})"


def test_pq_codebooks_fused_matches_legacy(spark, sf_dir):
    """r17: the FUSED one-chain PQ trainer (subspace-exploded corpus, all
    aggregates keyed on ``sub``) must produce exactly the codebook rows
    of the former per-subspace ``kmeans_centroids`` union, for both
    registry geometries — decimal-exact means make the per-subspace
    arithmetic order-independent, so the tables must match row-for-row,
    value-for-value."""
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.operators.similarity import (
        kmeans_centroids,
        pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for dim, m, k in [(64, 4, 8), (64, 8, 64)]:
        width = dim // m
        legacy = None
        for s in range(m):
            sliced = emb.select(
                F.col("vec_id"),
                F.slice(
                    F.col("embedding").cast("array<double>"),
                    s * width + 1,
                    width,
                ).alias("_sv"),
            )
            cent = kmeans_centroids(sliced, "vec_id", "_sv", k=k, iterations=1)
            part = cent.select(F.lit(s).alias("sub"), "cell", "centroid")
            legacy = part if legacy is None else legacy.unionByName(part)
        fused = pq_codebooks(emb, dim=dim, m=m, k=k, iterations=1)
        l_rows = {
            (r["sub"], r["cell"]): tuple(r["centroid"])
            for r in legacy.collect()
        }
        f_rows = {
            (r["sub"], r["cell"]): tuple(r["centroid"])
            for r in fused.collect()
        }
        assert f_rows == l_rows, f"fused codebooks diverged (dim={dim} m={m})"


def test_pq_adc_lut_map_matches_join(spark, sf_dir):
    """r17: ADC scoring via the broadcast LUT-map array must reproduce
    the former m-broadcast-join scoring exactly — every (query, neighbor)
    row and every rounded score — on real embeddings, for both registry
    geometries (m=4 k=8 and m=8 k=64)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.functions.vectors import dot
    from platform_etl_openfda_faers_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    for dim, m, k in [(64, 4, 8), (64, 8, 64)]:
        width = dim // m
        cb = pq_codebooks(emb, dim=dim, m=m, k=k, iterations=1)

        # legacy scoring: m broadcast LUT joins (the pre-r17 operator body)
        scored = pq_encode(emb, cb, "vec_id", "embedding", dim, m, 6)
        q = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("_q"),
        )
        for s in range(m):
            side = cb.where(F.col("sub") == s).select(
                F.col("cell").alias(f"_code{s}"), F.col("centroid").alias("_c")
            )
            qid = "query_id" if s == 0 else f"_qid{s}"
            lut = q.crossJoin(F.broadcast(side)).select(
                F.col("query_id").alias(qid),
                F.col(f"_code{s}"),
                F.round(
                    dot(F.slice(F.col("_q"), s * width + 1, width), F.col("_c")),
                    6,
                ).alias(f"_l{s}"),
            )
            on = [F.col(f"c{s}") == F.col(f"_code{s}")]
            if s > 0:
                on.append(F.col("query_id") == F.col(f"_qid{s}"))
            scored = scored.join(F.broadcast(lut), on).drop(f"_code{s}")
            if s > 0:
                scored = scored.drop(f"_qid{s}")
        score = F.col("_l0")
        for s in range(1, m):
            score = score + F.col(f"_l{s}")
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.col("neighbor_id")
        )
        legacy = (
            scored.where(F.col("query_id") != F.col("vec_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.round(score, 6).alias("score"),
            )
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= 5)
        )
        new = pq_adc_topk(emb, queries, cb, k=5, dim=dim, m=m)
        l_rows = {(r[0], r[1]): (r[2], r[3]) for r in legacy.collect()}
        n_rows = {(r[0], r[1]): (r[2], r[3]) for r in new.collect()}
        assert n_rows == l_rows, f"LUT-map ADC diverged from join ADC (m={m})"


def test_probe_buckets_sql_matches_columnwise(spark, sf_dir):
    """r17: the one-``F.expr`` multi-probe bucket list must equal the
    former column-wise construction (per-plane projs, cost/mask structs,
    sort, XOR flips) exactly — same buckets, same order — on real
    embeddings for the registry geometry."""
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.operators.similarity import (
        _bucket_key_sql,
        _proj_sql,
        add_lsh_probe_buckets,
        random_hyperplanes,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("q_vec")
    )
    n_planes, n_tables, n_probes, seed, dim = 6, 3, 4, 42, 64

    def legacy(df):
        probed = []
        v_sql = "`q_vec`"
        for t in range(n_tables):
            planes = random_hyperplanes(dim, n_planes, seed + t)
            projs = [F.expr(_proj_sql(v_sql, plane)) for plane in planes]
            home = F.lit(0).cast("long")
            for i, p in enumerate(projs):
                home = home + F.when(p >= 0, F.lit(1 << i)).otherwise(
                    F.lit(0)
                ).cast("long")
            perturbs = [
                F.struct(F.abs(p).alias("m"), F.lit(1 << i).alias("mask"))
                for i, p in enumerate(projs)
            ] + [
                F.struct(
                    (F.abs(projs[i]) + F.abs(projs[j])).alias("m"),
                    F.lit((1 << i) | (1 << j)).alias("mask"),
                )
                for i in range(n_planes)
                for j in range(i + 1, n_planes)
            ]
            flips = F.slice(F.sort_array(F.array(*perturbs)), 1, n_probes - 1)
            buckets = F.array_union(
                F.array(home),
                F.transform(
                    flips, lambda e: home.bitwiseXOR(e["mask"].cast("long"))
                ),
            )
            probed.append(
                F.struct(F.lit(t).alias("table"), buckets.alias("buckets"))
            )
        return df.select("*", F.explode(F.array(*probed)).alias("_t")).select(
            *df.columns,
            F.col("_t.table").alias("table"),
            F.explode(F.col("_t.buckets")).alias("bucket"),
        )

    new_rows = sorted(
        (r["vec_id"], r["table"], r["bucket"])
        for r in add_lsh_probe_buckets(
            emb, "q_vec", n_planes, n_tables, n_probes, seed, dim
        ).collect()
    )
    old_rows = sorted(
        (r["vec_id"], r["table"], r["bucket"]) for r in legacy(emb).collect()
    )
    assert new_rows == old_rows, "one-expr probe buckets diverged"
