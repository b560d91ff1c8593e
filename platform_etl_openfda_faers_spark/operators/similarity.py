"""Similarity search over embedding columns (beyond-reference).

- ``brute_force_topk``: exact cosine top-k of a (small, broadcast) query set
  against the full corpus.  The corpus side streams — no shuffle of the big
  side; per-row math is JVM-side ``zip_with``/``aggregate``.
- ``hyperplane_lsh_topk``: random-hyperplane LSH — sign-bit bucket key per
  vector, candidates join within buckets, exact cosine re-rank.  The scale
  path: candidate generation is linear; recall tunes with #tables/#bits.
- ``cosine_near_duplicates``: embedding near-dup pairs above a cosine
  threshold (LSH-bucketed candidates, exact verify).

Ranking determinism: scores are rounded before ranking and ties break on
neighbor id, so results are stable across partitionings and replicable by
the DuckDB oracle.

GRAPH-ANN BOUNDARY (decision note, r12 — the IVF/PQ analogue of the
arithmetic-JPEG r9 and H.264 r10 codec decisions): HNSW / DiskANN-style
graph indexes are NOT built here, deliberately.  (a) Their construction
is a sequential, insert-order-dependent process — each inserted vector's
neighbor links depend on the graph state left by every earlier insert —
with no Spark-shaped declarative form: a DataFrame plan cannot express
"the graph after inserting vector i depends on the graph after i-1"
without serializing the cluster behind a driver loop, which is exactly
the anti-pattern this repo exists to avoid.  (b) Search is a sequential
beam walk over that adjacency state, again unshardable row-parallel.
(c) What the graph buys — high recall at low probe cost on a SINGLE
node — this engine already covers with the distributed-native
composition measured in QUALITY.md: IVF (trained coarse cells, nprobe
probing) + PQ/ADC compression + exact re-rank, each stage a shuffle-
bounded DataFrame op with recall floors CI-pinned.  (d) The revisit seam
mirrors ``EXTERNAL_VIDEO_DECODERS``: a deployment that needs graph-ANN
serves it from an EXTERNAL index process (FAISS/HNSW service) fed by this
engine's embedding pipeline, behind the same kind of validated serving
contract — the engine's job is the distributed side (embedding extraction, cell
assignment, candidate generation, exact re-rank), not a sequential
in-memory data structure.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from .dedup import _sql_ident

# Every operator here reads ids from ``vec_id`` and vectors from
# ``embedding``, rounds scores to 6 decimals before ranking, and seeds
# its hyperplanes with 42.
_ID_COL, _VEC_COL, _DECIMALS, _SEED = "vec_id", "embedding", 6, 42


def _top_k(cands: DataFrame, neighbor: str, score: Column, k: int) -> DataFrame:
    """(query_id, neighbor_id, score, rank) with rank <= k per query — the
    one ranking tail of every top-k operator here.  ``neighbor`` names
    the candidates' neighbor id column, ``score`` is the caller's rounded
    score; ties break on the lower neighbor id, so the ranking is stable
    across partitionings and replays in the DuckDB oracle."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.select(
            "query_id", F.col(neighbor).alias("neighbor_id"), score.alias("score")
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors: (query_id, neighbor_id, score), self excluded."""
    q = queries.select(
        F.col(_ID_COL).alias("query_id"),
        F.col(_VEC_COL).cast("array<double>").alias("q_vec"),
    )
    c = corpus.select(
        F.col(_ID_COL).alias("neighbor_id"),
        F.col(_VEC_COL).cast("array<double>").alias("c_vec"),
    )
    cands = c.join(F.broadcast(q)).where(F.col("query_id") != F.col("neighbor_id"))
    score = F.round(cosine(F.col("q_vec"), F.col("c_vec")), _DECIMALS)
    return _top_k(cands, "neighbor_id", score, k)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplanes (shared with tests/oracles)."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, dim, n_planes]))
    return rng.standard_normal((n_planes, dim))


def _dot_sql(a_sql: str, b_sql: str) -> str:
    """``functions.vectors.dot`` as a SQL fragment — same left-fold
    ``zip_with`` product, same ``0.0D`` seed, same left-associated
    accumulation, so the parsed expression evaluates bit-identically."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), 0.0D, "
        f"(acc, v) -> acc + v)"
    )


def _norm_sql(a_sql: str) -> str:
    """``functions.vectors.norm`` as a SQL fragment."""
    return f"sqrt(aggregate({a_sql}, 0.0D, (acc, v) -> acc + v * v))"


def _cosine_sql(a_sql: str, b_sql: str) -> str:
    """``functions.vectors.cosine`` as a SQL fragment (dot / (norm*norm),
    same operator shape and associativity as the Column form)."""
    return f"({_dot_sql(a_sql, b_sql)} / ({_norm_sql(a_sql)} * {_norm_sql(b_sql)}))"


def _ranked_cells_sql(cents_sql: str, vec_sql: str, score_decimals: int) -> str:
    """The centroid argmax ranking shared by :func:`ivf_cells` and
    :func:`pq_encode`, as ONE SQL fragment (r17, the r16 #18 recipe
    applied to the PQ/IVF builders): ascending struct sort on
    (-round(cosine, sd), cell) — lowest negated score first, ties to the
    lower cell id, exactly the former column-wise
    ``sort_array(transform(...))`` construction (law-pinned:
    ``test_ranked_cells_sql_matches_columnwise``).  The column-wise form
    issued hundreds of py4j round trips per call (3 higher-order lambdas
    per cosine, built once per Lloyd iteration per subspace) — the PQ
    family paid ~9k round trips / 2.7-6.3 s per query CONSTRUCTION."""
    return (
        f"sort_array(transform({cents_sql}, c -> struct("
        f"-round({_cosine_sql(vec_sql, 'c.centroid')}, {score_decimals}) "
        f"AS _neg_score, c.cell AS cell)))"
    )


def _plane_sql(plane) -> str:
    """``array<double>`` SQL literal for one hyperplane (r16 #18).
    ``repr(float)`` is the shortest round-trip decimal — the SAME
    convention the DuckDB oracle generators already use to embed these
    planes — and Spark's ``...D`` double literal parses it back to the
    bit-identical IEEE value (pinned by
    ``tests/test_similarity.py::test_plane_lit_bit_identical``).
    Precondition: plane values must be finite (``infD``/``nanD`` would
    not parse); ``random_hyperplanes`` output always is, and the assert
    keeps any future caller honest at construction time."""
    assert all(x == x and x not in (float("inf"), float("-inf")) for x in map(float, plane)), (
        "non-finite hyperplane value cannot be embedded as a SQL literal"
    )
    return "array(" + ",".join(f"{float(x)!r}D" for x in plane) + ")"


def _proj_sql(vec_sql: str, plane) -> str:
    """Round-6 hyperplane projection as a SQL fragment — semantically
    identical to ``F.round(dot(vec, plane_lit), 6)`` with the
    deterministic left-fold ``dot`` (``functions/vectors.py``): same
    ``zip_with`` product, same ``0.0D`` seed, same left-associated
    accumulation, same round."""
    return (
        f"round(aggregate(zip_with({vec_sql}, {_plane_sql(plane)}, "
        f"(x, y) -> x * y), 0.0D, (acc, v) -> acc + v), 6)"
    )


def _bucket_key(vec_sql: str, planes: np.ndarray):
    """Sign-bit bucket id: sum(2^i * (round(dot(v, plane_i), 6) >= 0)).

    The projection is rounded before the sign test so bucket assignment is
    replicable bit-for-bit by the DuckDB oracle (same float-discipline as
    ranking scores; a flip would need |dot| within an ulp of a 5e-7
    boundary).

    Built as ONE ``F.expr`` over a SQL fragment (r16 #18): the former
    per-plane pyspark-API form (element-wise ``F.lit`` plane arrays plus
    one higher-order ``dot`` per plane) issued ~27k py4j round trips per
    8-table LSH query — ~10 s of driver-side socket chatter per query
    CONSTRUCTION, before any job ran (cProfile evidence in
    OPTIMIZATION_r16.md #18).  The SQL parses to the same analyzed
    expressions — ``CAST(0 AS BIGINT)`` seed, per-plane
    ``CAST(CASE WHEN proj >= 0 THEN 2^i ELSE 0 END AS BIGINT)``
    left-associated sum — so bucket values are unchanged (law-pinned:
    ``test_bucket_key_sql_matches_columnwise``)."""
    return F.expr(_bucket_key_sql(vec_sql, planes))


def _bucket_key_sql(vec_sql: str, planes: np.ndarray) -> str:
    """:func:`_bucket_key` as a SQL fragment (r17: the multiprobe bucket
    list embeds the home key inside one larger expression)."""
    terms = ["CAST(0 AS BIGINT)"]
    for i, plane in enumerate(planes):
        terms.append(
            f"CAST(CASE WHEN {_proj_sql(vec_sql, plane)} >= 0 "
            f"THEN {1 << i} ELSE 0 END AS BIGINT)"
        )
    return " + ".join(terms)


def _vector_width(df: DataFrame, vec_col: str) -> int:
    """The width of the first non-null vector in ``vec_col``: the one-row
    probe job that ``dim=None`` costs.  Raises ``ValueError`` when the
    column holds no vector to measure."""
    row = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if row is None:
        raise ValueError(f"no non-null {vec_col} to infer the width from: pass dim=")
    return len(row[0])


def add_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Attach (table, bucket) rows — one row per vector per table.

    ``dim``: pass the known vector width to skip the construction-time
    probe of the first non-null vector.  A non-null vector of another width fails the
    first action with a ``raise_error`` naming both (``zip_with`` null-pads
    unequal arrays, so it would hash to bucket 0): one ``CASE`` per row
    around the bucket array, no extra job.  Null vectors keep bucket 0."""
    if dim is None:
        dim = _vector_width(df, vec_col)
    ident = _sql_ident(vec_col)
    v_sql = f"CAST({ident} AS ARRAY<DOUBLE>)"
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                _bucket_key(
                    v_sql, random_hyperplanes(dim, n_planes, seed + t)
                ).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    width = f"CAST(size({ident}) AS STRING)"
    entries = F.when(
        F.expr(f"{ident} IS NOT NULL AND size({ident}) != {dim}"),
        F.expr(f"raise_error('add_lsh_buckets: dim={dim} but {vec_col} has width ' || {width})"),
    ).otherwise(buckets)
    return df.select("*", F.explode(entries).alias("_e")).select(
        *df.columns, F.col("_e.table").alias("table"), F.col("_e.bucket").alias("bucket")
    )


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: LSH-bucketed candidates, exact cosine re-rank.

    ``dim``: pass the known embedding width to skip the eager one-row
    probe job at construction (r16 #18); ``None`` keeps the probe (the
    first non-null corpus vector) for callers with unknown-width vectors.  A wrong ``dim`` raises
    on the first action (see :func:`add_lsh_buckets`).

    .. warning:: **Default change in r7** — ``n_planes`` 8 -> 4 and
       ``n_tables`` 2 -> 8, justified by the recall harness
       (QUALITY.md): on the unstructured synthetic corpus the old
       default measured recall@10 = 0.03 (8 planes = 256 buckets leaves
       buckets near-empty), the new one 0.65.  Callers wanting the old
       sparse-bucket geometry pass it explicitly.  Note
       :func:`cosine_near_duplicates` keeps its own tighter default
       (more planes) on purpose: near-dup pairs sit at cosine >= 0.95
       where sign-bit collisions are overwhelmingly likely, the opposite
       regime from top-k recall over weakly-similar neighbors.

       **Cost of the new default**: with random vectors the expected
       per-query candidate pool is ~``n_tables / 2**n_planes`` of the
       corpus — the flip moves it from ~n/128 (planes=6 tables=3 measured
       ~n/85 at sf0.1) to ~n/2, i.e. ~64x the candidate scoring and
       shuffle volume, approaching brute-force cost per query.  That is
       the right trade at the corpus sizes the recall study covers
       (recall@10 0.03 -> 0.65+), but at large corpora RAISE ``n_planes``
       (each +1 halves the pool) and recover recall with
       :func:`hyperplane_lsh_multiprobe_topk` (probes multiply only the
       query side — measured to match this default's recall band at a
       third of the candidate volume, QUALITY.md), or use the IVF /
       IVF-PQ operators whose candidate volume is controlled by
       ``n_probes`` instead of collision geometry."""
    return _lsh_topk(corpus, queries, k, n_planes, n_tables, None, dim)


def _lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_planes: int,
    n_tables: int,
    n_probes: int | None,
    dim: int | None,
) -> DataFrame:
    """The body of :func:`hyperplane_lsh_topk` (``n_probes=None``: each
    query keeps its home bucket per table, :func:`add_lsh_buckets`) and
    :func:`hyperplane_lsh_multiprobe_topk` (the home bucket plus the
    cheapest perturbations, :func:`add_lsh_probe_buckets`).  The corpus
    side is the same in both — one home bucket per table — candidates
    join on (table, bucket) with the query side broadcast, and the exact
    cosine re-ranks them."""
    if dim is None:
        dim = _vector_width(corpus, _VEC_COL)
    cb = add_lsh_buckets(
        corpus.select(
            F.col(_ID_COL).alias("neighbor_id"),
            F.col(_VEC_COL).cast("array<double>").alias("c_vec"),
        ),
        "c_vec",
        n_planes,
        n_tables,
        _SEED,
        dim,
    )
    q = queries.select(
        F.col(_ID_COL).alias("query_id"),
        F.col(_VEC_COL).cast("array<double>").alias("q_vec"),
    )
    if n_probes is None:
        qb = add_lsh_buckets(q, "q_vec", n_planes, n_tables, _SEED, dim)
    else:
        qb = add_lsh_probe_buckets(
            q, "q_vec", n_planes, n_tables, n_probes, _SEED, dim
        )
    cands = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    score = F.round(cosine(F.col("q_vec"), F.col("c_vec")), _DECIMALS)
    return _top_k(cands, "neighbor_id", score, k)


def add_lsh_probe_buckets(
    df: DataFrame,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    n_probes: int,
    seed: int,
    dim: int,
) -> DataFrame:
    """Attach (table, bucket) rows with MULTI-PROBE buckets — one row per
    vector per table per probe.

    Probe sequence per table (Lv et al., "Multi-Probe LSH", VLDB 2007):
    the home bucket plus the ``n_probes - 1`` cheapest PERTURBATIONS —
    single-bit flips costed by that plane's projection magnitude and
    two-bit flips costed by the SUM of the two magnitudes, ranked
    together.  A near-zero projection means the vector sits close to that
    hyperplane, so its true neighbors are about equally likely on either
    side; a pair of near-zero planes is often a better bet than one
    far-from-zero plane — which is why the published sequence
    interleaves multi-bit perturbations instead of exhausting singles
    first.  Everything is row-local array math (cost/mask structs,
    ``sort_array``, ``slice``, ``transform`` with a bitwise XOR), map-only
    like the single-probe ``add_lsh_buckets``.  The candidate pool is the
    ``n_planes + C(n_planes, 2)`` single+pair masks — ``n_probes`` beyond
    that is clamped (three-plus-bit flips are far-probability buckets).

    Determinism: costs are sums of ``abs(round(proj, 6))`` (one
    correctly-rounded addition for pairs) and the (cost, mask) struct
    sort breaks ties on the mask, so the probe set is bit-replicable by
    the DuckDB oracle.
    """
    probed = []
    v_sql = _sql_ident(vec_col)
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed + t)
        # one F.expr per projection (r16 #18) — the pyspark higher-order
        # the WHOLE per-table probe-bucket list is ONE F.expr (r17, the
        # r16 #18 recipe finished: the perturbation cost/mask structs
        # were still built Column-by-Column — ~0.7 s of py4j chatter per
        # table at construction).  Textually identical arithmetic: home
        # key as in ``_bucket_key_sql``, abs-projection costs,
        # single+pair masks, (m, mask) struct sort, XOR flips.
        proj_sqls = [_proj_sql(v_sql, plane) for plane in planes]
        home_sql = "(" + _bucket_key_sql(v_sql, planes) + ")"
        pert_sqls = [
            f"struct(abs({proj_sqls[i]}) AS m, {1 << i} AS mask)"
            for i in range(n_planes)
        ] + [
            f"struct((abs({proj_sqls[i]}) + abs({proj_sqls[j]})) AS m, "
            f"{(1 << i) | (1 << j)} AS mask)"
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
        buckets = F.expr(
            f"array_union(array({home_sql}), "
            f"transform(slice(sort_array(array({', '.join(pert_sqls)})), "
            f"1, {n_probes - 1}), e -> {home_sql} ^ CAST(e.mask AS BIGINT)))"
        )
        probed.append(
            F.struct(F.lit(t).alias("table"), buckets.alias("buckets"))
        )
    out = (
        df.select("*", F.explode(F.array(*probed)).alias("_t"))
        .select(
            *df.columns,
            F.col("_t.table").alias("table"),
            F.explode(F.col("_t.buckets")).alias("bucket"),
        )
    )
    return out


def hyperplane_lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 3,
    n_probes: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Multi-probe hyperplane LSH top-k: sparse-bucket cost, dense-bucket
    recall.  (``dim``: as in :func:`hyperplane_lsh_topk` — pass the known
    width to skip the construction-time probe.)

    The single-probe recall/cost dilemma (see the
    :func:`hyperplane_lsh_topk` warning): few planes -> dense buckets ->
    recall via collisions but ~n/2 candidates per query; many planes ->
    cheap sparse buckets but recall collapses (0.03-0.17 measured).
    Multi-probe breaks the dilemma by ALSO probing, per table, the
    ``n_probes - 1`` buckets across the lowest-margin hyperplanes — the
    places a just-missed neighbor most likely hashed.  Candidate volume is
    ``~ n_tables * n_probes / 2**n_planes`` of the corpus, tuned by a knob
    that costs no extra tables and no corpus-side work: the CORPUS index
    is identical to single-probe (one home bucket per table — the 100 TB
    side never fans out); only the query side multiplies rows.

    Measured (QUALITY.md, recall@10 vs exact): planes=6 tables=3
    probes=7 (~n/3 candidates) reaches 0.57-0.73 across sf0.01-1 — the
    dense default's recall band at a third of its candidate volume; see
    the table for the grid.
    """
    return _lsh_topk(corpus, queries, k, n_planes, n_tables, n_probes, dim)


def ivf_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroid cells — as a
    MAP-ONLY stage.

    The centroid table (dozens of rows) is collapsed to a single row
    holding a sorted ``(cell, centroid)`` struct array, broadcast, and
    cross-joined in (one row: the join adds no shuffle and no row
    multiplication).  Each vector then scores all centroids row-locally
    with higher-order functions and keeps its top ``nprobe`` cells via
    ``sort_array`` + ``slice`` — no exploded |df| x |centroids| row set and,
    critically, NO window over the full corpus: the previous windowed-argmax
    formulation shuffled every corpus vector (plus its embedding payload) by
    id just to rank 16 candidate cells per row (the r04 bench regression on
    ``emb_ivf_topk``).  Assignment semantics are unchanged and bit-stable:
    scores round to 6 decimals before ranking, ties break on the
    lower cell id (ascending struct sort on (-score, cell)).

    ``keep`` names extra input columns to carry through to the output
    (projected alongside id/vec/cell).  Callers that need a flag past the
    assignment (the incremental SemDeDup batch marker) must thread it here
    rather than referencing a dropped column downstream: that works only
    via Spark's implicit missing-reference resolution in ``Dataset.where``
    and breaks with an AnalysisException the moment a barrier (distinct /
    aggregate / checkpoint) lands inside this function.
    """
    cent_arr = centroids.groupBy().agg(
        F.collect_list(F.struct(F.col("cell"), F.col("centroid"))).alias("_cents")
    )
    # ONE F.expr for the whole argmax ranking (r17; formerly a pyspark
    # higher-order transform whose nested cosine lambdas cost hundreds of
    # py4j round trips per call — per Lloyd iteration per subspace)
    ranked = F.expr(
        _ranked_cells_sql("_cents", _sql_ident(vec_col), _DECIMALS)
    )
    return (
        df.join(F.broadcast(cent_arr))
        .select(
            id_col,
            vec_col,
            *keep,
            F.slice(ranked, 1, nprobe).alias("_top"),
        )
        .select(
            id_col, vec_col, *keep, F.explode(F.col("_top.cell")).alias("cell")
        )
    )


def kmeans_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    iterations: int = 2,
) -> DataFrame:
    """Deterministic Lloyd k-means over an embedding column, as a purely
    DECLARATIVE composition — no driver-side loop actions, no RNG.

    Init: the ``k`` lowest-id corpus vectors (same seed rule as the static
    ``ivf_topk`` centroids).  Each iteration composes lazily onto the plan:

    1. assign — ``ivf_cells`` (1-row broadcast centroid array, map-only
       argmax; no corpus shuffle);
    2. update — per-(cell, dim) mean via ``posexplode`` + hash aggregate.
       The sum runs over ``decimal(27,10)`` casts: decimal addition is
       EXACT and therefore order-independent, so the centroid update —
       unlike a raw double sum — does not depend on partition layout and
       replays bit-for-bit in the DuckDB oracle.  The mean is then
       rounded to 6 decimals (same discipline as every other
       cross-engine float in this repo).

    ``iterations`` is fixed (not convergence-tested): the lineage stays a
    static DAG the optimizer sees whole, and determinism doesn't hinge on
    a tolerance check.  At 100 TB you would train on a sample (one
    ``hash_sample`` upstream) — the update shuffle is |corpus| x dim rows
    into k x dim groups per iteration.

    Empty cells simply drop out (their rows vanish from the aggregate) —
    callers get <= k centroids, each an actual cluster mean.
    Output: (cell, centroid array<double>).
    """
    c = corpus.select(
        F.col(_ID_COL).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    # NOT persisted, by measurement: each Lloyd iteration re-consumes the
    # cast corpus, but the lineage is a pruned parquet scan of wide double
    # arrays — caching the materialized arrays measured 2.5x SLOWER
    # (dedup_semantic 2.6s -> 6.4s at sf0.1) than re-scanning, the inverse
    # of graph.pagerank's cheap 2-column edge cache.  Revisit only if the
    # corpus lineage ever becomes an expensive non-columnar derivation.
    cent = c.where(F.col("_id") < k).select(
        F.col("_id").alias("cell"), F.col("_v").alias("centroid")
    )
    for _ in range(iterations):
        assigned = ivf_cells(c, cent, "_id", "_v", nprobe=1)
        per_dim = assigned.select("cell", F.posexplode("_v").alias("pos", "val"))
        # one F.expr per aggregate (r17): same decimal-exact mean and
        # struct-sorted fold, fewer py4j round trips per Lloyd iteration
        means = per_dim.groupBy("cell", "pos").agg(
            F.expr(
                f"round(CAST(sum(CAST(val AS DECIMAL(27,10))) AS DOUBLE) "
                f"/ count(*), {_DECIMALS})"
            ).alias("m")
        )
        cent = (
            means.groupBy("cell")
            .agg(F.expr("array_sort(collect_list(struct(pos, m)))").alias("_pm"))
            .select("cell", F.expr("_pm.m").alias("centroid"))
        )
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into centroid
    cells, probe only the query's ``nprobe`` nearest cells, exact-rerank.

    The scale path next to ``brute_force_topk``: candidate generation is
    |corpus| x 1 cell + |queries| x nprobe cells instead of |corpus| x
    |queries|.  Default centroids are the ``n_centroids`` lowest-id corpus
    vectors — deterministic and oracle-replicable; pass
    ``centroids=kmeans_centroids(...)`` for trained cells (same plan
    shape, better recall).
    """
    cent = centroids
    if cent is None:
        cent = corpus.where(F.col(_ID_COL) < n_centroids).select(
            F.col(_ID_COL).alias("cell"),
            F.col(_VEC_COL).cast("array<double>").alias("centroid"),
        )
    q = queries.select(
        F.col(_ID_COL).alias("query_id"),
        F.col(_VEC_COL).cast("array<double>").alias("q_vec"),
    )
    c = corpus.select(
        F.col(_ID_COL).alias("neighbor_id"),
        F.col(_VEC_COL).cast("array<double>").alias("c_vec"),
    )
    c_cells = ivf_cells(c, cent, "neighbor_id", "c_vec", nprobe=1)
    q_cells = ivf_cells(q, cent, "query_id", "q_vec", nprobe=nprobe)
    # no pair-dedup needed: each corpus vector lives in exactly one cell
    # (nprobe=1 on the corpus side), so a (query, neighbor) pair appears at
    # most once — and skipping dropDuplicates avoids a SortAggregate over
    # the embedded array columns.
    cands = c_cells.join(F.broadcast(q_cells), ["cell"]).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    score = F.round(cosine(F.col("q_vec"), F.col("c_vec")), _DECIMALS)
    return _top_k(cands, "neighbor_id", score, k)


def cosine_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: (id_a, id_b, score) with score >= threshold,
    LSH-bucketed over 4 hyperplane tables.
    (``dim``: as in :func:`hyperplane_lsh_topk`.)"""
    if dim is None:
        dim = _vector_width(df, _VEC_COL)
    b = add_lsh_buckets(
        df.select(F.col(_ID_COL).alias("id"), F.col(_VEC_COL).cast("array<double>").alias("v")),
        "v",
        n_planes,
        4,
        _SEED,
        dim,
    )
    left = b.toDF("id_a", "v_a", "table", "bucket")
    right = b.toDF("id_b", "v_b", "table", "bucket")
    return (
        left.join(right, ["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("v_a"), F.col("v_b")), _DECIMALS).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def semantic_near_duplicates_incremental(
    new_vectors: DataFrame,
    corpus_vectors: DataFrame,
    threshold: float = 0.4,
) -> DataFrame:
    """INCREMENTAL SemDeDup: an incoming embedding batch is compared
    against itself and the existing corpus WITHIN k-means cells trained
    on the corpus alone (the batch never moves them) — never corpus x
    corpus.  The embedding-space member of the incremental near-dup
    family (Jaccard, MinHash, SimHash, dHash, landmarks, frame votes, and
    now semantic cells).

    Production shape: centroids train once on the corpus, the batch gets
    a MAP-ONLY broadcast cell assignment, and candidate volume per cell is
    |cell ∩ batch| x |cell| instead of |cell|^2.  Training runs 2 Lloyd
    iterations into 8 cells; at 100 TB raise that cell count so cells
    stay bounded and the within-cell equi-join stays AQE-splittable.
    Batch-batch pairs are found from both of their rows; scores are
    orientation-exact (element products and the norm
    product commute), so the normalized projection's ``distinct``
    dedupes them without weighting.  Ids must be unique across the two
    inputs.  Output: (id_a, id_b, cell, score), id_a < id_b, score >=
    ``threshold``.
    """
    cent = kmeans_centroids(corpus_vectors, k=8, iterations=2)
    batch = new_vectors.select(
        F.col(_ID_COL).alias("vid"),
        F.col(_VEC_COL).cast("array<double>").alias("e"),
        F.lit(True).alias("_new"),
    )
    combined = corpus_vectors.select(
        F.col(_ID_COL).alias("vid"),
        F.col(_VEC_COL).cast("array<double>").alias("e"),
        F.lit(False).alias("_new"),
    ).unionByName(batch)
    cells = ivf_cells(combined, cent, "vid", "e", nprobe=1, keep=("_new",))
    a = cells.where(F.col("_new")).select(
        F.col("vid").alias("id_a"), F.col("e").alias("e_a"), "cell"
    )
    b = cells.select(
        F.col("vid").alias("id_b"),
        F.col("e").alias("e_b"),
        F.col("cell").alias("cell_b"),
    )
    return (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("id_a") != F.col("id_b")),
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "cell",
            F.round(cosine(F.col("e_a"), F.col("e_b")), _DECIMALS).alias("score"),
        )
        .distinct()
        .where(F.col("score") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's PQ half)


def pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 8,
) -> DataFrame:
    """Product-quantization codebooks: ``m`` INDEPENDENT deterministic
    Lloyd k-means runs of one iteration each, one per contiguous
    ``dim/m``-wide subspace of the embedding (decimal-exact means,
    rounded scores, id-seeded init — so every run replays bit-for-bit in
    the SQL oracle).  Output: (sub,
    cell, centroid) with ``m*k`` rows — tiny and broadcastable
    regardless of corpus size.

    FUSED training (r17): the former implementation ran
    :func:`kmeans_centroids` once per subspace and unioned the results —
    ``m`` parallel Lloyd DAGs meant ``m`` corpus scans per iteration at
    execution, ``m`` broadcasts, and an ``m``-times-larger plan whose
    construction (py4j chatter) and planning/codegen (paid at the
    ``_freeze_trained`` checkpoint) dominated the PQ family's wall — the
    r16 VERDICT's "#2 remaining waste" (~9k py4j round trips, 2.7-6.3 s
    per query construction).  Training now runs ONE Lloyd chain over the
    subspace-exploded corpus — each vector contributes ``m`` (sub,
    sliced-vector) rows, every aggregate keys on ``sub`` as well, the
    centroid broadcast joins on ``sub`` — which is value-identical per
    subspace (decimal sums are exact and order-independent; the argmax
    ranking is total-ordered per subspace; init stays the k lowest-id
    vectors) and pinned by ``test_pq_codebooks_fused_matches_legacy``
    plus the unchanged DuckDB oracle replay.  At scale: one corpus scan
    instead of m (same total bytes — each row explodes into its m
    slices), one broadcast instead of m."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    width = dim // m
    v_sql = f"CAST({_sql_ident(vec_col)} AS ARRAY<DOUBLE>)"
    sliced = corpus.select(
        F.col(_ID_COL).alias("_id"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), "
                f"s -> slice({v_sql}, s * {width} + 1, {width}))"
            )
        ).alias("sub", "_sv"),
    )
    init = sliced.where(F.col("_id") < k).select(
        "sub", F.col("_id").alias("cell"), F.col("_sv").alias("centroid")
    )
    cent_arr = init.groupBy("sub").agg(
        F.collect_list(F.struct(F.col("cell"), F.col("centroid"))).alias("_cents")
    )
    assigned = sliced.join(F.broadcast(cent_arr), "sub").select(
        "sub",
        F.expr(
            f"element_at({_ranked_cells_sql('_cents', '_sv', _DECIMALS)}, 1).cell"
        ).alias("cell"),
        "_sv",
    )
    per_dim = assigned.select("sub", "cell", F.posexplode("_sv").alias("pos", "val"))
    means = per_dim.groupBy("sub", "cell", "pos").agg(
        F.expr(
            f"round(CAST(sum(CAST(val AS DECIMAL(27,10))) AS DOUBLE) "
            f"/ count(*), {_DECIMALS})"
        ).alias("m")
    )
    return (
        means.groupBy("sub", "cell")
        .agg(F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("m")))).alias("_pm"))
        .select("sub", "cell", F.col("_pm").getField("m").alias("centroid"))
    )


def _cents_all(codebooks: DataFrame, m: int) -> DataFrame:
    """Collapse the (sub, cell, centroid) codebook table to ONE row with
    ``m`` per-subspace struct arrays ``_cents0.._cents{m-1}`` — the
    broadcastable form every PQ consumer scores against.  ``collect_list``
    skips the NULLs the ``when`` guard leaves for other subspaces, so
    each array is exactly the per-subspace codebook (order irrelevant:
    every consumer's ranking sort / map build is order-insensitive)."""
    return codebooks.groupBy().agg(
        *[
            F.collect_list(
                F.when(F.col("sub") == s, F.struct("cell", "centroid"))
            ).alias(f"_cents{s}")
            for s in range(m)
        ]
    )


def _lut_maps_expr(m: int, width: int, q_sql: str):
    """Per-query ADC lookup tables as ONE row-local expression: an array
    (indexed by subspace) of ``cell -> round(dot(q_s, centroid), 6)``
    maps.  Entry values are computed with the same rounded left-fold dot
    the former per-subspace LUT joins used, so ``element_at(map, code)``
    returns bit-identically the ``_l{s}`` the join produced (map keys are
    the unique cell ids of that subspace's codebook)."""
    entries = ", ".join(
        f"map_from_entries(transform(_cents{s}, c -> struct(c.cell, "
        f"round({_dot_sql(f'slice({q_sql}, {s * width + 1}, {width})', 'c.centroid')}, "
        f"{_DECIMALS}))))"
        for s in range(m)
    )
    return F.expr(f"array({entries})")


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Encode each vector as ``m`` codebook cells — MAP-ONLY: the whole
    codebook collapses to ONE broadcast row holding ``m`` per-subspace
    struct arrays (r17; formerly m single-row tables and m cross joins)
    and the argmax-cosine assignment is a row-local SQL expression per
    subspace in a single projection (the ``ivf_cells`` trick).  A 64-dim
    float vector becomes m small ints — the ~32x compression that lets
    ADC scoring avoid touching raw vectors.  ``keep`` names extra input
    columns carried through (the IVF-PQ pipeline threads the coarse
    ``cell`` so encoding and cell assignment stay one corpus pass).
    Output: (id, *keep, c0..c{m-1})."""
    width = dim // m
    df = corpus.select(
        F.col(id_col), *keep, F.col(vec_col).cast("array<double>").alias("_v")
    ).join(F.broadcast(_cents_all(codebooks, m)))
    def code_expr(s: int):
        # ONE F.expr per subspace (r17, the r16 #18 recipe): the former
        # per-subspace transform+cosine lambda chain dominated the PQ
        # family's construction wall with py4j chatter
        sv = f"slice(_v, {s * width + 1}, {width})"
        ranked = _ranked_cells_sql(f"_cents{s}", sv, _DECIMALS)
        return F.expr(f"element_at({ranked}, 1).cell").alias(f"c{s}")

    return df.select(F.col(id_col), *keep, *[code_expr(s) for s in range(m)])


def _exact_rerank(
    approx: DataFrame, corpus: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """Exact-cosine re-rank of an approximate candidate list — the
    standard recall-recovery tail of a PQ/ADC pipeline (FAISS-style:
    ADC selects a top-R pool cheaply, raw vectors re-score only those R).

    Plan shape: the (|queries| x R) candidate list BROADCASTS against the
    corpus (the corpus never shuffles and only candidate rows surface raw
    vectors); the query vectors broadcast too.  Deterministic: rounded
    scores, neighbor-id tie-break — same ranking discipline as
    ``brute_force_topk``, so the stage replays in the SQL oracle."""
    c = corpus.select(
        F.col(_ID_COL).alias("neighbor_id"),
        F.col(_VEC_COL).cast("array<double>").alias("_cv"),
    )
    qv = queries.select(
        F.col(_ID_COL).alias("query_id"),
        F.col(_VEC_COL).cast("array<double>").alias("_qv"),
    )
    cands = c.join(
        F.broadcast(approx.select("query_id", "neighbor_id")), ["neighbor_id"]
    ).join(F.broadcast(qv), ["query_id"])
    score = F.round(cosine(F.col("_qv"), F.col("_cv")), _DECIMALS)
    return _top_k(cands, "neighbor_id", score, k)


def _adc_topk(scored: DataFrame, nid: str, m: int, k: int) -> DataFrame:
    """The ADC score-and-rank step of :func:`pq_adc_topk` and
    :func:`ivf_pq_topk`: over (query, candidate) rows carrying the
    query's ``_luts`` map array and the candidate's codes ``c0..c{m-1}``,
    score = the ``m`` per-subspace LUT lookups summed in FIXED subspace
    order (left-associated) and rounded, so it replays exactly in the SQL
    oracle; self-pairs excluded; top ``k`` per query."""
    score_sql = " + ".join(
        f"element_at(element_at(_luts, {s + 1}), c{s})" for s in range(m)
    )
    return _top_k(
        scored.where(F.col("query_id") != F.col(nid)),
        nid,
        F.expr(f"round({score_sql}, {_DECIMALS})"),
        k,
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    dim: int = 64,
    m: int = 4,
    rerank_from: int = 0,
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays a raw vector, the
    corpus is scored from its PQ codes via a per-query lookup table —
    ``score = sum_s dot(q_s, codeword_{s, code_s})``, the inner-product
    decomposition (dot DECOMPOSES across subspaces; cosine does not,
    which is why ADC scores dots — on unit embeddings they coincide).

    Plan shape (r17): encode is map-only; ALL ``m`` per-query lookup
    tables ride ONE broadcast row per query — an array (by subspace) of
    ``cell -> rounded dot`` maps — and scoring is one broadcast cross
    join plus ``m`` row-local map lookups.  (Formerly m separate
    broadcast hash joins on the code columns: one broadcast build and
    one join materialization per subspace; value-identical —
    ``element_at(map, c_s)`` returns exactly the ``_l{s}`` the join
    matched, pinned by ``test_pq_adc_lut_map_matches_join``.)  No
    shuffle of the corpus, no raw-vector pair join.  Per-subspace LUT
    entries round to 6 decimals and the final score sums them in
    FIXED subspace order (left-associated), so results replay exactly in
    the SQL oracle.  At 100 TB compose with IVF cells to prune candidates
    before ADC scoring; here every corpus vector is scored (the PQ point
    is cheap scoring, not candidate pruning).

    ``rerank_from=R`` (R > k) appends an EXACT-cosine re-rank of the ADC
    top-R pool (:func:`_exact_rerank`) — the measured recall lever: ADC
    distortion misorders the boundary of the top-k, but the true top-k
    almost always survives inside a modest top-R pool (QUALITY.md: m=4
    k=8 recall@10 0.14 -> 0.78 at R=50 on the sf0.01 corpus).  Cost is R
    raw-vector scorings per query instead of |corpus|; default 0 = off
    (pure ADC ranking, r6 behavior).

    Output: (query_id, neighbor_id, score, rank<=k)."""
    if rerank_from and rerank_from < k:
        raise ValueError(f"rerank_from {rerank_from} must be >= k {k}")
    width = dim // m
    enc = pq_encode(corpus, codebooks, _ID_COL, _VEC_COL, dim, m)
    luts = (
        queries.select(
            F.col(_ID_COL).alias("query_id"),
            F.col(_VEC_COL).cast("array<double>").alias("_q"),
        )
        .join(F.broadcast(_cents_all(codebooks, m)))
        .select("query_id", _lut_maps_expr(m, width, "_q").alias("_luts"))
    )
    adc = _adc_topk(enc.join(F.broadcast(luts)), _ID_COL, m, rerank_from or k)
    if not rerank_from:
        return adc
    return _exact_rerank(adc, corpus, queries, k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    dim: int = 64,
    rerank_from: int = 0,
) -> DataFrame:
    """The full IVF-PQ pipeline — the standard billion-scale ANN layout:
    coarse cells prune candidates (each query scores only its ``nprobe``
    nearest cells' vectors), PQ codes + per-query LUTs score them without
    touching raw corpus vectors.

    Plan shape (r17): corpus-side cell assignment and PQ encoding run in
    ONE corpus pass (``pq_encode`` threads the coarse ``cell`` through
    via ``keep`` — formerly the codes re-joined the cells table on the
    id, a corpus-sized self-join); the candidate join broadcasts the
    (|queries| x nprobe) probe list, which CARRIES each query's LUT-map
    array, so ADC scoring is ``m`` row-local map lookups with no further
    join (formerly m broadcast LUT joins; value-identical — see
    ``pq_adc_topk``).  The corpus never shuffles and raw vectors never
    pair-join — candidate volume is |cell| x nprobe per query instead of
    |corpus|, scoring cost is m lookups per candidate.  Same determinism
    discipline as ``pq_adc_topk`` (rounded scores, fixed-order LUT sum,
    id tie-breaks), so the whole pipeline replays in the SQL oracle.

    ``rerank_from=R`` appends the exact-cosine re-rank of the ADC top-R
    pool per query (:func:`_exact_rerank`) — see ``pq_adc_topk``; within
    IVF-PQ the pool is drawn from the probed cells only, so the re-rank
    recovers ADC misordering but not cell-pruning misses (nprobe is the
    lever for those).

    ``codebooks`` come from ``pq_codebooks`` with its ``m=4`` subspaces.

    Output: (query_id, neighbor_id, score, rank<=k)."""
    if rerank_from and rerank_from < k:
        raise ValueError(f"rerank_from {rerank_from} must be >= k {k}")
    m = 4
    width = dim // m
    c = corpus.select(
        F.col(_ID_COL).alias("_nid"),
        F.col(_VEC_COL).cast("array<double>").alias("_v"),
    )
    q = queries.select(
        F.col(_ID_COL).alias("query_id"),
        F.col(_VEC_COL).cast("array<double>").alias("_q"),
    )
    c_cells = ivf_cells(c, coarse_centroids, "_nid", "_v", nprobe=1)
    q_cells = ivf_cells(q, coarse_centroids, "query_id", "_q", nprobe=nprobe)
    # candidate pruning: corpus vector lives in exactly one cell, query
    # probes nprobe cells -> each (query, neighbor) pair appears at most
    # once, no dedup needed (same argument as ivf_topk)
    enc = pq_encode(c_cells, codebooks, "_nid", "_v", dim, m, keep=("cell",))
    # the broadcast probe list carries each query's LUT-map array (the
    # maps ride along its <= nprobe rows — still broadcast-sized)
    probes = (
        q_cells.join(F.broadcast(_cents_all(codebooks, m)))
        .select(
            "query_id",
            "cell",
            _lut_maps_expr(m, width, "_q").alias("_luts"),
        )
    )
    adc = _adc_topk(enc.join(F.broadcast(probes), ["cell"]), "_nid", m, rerank_from or k)
    if not rerank_from:
        return adc
    return _exact_rerank(adc, corpus, queries, k)
