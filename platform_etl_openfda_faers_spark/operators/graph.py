"""Connected components over an edge list — duplicate-cluster resolution
for dedup pipelines (beyond-reference surface).

Near-dup detectors (MinHash/SimHash/embedding-cosine) emit PAIRS; a real
dedup pass needs CLUSTERS (keep one doc per connected component of the
similarity graph).  This is iterative min-label propagation:

    comp(v)  <-  min(comp(v), min over neighbors u of comp(u))

repeated until a fixpoint.  Each iteration is one join + one groupBy —
both plain hash-shuffles on the node id that Catalyst/AQE handle like any
aggregation.  Convergence takes O(graph diameter) rounds; dedup similarity
graphs are overwhelmingly tiny star/clique clusters, so diameter (and the
round count) is small in practice.  At extreme scale the same skeleton
upgrades to the Kiveris et al. large-star/small-star variant (alternating
edge rewrites that converge in O(log n) rounds); the per-round dataflow —
join, min-aggregate, convergence check — is identical.

Lineage control: every round materializes via ``localCheckpoint`` so the
plan does not grow by one join per iteration (Catalyst re-optimizing an
N-round lineage is quadratic; checkpointing keeps each round O(1)).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .cache import attach_cached


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iterations: int = 25,
) -> DataFrame:
    """(id, component) for every node in ``edges``; component = min node id
    reachable through undirected edges.  Deterministic (pure min-fixpoint,
    no randomness, independent of partition layout).
    """
    sym = (
        edges.select(F.col(src).alias("id"), F.col(dst).alias("nbr"))
        .union(edges.select(F.col(dst).alias("id"), F.col(src).alias("nbr")))
        .distinct()
        .persist()
    )
    labels = (
        sym.select("id").distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint(eager=True)

    converged = False
    for _ in range(max_iterations):
        nbr_comp = labels.select(
            F.col("id").alias("nbr"), F.col("comp").alias("nbr_comp")
        )
        msgs = sym.join(nbr_comp, "nbr").select(
            "id", F.col("nbr_comp").alias("comp")
        )
        new_labels = (
            labels.union(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            # lazy: the ``changed`` probe below is the materializing
            # action — one driver-blocking job per round instead of two
            # (same rationale as connected_components_twophase)
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # The fixpoint may land EXACTLY in the last round (that round still
        # reports changed>0 because it did change labels); run one final
        # confirming probe before declaring failure.
        nbr_comp = labels.select(
            F.col("id").alias("nbr"), F.col("comp").alias("nbr_comp")
        )
        msgs = sym.join(nbr_comp, "nbr").select(
            "id", F.col("nbr_comp").alias("comp")
        )
        still_changing = (
            labels.union(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        converged = still_changing == 0
    sym.unpersist()
    if not converged:
        # Min-label propagation advances one hop per round; a chain longer
        # than max_iterations would otherwise return silently WRONG labels
        # (nodes not yet reached by their component's min id).  The `changed`
        # probe above already detects the fixpoint, so non-convergence here
        # is definitive, not a heuristic.
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (graph diameter exceeds the round budget); raise "
            "max_iterations or switch to connected_components_twophase"
        )
    return labels


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(u, v) with u > v, self-loops dropped, deduped."""
    u = F.greatest(F.col(src), F.col(dst)).alias("u")
    v = F.least(F.col(src), F.col(dst)).alias("v")
    return (
        edges.select(u, v).where(F.col("u") != F.col("v")).distinct()
    )


def connected_components_twophase(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iterations: int = 30,
) -> DataFrame:
    """(id, component) via alternating large-star / small-star rewrites —
    the Kiveris et al. two-phase algorithm, converging in O(log^2 n) rounds
    worst case (O(log n) in practice) versus min-label propagation's
    O(diameter).  The scale path for 100 TB similarity graphs: long chains
    cost a handful of rounds instead of one round per hop, and each round
    is two groupBy-join passes over the edge list.

    - large-star: per node u, attach every STRICTLY LARGER neighbor to
      m = min(N(u) ∪ {u}) — emit (v, m) for v ∈ N(u), v > u.
    - small-star: canonicalize edges larger→smaller, then per node u attach
      every (≤) neighbor and u itself to m = min(N(u) ∪ {u}).

    At the fixpoint the graph is a disjoint union of stars centered at each
    component's min id, so the final label is min(id, min neighbor).
    Deterministic; output matches ``connected_components`` exactly.
    """
    # lazy checkpoint + immediate count (r17): the count job IS the
    # materializing action, so the initial edge set is persisted and its
    # round-0 cardinality learned in ONE job — the former eager
    # checkpoint spent a whole driver-blocking job materializing, then
    # round 1's convergence probe paid a second job to count it.
    cur = _canonical_edges(edges, src, dst).localCheckpoint(eager=False)
    initial_count = cur.count()
    # NOT checkpointed (r16, guide §1.2 job economy): the node set is
    # consumed exactly once — by the final labeling join after the loop —
    # and it derives from the already-checkpointed ``cur``, so an eager
    # materialization here is one whole driver-blocking job that buys
    # nothing.  Folded into the final action instead.
    nodes = (
        cur.select(F.col("u").alias("id"))
        .union(cur.select(F.col("v").alias("id")))
        .distinct()
    )

    converged = False
    cur_count: int | None = initial_count
    for _ in range(max_iterations):
        # Each star phase needs "per node u: m = min over u's rows, attached
        # back to every row of u" — written as groupBy(min) + equi-join that
        # is TWO shuffles of the edge set (the aggregate's and the join
        # probe side's; the aggregate output is tiny but the EDGES cross
        # the wire twice) plus a join.  A min window over partitionBy(u)
        # computes the same per-node min and attaches it in ONE shuffle of
        # the edges, no join (r16, guide §2.4 "remove shuffles outright" —
        # same identity as prune_df_window).  Per round this is 6 Exchanges
        # + 2 joins -> 4 Exchanges + 0 joins, and the edge set crosses the
        # network once per phase instead of twice — the dominant byte
        # saving on a 100 TB similarity graph.  min() is insensitive to the
        # window's row order, so the rewrite is value-identical.
        w_u = Window.partitionBy("u")
        # ---- large-star: symmetric adjacency, min per node, link v>u to m
        sym = cur.select("u", "v").union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        large = (
            sym.withColumn(
                "m", F.least(F.min("v").over(w_u), F.col("u"))
            )
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # ---- small-star on the canonical (larger→smaller) direction.
        # No ``.distinct()`` here (r17): the min window below is
        # duplicate-insensitive (min over u's rows is unchanged by
        # repeats) and ``small``'s trailing distinct bounds the emitted
        # SET either way — the dedup bought nothing but one more
        # edge-set exchange per round (its input is at most |E| rows,
        # one per large-star emission, with or without it).
        canon = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).where(F.col("u") != F.col("v"))
        linked = canon.withColumn("m", F.min("v").over(w_u))
        small = (
            # attach each smaller neighbor v (v != m) ...
            linked.where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            # ... and u itself to m (one row per canon edge here instead of
            # the old one-row-per-u aggregate; the trailing distinct()
            # collapses the duplicates, so the emitted SET is unchanged)
            .union(linked.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # LAZY local checkpoint (r16, guide §1.2 job economy): eager=True
        # would spend one driver-blocking job materializing the round's
        # edge set and then a SECOND job counting it.  Marked lazy, the
        # convergence-probe ``count()`` below is the action that first
        # computes the RDD, so the checkpoint data is persisted (and the
        # lineage truncated) as a side effect of the count job — one job
        # per round instead of two.  The next round's double reference
        # (``sym`` unions ``cur`` with its swap) then reads the persisted
        # partitions, never recomputing the round.
        nxt = small.localCheckpoint(eager=False)
        # exact convergence probe: the edge set is stable when nothing was
        # added or removed (both sets are distinct, so count + one-sided
        # anti-join suffices).  Counts are carried forward in Python so
        # each round runs ONE count job for ``nxt`` instead of re-counting
        # ``cur``, and the cheap count comparison runs FIRST so the
        # anti-join probe is skipped entirely in rounds where the edge
        # count still moved.
        nxt_count = nxt.count()
        changed = (
            nxt_count != cur_count
            or nxt.join(cur, ["u", "v"], "left_anti").limit(1).count() > 0
        )
        cur, cur_count = nxt, nxt_count
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_twophase did not converge within "
            f"{max_iterations} rounds"
        )
    # stars: every non-min node points directly at its component min
    direct = cur.groupBy("u").agg(F.min("v").alias("comp"))
    return nodes.join(
        direct.select(F.col("u").alias("id"), "comp"), "id", "left"
    ).select("id", F.coalesce("comp", F.col("id")).alias("comp"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the second
    iterative-algorithm pattern in this engine (after Lloyd k-means):
    a PURELY declarative composition, no driver-side convergence actions.

    Cross-engine float discipline (see ``plans/benchmarks.py`` header):
    per-edge contributions round to 12 decimals, the per-node sum runs
    over ``decimal(28,12)`` casts (exact, order-independent — a raw
    double sum depends on partition layout), and each new rank rounds to
    10 decimals.  Every arithmetic op in between is a single IEEE
    multiply/divide/add, so ranks replay bit-for-bit in any engine.

    Dangling nodes (no out-edges) keep the standard simplification: their
    rank is not redistributed — both engines agree by construction.

    Plan shape at scale: per iteration one join of edges to ranks on src
    (+ a broadcast-sized outdeg join), one hash aggregate on dst, one
    left join back to the node list; N rides a 1-row lazy-scalar
    broadcast.  ``iterations`` is fixed so the whole run is one lazy DAG,
    never checkpointed: measured at sf0.1 (16k-node purchase graph), a
    ``localCheckpoint`` every few iterations was SLOWER on wall time
    (10 iter: 3.0s vs 9.4s; 40 iter: 8.0s vs 29.2s) because each eager
    checkpoint materializes ranks that the single lazy DAG never needs.

    Cache lifetime: the edge projection and node list persist
    MEMORY_AND_DISK; the handles are attached to the
    returned DataFrame — after materializing, release them with
    ``operators.cache.unpersist_cached(result)`` (or clear the whole
    session cache between queries, as the bench/correctness runners do).
    """
    # every iteration joins against the edge list AND the node list:
    # without a cache the fixed-iteration lazy DAG re-derives the edge
    # lineage once per consumer (plan-audited: 44 scans for 3 iterations
    # over a joined edge source).  The 2-column edge projection is a
    # fraction of the source tables; measured 1.75x on the purchase-graph
    # query at sf0.1 (9.6s -> 5.5s), ~flat at sf1 where the distinct-pair
    # set is large enough that caching trades recompute for
    # (de)serialization.
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_tab = nodes.agg(F.count("*").alias("n"))
    outdeg = e.groupBy("_src").agg(F.count("*").alias("outdeg"))
    ranks = nodes.crossJoin(F.broadcast(n_tab)).select(
        "node", F.round(F.lit(1.0) / F.col("n"), 10).alias("rank")
    )
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["_src"] == ranks["node"])
            .join(outdeg, "_src")
            .select(
                F.col("_dst").alias("node"),
                F.round(F.col("rank") / F.col("outdeg"), 12).alias("c"),
            )
        )
        sums = contribs.groupBy("node").agg(
            F.sum(F.col("c").cast("decimal(28,12)")).cast("double").alias("s")
        )
        ranks = (
            nodes.join(sums, "node", "left")
            .crossJoin(F.broadcast(n_tab))
            .select(
                "node",
                F.round(
                    F.lit(1.0 - damping) / F.col("n")
                    + damping * F.coalesce(F.col("s"), F.lit(0.0)),
                    10,
                ).alias("rank"),
            )
        )
    attach_cached(ranks, e, nodes)
    return ranks
