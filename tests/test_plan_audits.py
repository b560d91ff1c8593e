"""Physical-plan audits: assert the *plan shape* we want at 100 TB, not
just the result — pushdown reaches the parquet scan, small dims broadcast,
the range join never degenerates to a nested loop, and per-query shuffle
counts stay bounded.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.plans import benchmarks


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    """Filter must reach the parquet scan; scan must read only the 7
    needed columns, not all 11."""
    plan = plan_of(benchmarks.q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read, read
    assert "l_quantity" in read and "l_shipdate" in read, read


def test_q3_broadcasts_small_dims(spark, sf_dir):
    """Multi-join analytics: the small sides must broadcast (no shuffle of
    the fact table for dim joins)."""
    plan = plan_of(benchmarks.q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_blacklist_anti_join_is_broadcast(spark, sf_dir):
    plan = plan_of(benchmarks.j1_blacklist_anti(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_range_join_is_hash_join_not_nested_loop(spark, sf_dir):
    """The bin trick must plan as an equi hash/sort-merge join; a naive
    range condition would show BroadcastNestedLoopJoin / CartesianProduct."""
    plan = plan_of(benchmarks.j_range_join(spark, sf_dir))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan


def test_frames_suite_single_shuffle(spark, sf_dir):
    """All three window frames hash-partition by user_id — one Exchange
    for the whole suite (plus none for the scan)."""
    import re

    plan = plan_of(benchmarks.w_frames_suite(spark, sf_dir))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan


def test_minhash_signatures_map_only(spark, sf_dir):
    """Row-local MinHash signatures must be a map-only plan: zero
    exchanges between the scan and the signature projection."""
    from platform_etl_openfda_faers_spark.operators import dedup
    from platform_etl_openfda_faers_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures_local(docs, "text", "doc_id")
    plan = plan_of(sigs)
    assert "Exchange" not in plan, plan


def test_click_purchase_batch_plan_is_binned_equi_join(spark, sf_dir):
    """The batch attribution join must ride the binned interval join: an
    equi hash join on (user_id, time-bin), never a per-user nested re-check
    of the range conjunct (hot users degenerate to O(clicks*purchases))."""
    plan = plan_of(benchmarks.stream_interval_join(spark, sf_dir))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "_bin" in plan, plan


def test_dedup_clusters_pair_graph_not_cartesian(spark, sf_dir):
    """The cluster edge list must come from LSH bucket co-occupancy (an
    equi-join on (table, bucket)), never an all-pairs cross join with a
    post-filter — the r3 scale-killer."""
    from platform_etl_openfda_faers_spark.operators import similarity
    from platform_etl_openfda_faers_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pairs = similarity.cosine_near_duplicates(
        emb, threshold=0.4, id_col="vec_id", vec_col="embedding",
        n_planes=8, n_tables=4, seed=42,
    )
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# ---------------------------------------------------------------------------
# Runtime data-movement audits: the static checks above prove the plan has
# the SHAPE we want; these execute the query and assert the actual bytes
# moved (AppStatusStore stage metrics — what the UI's stage page shows).
# A plan with one Exchange can still be a scale-killer if that Exchange
# carries the whole input; these pin the movement contract itself.


def _run_bytes(spark, df) -> dict:
    from platform_etl_openfda_faers_spark.plans.metrics import StageMetrics

    m = StageMetrics(spark)
    m.snapshot()
    df.write.format("noop").mode("overwrite").save()
    return m.delta()


def test_runtime_map_only_stage_moves_zero_shuffle_bytes(spark, sf_dir):
    """The map-only contract, enforced at runtime: row-local MinHash
    signatures over a plain table scan must complete with ZERO shuffle
    bytes written — not just zero Exchange nodes in the plan."""
    from platform_etl_openfda_faers_spark.operators import dedup
    from platform_etl_openfda_faers_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures_local(docs, "text", "doc_id")
    b = _run_bytes(spark, sigs)
    assert b["shuffle_write"] == 0 and b["shuffle_read"] == 0, b


def test_runtime_pii_redact_shuffles_at_most_one_corpus_copy(spark, sf_dir):
    """text_pii_redact's only data movement is ``load_docs``'s local-
    parallelism round-robin shim (tiny single-split file -> fan out to
    the cores; at 100 TB the file splits provide parallelism and the shim
    self-disables).  The redaction itself must add NO movement: total
    shuffle stays bounded by one copy of the corpus rows, never an
    explode or pair blow-up."""
    b = _run_bytes(spark, benchmarks.text_pii_redact(spark, sf_dir))
    assert b["shuffle_write"] == b["shuffle_read"], b  # single pass
    assert b["shuffle_write"] < 1_000_000, b  # ~one corpus copy at sf0.001
    assert b["spill_disk"] == 0 and b["spill_mem"] == 0, b


def test_runtime_q1_shuffles_only_partial_aggregates(spark, sf_dir):
    """q1's single Exchange must carry the map-side partial aggregate
    (4 groups x a few dozen partitions), never the lineitem rows.  If
    partial aggregation ever broke, the shuffle would be ~input-sized;
    the 8 KiB bound fails loudly long before that."""
    b = _run_bytes(spark, benchmarks.q1_pricing_summary(spark, sf_dir))
    assert b["input_bytes"] > 1_000, b  # the scan actually read data
    assert 0 < b["shuffle_write"] < 8_192, b
    assert b["spill_disk"] == 0 and b["spill_mem"] == 0, b


def test_runtime_blacklist_anti_join_shuffles_only_aggregates(spark, sf_dir):
    """The anti join itself is a broadcast probe (no fact-table shuffle);
    the only movement is the downstream countDistinct's partial
    aggregates — O(distinct orders), a fraction of the lineitem rows.
    The bound is one order of magnitude under the uncompressed fact
    table at this sf, so a broadcast regression (fact-side shuffle)
    fails immediately."""
    b = _run_bytes(spark, benchmarks.j1_blacklist_anti(spark, sf_dir))
    assert b["shuffle_write"] == b["shuffle_read"], b
    assert 0 < b["shuffle_write"] < 100_000, b


def test_zorder_layout_prunes_input_bytes(spark, tmp_path):
    """The point of Z-ordering: a two-column box filter over a Z-ordered
    parquet layout must read far fewer bytes than the same filter over an
    insertion-ordered layout (row-group min/max skipping works in BOTH
    dimensions), with identical results.  Insertion order is adversarial
    here: x cycles every 1000 rows, so every row group spans the full x
    AND y domains and nothing can be skipped."""
    from platform_etl_openfda_faers_spark.operators import zorder
    from platform_etl_openfda_faers_spark.plans.metrics import StageMetrics

    df = spark.range(300_000).select(
        (F.col("id") % 1000).alias("x"),
        (F.abs(F.hash(F.col("id"))) % 1000).alias("y"),
        F.col("id").alias("v"),
    )
    plain, zed = str(tmp_path / "plain"), str(tmp_path / "zed")
    opts = {"parquet.block.size": str(128 * 1024)}
    df.repartition(4).write.options(**opts).parquet(plain)
    zorder.zorder_repartition(
        df, ["x", "y"], [(0, 999), (0, 999)], bits=8, num_partitions=4
    ).write.options(**opts).parquet(zed)
    flt = "x BETWEEN 100 AND 120 AND y BETWEEN 200 AND 220"
    m = StageMetrics(spark)
    got = {}
    for name, path in (("plain", plain), ("zed", zed)):
        m.snapshot()
        cnt = spark.read.parquet(path).where(flt).count()
        got[name] = (cnt, m.delta()["input_bytes"])
    assert got["plain"][0] == got["zed"][0] > 0
    # the z-ordered layout must read under half the bytes (measured
    # locally it reads ~a tenth; 0.5 keeps the assertion robust)
    assert got["zed"][1] < got["plain"][1] * 0.5, got


def test_profile_table_single_scan_and_values(spark, sf_dir):
    """profile_table must read the table ONCE (one scan in the plan, no
    per-column re-scan union) and report exact nulls/distincts/min-max."""
    from platform_etl_openfda_faers_spark.operators.profile import (
        profile_table,
    )

    df = spark.createDataFrame(
        [(1, 2.5, "a"), (2, None, "b"), (3, 7.5, None), (3, 7.5, "b")],
        ["k", "v", "s"],
    )
    prof = {r.col_name: r for r in profile_table(df, exact_distinct=True).collect()}
    assert prof["k"].n_rows == 4 and prof["k"].n_nulls == 0
    assert prof["k"].n_distinct == 3
    assert (prof["k"].min_num, prof["k"].max_num) == (1.0, 3.0)
    assert prof["k"].min_str is None
    assert prof["v"].n_nulls == 1 and prof["v"].n_distinct == 2
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
    assert (prof["s"].min_str, prof["s"].max_str) == ("a", "b")
    assert prof["s"].min_num is None
    # approx mode still produces sane counts (scale default)
    approx = {r.col_name: r for r in profile_table(df).collect()}
    assert approx["k"].n_distinct >= 2
    # single scan of the parquet table regardless of column count
    from platform_etl_openfda_faers_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    import re

    plan = plan_of(profile_table(orders, exact_distinct=True))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_profile_table_non_identifier_column_names(spark):
    """Column names with spaces, quotes, dots, and backticks profile
    correctly (r6 ADVICE: the stack()/selectExpr formulation raised a
    ParseException on 'bad col' and a quote corrupted the expression)."""
    from platform_etl_openfda_faers_spark.operators.profile import (
        profile_table,
    )

    data = [(1, "x"), (2, None), (2, "y")]
    names = ["bad col", "it's.a `col`"]
    df = spark.createDataFrame(data).toDF(*names)
    prof = {r.col_name: r for r in profile_table(df, exact_distinct=True).collect()}
    assert set(prof) == set(names)
    assert prof["bad col"].n_distinct == 2
    assert prof["bad col"].n_nulls == 0
    assert (prof["bad col"].min_num, prof["bad col"].max_num) == (1.0, 2.0)
    assert prof["it's.a `col`"].n_nulls == 1
    assert (prof["it's.a `col`"].min_str, prof["it's.a `col`"].max_str) == ("x", "y")


def test_multiprobe_lsh_no_nested_loop_and_query_side_broadcast(spark, sf_dir):
    """Multi-probe LSH: the probe expansion must stay a broadcast hash
    join of the SMALL query side against the corpus buckets — never a
    nested loop — and the corpus index must not fan out (one Generate
    for the corpus table row, probes multiply only the query side)."""
    plan = plan_of(benchmarks.emb_lsh_multiprobe_topk(spark, sf_dir))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_image_dedup_is_map_only_plus_one_aggregate_shuffle(spark, sf_dir):
    """dHash dedup: decode+hash is mapInPandas (map-only); the only data
    movement is the hash-group aggregate — two exchanges total (partial
    agg + AQE final), no join."""
    import re

    plan = plan_of(benchmarks.multimodal_image_dedup(spark, sf_dir))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2, plan
    assert "Join" not in plan


def test_kmv_corpus_distinct_feeds_bottom_k_window(spark, sf_dir):
    """KMV: exactly one corpus-scale movement (the (grp, hash) DISTINCT
    with map-side partial aggregation) feeding the per-group bottom-k
    window; everything after operates on sketch-sized data, and no join
    in the plan degenerates to a nested loop over corpus-scale input —
    the pair enumeration's BroadcastNestedLoopJoin runs over <= #groups
    rows per side by construction (PLANS.md itemizes it).

    The load-bearing line is the WindowGroupLimit: Catalyst must push
    the ``pos <= k`` rank filter below the shuffle (map-side partial
    bottom-k), or a group's entire distinct hash universe funnels
    through ONE reducer task at corpus scale."""
    plan = plan_of(benchmarks.sketch_kmv_overlap(spark, sf_dir))
    assert "HashAggregate" in plan  # the distinct's partial aggregate
    assert "Window" in plan
    assert "WindowGroupLimit" in plan, plan


def test_ann_topk_windows_push_group_limits(spark, sf_dir):
    """Every ANN top-k ranks per query with row_number <= k; the
    WindowGroupLimit pushdown is what keeps a query's candidate set from
    collapsing into a single reducer sort at corpus scale."""
    for q in ("emb_cosine_topk", "emb_lsh_multiprobe_topk"):
        plan = plan_of(getattr(benchmarks, q)(spark, sf_dir))
        assert "WindowGroupLimit" in plan, (q, plan)


def test_snapshot_diff_is_single_full_outer_join(spark, sf_dir):
    """CDC diff: one full-outer sort-merge/hash join on the key, no
    nested loop, and the change classification stays a Project (no extra
    shuffle beyond the two join-side exchanges)."""
    import re

    plan = plan_of(benchmarks.cdc_snapshot_diff(spark, sf_dir))
    assert "FullOuter" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2, plan


def test_sql_ranking_suite_plan_matches_dataframe_twin(spark, sf_dir):
    """The SQL front end's window-function coverage (r11): sql_ranking_suite
    (spark.sql text with named WINDOW clauses) must optimize to the SAME
    plan as the DataFrame-API w_ranking_suite — same Window operators,
    same sort/exchange structure, modulo expression ids and view naming."""
    import re

    a = benchmarks.SPARK_QUERIES["sql_ranking_suite"](spark, str(sf_dir))
    b = benchmarks.SPARK_QUERIES["w_ranking_suite"](spark, str(sf_dir))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def skeleton(s):
        # operator-head sequence: the physical shape, names aside
        heads = []
        for ln in s.splitlines():
            m = re.match(r"[\s+:*()\d-]*([A-Za-z]+)", ln)
            if m:
                heads.append(m.group(1))
        return heads

    def window_specs(s):
        # every window function + its full spec, expr ids stripped —
        # the semantics of the window computation
        s = re.sub(r"#\d+", "", s)
        return sorted(
            re.findall(
                r"(?:row_number\(\)|rank\([^)]*\)|dense_rank\([^)]*\)|"
                r"lag\([^)]*\)|lead\([^)]*\)) "
                r"windowspecdefinition\([^)]*\([^)]*\)[^)]*\)",
                s,
            )
        )

    pa, pb = plan(a), plan(b)
    assert skeleton(pa) == skeleton(pb), (pa, pb)
    specs_a, specs_b = window_specs(pa), window_specs(pb)
    assert specs_a == specs_b and len(specs_a) == 5, (specs_a, specs_b)


def test_sessionize_is_single_exchange(spark, sf_dir):
    """Batch sessionization: the lag, the running session-index sum, and
    the (user_id, session_idx) aggregate must all reuse ONE
    HashPartitioning(user_id) — grouping on a superset of the window's
    partition keys plans no second exchange."""
    import re

    plan = plan_of(benchmarks.a_sessionize_events(spark, sf_dir))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "Join" not in plan


def test_monte_carlo_kernel_runs_once_spread_over_every_core(spark):
    """The critical-value UDF must appear as ONE Python evaluation node in
    ``monte_carlo_filter`` (a pushed-down ``critval > 0`` would evaluate the
    kernel twice), and the per-drug aggregate must read an explicit-count
    ``REPARTITION_BY_NUM`` exchange with ``defaultParallelism`` partitions:
    AQE coalesces the small per-drug shuffle into one task otherwise."""
    import re

    from platform_etl_openfda_faers_spark.operators.montecarlo import (
        monte_carlo_filter,
    )

    stage1 = spark.createDataFrame(
        [
            ("CHEMBL25", "NAUSEA", 20, 40, 50, 200, 5.0, ""),
            ("CHEMBL25", "RASH", 6, 40, 20, 200, 0.1, ""),
            ("CHEMBL1201", "NAUSEA", 4, 12, 5, 150, 3.0, ""),
        ],
        ["chembl_id", "reaction_reactionmeddrapt", "A",
         "uniq_report_ids_by_drug", "uniq_report_ids_by_reaction",
         "uniq_reports_total", "llr", "meddraCode"],
    )
    out = monte_carlo_filter(stage1, permutations=20)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    evals = re.findall(r"\b(?:Batch|Arrow)EvalPython\b", optimized)
    assert len(evals) == 1, optimized

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    plan = buf.getvalue()
    # The tree prints parents above children: the only shuffle must sit
    # below both halves of the collect_list aggregate.
    shuffle = re.compile(r"\bExchange hashpartitioning\((\w+)#\d+, (\d+)\), (\w+)")
    shuffles = [m.groups() for m in shuffle.finditer(plan)]
    parallelism = str(spark.sparkContext.defaultParallelism)
    assert shuffles == [("chembl_id", parallelism, "REPARTITION_BY_NUM")], plan
    assert plan.rindex("collect_list") < shuffle.search(plan).start(), plan
