"""End-to-end FAERS pipeline tests (mirrors the reference's OpenFdaEtlTest
strategy — SURVEY §5 — plus exact-count invariants the reference can't
assert because of its approx_count_distinct)."""

import hashlib
from collections import Counter
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.operators.contingency import contingency_llr
from platform_etl_openfda_faers_spark.operators.drugmap import map_to_chembl
from platform_etl_openfda_faers_spark.operators.filters import anti_join_blacklist
from platform_etl_openfda_faers_spark.operators.flatten import explode_reports
from platform_etl_openfda_faers_spark.operators.montecarlo import monte_carlo_filter
from platform_etl_openfda_faers_spark.plans.pipeline import clean_pairs, open_fda_stage1
from platform_etl_openfda_faers_spark.sources import readers

from .faers_fixtures import write_fixtures


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    return write_fixtures(tmp_path_factory.mktemp("faers"))


@pytest.fixture(scope="module")
def loaded(spark, fixture_paths):
    reports_path, drugs_path, blacklist_path = fixture_paths
    reports = readers.load_fda_reports(spark, reports_path)
    drugs = readers.load_chembl_drug_list(spark, drugs_path)
    blacklist = readers.load_blacklist(spark, blacklist_path)
    return reports, drugs, blacklist


def test_drug_list_schema_and_explosion(loaded):
    # reference OpenFdaEtlTest: generateDrugList output schema [chembl_id, drug_name]
    _, drugs, _ = loaded
    assert drugs.columns == ["chembl_id", "drug_name"]
    rows = {(r.chembl_id, r.drug_name) for r in drugs.collect()}
    assert ("CHEMBL25", "aspirin") in rows
    assert ("CHEMBL25", "acetylsalicylic acid") in rows
    assert ("CHEMBL112", "tylenol") in rows
    assert all(n == n.lower() for _, n in rows)


def test_blacklist_anti_join_inverse_property(spark, loaded):
    # reference OpenFdaEtlTest invariant: re-anti-joining the blacklist
    # against the filtered output leaves the blacklist unchanged.
    reports, drugs, blacklist = loaded
    pairs = explode_reports(reports)
    filtered = anti_join_blacklist(pairs, blacklist)
    remaining = blacklist.join(
        filtered,
        blacklist["reactions"] == filtered["reaction_reactionmeddrapt"],
        "left_anti",
    )
    assert remaining.count() == blacklist.count()
    # and the filter actually removed the blacklisted terms present in data
    bad = filtered.where(
        F.col("reaction_reactionmeddrapt").isin("drug ineffective", "off label use")
    )
    assert bad.count() == 0
    assert filtered.count() < pairs.count()


def test_flatten_filters(spark, loaded):
    reports, _, _ = loaded
    pairs = explode_reports(reports)
    # normalization: everything lowercased, no empties
    assert pairs.where(F.col("drug_name") != F.lower(F.col("drug_name"))).count() == 0
    assert pairs.where(F.col("reaction_reactionmeddrapt") == "").count() == 0


def test_contingency_exact_counts_match_duckdb(spark, loaded):
    """A/B/C/D from the groupBy+join formulation == brute-force SQL."""
    reports, drugs, blacklist = loaded
    pairs = map_to_chembl(
        anti_join_blacklist(explode_reports(reports), blacklist), drugs
    ).select("safetyreportid", "chembl_id", "reaction_reactionmeddrapt")
    stage1 = contingency_llr(pairs)

    pdf = pairs.toPandas()
    con = duckdb.connect()
    con.register("pairs", pdf)
    oracle = con.sql(
        """
        WITH a AS (
          SELECT chembl_id, reaction_reactionmeddrapt AS reaction,
                 count(DISTINCT safetyreportid) AS A
          FROM pairs GROUP BY 1, 2
        ), d AS (
          SELECT chembl_id, count(DISTINCT safetyreportid) AS nd FROM pairs GROUP BY 1
        ), r AS (
          SELECT reaction_reactionmeddrapt AS reaction,
                 count(DISTINCT safetyreportid) AS nr FROM pairs GROUP BY 1
        ), t AS (SELECT count(DISTINCT safetyreportid) AS n FROM pairs)
        SELECT a.chembl_id, a.reaction, a.A, d.nd - a.A AS C, r.nr - a.A AS B,
               t.n - a.A - (r.nr - a.A) - (d.nd - a.A) AS D
        FROM a JOIN d USING (chembl_id) JOIN r USING (reaction) CROSS JOIN t
        """
    ).df()
    got = {
        (r.chembl_id, r.reaction_reactionmeddrapt): (r.A, r.B, r.C, r.D)
        for r in stage1.collect()
    }
    checked = 0
    for row in oracle.itertuples():
        key = (row.chembl_id, row.reaction)
        if key in got:  # stage1 drops NaN-llr rows (P7), oracle doesn't
            assert got[key] == (row.A, row.B, row.C, row.D), key
            checked += 1
    assert checked > 10


def test_llr_nonnegative_and_finite(loaded):
    reports, drugs, blacklist = loaded
    stage1 = open_fda_stage1(clean_pairs(reports, drugs, blacklist))
    rows = stage1.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.llr is not None and r.llr == r.llr  # not NaN
        assert r.A >= 1
        assert r.A + r.B + r.C + r.D == r.uniq_reports_total
        assert r.meddraCode == ""


def test_monte_carlo_deterministic_and_significant(loaded):
    reports, drugs, blacklist = loaded
    stage1 = open_fda_stage1(clean_pairs(reports, drugs, blacklist)).cache()
    out1 = monte_carlo_filter(stage1, permutations=50, percentile=0.95, seed=42)
    out2 = monte_carlo_filter(stage1, permutations=50, percentile=0.95, seed=42)
    rows1 = sorted((r.chembl_id, r.event, r.llr, r.critval) for r in out1.collect())
    rows2 = sorted((r.chembl_id, r.event, r.llr, r.critval) for r in out2.collect())
    assert rows1 == rows2  # seeded => reproducible (fixes reference quirk #2)
    for _, _, llr, critval in rows1:
        assert llr > critval > 0
    assert out1.columns == ["chembl_id", "event", "count", "llr", "critval", "meddraCode"]


def test_contingency_ignores_null_report_ids(spark):
    """A NULL report id must contribute to NO count (A, marginals, or total
    N) — countDistinct excludes NULLs, and the operator now drops them
    upstream so the reference's distinct().count() off-by-one (which WOULD
    count NULL as a value, OpenFdaEtl.scala:143) cannot surface (ADVICE r1)."""
    rows = [
        ("r1", "d1", "x1"), ("r2", "d1", "x1"), ("r2", "d2", "x2"),
        ("r3", "d2", "x1"),
    ]
    cols = ["safetyreportid", "chembl_id", "reaction_reactionmeddrapt"]
    clean = spark.createDataFrame(rows, cols)
    dirty = spark.createDataFrame(rows + [(None, "d1", "x1")], cols)
    key = ["chembl_id", "reaction_reactionmeddrapt"]
    a = {tuple(r) for r in contingency_llr(clean).select(*key, "A", "B", "C", "D").collect()}
    b = {tuple(r) for r in contingency_llr(dirty).select(*key, "A", "B", "C", "D").collect()}
    assert a == b
    assert {r["uniq_reports_total"] for r in contingency_llr(dirty).select("uniq_reports_total").collect()} == {3}


def test_run_with_sampling_writes_side_outputs(spark, fixture_paths, tmp_path):
    """Composed pipeline with sampling enabled (reference:
    OpenFdaEtl.scala:50-53 -> StratifiedSampling.scala:14-41): the side
    outputs must exist, and the sampled raw reports must survive
    RE-INGESTION through the P6 death filter — quirk #4: the reference
    stamps seriousnessdeath=1 onto every sampled report, which would make
    the sample unusable as pipeline input; ours preserves original fields."""
    from platform_etl_openfda_faers_spark.config import (
        EngineConfig,
        FdaConfig,
        MonteCarloConfig,
        SamplingConfig,
    )
    from platform_etl_openfda_faers_spark.plans import pipeline

    reports_path, drugs_path, blacklist_path = fixture_paths
    out = str(tmp_path / "out")
    cfg = EngineConfig(
        fda=FdaConfig(
            fda_data=reports_path,
            chembl_drugs=drugs_path,
            blacklist=blacklist_path,
            outputs=("parquet",),
            output_path=out,
            montecarlo=MonteCarloConfig(permutations=50),
            # fraction=1.0: every md5 bucket is under the threshold, so the
            # sample keeps every id (fractional samples are pinned by
            # test_stratified_sample_is_md5_predicate_and_layout_independent)
            sampling=SamplingConfig(enabled=True, fraction=1.0, seed=42),
        )
    )
    pipeline.run(spark, cfg)

    sampled_clean = spark.read.parquet(f"{out}/sampled_clean/parquet")
    sampled_raw = spark.read.parquet(f"{out}/sampled_raw_reports/parquet")
    assert sampled_clean.count() > 0
    assert sampled_raw.count() > 0
    # every sampled clean row's report id is present in the raw sample
    clean_ids = {r[0] for r in sampled_clean.select("safetyreportid").distinct().collect()}
    raw_ids = {r[0] for r in sampled_raw.select("safetyreportid").distinct().collect()}
    assert clean_ids <= raw_ids

    # re-ingestion: the flatten's qualification/death filters must keep the
    # sampled reports (original seriousness_death preserved)
    reflat = explode_reports(sampled_raw)
    assert reflat.count() > 0


def test_run_with_sampling_writes_csv_outputs(spark, fixture_paths, tmp_path):
    """CSV output with sampling: the raw-report sample keeps the nested
    ``patient`` struct, which CSV cannot hold, so the writer stores nested
    columns as JSON strings; every output is one gzip'd CSV file."""
    import json

    from platform_etl_openfda_faers_spark.config import (
        EngineConfig,
        FdaConfig,
        MonteCarloConfig,
        SamplingConfig,
    )
    from platform_etl_openfda_faers_spark.plans import pipeline

    reports_path, drugs_path, blacklist_path = fixture_paths
    out = str(tmp_path / "out")
    cfg = EngineConfig(
        fda=FdaConfig(
            fda_data=reports_path,
            chembl_drugs=drugs_path,
            blacklist=blacklist_path,
            outputs=("csv",),
            output_path=out,
            montecarlo=MonteCarloConfig(permutations=50),
            sampling=SamplingConfig(enabled=True, fraction=1.0, seed=42),
        )
    )
    pipeline.run(spark, cfg)

    for name in ("agg_by_chembl", "agg_critval_drug", "sampled_clean",
                 "sampled_raw_reports"):
        assert len(list((tmp_path / "out" / name / "csv").glob("part-*.csv.gz"))) == 1, name
    raw = spark.read.option("header", True).csv(f"{out}/sampled_raw_reports/csv")
    rows = raw.select("safetyreportid", "patient").collect()
    assert rows
    for r in rows:
        assert "drug" in json.loads(r.patient), r


def test_run_without_sampling_writes_no_side_outputs(spark, fixture_paths, tmp_path):
    from pathlib import Path

    from platform_etl_openfda_faers_spark.config import (
        EngineConfig,
        FdaConfig,
        MonteCarloConfig,
    )
    from platform_etl_openfda_faers_spark.plans import pipeline

    reports_path, drugs_path, blacklist_path = fixture_paths
    out = str(tmp_path / "out")
    cfg = EngineConfig(
        fda=FdaConfig(
            fda_data=reports_path,
            chembl_drugs=drugs_path,
            blacklist=blacklist_path,
            outputs=("parquet",),
            output_path=out,
            montecarlo=MonteCarloConfig(permutations=50),
        )
    )
    pipeline.run(spark, cfg)
    assert not Path(f"{out}/sampled_clean").exists()
    assert not Path(f"{out}/sampled_raw_reports").exists()


@pytest.mark.parametrize("write", [True, False], ids=["output_path", "no_output"])
def test_run_then_unpersist_cached_leaves_sql_cache_empty(spark, fixture_paths, tmp_path, write):
    """Caller-owned cache lifetime (operators/cache.py) for the whole
    pipeline: after ``run`` and ``unpersist_cached(result)`` nothing the
    run persisted stays cached — including the cleaned pair table under
    stage 1."""
    from platform_etl_openfda_faers_spark.config import (
        EngineConfig,
        FdaConfig,
        MonteCarloConfig,
    )
    from platform_etl_openfda_faers_spark.operators.cache import unpersist_cached
    from platform_etl_openfda_faers_spark.plans import pipeline

    reports_path, drugs_path, blacklist_path = fixture_paths
    cfg = EngineConfig(
        fda=FdaConfig(
            fda_data=reports_path,
            chembl_drugs=drugs_path,
            blacklist=blacklist_path,
            outputs=("parquet",),
            output_path=str(tmp_path / "out") if write else "",
            montecarlo=MonteCarloConfig(permutations=50),
        )
    )
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    result = pipeline.run(spark, cfg)
    result.count()
    unpersist_cached(result)
    assert cache.isEmpty()


def _bucket(key, seed, buckets=10_000):
    """Plain-Python replica of ``sampling.hash_bucket``."""
    return int(hashlib.md5(f"{key}#{seed}".encode()).hexdigest()[:8], 16) % buckets


def test_stratified_sample_is_md5_predicate_and_layout_independent(spark, loaded):
    """The stratified sample is a pure md5 predicate on the ChEMBL id: the
    same sampled clean rows and raw report ids at 4, 8 and 16 shuffle
    partitions, and exactly the ids a plain-Python replica of the bucket
    rule selects — ``bucket(id, seed + 1) < t``, or the id is significant
    and ``bucket(id, seed) < t``."""
    from platform_etl_openfda_faers_spark.config import SamplingConfig
    from platform_etl_openfda_faers_spark.plans.pipeline import (
        stratified_sampling_outputs,
    )

    reports, drugs, blacklist = loaded
    sampling = SamplingConfig(enabled=True, fraction=0.3, seed=42)
    # the fixture plants no signal, so Monte Carlo finds no significant pair:
    # stand in two significant ids so that both draws take part
    sig_ids = {"CHEMBL25", "CHEMBL1201"}
    significant = spark.createDataFrame([(i,) for i in sig_ids], ["chembl_id"])
    before = spark.conf.get("spark.sql.shuffle.partitions")
    got = {}
    try:
        for n in (4, 8, 16):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            pairs = clean_pairs(reports, drugs, blacklist)
            clean, raw = stratified_sampling_outputs(
                reports, pairs, significant, sampling
            )
            got[n] = (
                Counter(clean.collect()),
                sorted(r.safetyreportid for r in raw.select("safetyreportid").collect()),
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert got[4] == got[8] == got[16]

    clean_rows, raw_ids = got[8]
    assert clean_rows and raw_ids
    all_ids = {r.chembl_id for r in pairs.select("chembl_id").distinct().collect()}
    t = round(sampling.fraction * 10_000)
    expected = {
        i for i in all_ids
        if _bucket(i, sampling.seed + 1) < t
        or (i in sig_ids and _bucket(i, sampling.seed) < t)
    }
    assert {r.chembl_id for r in clean_rows} == expected
    assert expected < all_ids
    # the significant-id draw contributes an id the all-id draw misses
    assert any(_bucket(i, sampling.seed + 1) >= t for i in expected)


@pytest.mark.parametrize(
    "sampling,max_scans", [(True, 2), (False, 1)], ids=["sampling", "no_sampling"]
)
def test_run_parses_faers_json_within_scan_budget(
    spark, fixture_paths, tmp_path, sampling, max_scans
):
    """``pipeline.run`` parses the FAERS JSON once for stage 1 (the cleaned
    pairs are persisted and shared with the sample) and at most once more
    for the sampled raw reports.  A full scan is a stage whose input bytes
    reach the JSON file's size."""
    from platform_etl_openfda_faers_spark.config import (
        EngineConfig,
        FdaConfig,
        MonteCarloConfig,
        SamplingConfig,
    )
    from platform_etl_openfda_faers_spark.operators.cache import unpersist_cached
    from platform_etl_openfda_faers_spark.plans import pipeline
    from platform_etl_openfda_faers_spark.plans.metrics import StageMetrics

    reports_path, drugs_path, blacklist_path = fixture_paths
    cfg = EngineConfig(
        fda=FdaConfig(
            fda_data=reports_path,
            chembl_drugs=drugs_path,
            blacklist=blacklist_path,
            outputs=("parquet",),
            output_path=str(tmp_path / "out"),
            montecarlo=MonteCarloConfig(permutations=50),
            sampling=SamplingConfig(enabled=sampling, fraction=0.3),
        )
    )
    metrics = StageMetrics(spark)
    metrics.snapshot()
    unpersist_cached(pipeline.run(spark, cfg))
    size = Path(reports_path).stat().st_size
    n = sum(r["input_bytes"] >= size for r in metrics.stage_rows())
    assert 1 <= n <= max_scans


def test_merge_upsert_null_update_and_delete(spark):
    """MERGE edge semantics: a matched source row with NULL in a value
    column must overwrite (not resurrect the target value); matched rows
    hitting the delete condition drop; NULL delete-condition evaluations
    (keep/insert rows have no target segment) must not delete."""
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", "seg1"), (2, "b", "kill"), (3, "c", "seg3")],
        ["k", "v", "seg"],
    )
    source = spark.createDataFrame(
        [(1, None, "seg1"), (2, "b2", "x"), (9, "new", "x")],
        ["k", "v", "seg"],
    )
    out = {
        r.k: (r.v, r.action)
        for r in merge_upsert(
            target, source, ["k"], action_col="action",
            delete_on_match=F.col("t.seg") == "kill",
        ).collect()
    }
    assert out == {
        1: (None, "update"),   # source NULL wins
        3: ("c", "keep"),      # unmatched target survives
        9: ("new", "insert"),  # unmatched source inserted
    }  # k=2 deleted by the matched condition

    import pytest

    with pytest.raises(ValueError, match="missing merge columns"):
        merge_upsert(target, source.drop("seg"), ["k"])


def test_merge_upsert_rejects_null_merge_keys(spark):
    """A NULL merge key can never match under SQL equality, so a naive
    presence test would classify the source row as 'keep' and emit an
    all-NULL row.  The plan embeds a lazy raise_error guard instead:
    NULL keys on either side fail the job at execution with a clear
    message; valid data is unaffected."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from platform_etl_openfda_faers_spark.operators.merge import merge_upsert

    target = spark.createDataFrame([(1, "a")], ["k", "v"])
    bad_source = spark.createDataFrame(
        [(None, "ghost"), (2, "ok")], "k int, v string"
    )
    with pytest.raises(Exception, match="NULL merge key in source"):
        try:
            merge_upsert(target, bad_source, ["k"]).collect()
        except Py4JJavaError as e:  # unwrap the JVM exception text
            raise RuntimeError(str(e.java_exception)) from e

    bad_target = spark.createDataFrame(
        [(None, "ghost")], "k int, v string"
    )
    with pytest.raises(Exception, match="NULL merge key in target"):
        try:
            merge_upsert(bad_target, target, ["k"]).collect()
        except Py4JJavaError as e:
            raise RuntimeError(str(e.java_exception)) from e

    # valid data still merges exactly as before (guard is free on the
    # happy path)
    good = merge_upsert(
        spark.createDataFrame([(1, "a")], ["k", "v"]),
        spark.createDataFrame([(1, "b"), (2, "c")], ["k", "v"]),
        ["k"],
        action_col="action",
    )
    assert {(r.k, r.v, r.action) for r in good.collect()} == {
        (1, "b", "update"),
        (2, "c", "insert"),
    }


def test_scd2_from_log_runs_nulls_and_current_flag(spark):
    """SCD2 historization: consecutive equal states collapse, NULL is a
    legal tracked state (null-safe change detection), versions are
    1-based per key, and only the last run is open/current."""
    import datetime as dt

    from platform_etl_openfda_faers_spark.operators.scd import scd2_from_log

    t0 = dt.datetime(2024, 1, 1)
    log = spark.createDataFrame(
        [
            # user 1: a, a, None, None, b  -> runs: a, NULL, b
            (1, t0, 1, "a"),
            (2, t0 + dt.timedelta(minutes=1), 1, "a"),
            (3, t0 + dt.timedelta(minutes=2), 1, None),
            (4, t0 + dt.timedelta(minutes=3), 1, None),
            (5, t0 + dt.timedelta(minutes=4), 1, "b"),
            # user 2: single state
            (6, t0, 2, "x"),
        ],
        ["event_id", "ts", "user_id", "state"],
    )
    rows = (
        scd2_from_log(log, "user_id", "state", "ts", tiebreak="event_id")
        .orderBy("user_id", "version")
        .collect()
    )
    got = [
        (r.user_id, r.state, r.version, r.valid_from, r.valid_to, r.is_current)
        for r in rows
    ]
    m = dt.timedelta(minutes=1)
    assert got == [
        (1, "a", 1, t0, t0 + 2 * m, False),
        (1, None, 2, t0 + 2 * m, t0 + 4 * m, False),
        (1, "b", 3, t0 + 4 * m, None, True),
        (2, "x", 1, t0, None, True),
    ]


def test_snapshot_diff_classification_and_null_semantics(spark):
    """CDC diff edge semantics: NULL -> value and value -> NULL are real
    updates (null-safe comparison), NULL -> NULL is unchanged (excluded),
    deletes carry the OLD
    values, inserts/updates the NEW ones; schema mismatch and NULL keys
    reject."""
    from platform_etl_openfda_faers_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None), (5, "gone")],
        "k int, v string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "b2"), (3, None), (4, None), (6, "fresh")],
        "k int, v string",
    )
    out = {r.k: (r.change, r.v) for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {
        2: ("update", "b2"),    # NULL -> value is an update, new side wins
        3: ("update", None),    # value -> NULL is an update
        5: ("delete", "gone"),  # delete carries the OLD value
        6: ("insert", "fresh"),
    }  # k=1 equal, k=4 NULL->NULL: both unchanged, excluded

    import pytest

    with pytest.raises(ValueError, match="schemas differ"):
        snapshot_diff(old, new.withColumnRenamed("v", "w"), ["k"])
    from py4j.protocol import Py4JJavaError

    bad = spark.createDataFrame([(None, "x")], "k int, v string")
    with pytest.raises(Exception, match="NULL merge key in old"):
        try:
            snapshot_diff(bad, new, ["k"]).collect()
        except Py4JJavaError as e:
            raise RuntimeError(str(e.java_exception)) from e


def test_apply_changes_roundtrip_law(spark):
    """apply_changes(old, snapshot_diff(old, new), keys) == new exactly —
    including NULL -> value / value -> NULL updates, inserts, and
    tombstoned deletes; unknown change labels fail loudly."""
    from platform_etl_openfda_faers_spark.operators.merge import (
        apply_changes,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None), (5, "gone")],
        "k int, v string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "b2"), (3, None), (4, None), (6, "fresh")],
        "k int, v string",
    )
    changes = snapshot_diff(old, new, ["k"])
    applied = {r.k: r.v for r in apply_changes(old, changes, ["k"]).collect()}
    assert applied == {r.k: r.v for r in new.collect()}

    import pytest
    from pyspark.sql import functions as F

    bad = snapshot_diff(old, new, ["k"]).withColumn(
        "change", F.regexp_replace("change", "delete", "dletee")
    )
    with pytest.raises(Exception, match="unknown 'change' value"):
        apply_changes(old, bad, ["k"]).collect()
