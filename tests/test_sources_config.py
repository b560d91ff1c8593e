"""Loader + config validation tests (mirrors reference LoadersTest /
ConfigurationTest, SURVEY §5)."""

import pytest
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.config import (
    FdaConfig,
    MonteCarloConfig,
    SamplingConfig,
)
from platform_etl_openfda_faers_spark.functions.normalize import normalize_term
from platform_etl_openfda_faers_spark.sources import readers, writers


def test_blacklist_loader(spark, tmp_path):
    p = tmp_path / "bl.txt"
    p.write_text("  Drug Ineffective \nOFF LABEL USE\npatient^s condition\n\n")
    bl = readers.load_blacklist(spark, str(p))
    assert bl.columns == ["reactions"]
    got = {r.reactions for r in bl.collect()}
    # lowered, trimmed, '^' mapped to apostrophe (FAERS encoding)
    assert got == {"drug ineffective", "off label use", "patient's condition"}


def test_meddra_asc_parser(spark, tmp_path):
    p = tmp_path / "pt.asc"
    p.write_text("10000001$Headache$$$X$\n10000002$Nausea and vomiting$$$Y$\n")
    pt = readers.load_meddra_preferred_terms(spark, str(p))
    got = {(r.pt_code, r.pt_name) for r in pt.collect()}
    assert got == {("10000001", "headache"), ("10000002", "nausea and vomiting")}


def test_normalize_term_parity(spark):
    df = spark.createDataFrame([("  FOO^s Bar ",)], ["t"])
    assert df.select(normalize_term(df.t).alias("n")).first().n == "foo's bar"


def test_csv_single_file_writer_honors_path(spark, tmp_path):
    # reference quirk #3: its CSV writer ignores the computed file name
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    out = str(tmp_path / "out_csv")
    writers.write_csv_single_file(df, out)
    import glob

    parts = glob.glob(f"{out}/part-*.csv.gz")
    assert len(parts) == 1  # single gzip'd part with header, at the given path


def test_config_validation():
    with pytest.raises(ValueError):
        MonteCarloConfig(permutations=0)
    with pytest.raises(ValueError):
        MonteCarloConfig(percentile=1.5)
    with pytest.raises(ValueError):
        SamplingConfig(fraction=0.0)
    with pytest.raises(ValueError):
        FdaConfig(outputs=("parquet", "xml"))
    assert FdaConfig(outputs=("parquet", "json", "csv")).montecarlo.permutations == 100


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join without an Exchange (the pay-shuffle-once-at-ingest pattern)."""
    import contextlib
    import io

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{tmp_path}/warehouse'"
    )
    # disable auto-broadcast so the planner actually uses the bucketed
    # layout (broadcast would bypass it — fine at this size, but the test
    # proves the at-scale sort-merge path is shuffle-free)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = readers.load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        orders = readers.load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
        )
        writers.write_bucketed(li, "bucketdb.li_b", "l_orderkey", num_buckets=8)
        writers.write_bucketed(orders, "bucketdb.ord_b", "l_orderkey", num_buckets=8)
        joined = spark.table("bucketdb.li_b").join(
            spark.table("bucketdb.ord_b"), ["l_orderkey"]
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


_GOOD_REPORT = (
    '{"safetyreportid": "SR1", "serious": "1", "receivedate": "20200101",'
    ' "primarysource": {"qualification": "1"},'
    ' "patient": {"reaction": [{"reactionmeddrapt": "headache"}],'
    ' "drug": [{"medicinalproduct": "aspirin", "drugcharacterization": "1"}]}}'
)


def test_fda_reader_survives_malformed_lines(spark, tmp_path):
    """One corrupt or truncated line must not kill the ingest: PERMISSIVE
    yields a null-field row for each (dropped by the P6 guards), and the
    pinned schema reads the same rows a schema-inferred read does."""
    p = tmp_path / "reports.jsonl"
    truncated = _GOOD_REPORT.replace("SR1", "SR2")[:-30]
    p.write_text(
        _GOOD_REPORT + "\n{this is not json\n" + truncated + "\n" + _GOOD_REPORT + "\n"
    )
    permissive = readers.load_fda_reports(spark, str(p))
    assert permissive.count() == 4
    assert permissive.where(F.col("safetyreportid").isNotNull()).count() == 2

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    inferred = spark.read.json(str(p)).select(
        "safetyreportid", "primarysource.qualification"
    )
    assert rows(permissive.select("safetyreportid", "qualification")) == rows(
        inferred
    )


def test_fda_reader_tolerates_absent_fields(spark, tmp_path):
    """A field that no record carries reads as null instead of failing
    analysis: without ``seriousnessdeath`` a report counts as non-death
    ('0', stage/OpenFdaEtl.scala:76); without ``primarysource`` its
    qualification is null, so the P5 filter drops it downstream."""
    p = tmp_path / "reports.jsonl"
    bare = _GOOD_REPORT.replace(' "primarysource": {"qualification": "1"},', "")
    assert "primarysource" not in bare and "seriousnessdeath" not in bare
    p.write_text(bare + "\n" + bare.replace("SR1", "SR2") + "\n")
    got = readers.load_fda_reports(spark, str(p)).collect()
    assert sorted(r.safetyreportid for r in got) == ["SR1", "SR2"]
    assert {(r.seriousness_death, r.qualification) for r in got} == {("0", None)}


def test_fda_reader_submits_no_job_at_plan_time(spark, tmp_path):
    """Building the FAERS read runs nothing: the schema is pinned, so no
    inference job scans the input (~130 GB in production)."""
    p = tmp_path / "reports.jsonl"
    p.write_text(_GOOD_REPORT + "\n")
    sc = spark.sparkContext
    group = "test/load_fda_reports"
    sc.setJobGroup(group, group)
    try:
        readers.load_fda_reports(spark, str(p))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_write_outputs_roundtrip(spark, sf_dir, tmp_path):
    """S5/S6/S7 dispatch: parquet and json round-trip the rows; csv lands as
    one gzip part with header."""
    df = readers.load_table(spark, sf_dir, "nation")
    writers.write_outputs(df, ["parquet", "json", "csv"], str(tmp_path / "out"))
    pq = spark.read.parquet(str(tmp_path / "out" / "parquet"))
    js = spark.read.json(str(tmp_path / "out" / "json"))
    assert sorted(map(tuple, pq.select(*df.columns).collect())) == sorted(
        map(tuple, df.collect())
    )
    assert js.count() == df.count()
    csv_parts = list((tmp_path / "out" / "csv").glob("part-*.csv.gz"))
    assert len(csv_parts) == 1


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column must prune at PLANNING time: the
    plan's PartitionFilters carries the predicate and the scan reads only
    the matching directory's files."""
    import contextlib
    import io
    import re
    from pathlib import Path

    from platform_etl_openfda_faers_spark.sources.readers import load_table
    from platform_etl_openfda_faers_spark.sources.writers import write_partitioned

    out = str(tmp_path / "orders_by_prio")
    orders = load_table(spark, sf_dir, "orders")
    write_partitioned(orders, out, ["o_orderpriority"])

    # hive layout on disk: one directory per priority value
    dirs = sorted(
        p.name for p in Path(out).iterdir() if p.name.startswith("o_orderpriority=")
    )
    assert len(dirs) == 5, dirs

    back = spark.read.parquet(out).where(F.col("o_orderpriority") == "1-URGENT")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderpriority" in m.group(1), plan
    # pruned scan touches exactly the one partition's rows
    expected = orders.where(F.col("o_orderpriority") == "1-URGENT").count()
    assert back.count() == expected > 0
    # and the non-matching partition filter yields an empty (pruned) scan
    assert spark.read.parquet(out).where(
        F.col("o_orderpriority") == "nope"
    ).count() == 0


def test_load_config_file(tmp_path, monkeypatch):
    """Config-file deployment path: comments stripped, ${ENV} substituted,
    nested dataclasses built, validation + unknown-key rejection intact."""
    import pytest

    from platform_etl_openfda_faers_spark.config import load_config

    monkeypatch.setenv("DATA_ROOT", "/data")
    cfg_file = tmp_path / "etl.conf"
    cfg_file.write_text(
        """
        {
          // HOCON-style comment
          # hash comment too
          "fda": {
            "fda_data": "${DATA_ROOT}/fda/**/*.jsonl",
            "chembl_drugs": "${DATA_ROOT}/chembl.json",
            "blacklist": "${DATA_ROOT}/blacklist.txt",
            "output_path": "out",
            "outputs": ["parquet", "json"],
            "montecarlo": {"permutations": 50, "percentile": 0.9},
            "sampling": {"enabled": true, "fraction": 0.25}
          }
        }
        """
    )
    cfg = load_config(str(cfg_file))
    assert cfg.fda.fda_data == "/data/fda/**/*.jsonl"
    assert cfg.fda.outputs == ("parquet", "json")
    assert cfg.fda.montecarlo.permutations == 50
    assert cfg.fda.montecarlo.seed == 42  # default preserved
    assert cfg.fda.sampling.enabled and cfg.fda.sampling.fraction == 0.25

    bad = tmp_path / "bad.conf"
    bad.write_text('{"fda": {"montecarlo": {"permutations": -1}}}')
    with pytest.raises(ValueError, match="permutations"):
        load_config(str(bad))

    unknown = tmp_path / "unknown.conf"
    unknown.write_text('{"fda": {"not_a_key": 1}}')
    with pytest.raises(ValueError, match="unknown FdaConfig keys"):
        load_config(str(unknown))


def test_load_table_normalizes_ntz_timestamps(spark, sf_dir):
    # the testdata events parquet stores micros with isAdjustedToUTC=0,
    # which PySpark 4 reads as TIMESTAMP_NTZ; load_table must hand every
    # consumer a plain TIMESTAMP column (unix_micros et al reject NTZ)
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    # and the arithmetic that broke in round 3 resolves
    assert ev.select(F.unix_micros("ts")).first()[0] is not None


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC roundtrip; a filter on the ``load_orc`` scan reaches the ORC
    reader's PushedFilters (same pushdown contract as parquet)."""
    import contextlib
    import io
    import re

    from platform_etl_openfda_faers_spark.sources.readers import load_orc, load_table

    out = str(tmp_path / "nation_orc")
    nation = load_table(spark, sf_dir, "nation")
    nation.write.orc(out)

    back = load_orc(spark, out, columns=["n_nationkey", "n_name"]).where(
        F.col("n_nationkey") < 5
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "n_nationkey" in m.group(1), plan
    # column pruning: the read schema carries only the projected columns
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert rs and "n_name" in rs.group(1) and "n_regionkey" not in rs.group(1), plan
    got = {r.n_nationkey for r in back.collect()}
    assert got == set(range(5))


def test_binary_file_ingest_feeds_audio_features(spark, tmp_path):
    """binaryFile source -> audio_features: files on disk become
    (media_id, content) rows with no driver-side listing, glob-pruned."""
    import numpy as np

    from platform_etl_openfda_faers_spark.operators import multimodal as mm
    from platform_etl_openfda_faers_spark.sources.readers import load_binary_files

    for i in range(3):
        samples = (np.arange(64 + i) % 7 * 100 - 300).astype(np.int16)
        (tmp_path / f"clip{i}.wav").write_bytes(mm.encode_wav(samples))
    (tmp_path / "junk.txt").write_bytes(b"not audio")

    files = load_binary_files(spark, str(tmp_path), glob="*.wav")
    assert files.count() == 3  # glob pruned the .txt
    media = files.select(
        F.regexp_extract(F.col("path"), r"clip(\d+)\.wav", 1)
        .cast("long")
        .alias("media_id"),
        "content",
    )
    rows = mm.audio_features(media, window=32).orderBy("media_id", "win").collect()
    # every clip has 64+ samples -> exactly 2 full 32-frame windows each
    assert [(r.media_id, r.win) for r in rows] == [
        (0, 0), (0, 1), (1, 0), (1, 1), (2, 0), (2, 1)
    ]
    assert all(r.peak <= 300 and r.rms > 0 for r in rows)


def test_text_corpus_loader_line_and_wholefile(spark, tmp_path):
    """text source front door: line mode yields one row per line with a
    layout-independent doc_key; wholetext mode yields one row per file."""
    from platform_etl_openfda_faers_spark.sources.readers import load_text_corpus

    (tmp_path / "a.txt").write_text("alpha beta\ngamma\n")
    (tmp_path / "b.txt").write_text("delta\n")

    lines = load_text_corpus(spark, str(tmp_path))
    rows = {(r.source_file.rsplit("/", 1)[-1], r.text) for r in lines.collect()}
    assert rows == {
        ("a.txt", "alpha beta"), ("a.txt", "gamma"), ("b.txt", "delta")
    }
    # doc_key is deterministic: same rows -> same keys under repartition
    k1 = sorted(r.doc_key for r in lines.collect())
    k2 = sorted(r.doc_key for r in lines.repartition(7).collect())
    assert k1 == k2

    whole = load_text_corpus(spark, str(tmp_path), whole_file=True)
    texts = {r.text for r in whole.collect()}
    assert texts == {"alpha beta\ngamma\n", "delta\n"}
