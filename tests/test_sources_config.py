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


def test_meddra_asc_keeps_comma_and_quoted_terms_whole(spark, tmp_path):
    """Only ``$`` separates fields: a term with a comma or a double quote
    reads whole, so it keeps its own code (the reference's CSV read and
    comma split cut ``Fracture, hip`` down to ``fracture``)."""
    p = tmp_path / "llt.asc"
    p.write_text(
        "10000007$Fracture$10000008$$$\n"
        "10000003$Fracture, hip$10000004$$$\n"
        '10000005$"Tennis" elbow$10000006$$$\n'
    )
    llt = readers.load_meddra_low_level_terms(spark, str(p))
    got = {(r.llt_code, r.llt_name) for r in llt.collect()}
    assert got == {
        ("10000003", "fracture, hip"),
        ("10000005", '"tennis" elbow'),
        ("10000007", "fracture"),
    }


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


def _plan_time_jobs(spark, load, path) -> list[int]:
    """Ids of the jobs submitted while ``load(spark, path)`` builds its
    DataFrame (nothing is collected)."""
    sc = spark.sparkContext
    group = f"test/{load.__name__}"
    sc.setJobGroup(group, group)
    try:
        load(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_fda_reader_submits_no_job_at_plan_time(spark, tmp_path):
    """Building the FAERS read runs nothing: the schema is pinned, so no
    inference job scans the input (~130 GB in production)."""
    p = tmp_path / "reports.jsonl"
    p.write_text(_GOOD_REPORT + "\n")
    assert _plan_time_jobs(spark, readers.load_fda_reports, str(p)) == []


def test_chembl_and_blacklist_readers_submit_no_job_at_plan_time(spark, tmp_path):
    """The ChEMBL dump and the blacklist are read with pinned schemas: no
    inference job reads the molecule dump, no job reads the blacklist's
    first line."""
    from .faers_fixtures import write_fixtures

    _, drugs_path, blacklist_path = write_fixtures(tmp_path, n_reports=1)
    assert _plan_time_jobs(spark, readers.load_chembl_drug_list, drugs_path) == []
    assert _plan_time_jobs(spark, readers.load_blacklist, blacklist_path) == []


def test_chembl_reader_pinned_schema_matches_inferred(spark, tmp_path):
    """``CHEMBL_SCHEMA`` reads the rows a schema-inferred read does, also
    for a molecule that lacks ``synonyms`` and ``tradeNames``; that
    molecule still maps its preferred name."""
    import json

    from .faers_fixtures import write_fixtures

    _, drugs_path, _ = write_fixtures(tmp_path, n_reports=1)
    with open(drugs_path, "a") as f:
        f.write(json.dumps({"id": "CHEMBL9", "name": "Bare", "max_phase": 4}) + "\n")
    cols = [f.name for f in readers.CHEMBL_SCHEMA.fields]

    def rows(df):
        return sorted(map(tuple, df.select(*cols).collect()), key=repr)

    pinned = spark.read.schema(readers.CHEMBL_SCHEMA).json(drugs_path)
    assert rows(pinned) == rows(spark.read.json(drugs_path))
    drugs = readers.load_chembl_drug_list(spark, drugs_path)
    assert drugs.where(F.col("chembl_id") == "CHEMBL9").collect() == [
        ("CHEMBL9", "bare")
    ]


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
    """Config-file deployment path: comments stripped, ${ENV} substituted
    (an unset one rejected), nested dataclasses built, validation +
    unknown-key rejection intact."""
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

    # an unset ${VAR} fails here, not later as a literal missing path
    monkeypatch.delenv("NO_SUCH_VAR_X", raising=False)
    unset = tmp_path / "unset.conf"
    unset.write_text('{"fda": {"fda_data": "${NO_SUCH_VAR_X}/fda/*.jsonl"}}')
    with pytest.raises(ValueError, match="NO_SUCH_VAR_X"):
        load_config(str(unset))


def test_load_config_closes_its_file(tmp_path, monkeypatch):
    """Loading a config leaves no file handle open: with ResourceWarning
    an error, an unclosed file surfaces as an unraisable exception when
    the handle is collected."""
    import gc
    import sys
    import warnings

    from platform_etl_openfda_faers_spark.config import load_config

    cfg_file = tmp_path / "etl.conf"
    cfg_file.write_text('{"fda": {"output_path": "out"}}')
    unraisable = []
    monkeypatch.setattr(sys, "unraisablehook", unraisable.append)
    with warnings.catch_warnings():
        warnings.simplefilter("error", ResourceWarning)
        load_config(str(cfg_file))
        gc.collect()
    assert not unraisable, [u.exc_value for u in unraisable]


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


def test_binary_file_ingest_feeds_audio_features(spark, tmp_path):
    """Spark's binaryFile source -> audio_features: files on disk become
    (media_id, content) rows with no driver-side listing, glob-pruned,
    and the raw WAV bytes decode into the operator's windows."""
    import numpy as np

    from platform_etl_openfda_faers_spark.operators import multimodal as mm

    for i in range(3):
        samples = (np.arange(64 + i) % 7 * 100 - 300).astype(np.int16)
        (tmp_path / f"clip{i}.wav").write_bytes(mm.encode_wav(samples))
    (tmp_path / "junk.txt").write_bytes(b"not audio")

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(str(tmp_path))
    )
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
