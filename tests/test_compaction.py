"""Laws for the stored-index compaction job (VERDICT r13 #4).

The ingest loops append one ``ingest_batch=<id>`` partition directory
per micro-batch; ``compact_ingest_index`` consolidates them into one
``ingest_batch=-1`` base.  Pinned here:

1. serve results are IDENTICAL before and after compaction, and the
   loop keeps ingesting/serving across the boundary (post-compaction
   batches dedup against the compacted base);
2. the parquet file count collapses to the secondary-key cardinality;
3. compaction is IDEMPOTENT (second run is a no-op) and crash-RESUMABLE
   (a manifest + complete scratch dir mid-swap is finished, never
   recomputed from the half-deleted index);
4. the build stamp is preserved, and a mixed-stamp index (two builds
   appended to one path) is refused;
5. the ``_compacted_through`` watermark makes a lost-lineage replay of
   an absorbed batch id fail loudly in the ingest guard.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.operators import dedup
from platform_etl_openfda_faers_spark.operators.cache import unpersist_cached
from platform_etl_openfda_faers_spark.streaming.ingest import (
    compact_ingest_index,
    dedup_ingest_batch,
)


def _text_for(i: int) -> str:
    return " ".join(f"tok{i}w{j}" for j in range(20))


_SCHEMA = "doc_id LONG, text STRING"


def _ingest(spark, idx, acc, batches, first_id=0):
    """Drive the real ingest step: one call per arriving batch, batch ids
    counting up from ``first_id``."""
    for i, rows in enumerate(batches, start=first_id):
        dedup_ingest_batch(spark.createDataFrame(rows, _SCHEMA), i, idx, acc)


def _ingest_files(spark, tmp_path, name, batches):
    """A fresh index and accepted table holding ``batches``."""
    idx = str(tmp_path / f"index_{name}")
    acc = str(tmp_path / f"acc_{name}")
    _ingest(spark, idx, acc, batches)
    return idx, acc


def _serve_pairs(spark, idx_path, probe_rows):
    """Near-dup check a probe batch against the stored index — the
    serving call whose results must not notice compaction."""
    probe = spark.createDataFrame(probe_rows, _SCHEMA)
    spark.catalog.refreshByPath(idx_path)
    stored = spark.read.parquet(idx_path)
    pairs = dedup.simhash_near_duplicates_incremental64(
        probe, None, "text", "doc_id", max_hamming=3,
        max_bucket_size=None, corpus_index=stored,
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    unpersist_cached(pairs)
    return got


def _parquet_files(path: str) -> list[Path]:
    return [
        p for p in Path(path).rglob("*.parquet")
        if ".compact_tmp" not in p.parts
    ]


BATCHES = [
    [(0, _text_for(0)), (1, _text_for(1)), (2, _text_for(2))],
    [(10, _text_for(3)), (11, _text_for(1)), (12, _text_for(4))],
    [(20, _text_for(0)), (21, _text_for(5)), (23, _text_for(99))],
]
# probe near-dups accepted 1 and 12 (text 1 / text 4), plus a unique
PROBE = [(100, _text_for(1)), (101, _text_for(4)), (102, _text_for(77))]


def test_compaction_serve_identity_and_loop_continuity(spark, tmp_path):
    idx, acc = _ingest_files(spark, tmp_path, "main", BATCHES[:2])
    before_pairs = _serve_pairs(spark, idx, PROBE)
    assert before_pairs  # non-vacuous: the probe really matches the index
    files_before = len(_parquet_files(idx))

    res = compact_ingest_index(spark, idx, partition_cols=("ci",))
    assert res["absorbed_batches"] == [0, 1]
    # file-count law: 2 batches x 4 ci dirs collapse to one file per ci
    assert res["files_after"] == 4 < files_before == res["files_before"]
    assert sorted(
        d.name for d in Path(idx).glob("ingest_batch=*")
    ) == ["ingest_batch=-1"]

    # serve identity across the boundary
    spark.catalog.refreshByPath(idx)
    assert _serve_pairs(spark, idx, PROBE) == before_pairs

    # the loop keeps running: batch 2 arrives AFTER compaction and must
    # dedup against the compacted base (20 dups accepted 0)
    _ingest(spark, idx, acc, BATCHES[2:], first_id=2)
    accepted = {r.doc_id for r in spark.read.parquet(acc).collect()}
    # same accepted set as the never-compacted twin run
    idx2, acc2 = _ingest_files(spark, tmp_path, "twin", BATCHES)
    twin = {r.doc_id for r in spark.read.parquet(acc2).collect()}
    assert accepted == twin == {0, 1, 2, 10, 12, 21, 23}

    # and the post-compaction index (base + batch-2 appends) serves the
    # same pairs as the never-compacted twin index
    assert _serve_pairs(spark, idx, PROBE) == _serve_pairs(
        spark, idx2, PROBE
    )

    # idempotency: nothing live to absorb -> no-op.  (ingest_batch=2
    # arrived after the first compaction, so a SECOND compaction absorbs
    # base + batch 2, and a third is the true no-op.)
    res2 = compact_ingest_index(spark, idx, partition_cols=("ci",))
    assert res2["absorbed_batches"] == [-1, 2]
    res3 = compact_ingest_index(spark, idx, partition_cols=("ci",))
    assert res3["absorbed_batches"] == []
    assert res3["files_before"] == res3["files_after"] == 4
    spark.catalog.refreshByPath(idx)
    assert _serve_pairs(spark, idx, PROBE) == before_pairs

    # stamp preserved verbatim
    fps = (
        spark.read.parquet(idx).select("index_fp").distinct().collect()
    )
    assert len(fps) == 1

    # watermark guard: a replay of an absorbed batch id fails loudly
    replay = spark.createDataFrame([(50, _text_for(50))], _SCHEMA)
    with pytest.raises(ValueError, match="compacted through"):
        dedup_ingest_batch(replay, 1, idx, acc)


def test_compaction_flat_table(spark, tmp_path):
    """partition_cols=() — the accepted-docs table: collapses to one
    file, rows identical."""
    idx, acc = _ingest_files(spark, tmp_path, "flat", BATCHES[:2])
    rows_before = {
        (r.doc_id, r.text)
        for r in spark.read.parquet(acc).select("doc_id", "text").collect()
    }
    res = compact_ingest_index(spark, acc, partition_cols=())
    assert res["files_after"] == 1
    spark.catalog.refreshByPath(acc)
    rows_after = {
        (r.doc_id, r.text)
        for r in spark.read.parquet(acc).select("doc_id", "text").collect()
    }
    assert rows_after == rows_before


def test_compaction_crash_resume(spark, tmp_path):
    """A crash between manifest write and cleanup is RESUMED from the
    complete scratch copy — never recomputed from the half-deleted
    index (which would silently drop the already-deleted batches)."""
    idx, _ = _ingest_files(spark, tmp_path, "crash", BATCHES[:2])
    before_pairs = _serve_pairs(spark, idx, PROBE)
    root = Path(idx)

    # manufacture the mid-swap state: complete tmp (the consolidated
    # copy a real run writes before any delete), manifest, and ONE
    # absorbed dir already deleted
    df = spark.read.parquet(idx)
    rows = df.count()
    dirs = sorted(d.name for d in root.glob("ingest_batch=*"))
    (
        df.drop("ingest_batch")
        .repartition(F.col("ci"))
        .write.mode("overwrite")
        .partitionBy("ci")
        .parquet(str(root / ".compact_tmp"))
    )
    manifest = {
        "absorbed_batches": [0, 1],
        "absorbed_dirs": dirs,
        "through": 1,
        "rows": rows,
        "files_before": len(_parquet_files(idx)),
    }
    (root / ".compact_manifest.json").write_text(json.dumps(manifest))
    shutil.rmtree(root / dirs[0])  # the "crash": one dir gone

    res = compact_ingest_index(spark, idx, partition_cols=("ci",))
    assert res["absorbed_batches"] == [0, 1]
    assert sorted(
        d.name for d in root.glob("ingest_batch=*")
    ) == ["ingest_batch=-1"]
    assert (root / "_compacted_through").read_text() == "1"
    spark.catalog.refreshByPath(idx)
    assert _serve_pairs(spark, idx, PROBE) == before_pairs


def test_recompaction_crash_after_promotion_keeps_base(spark, tmp_path):
    """Regression (ADVICE r14 high): on a RE-compaction the absorbed set
    includes the existing ``ingest_batch=-1`` base.  A crash landing
    AFTER ``tmp.rename(base)`` but BEFORE the manifest unlink used to
    make the resumed ``_finish_swap`` rmtree the just-promoted base
    (tmp no longer existed to restore it) — silently emptying the index
    while the watermark still advanced.  The fix only deletes absorbed
    dirs while the swap is pending (tmp present); a resume after
    promotion must finish watermark + manifest ONLY, leaving the base
    intact."""
    idx, acc = _ingest_files(spark, tmp_path, "repromote", BATCHES[:2])
    root = Path(idx)
    compact_ingest_index(spark, idx, partition_cols=("ci",))

    # batch 2 arrives post-compaction -> dirs are base + ingest_batch=2
    _ingest(spark, idx, acc, BATCHES[2:], first_id=2)
    spark.catalog.refreshByPath(idx)
    before_pairs = _serve_pairs(spark, idx, PROBE)
    rows_before = spark.read.parquet(idx).count()

    # manufacture the post-promotion crash state of a SECOND compaction:
    # consolidated copy promoted to base, absorbed dirs (old base + batch
    # 2) deleted, tmp gone — manifest still present, watermark stale
    df = spark.read.parquet(idx).drop("ingest_batch")
    dirs = sorted(d.name for d in root.glob("ingest_batch=*"))
    assert dirs == ["ingest_batch=-1", "ingest_batch=2"]
    manifest = {
        "absorbed_batches": [-1, 2],
        "absorbed_dirs": dirs,
        "through": 2,
        "rows": rows_before,
        "files_before": len(_parquet_files(idx)),
    }
    (
        df.repartition(F.col("ci"))
        .write.mode("overwrite")
        .partitionBy("ci")
        .parquet(str(root / ".compact_tmp"))
    )
    for d in dirs:
        shutil.rmtree(root / d)
    (root / ".compact_tmp").rename(root / "ingest_batch=-1")
    (root / ".compact_manifest.json").write_text(json.dumps(manifest))

    res = compact_ingest_index(spark, idx, partition_cols=("ci",))
    # resume finished the bookkeeping without touching the promoted base
    assert res["absorbed_batches"] == [-1, 2]
    assert (root / "_compacted_through").read_text() == "2"
    assert not (root / ".compact_manifest.json").exists()
    spark.catalog.refreshByPath(idx)
    assert spark.read.parquet(idx).count() == rows_before  # NOT emptied
    assert _serve_pairs(spark, idx, PROBE) == before_pairs


def test_compaction_rejects_remote_uri(spark):
    """The watermark/manifest machinery is local-FS only; a remote URI
    must fail loudly instead of letting the replay guard silently pass
    as 'never compacted' (ADVICE r14 low)."""
    with pytest.raises(NotImplementedError, match="local-FS only"):
        compact_ingest_index(spark, "s3a://bucket/index")
    with pytest.raises(NotImplementedError, match="remote host"):
        compact_ingest_index(spark, "file://nn.example.com/index")


def test_compaction_normalizes_file_uri(spark, tmp_path):
    """file:// URIs are NORMALIZED to local paths (ADVICE r15): before,
    ``Path('file:///x')`` was a bogus relative path, so the watermark
    read silently returned 'never compacted' (the exact replay-guard
    bypass the scheme guard exists to prevent) and the compactor
    globbed an empty directory and no-opped while Spark read real data
    at the URI.  Now the whole watermark + swap machinery operates on
    the real directory through the URI form."""
    from platform_etl_openfda_faers_spark.streaming.ingest import (
        _compacted_through,
    )

    idx, _ = _ingest_files(spark, tmp_path, "fileuri", BATCHES[:2])
    uri = "file://" + idx
    res = compact_ingest_index(spark, uri, partition_cols=("ci",))
    assert res["absorbed_batches"] == [0, 1]
    # the watermark is readable through BOTH forms — no silent bypass
    assert _compacted_through(uri) == 1
    assert _compacted_through(idx) == 1
    # serving through the plain path sees the compacted base only
    assert {p.parent.parent.name if "ci=" in p.parent.name else None
            for p in _parquet_files(idx)} <= {"ingest_batch=-1", None}


def test_compaction_refuses_mixed_stamp(spark, tmp_path):
    """Two different builds appended to one index path: the constant-
    stamp assertion refuses to consolidate them."""
    idx, _ = _ingest_files(spark, tmp_path, "mixed", BATCHES[:1])
    poisoned = (
        spark.read.parquet(idx)
        .drop("ingest_batch")
        .withColumn("index_fp", F.lit("not-the-same-build"))
    )
    poisoned.write.mode("overwrite").partitionBy("ci").parquet(
        f"{idx}/ingest_batch=9"
    )
    with pytest.raises(ValueError, match="distinct index_fp"):
        compact_ingest_index(spark, idx, partition_cols=("ci",))
