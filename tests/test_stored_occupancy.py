"""Laws for the stored-occupancy serve path (r15, from the sf30 probe).

The combined-occupancy cap in the stored-serve paths used to recompute
per-bucket counts over (stored index ∪ batch) on EVERY serve — a count
window whose input grows with the CATALOG (the sf30 probe measured the
video serve leg at 4.55x for 3x data while the batch only tripled).
Counts are additive, so a build-time occupancy sidecar
(``dedup.stored_occupancy_table``) plus the batch's own counts give the
identical keep set with a broadcast semi-join and NO exchange/sort of
the stored index.  Pinned here:

1. serve with ``corpus_occupancy`` is ROW-IDENTICAL to the count-window
   path, on harnesses where buckets genuinely STRADDLE the cap (some
   pruned, some kept — both branches non-vacuous), for the simhash64
   and video families;
2. the occupancy path's physical plan contains no window over the
   union and broadcasts the kept-key set;
3. a sidecar from a different build family is refused via the
   ``index_fp`` stamp; a sidecar without an index is refused.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.operators import dedup, multimodal
from platform_etl_openfda_faers_spark.sources import writers


def _text_for(i: int) -> str:
    return " ".join(f"tok{i}w{j}" for j in range(20))


_SCHEMA = "doc_id LONG, text STRING"
_CAP = 8


@pytest.fixture()
def straddle_index(spark, tmp_path):
    """Corpus whose chunk buckets straddle cap=8: 12 identical 'mega'
    docs (every bucket they occupy exceeds the cap once the batch twin
    arrives), one 2-doc near-dup bucket (well under), four uniques."""
    corpus_rows = (
        [(i, _text_for(0)) for i in range(1, 13)]            # mega-class
        + [(20, _text_for(5)), (21, _text_for(5))]           # small class
        + [(30 + i, _text_for(40 + i)) for i in range(4)]    # uniques
    )
    corpus = spark.createDataFrame(corpus_rows, _SCHEMA)
    idx_path = str(tmp_path / "simhash64_index")
    writers.write_partitioned(
        dedup.simhash64_chunk_table(corpus, "text", "doc_id"),
        idx_path,
        ["ci"],
    )
    stored = spark.read.parquet(idx_path)
    occ = dedup.stored_occupancy_table(stored)
    batch = spark.createDataFrame(
        [(100, _text_for(0)), (101, _text_for(5)), (102, _text_for(77))],
        _SCHEMA,
    )
    return stored, occ, batch


def test_simhash64_occupancy_serve_matches_window_prune(spark, straddle_index):
    stored, occ, batch = straddle_index
    kw = dict(max_hamming=3, max_bucket_size=_CAP, corpus_index=stored)
    win = dedup.simhash_near_duplicates_incremental64(
        batch, None, "text", "doc_id", **kw
    )
    via_occ = dedup.simhash_near_duplicates_incremental64(
        batch, None, "text", "doc_id", corpus_occupancy=occ, **kw
    )
    a = sorted(map(tuple, win.collect()))
    b = sorted(map(tuple, via_occ.collect()))
    assert a == b
    ids_in_pairs = {i for row in a for i in (row[0], row[1])}
    # cap straddled for real: the mega-class batch doc found nothing
    # (its buckets hold 13 > 8), the small-class doc found its two twins
    assert 100 not in ids_in_pairs
    assert {20, 21, 101} <= ids_in_pairs
    # ...and the uncapped run DOES pair the mega class (prune non-vacuous)
    uncapped = dedup.simhash_near_duplicates_incremental64(
        batch, None, "text", "doc_id",
        max_hamming=3, max_bucket_size=None, corpus_index=stored,
    )
    assert 100 in {
        i for row in uncapped.collect() for i in (row.id_a, row.id_b)
    }

    # plan contract: no count window anywhere (the stored index is not
    # exchanged/sorted for the cap); the kept-key set arrives broadcast
    plan = via_occ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    wplan = win._jdf.queryExecution().executedPlan().toString()
    assert "Window" in wplan, wplan  # the twin really uses the window


def test_video_occupancy_serve_matches_window_prune(spark, sf_dir, tmp_path):
    """Same law at the video family's production geometry over the
    shifted-rendition harness (content classes land whole buckets above
    and below the cap)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        (F.col("doc_id") % 10).alias("gid"),
        ((F.col("doc_id") / 10).cast("long") % 2).alias("off"),
    )
    is_new = F.col("doc_id") % 7 == 0

    def hashes(pred):
        return multimodal.video_frame_dhash(
            multimodal.synthetic_avi_media_grid(
                docs.where(pred), "doc_id", seed_col="gid", offset_col="off"
            )
        )

    idx_path = str(tmp_path / "video_frame_index")
    writers.write_partitioned(
        multimodal.video_frame_chunk_table(hashes(~is_new)), idx_path, ["ci"]
    )
    stored = spark.read.parquet(idx_path)
    occ = dedup.stored_occupancy_table(stored)
    kw = dict(max_hamming=3, min_frames=2, corpus_index=stored)
    win = multimodal.video_near_duplicates_incremental(
        hashes(is_new), None, max_bucket_size=64, **kw
    )
    via_occ = multimodal.video_near_duplicates_incremental(
        hashes(is_new), None, max_bucket_size=64, corpus_occupancy=occ, **kw
    )
    a = sorted(map(tuple, win.collect()))
    b = sorted(map(tuple, via_occ.collect()))
    assert a == b
    assert a, "harness must produce at least one frame-voted pair"
    plan = via_occ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_audio_occupancy_serve_matches_window_prune(spark, sf_dir, tmp_path):
    """Same law for the audio landmark family (keys are the landmark
    triple (a_bin, b_bin, dt), not (ci, cv) — the sidecar is generic
    over the key tuple)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        (F.col("doc_id") % 10).alias("gid"),
        ((F.col("doc_id") / 10).cast("long") % 2).alias("off"),
    )
    is_new = F.col("doc_id") % 7 == 0

    def peaks(pred):
        return multimodal.audio_spectral_peaks(
            multimodal.synthetic_wav_media_tonal(
                docs.where(pred), "doc_id", seed_col="gid", offset_col="off"
            ),
        )

    idx_path = str(tmp_path / "audio_landmark_index")
    writers.write_partitioned(
        multimodal.audio_landmark_table(peaks(~is_new), max_dt=3),
        idx_path,
        ["dt"],
    )
    stored = spark.read.parquet(idx_path)
    occ = dedup.stored_occupancy_table(stored, keys=("a_bin", "b_bin", "dt"))
    kw = dict(max_dt=3, min_matches=10, corpus_index=stored)
    win = multimodal.audio_landmark_matches_incremental(
        peaks(is_new), None, max_bucket_size=64, **kw
    )
    via_occ = multimodal.audio_landmark_matches_incremental(
        peaks(is_new), None, max_bucket_size=64, corpus_occupancy=occ, **kw
    )
    a = sorted(map(tuple, win.collect()))
    b = sorted(map(tuple, via_occ.collect()))
    assert a == b
    assert a, "harness must produce at least one landmark match"
    plan = via_occ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_occupancy_guard_refuses_wrong_stamp(spark, straddle_index):
    """A sidecar whose index_fp is not this family's build is refused at
    materialization — serving stale counts would silently mis-prune."""
    stored, occ, batch = straddle_index
    poisoned = occ.withColumn("index_fp", F.lit("someone-elses-build"))
    res = dedup.simhash_near_duplicates_incremental64(
        batch, None, "text", "doc_id",
        max_hamming=3, max_bucket_size=_CAP,
        corpus_index=stored, corpus_occupancy=poisoned,
    )
    with pytest.raises(Exception, match="stale stored index"):
        res.collect()


def test_occupancy_requires_corpus_index(spark, straddle_index):
    stored, occ, batch = straddle_index
    corpus = spark.createDataFrame([(1, _text_for(0))], _SCHEMA)
    with pytest.raises(AssertionError, match="together with corpus_index"):
        dedup.simhash_near_duplicates_incremental64(
            batch, corpus, "text", "doc_id", corpus_occupancy=occ
        )


# ---------------------------------------------------------------------------
# Loop/compactor sidecar MAINTENANCE + content-watermark staleness
# (VERDICT r15 #5 / ADVICE r15): the r15 registry legs rebuilt the
# sidecar inline, but the production ingest loop appended index rows
# without touching it and the parameter stamp (index_fp) cannot detect
# an appended-to index — a stale sidecar under-counted occupancy and
# silently under-enforced the cap.  Pinned here:
#
# 4. the LOOP-maintained sidecar (additive per-batch merge) is
#    row-identical to a fresh stored_occupancy_table rebuild, including
#    the occ_through content watermark — and an at-least-once REPLAY of
#    a batch doesn't double-count;
# 5. serving with a sidecar that predates an ingest_batch append fails
#    loudly (guard_occupancy_fresh's lazy assert), and the loop's own
#    maintained sidecar passes it;
# 6. the compactor refreshes an existing sidecar from the compacted
#    base (counts unchanged, occ_through re-stamped from the base).


def _sidecar_rows(spark, idx_path):
    from platform_etl_openfda_faers_spark.streaming.ingest import (
        occupancy_sidecar_path,
    )

    df = spark.read.parquet(occupancy_sidecar_path(idx_path))
    return sorted(map(tuple, df.select(sorted(df.columns)).collect()))


def _fresh_rebuild_rows(spark, idx_path):
    spark.catalog.refreshByPath(idx_path)
    df = dedup.stored_occupancy_table(spark.read.parquet(idx_path))
    return sorted(map(tuple, df.select(sorted(df.columns)).collect()))


_LOOP_BATCHES = [
    [(0, _text_for(0)), (1, _text_for(1)), (3, _text_for(0))],
    [(10, _text_for(3)), (11, _text_for(1)), (12, _text_for(4))],
    [(20, _text_for(0)), (21, _text_for(5)), (23, _text_for(99))],
]


def _run_loop(spark, tmp_path, name, batches, cap=8):
    from platform_etl_openfda_faers_spark.streaming import ingest

    idx = str(tmp_path / f"idx_{name}")
    acc = str(tmp_path / f"acc_{name}")
    for bid, rows in enumerate(batches):
        ingest.dedup_ingest_batch(
            spark.createDataFrame(rows, _SCHEMA), bid, idx, acc,
            max_bucket_size=cap,
        )
    return idx, acc


def test_loop_maintained_sidecar_equals_fresh_rebuild(spark, tmp_path):
    idx, _ = _run_loop(spark, tmp_path, "law", _LOOP_BATCHES)
    got = _sidecar_rows(spark, idx)
    want = _fresh_rebuild_rows(spark, idx)
    assert got == want
    # the watermark really advanced to the last batch id
    occ = spark.read.parquet(idx + "_occ")
    assert occ.select("occ_through").distinct().collect()[0][0] == 2


def test_loop_sidecar_replay_does_not_double_count(spark, tmp_path):
    from platform_etl_openfda_faers_spark.streaming import ingest

    idx, acc = _run_loop(spark, tmp_path, "replay", _LOOP_BATCHES[:2])
    before = _sidecar_rows(spark, idx)
    # at-least-once replay of batch 1 within the same lineage: the
    # ingest_batch=1 append is an idempotent overwrite, and the sidecar
    # falls back to a full rebuild instead of merging twice
    ingest.dedup_ingest_batch(
        spark.createDataFrame(_LOOP_BATCHES[1], _SCHEMA), 1, idx, acc,
        max_bucket_size=8,
    )
    assert _sidecar_rows(spark, idx) == before
    assert _sidecar_rows(spark, idx) == _fresh_rebuild_rows(spark, idx)


def test_stale_sidecar_serve_fails_loudly(spark, tmp_path):
    """A sidecar computed BEFORE a later ingest_batch append carries the
    same index_fp (parameter stamp — same family, same params), so only
    the occ_through content watermark can convict it; serving must
    raise, not silently under-enforce the cap."""
    idx = str(tmp_path / "idx_stale")
    corpus0 = spark.createDataFrame(
        [(i, _text_for(i)) for i in range(4)], _SCHEMA
    )
    dedup.simhash64_chunk_table(corpus0, "text", "doc_id").write.mode(
        "overwrite"
    ).partitionBy("ci").parquet(f"{idx}/ingest_batch=0")
    stale_occ = dedup.stored_occupancy_table(spark.read.parquet(idx))
    stale_occ.write.mode("overwrite").parquet(idx + "_occ_stale")
    # a later append from the SAME builder (same fp) lands — IN the
    # bucket the probe batch touches (text_for(0) twins): the guard's
    # assert is scoped to batch-probed buckets (exactly the rows whose
    # staleness could alter this serve — see guard_occupancy_fresh),
    # so the append must be batch-relevant to be convictable
    corpus1 = spark.createDataFrame(
        [(10 + i, _text_for(0)) for i in range(4)], _SCHEMA
    )
    dedup.simhash64_chunk_table(corpus1, "text", "doc_id").write.mode(
        "overwrite"
    ).partitionBy("ci").parquet(f"{idx}/ingest_batch=1")
    spark.catalog.refreshByPath(idx)
    stored = spark.read.parquet(idx)
    stale = spark.read.parquet(idx + "_occ_stale")
    batch = spark.createDataFrame([(100, _text_for(0))], _SCHEMA)
    res = dedup.simhash_near_duplicates_incremental64(
        batch, None, "text", "doc_id",
        max_hamming=3, max_bucket_size=8,
        corpus_index=stored, corpus_occupancy=stale,
    )
    with pytest.raises(Exception, match="stale occupancy sidecar"):
        res.collect()
    # ...and a FRESH rebuild over the appended index serves fine
    fresh = dedup.stored_occupancy_table(stored)
    ok = dedup.simhash_near_duplicates_incremental64(
        batch, None, "text", "doc_id",
        max_hamming=3, max_bucket_size=8,
        corpus_index=stored, corpus_occupancy=fresh,
    )
    ids = {i for r in ok.collect() for i in (r.id_a, r.id_b)}
    assert 100 in ids and 0 in ids  # the twin pair survived the cap


def test_compactor_refreshes_sidecar(spark, tmp_path):
    from platform_etl_openfda_faers_spark.streaming import ingest

    idx, _ = _run_loop(spark, tmp_path, "compact", _LOOP_BATCHES)
    before = {
        t for t in _sidecar_rows(spark, idx)
    }
    res = ingest.compact_ingest_index(spark, idx, partition_cols=("ci",))
    assert res["absorbed_batches"] == [0, 1, 2]
    occ = spark.read.parquet(idx + "_occ")
    # occ_through re-stamped from the compacted base (all rows now live
    # under ingest_batch=-1); counts preserved verbatim
    assert occ.select("occ_through").distinct().collect()[0][0] == -1
    strip = lambda rows: sorted(  # noqa: E731
        r[:-1] for r in rows  # drop occ_through (sorted cols -> last)
    )
    assert strip(_sidecar_rows(spark, idx)) == strip(before)
    assert _sidecar_rows(spark, idx) == _fresh_rebuild_rows(spark, idx)
    # serving via the refreshed sidecar is accepted by the guard
    batch = spark.createDataFrame([(100, _text_for(1))], _SCHEMA)
    ok = dedup.simhash_near_duplicates_incremental64(
        batch, None, "text", "doc_id",
        max_hamming=3, max_bucket_size=8,
        corpus_index=spark.read.parquet(idx),
        corpus_occupancy=occ,
    )
    assert {i for r in ok.collect() for i in (r.id_a, r.id_b)} >= {100, 1}


def test_image_occupancy_serve_matches_window_prune(spark, tmp_path):
    """Same law for the image dHash family (r16 — the fourth and last
    family to take the stored-occupancy re-plan): perturbed perceptual
    BMP harness where the gid-0 mega class genuinely straddles cap=8 —
    every chunk bucket the batch's gid-0 twin probes holds >= 9 rows
    (pruned), while the 3-member gid-5 class keeps all its buckets."""
    ids = (
        [50 * i for i in range(12)]        # gid-0 mega class (12 copies)
        + [5, 55]                          # gid-5 small class
        + [23, 24, 26, 27]                 # uniques
    )
    corpus = spark.createDataFrame([(i,) for i in ids], "doc_id LONG")
    batch = spark.createDataFrame(
        [(600,), (105,), (649,)], "doc_id LONG"
    )  # gid-0 twin, gid-5 twin, unique

    def hashes(df):
        return multimodal.image_dhash(
            multimodal.synthetic_bmp_media_perceptual(
                df, "doc_id", perturb=True
            )
        )

    idx_path = str(tmp_path / "image_dhash_index")
    writers.write_partitioned(
        multimodal.dhash_chunk_table(hashes(corpus)), idx_path, ["ci"]
    )
    stored = spark.read.parquet(idx_path)
    occ = dedup.stored_occupancy_table(stored)
    kw = dict(max_hamming=3, corpus_index=stored)
    win = multimodal.dhash_near_duplicates_incremental(
        hashes(batch), None, max_bucket_size=8, **kw
    )
    via_occ = multimodal.dhash_near_duplicates_incremental(
        hashes(batch), None, max_bucket_size=8, corpus_occupancy=occ, **kw
    )
    a = sorted(map(tuple, win.collect()))
    b = sorted(map(tuple, via_occ.collect()))
    assert a == b
    assert a, "harness must produce at least one hamming pair"
    ids_in_pairs = {i for row in a for i in (row[0], row[1])}
    assert 105 in ids_in_pairs      # the small class survived the cap
    assert 600 not in ids_in_pairs  # the mega class pruned everywhere
    # ...and the uncapped run DOES pair the mega twin (non-vacuous)
    uncapped = multimodal.dhash_near_duplicates_incremental(
        hashes(batch), None, max_bucket_size=None, **kw
    )
    assert 600 in {
        i for r in uncapped.collect() for i in (r.id_a, r.id_b)
    }
    plan = via_occ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    wplan = win._jdf.queryExecution().executedPlan().toString()
    assert "Window" in wplan, wplan  # the twin really uses the window


# ---------------------------------------------------------------------------
# Cache lifetime of every serve path: each family's result carries every
# handle the shared serve core persisted, so the caller-owned release
# (cache.unpersist_cached) leaves the SQL cache empty.

_FAMILIES = ("simhash64", "image", "video", "audio")
_PATHS = ("recompute", "stored", "stored_sidecar")


def _family(spark, name):
    """(keyed input of doc ids, serve operator, stamped index builder,
    partition column, occupancy keys) for one near-dup family."""

    def docs(ids):
        return spark.createDataFrame([(i,) for i in ids], "doc_id LONG").select(
            "doc_id",
            F.concat_ws(" ", *[F.lit(f"w{j}") for j in range(12)],
                        (F.col("doc_id") % 3).cast("string")).alias("text"),
            (F.col("doc_id") % 3).alias("gid"),
            F.lit(0).cast("long").alias("off"),
        )

    if name == "simhash64":
        return (
            docs,
            lambda b, c, **kw: dedup.simhash_near_duplicates_incremental64(
                b, c, "text", "doc_id", **kw),
            lambda c: dedup.simhash64_chunk_table(c, "text", "doc_id"),
            "ci", ("ci", "cv"),
        )
    if name == "image":
        return (
            lambda ids: multimodal.image_dhash(
                multimodal.synthetic_bmp_media_perceptual(
                    docs(ids).select("doc_id"), "doc_id", perturb=True)),
            multimodal.dhash_near_duplicates_incremental,
            multimodal.dhash_chunk_table,
            "ci", ("ci", "cv"),
        )
    if name == "video":
        return (
            lambda ids: multimodal.video_frame_dhash(
                multimodal.synthetic_avi_media_grid(
                    docs(ids), "doc_id", seed_col="gid", offset_col="off")),
            multimodal.video_near_duplicates_incremental,
            multimodal.video_frame_chunk_table,
            "ci", ("ci", "cv"),
        )
    return (
        lambda ids: multimodal.audio_spectral_peaks(
            multimodal.synthetic_wav_media_tonal(
                docs(ids), "doc_id", seed_col="gid", offset_col="off")),
        lambda b, c, **kw: multimodal.audio_landmark_matches_incremental(
            b, c, max_dt=3, min_matches=2, **kw),
        lambda c: multimodal.audio_landmark_table(c, max_dt=3),
        "dt", ("a_bin", "b_bin", "dt"),
    )


@pytest.mark.parametrize("path", _PATHS)
@pytest.mark.parametrize("family", _FAMILIES)
def test_serve_path_releases_every_cache(spark, tmp_path, family, path):
    from platform_etl_openfda_faers_spark.operators.cache import unpersist_cached

    keyed, serve, build, part, keys = _family(spark, family)
    # 57 and 64 share the batch's synthetic image class (id % 50)
    batch_ids = [7, 14, 21]
    corpus_ids = [i for i in range(1, 22) if i % 7] + [57, 64]
    spark.catalog.clearCache()
    kw = {"max_bucket_size": 8}
    if path == "recompute":
        out = serve(keyed(batch_ids), keyed(corpus_ids), **kw)
    else:
        idx_path = str(tmp_path / "index")
        writers.write_partitioned(build(keyed(corpus_ids)), idx_path, [part])
        kw["corpus_index"] = spark.read.parquet(idx_path)
        if path == "stored_sidecar":
            kw["corpus_occupancy"] = dedup.stored_occupancy_table(
                kw["corpus_index"], keys=keys)
        out = serve(keyed(batch_ids), None, **kw)
    assert out.collect(), "harness must produce at least one pair"
    assert unpersist_cached(out) >= 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
