"""The stored-index build-parameter stamp (ADVICE r12): every stored
family's builder stamps ``index_fp``; every ``corpus_index=`` serve
asserts it.  A table built with different parameters (an audio index
with a smaller ``max_dt``) or from a different family fails LOUDLY at
execution instead of silently changing results — extending the r12 IVF
centroid-fingerprint discipline (tests/test_similarity.py) to the
simhash64 / dHash / audio / video families."""

import pytest
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.operators import dedup, multimodal
from platform_etl_openfda_faers_spark.operators.indexstamp import (
    index_fingerprint,
)


def _docs(spark, n=40):
    rows = [
        (i, " ".join(f"tok{i % 7}w{j}" for j in range(15))) for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_simhash64_stamp_roundtrip_and_guard(spark, tmp_path):
    docs = _docs(spark)
    new = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    idx = dedup.simhash64_chunk_table(corpus, "text", "doc_id")
    assert "index_fp" in idx.columns
    path = str(tmp_path / "idx")
    idx.write.partitionBy("ci").parquet(path)
    stored = spark.read.parquet(path)

    served = dedup.simhash_near_duplicates_incremental64(
        new, None, "text", "doc_id", corpus_index=stored
    )
    recomputed = dedup.simhash_near_duplicates_incremental64(
        new, corpus, "text", "doc_id"
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, recomputed.collect())
    )

    # a fingerprint-less (pre-contract) table is rejected up front
    with pytest.raises(AssertionError, match="index_fp"):
        dedup.simhash_near_duplicates_incremental64(
            new, None, "text", "doc_id", corpus_index=stored.drop("index_fp")
        )
    # a WRONG-family stamp (e.g. a dHash chunk table masquerading as the
    # text index) fails loudly at execution
    forged = stored.withColumn(
        "index_fp", F.lit(index_fingerprint("dhash_chunk_table"))
    )
    with pytest.raises(Exception, match="stale stored index"):
        dedup.simhash_near_duplicates_incremental64(
            new, None, "text", "doc_id", corpus_index=forged
        ).collect()


def test_audio_stamp_carries_max_dt(spark, tmp_path):
    adocs = _docs(spark, 30).select(
        "doc_id", (F.col("doc_id") % 5).alias("gid")
    )
    peaks = multimodal.audio_spectral_peaks(
        multimodal.synthetic_wav_media_tonal(adocs, "doc_id", seed_col="gid")
    )
    idx = multimodal.audio_landmark_table(peaks, max_dt=2)
    assert "index_fp" in idx.columns
    path = str(tmp_path / "aidx")
    idx.write.partitionBy("dt").parquet(path)
    stored = spark.read.parquet(path)

    is_new = F.col("media_id") % 7 == 0
    # serve-time max_dt MISMATCH (index built with max_dt=2, served with
    # the default 3): an unchecked index would silently drop dt=3 matches
    with pytest.raises(Exception, match="stale stored index"):
        multimodal.audio_landmark_matches_incremental(
            peaks.where(is_new), None, max_dt=3, corpus_index=stored
        ).collect()
    # matching max_dt serves identically to recompute
    served = multimodal.audio_landmark_matches_incremental(
        peaks.where(is_new), None, max_dt=2, min_matches=5,
        corpus_index=stored,
    )
    recomputed = multimodal.audio_landmark_matches_incremental(
        peaks.where(is_new), peaks.where(~is_new), max_dt=2, min_matches=5
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, recomputed.collect())
    )


def test_dhash_and_video_guards(spark):
    ids = _docs(spark, 24).select("doc_id")
    hashes = multimodal.image_dhash(
        multimodal.synthetic_bmp_media_perceptual(ids, "doc_id", group_mod=6)
    )
    idx = multimodal.dhash_chunk_table(hashes)
    assert "index_fp" in idx.columns
    new = hashes.where(F.col("media_id") % 7 == 0)
    with pytest.raises(AssertionError, match="index_fp"):
        multimodal.dhash_near_duplicates_incremental(
            new, None, corpus_index=idx.drop("index_fp")
        )
    served = multimodal.dhash_near_duplicates_incremental(
        new, None, corpus_index=idx
    )
    recomputed = multimodal.dhash_near_duplicates_incremental(
        new, hashes.where(F.col("media_id") % 7 != 0)
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, recomputed.collect())
    )

    vdocs = _docs(spark, 16).select(
        "doc_id", (F.col("doc_id") % 3).alias("gid")
    )
    fh = multimodal.video_frame_dhash(
        multimodal.synthetic_avi_media_grid(vdocs, "doc_id", seed_col="gid")
    )
    vidx = multimodal.video_frame_chunk_table(fh)
    assert "index_fp" in vidx.columns
    # the video family rejects a table stamped by the IMAGE family even
    # though the schemas overlap (frame_idx aside, same hi/lo/ci/cv)
    forged = vidx.withColumn(
        "index_fp", F.lit(index_fingerprint("dhash_chunk_table"))
    )
    with pytest.raises(Exception, match="stale stored index"):
        multimodal.video_near_duplicates_incremental(
            fh.where(F.col("media_id") % 7 == 0), None, corpus_index=forged
        ).collect()
