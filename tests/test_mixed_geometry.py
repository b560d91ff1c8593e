"""Mixed-content media geometry (VERDICT r12 #3): mega-cluster head +
sparse near-miss tail, so the CAPPED pair join is exercised non-empty —
at sf >= 1 the pure mega-cluster harnesses cap-trim every bucket.
These tests pin the law at pytest scale:
the capped incremental pair list equals an INDEPENDENT Python replay of
the whole chain (chunk/landmark map, combined-occupancy cap,
batch-touching pairs, exact verify), is non-empty, and the stored-index
serve equals recompute at the mixed geometry
(tests/test_dedup.py:586's shape)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.operators import multimodal

CAP = 24  # small enough that the ~59-doc head groups prune at test scale


def _ids(spark, n):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def _mixed_img_ids(spark, n=600):
    """The dial's dHash mixed derivation: head gid = id % 50 (trimmed to
    10 groups here via % 10 so head buckets exceed the test cap), tail
    every 25th id in per-200-id sub-groups of 8."""
    tail = F.col("doc_id") % 25 == 0
    return _ids(spark, n).select(
        "doc_id",
        F.when(tail, F.lit(50) + (F.col("doc_id") / 200).cast("long"))
        .otherwise(F.col("doc_id") % 10)
        .alias("gid"),
        F.when(tail, (F.col("doc_id") / 25).cast("long") % 3)
        .otherwise((F.col("doc_id") / 50).cast("long") % 3)
        .alias("delta"),
    )


def _chunks(hi, lo):
    return [
        (0, lo & 0xFFFF),
        (1, (lo >> 16) & 0xFFFF),
        (2, hi & 0xFFFF),
        (3, (hi >> 16) & 0xFFFF),
    ]


def _replay_dhash_pairs(rows, batch_ids, cap, max_hamming=3):
    """Python replay: chunk map -> combined-occupancy cap -> bucket
    pairs touching the batch -> exact per-half Hamming."""
    occ = Counter()
    buckets = defaultdict(list)
    for mid, hi, lo in rows:
        for ci, cv in _chunks(hi, lo):
            occ[(ci, cv)] += 1
            buckets[(ci, cv)].append((mid, hi, lo))
    pairs = set()
    for key, members in buckets.items():
        if occ[key] > cap:
            continue
        for i, (a, hi_a, lo_a) in enumerate(members):
            for b, hi_b, lo_b in members[i + 1:]:
                if a == b or (a not in batch_ids and b not in batch_ids):
                    continue
                ham = bin(hi_a ^ hi_b).count("1") + bin(lo_a ^ lo_b).count("1")
                if ham <= max_hamming:
                    pairs.add((min(a, b), max(a, b), ham))
    return pairs


def test_dhash_mixed_capped_pairs_match_replay_and_stored(spark, tmp_path):
    ids = _mixed_img_ids(spark)
    is_new = F.col("doc_id") % 7 == 0

    def hashes(pred):
        return multimodal.image_dhash(
            multimodal.synthetic_bmp_media_perceptual(
                ids.where(pred), "doc_id", perturb=True,
                seed_col="gid", offset_col="delta",
            )
        )

    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in multimodal.dhash_near_duplicates_incremental(
            hashes(is_new), hashes(~is_new), max_bucket_size=CAP
        ).collect()
    }
    all_rows = [
        (r.media_id, r.dhash_hi, r.dhash_lo)
        for r in hashes(F.lit(True)).collect()
    ]
    batch_ids = {mid for mid, _, _ in all_rows if mid % 7 == 0}
    want = _replay_dhash_pairs(all_rows, batch_ids, CAP)
    assert got == want
    # the point of the mixed geometry: the CAPPED list is non-empty and
    # the sparse tail contributes pairs (head-only buckets mostly prune;
    # delta-split head buckets may legitimately survive the cap too)
    assert got, "mixed tail must emit pairs through the cap"
    tails = {mid for mid, *_ in all_rows if mid % 25 == 0}
    assert any(a in tails and b in tails for a, b, _ in got)

    # stored == recompute at the mixed geometry, through real parquet
    idx_path = str(tmp_path / "dhash_mixed_idx")
    multimodal.dhash_chunk_table(hashes(~is_new)).write.partitionBy(
        "ci"
    ).parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    served = {
        (r.id_a, r.id_b, r.hamming)
        for r in multimodal.dhash_near_duplicates_incremental(
            hashes(is_new), None, max_bucket_size=CAP, corpus_index=stored
        ).collect()
    }
    assert served == got


def test_audio_mixed_capped_matches_match_replay(spark):
    """Audio landmark replay: key sets per track -> combined-occupancy
    cap over (batch ∪ corpus) key rows -> surviving-key set
    intersections for batch-touching pairs."""
    n = 600
    tail = F.col("doc_id") % 50 == 0
    adocs = _ids(spark, n).select(
        "doc_id",
        F.when(tail, F.lit(1000) + (F.col("doc_id") / 200).cast("long"))
        .otherwise(F.col("doc_id") % 10)
        .alias("gid"),
        F.when(tail, (F.col("doc_id") / 50).cast("long") % 2)
        .otherwise((F.col("doc_id") / 10).cast("long") % 2)
        .alias("off"),
    )
    is_new = F.col("media_id") % 7 == 0
    peaks = multimodal.audio_spectral_peaks(
        multimodal.synthetic_wav_media_tonal(
            adocs, "doc_id", seed_col="gid", offset_col="off"
        ),
    ).persist()
    min_matches = 5
    got = {
        (r.id_a, r.id_b, r.n_matches)
        for r in multimodal.audio_landmark_matches_incremental(
            peaks.where(is_new), peaks.where(~is_new),
            min_matches=min_matches, max_bucket_size=CAP,
        ).collect()
    }
    lm_rows = [
        (r.media_id, (r.a_bin, r.b_bin, r.dt))
        for r in multimodal.audio_landmarks(peaks, max_dt=3).collect()
    ]
    peaks.unpersist()
    occ = Counter(key for _, key in lm_rows)
    keysets = defaultdict(set)
    for mid, key in lm_rows:
        if occ[key] <= CAP:
            keysets[mid].add(key)
    mids = sorted(keysets)
    want = set()
    for i, a in enumerate(mids):
        for b in mids[i + 1:]:
            if a % 7 != 0 and b % 7 != 0:
                continue
            shared = len(keysets[a] & keysets[b])
            if shared >= min_matches:
                want.add((a, b, shared))
    assert got == want
    assert got, "mixed tail must emit matches through the cap"


def test_video_mixed_capped_votes_match_replay(spark):
    """Video frame-vote replay: per-frame chunk map -> combined
    occupancy cap -> distinct frame pairs within Hamming -> votes."""
    n = 240
    tail = F.col("doc_id") % 25 == 0
    vdocs = _ids(spark, n).select(
        "doc_id",
        F.when(tail, F.lit(1000) + (F.col("doc_id") / 200).cast("long"))
        .otherwise(F.col("doc_id") % 10)
        .alias("gid"),
        F.when(tail, (F.col("doc_id") / 25).cast("long") % 2)
        .otherwise((F.col("doc_id") / 10).cast("long") % 2)
        .alias("off"),
    )
    is_new = F.col("media_id") % 7 == 0
    fh = multimodal.video_frame_dhash(
        multimodal.synthetic_avi_media_grid(
            vdocs, "doc_id", seed_col="gid", offset_col="off"
        )
    ).persist()
    got = {
        (r.id_a, r.id_b, r.n_frame_matches)
        for r in multimodal.video_near_duplicates_incremental(
            fh.where(is_new), fh.where(~is_new),
            min_frames=2, max_bucket_size=CAP,
        ).collect()
    }
    rows = [
        (r.media_id, r.frame_idx, r.dhash_hi, r.dhash_lo)
        for r in fh.collect()
    ]
    fh.unpersist()
    occ = Counter()
    buckets = defaultdict(list)
    for mid, fi, hi, lo in rows:
        for ci, cv in _chunks(hi, lo):
            occ[(ci, cv)] += 1
            buckets[(ci, cv)].append((mid, fi, hi, lo))
    frame_pairs = set()
    for key, members in buckets.items():
        if occ[key] > CAP:
            continue
        for i, (a, fa, hi_a, lo_a) in enumerate(members):
            for b, fb, hi_b, lo_b in members[i + 1:]:
                if a == b or (a % 7 != 0 and b % 7 != 0):
                    continue
                ham = bin(hi_a ^ hi_b).count("1") + bin(lo_a ^ lo_b).count("1")
                if ham <= 3:
                    if a < b:
                        frame_pairs.add((a, fa, b, fb))
                    else:
                        frame_pairs.add((b, fb, a, fa))
    votes = Counter((a, b) for a, _, b, _ in frame_pairs)
    want = {
        (a, b, c) for (a, b), c in votes.items() if c >= 2
    }
    assert got == want
    assert got, "mixed tail must emit frame votes through the cap"


def _audio_replay(lm_rows, cap, min_matches):
    """Shared audio replay: combined-occupancy cap over landmark-key
    rows -> surviving-key set intersections for batch-touching pairs."""
    occ = Counter(key for _, key in lm_rows)
    keysets = defaultdict(set)
    for mid, key in lm_rows:
        if occ[key] <= cap:
            keysets[mid].add(key)
    mids = sorted(keysets)
    want = set()
    for i, a in enumerate(mids):
        for b in mids[i + 1:]:
            if a % 7 != 0 and b % 7 != 0:
                continue
            shared = len(keysets[a] & keysets[b])
            if shared >= min_matches:
                want.add((a, b, shared))
    return want


def test_audio_tail_keyspace_scaling(spark):
    """VERDICT r13 #5: the audio tail must be planted at a density the
    landmark KEYSPACE can carry, or the combined-occupancy cap prunes
    every tail bucket (the sf10 ``pair_rows: 0`` failure).  Pins:

    (a) the failure mode, reproduced deterministically at pytest scale:
        an over-dense tail drives mean tail-bucket occupancy over the
        cap and the capped match list loses the tail entirely — while
        STILL matching the independent replay (the law holds, the
        geometry is just useless);
    (b) the fix: a spacing derived from the landmark keyspace and the
        cap restores non-empty tail matches, again replay-exact.  A tail
        bucket carries ~``n_tail x lm_per_track / keys_eff`` rows, so
        holding that at ``target_occ`` bounds the tail at
        ``keys_eff x target_occ / lm_per_track`` tracks, and the spacing
        is that bound's share of ``n``, rounded up to a multiple of the
        dense spacing.
    """
    n, cap, min_matches = 3000, 8, 5
    target_occ = max(1, cap // 4)

    def harness(spacing):
        tail = F.col("doc_id") % spacing == 0
        return _ids(spark, n).select(
            "doc_id",
            F.when(
                tail,
                F.lit(1000) + (F.col("doc_id") / (4 * spacing)).cast("long"),
            )
            .otherwise(F.col("doc_id") % 10)
            .alias("gid"),
            F.when(tail, (F.col("doc_id") / spacing).cast("long") % 2)
            .otherwise((F.col("doc_id") / 10).cast("long") % 2)
            .alias("off"),
        )

    def run(spacing):
        peaks = multimodal.audio_spectral_peaks(
            multimodal.synthetic_wav_media_tonal(
                harness(spacing), "doc_id", seed_col="gid", offset_col="off"
            ),
        ).persist()
        is_new = F.col("media_id") % 7 == 0
        got = {
            (r.id_a, r.id_b, r.n_matches)
            for r in multimodal.audio_landmark_matches_incremental(
                peaks.where(is_new), peaks.where(~is_new),
                min_matches=min_matches, max_bucket_size=cap,
            ).collect()
        }
        lm_rows = [
            (r.media_id, (r.a_bin, r.b_bin, r.dt))
            for r in multimodal.audio_landmarks(peaks, max_dt=3).collect()
        ]
        peaks.unpersist()
        return got, lm_rows

    # --- (a) over-dense tail: law holds but the tail is cap-pruned away
    dense = 2
    got_d, lm_d = run(dense)
    assert got_d == _audio_replay(lm_d, cap, min_matches)
    occ_d = Counter(key for _, key in lm_d)
    tail_keys_d = {k for mid, k in lm_d if mid % dense == 0}
    mean_occ = sum(occ_d[k] for k in tail_keys_d) / len(tail_keys_d)
    assert mean_occ > cap  # the saturation premise, measured
    tails_d = {mid for mid, _ in lm_d if mid % dense == 0}
    assert not any(a in tails_d and b in tails_d for a, b, _ in got_d)

    # --- (b) keyspace-scaled spacing restores the tail, replay-exact.
    # keys_eff/lm_per_track measured from THIS corpus's landmarks — the
    # arithmetic is applied, not assumed
    keys_eff = len(set(k for _, k in lm_d))
    lm_per_track = max(1, len(lm_d) // len(set(m for m, _ in lm_d)))
    max_tail = max(1, (keys_eff * target_occ) // lm_per_track)
    scaled = max(dense, math.ceil(n / max_tail / dense) * dense)
    assert scaled > dense
    got_s, lm_s = run(scaled)
    assert got_s == _audio_replay(lm_s, cap, min_matches)
    tails_s = {mid for mid, _ in lm_s if mid % scaled == 0}
    assert any(a in tails_s and b in tails_s for a, b, _ in got_s), (
        "keyspace-scaled tail must emit matches through the cap"
    )


def test_video_tail_keyspace_scaling(spark):
    """The video analogue of the audio keyspace scaling (r14): the grid
    harness's frame bits reduce the seed MOD 251, so the effective
    content keyspace is ~251 classes — NOT the 65,536 values a 16-bit
    chunk slice could take — and a fixed every-25th tail saturates the
    occupancy cap at sf10 (measured: 20k tail videos -> pair_rows 0).
    Pins the class-collapse premise itself: two gids 251 apart
    render BYTE-IDENTICAL frame dHashes (the collision that makes
    buckets fill with corpus size)."""
    ids = spark.createDataFrame(
        [(0, 1000, 0), (1, 1251, 0), (2, 1001, 0)],
        "doc_id LONG, gid LONG, off LONG",
    )
    fh = multimodal.video_frame_dhash(
        multimodal.synthetic_avi_media_grid(
            ids, "doc_id", seed_col="gid", offset_col="off"
        )
    ).collect()
    seq = {
        mid: sorted(
            (r.frame_idx, r.dhash_hi, r.dhash_lo) for r in fh
            if r.media_id == mid
        )
        for mid in (0, 1, 2)
    }
    assert seq[0] == seq[1], "gids 251 apart must collide (mod-251 bits)"
    assert seq[0] != seq[2], "adjacent gids must differ"
