"""Dedup operator tests: exact, Jaccard, MinHash-LSH, SimHash — on
constructed corpora with known duplicates."""

import pytest
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The quick  brown fox jumps over the lazy dog"),  # case/ws dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (4, "completely different text about spark engines"),
        (5, "completely different text about spark engines"),  # exact dup of 4
        (6, "an unrelated sentence with unique words entirely"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    groups = dedup.exact_duplicate_groups(docs, "text", "doc_id")
    by_keep = {r.keep_id: r.n_docs for r in groups.collect()}
    assert by_keep[1] == 2  # doc 2 normalizes to doc 1's fingerprint
    assert by_keep[4] == 2


def test_jaccard_pairs_exact_values(docs):
    index = dedup.distinct_tokens(docs, "text", "doc_id")
    pairs = dedup.jaccard_pairs(index, "doc_id", threshold=0.0)
    j = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert j[(1, 2)] == 1.0  # token sets identical after normalization
    # docs 1 and 3 share 7 of 9 distinct tokens (dog vs cat): 7/(8+8-7)
    assert abs(j[(1, 3)] - 7 / 9) < 1e-12
    assert (4, 5) in j and j[(4, 5)] == 1.0
    assert (1, 4) not in j  # no shared tokens -> no candidate row at all


def test_minhash_lsh_finds_near_dups(docs):
    got = dedup.minhash_near_duplicates_shared(
        docs, "text", "doc_id", n=1, threshold=0.5
    )
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert (1, 2) in pairs  # identical token sets always collide
    assert (4, 5) in pairs
    assert all(a < b for a, b in pairs)


def test_lsh_bucket_cap_drops_oversized_buckets(spark):
    """max_bucket_size keeps small-bucket pairs and drops only the
    oversized bucket's — and the capped path preserves the (id, band,
    bucket) column contract through the size join (the positional-toDF
    hazard that silently emptied the first implementation)."""
    # 40 identical docs -> one size-40 bucket per band; plus one small
    # near-dup pair with distinct text
    rows = [(i, "spam spam spam identical boilerplate text") for i in range(40)]
    rows += [
        (100, "a genuinely unique sentence about spark engines"),
        (101, "a genuinely unique sentence about spark engine"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = dedup.minhash_near_duplicates_shared(
        docs, "text", "doc_id", n=1, threshold=0.5, max_bucket_size=32
    )
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in pairs  # small bucket survives
    assert not any(a < 40 and b < 40 for a, b in pairs)  # boilerplate dropped
    uncapped = dedup.minhash_near_duplicates_shared(
        docs, "text", "doc_id", n=1, threshold=0.5, max_bucket_size=None
    )
    upairs = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert (100, 101) in upairs
    assert sum(1 for a, b in upairs if a < 40 and b < 40) == 40 * 39 // 2


def test_minhash_signature_stability(spark, docs):
    index = dedup.distinct_tokens(docs, "text", "doc_id")
    s1 = dedup.minhash_signatures(index, "doc_id", num_hashes=8, seed=42).collect()
    s2 = dedup.minhash_signatures(
        index.repartition(7), "doc_id", num_hashes=8, seed=42
    ).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))


def test_simhash_near_duplicates(docs):
    got = dedup.simhash_near_duplicates_portable(
        docs, "text", "doc_id", max_hamming=3
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in got.collect()}
    assert pairs[(1, 2)] == 0  # identical token sets -> identical simhash
    assert pairs[(4, 5)] == 0


@pytest.mark.parametrize(
    "form",
    [
        "simhash_near_duplicates_portable",
        "simhash_near_duplicates_incremental",
        "simhash_near_duplicates_incremental64",
        "dhash_near_duplicates",
        "dhash_near_duplicates_incremental",
        "video_near_duplicates",
        "video_near_duplicates_incremental",
    ],
)
def test_hamming_beyond_pigeonhole_bound_raises(spark, docs, form):
    """Every 4-chunk Hamming join rejects max_hamming=4 with ValueError:
    two hashes at Hamming 4 can share no 16-bit chunk, so the join would
    silently miss them — and a bare assert vanishes under ``python -O``."""
    from platform_etl_openfda_faers_spark.operators import multimodal as mm

    new, corpus = docs.where("doc_id <= 3"), docs.where("doc_id > 3")
    # Hamming 4: lo differs in the low 4 bits only
    hashes = spark.createDataFrame(
        [(1, 0, 0), (2, 0, 15)], ["media_id", "dhash_hi", "dhash_lo"]
    )
    frames = hashes.withColumn("frame_idx", F.lit(0))
    call = {
        "simhash_near_duplicates_portable": lambda: (
            dedup.simhash_near_duplicates_portable(
                docs, "text", "doc_id", max_hamming=4
            )
        ),
        "simhash_near_duplicates_incremental": lambda: (
            dedup.simhash_near_duplicates_incremental(
                new, corpus, "text", "doc_id", max_hamming=4
            )
        ),
        "simhash_near_duplicates_incremental64": lambda: (
            dedup.simhash_near_duplicates_incremental64(
                new, corpus, "text", "doc_id", max_hamming=4
            )
        ),
        "dhash_near_duplicates": lambda: mm.dhash_near_duplicates(
            hashes, max_hamming=4
        ),
        "dhash_near_duplicates_incremental": lambda: (
            mm.dhash_near_duplicates_incremental(
                hashes.where("media_id = 2"),
                hashes.where("media_id = 1"),
                max_hamming=4,
            )
        ),
        "video_near_duplicates": lambda: mm.video_near_duplicates(
            frames, max_hamming=4
        ),
        "video_near_duplicates_incremental": lambda: (
            mm.video_near_duplicates_incremental(
                frames.where("media_id = 2"),
                frames.where("media_id = 1"),
                max_hamming=4,
            )
        ),
    }[form]
    with pytest.raises(ValueError, match="max_hamming=4"):
        call()


def test_prune_df_above(spark):
    rows = [(i, "hot") for i in range(10)] + [(1, "rare"), (2, "rare2")]
    index = spark.createDataFrame(rows, ["doc_id", "token"])
    pruned = dedup.prune_df_above(index, "token", max_doc_freq=5)
    assert {r.token for r in pruned.collect()} == {"rare", "rare2"}


def test_prune_df_window_matches_join_form(spark):
    rows = [(i, "hot") for i in range(10)] + [(1, "rare"), (2, "rare2")]
    index = spark.createDataFrame(rows, ["doc_id", "token"])
    a = sorted(map(tuple, dedup.prune_df_above(index, "token", 5).collect()))
    b = sorted(map(tuple, dedup.prune_df_window(index, "token", 5).collect()))
    assert a == b
    assert dedup.prune_df_window(index, "token", 5).columns == ["doc_id", "token"]


def test_prune_df_window_keeps_null_keys(spark):
    # NULLs form a window partition and survive the cap (prune_df_above
    # semantics)
    rows = [(i, "hot") for i in range(10)] + [(1, None), (2, "rare")]
    index = spark.createDataFrame(rows, ["doc_id", "token"])
    got = sorted(
        (r.doc_id, r.token) for r in dedup.prune_df_window(index, "token", 5).collect()
    )
    assert got == [(1, None), (2, "rare")]


def test_prune_df_window_rejects_reserved_column(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a", 2)], ["doc_id", "token", "_prune_df"])
    with _pytest.raises(ValueError, match="_prune_df"):
        dedup.prune_df_window(df, "token", 5)


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "only two"), (2, "a b c d")], ["doc_id", "text"])
    sh = dedup.word_shingles(df, "text", "doc_id", n=3)
    got = {(r.doc_id, r.shingle) for r in sh.collect()}
    assert got == {(2, "a b c"), (2, "b c d")}  # doc 1 too short -> no rows


def _shingle_hashes(docs, n):
    """(doc_id, _h) — the per-shingle hash arrays the MinHash-LSH forms
    fold into signatures."""
    return docs.select(
        "doc_id",
        F.transform(dedup.shingle_array(F.col("text"), n), dedup.token_hash32)
        .alias("_h"),
    )


def test_minhash_local_equals_index_route(spark, sf_dir):
    """Row-local (map-only) signatures — the fold both MinHash-LSH forms
    run — must be bit-identical to the inverted-index route for the same
    shingle sets."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index = dedup.word_shingles(docs, "text", "doc_id", n=3).withColumnRenamed(
        "shingle", "token"
    )
    a = dedup.minhash_signatures(index, "doc_id", num_hashes=8, seed=7)
    b = dedup._minhash_fold(_shingle_hashes(docs, 3), ["doc_id"], 8, 7)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_simhash_local_equals_exploded(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index = dedup.distinct_tokens(docs, "text", "doc_id")
    a = dedup.simhash_portable(index, "doc_id", bits=16)
    b = dedup.simhash_local(docs, "text", "doc_id", bits=16)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_array_verify_matches_index_verify(spark, docs):
    """Row-local array_intersect verify must agree exactly with the
    inverted-index verify on the same candidate set."""
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5), (1, 6)], ["id_a", "id_b"]
    )
    index = dedup.word_shingles(docs, "text", "doc_id", n=3).withColumnRenamed(
        "shingle", "token"
    )
    sizes = dedup.shingle_set_sizes(docs, "text", "doc_id", n=3)
    via_index = {
        (r.id_a, r.id_b): (r.inter, r.size_a, r.size_b, r.jaccard)
        for r in dedup.jaccard_for_pairs(
            cands, index, "doc_id", sizes=sizes
        ).collect()
    }
    via_arrays = {
        (r.id_a, r.id_b): (r.inter, r.size_a, r.size_b, r.jaccard)
        for r in dedup.jaccard_verify_arrays(
            cands, docs, "text", "doc_id", n=3
        ).collect()
    }
    # the index route drops zero-intersection pairs (no join rows); the
    # array route keeps them with inter=0 — compare on the index route's
    # domain, and check the extra pairs really are zero-overlap
    for k, v in via_index.items():
        assert via_arrays[k] == v, (k, v, via_arrays[k])
    for k in set(via_arrays) - set(via_index):
        assert via_arrays[k][0] == 0


def test_prefix_filter_equals_naive_jaccard(spark, docs):
    """Prefix-filtered join must return exactly the naive join's result
    at the same threshold (pruning is lossless)."""
    for t in (0.5, 0.8):
        index = dedup.word_shingles(docs, "text", "doc_id", n=2).withColumnRenamed(
            "shingle", "token"
        )
        sizes = dedup.shingle_set_sizes(docs, "text", "doc_id", n=2)
        naive = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.jaccard_pairs(
                index, "doc_id", threshold=t, sizes=sizes
            ).collect()
        }
        pref = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.jaccard_pairs_prefix(
                docs, "text", "doc_id", n=2, threshold=t
            ).collect()
        }
        assert naive == pref, (t, naive, pref)


def test_prefix_filter_keeps_exact_threshold_match(spark):
    """t*|d| an exact integer (the classic PPJoin float-ceil pitfall): a pair
    sitting exactly AT the threshold must survive prefix pruning."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b")], ["doc_id", "text"]
    )
    # n=1 shingles -> sets {a,b,c,d} and {a,b}; jaccard = 2/4 = 0.5 exactly,
    # and threshold*|{a,b,c,d}| = 2.0 is an exact integer
    got = dedup.jaccard_pairs_prefix(
        docs, "text", "doc_id", n=1, threshold=0.5
    ).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 0.5)]


def test_jaccard_pairs_df_cap(spark):
    """The df-cap prunes hot keys before the self-join (scale guard), and it
    is the API DEFAULT — uncapped is explicit opt-in via max_doc_freq=None."""
    import inspect

    # scale-safe by default: uncapped must be an explicit caller decision
    assert (
        inspect.signature(dedup.jaccard_pairs).parameters["max_doc_freq"].default
        == 1000
    )
    rows = [(i, "hot") for i in range(8)] + [(1, "x"), (2, "x")]
    index = spark.createDataFrame(rows, ["doc_id", "token"])
    capped = dedup.jaccard_pairs(index, "doc_id", threshold=0.0, max_doc_freq=5)
    # only the rare key survives: one candidate pair, sizes count PRUNED sets
    assert [
        (r.id_a, r.id_b, r.inter, r.size_a, r.size_b) for r in capped.collect()
    ] == [(1, 2, 1, 1, 1)]
    uncapped = dedup.jaccard_pairs(
        index, "doc_id", threshold=0.0, max_doc_freq=None
    )
    got = {(r.id_a, r.id_b): r.inter for r in uncapped.collect()}
    assert len(got) == 28  # all C(8,2) hot pairs
    assert got[(1, 2)] == 2  # hot + x


def test_prune_df_above_preserves_column_order(spark):
    # name-joins put join keys first; the pruned index must keep (id, key)
    # order or positional toDF renames downstream silently swap columns
    from platform_etl_openfda_faers_spark.operators import dedup as dd

    idx = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (1, "b"), (2, "c")], ["doc_id", "token"]
    )
    pruned = dd.prune_df_above(idx, "token", max_doc_freq=2)
    assert pruned.columns == ["doc_id", "token"]
    assert sorted(map(tuple, pruned.collect())) == [(1, "b"), (2, "c")]


def test_jaccard_incremental_matches_full_restriction(docs):
    """The incremental form must equal the union self-join restricted to
    pairs touching the batch — same pairs, same intersections, same
    scores — for both capped and uncapped settings, while never forming
    a corpus x corpus pair."""
    index = dedup.distinct_tokens(docs, "text", "doc_id")
    batch_ids = {2, 5}
    new_index = index.where(F.col("doc_id").isin(*batch_ids))
    corpus_index = index.where(~F.col("doc_id").isin(*batch_ids))

    for cap in (None, 3):
        full = {
            (r.id_a, r.id_b): (r.inter, r.size_a, r.size_b, r.jaccard)
            for r in dedup.jaccard_pairs(
                index, "doc_id", threshold=0.0, max_doc_freq=cap
            ).collect()
            if r.id_a in batch_ids or r.id_b in batch_ids
        }
        inc = {
            (r.id_a, r.id_b): (r.inter, r.size_a, r.size_b, r.jaccard)
            for r in dedup.jaccard_pairs_incremental(
                new_index, corpus_index, "doc_id", threshold=0.0, max_doc_freq=cap
            ).collect()
        }
        assert inc == full, (cap, inc, full)


def test_minhash_incremental_matches_full_restriction(docs):
    """The incremental LSH form must equal the full shared pipeline over
    the union restricted to batch-touching pairs — same pairs, same
    scores — on capped and uncapped settings (the law
    ``dedup_incremental_minhash``'s oracle encodes)."""
    batch_ids = {2, 5}
    new_docs = docs.where(F.col("doc_id").isin(*batch_ids))
    corpus_docs = docs.where(~F.col("doc_id").isin(*batch_ids))

    for cap in (None, 32):
        full = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.minhash_near_duplicates_shared(
                docs, "text", "doc_id", n=1, threshold=0.0,
                max_bucket_size=cap,
            ).collect()
            if r.id_a in batch_ids or r.id_b in batch_ids
        }
        inc = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.minhash_near_duplicates_incremental(
                new_docs, corpus_docs, "text", "doc_id", n=1, threshold=0.0,
                max_bucket_size=cap,
            ).collect()
        }
        assert inc == full, (cap, inc, full)
        assert full, "harness must produce at least one batch-touching pair"


def test_minhash_incremental_cap_counts_combined_occupancy(spark):
    """A bucket hot in the CORPUS must prune even when the batch adds a
    single row: 5 exact copies in the corpus + 1 in the batch = combined
    occupancy 6, so cap=5 drops every pair while cap=6 keeps them."""
    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(5)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    capped = dedup.minhash_near_duplicates_incremental(
        new, corpus, "text", "doc_id", n=1, threshold=0.0, max_bucket_size=5
    )
    assert capped.count() == 0
    kept = dedup.minhash_near_duplicates_incremental(
        new, corpus, "text", "doc_id", n=1, threshold=0.0, max_bucket_size=6
    )
    assert {(r.id_a, r.id_b) for r in kept.collect()} == {
        (i, 100) for i in range(5)
    }


def test_simhash_incremental_matches_full_restriction(docs):
    """The incremental SimHash form must equal the full portable pipeline
    over the union restricted to batch-touching pairs — same pairs, same
    Hamming distances (the law ``dedup_incremental_simhash``'s oracle
    encodes), with max_hamming wide open so the restriction itself is
    what's under test."""
    batch_ids = {2, 5}
    new_docs = docs.where(F.col("doc_id").isin(*batch_ids))
    corpus_docs = docs.where(~F.col("doc_id").isin(*batch_ids))

    full = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_duplicates_portable(
            docs, "text", "doc_id", max_hamming=3
        ).collect()
        if r.id_a in batch_ids or r.id_b in batch_ids
    }
    inc = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_duplicates_incremental(
            new_docs, corpus_docs, "text", "doc_id", max_hamming=3
        ).collect()
    }
    assert inc == full, (inc, full)
    assert full, "harness must produce at least one batch-touching pair"


def test_simhash_incremental_excludes_corpus_corpus_pairs(spark):
    """Three exact copies: two in the corpus, one in the batch.  The
    corpus-corpus pair (Hamming 0) must NOT appear; both batch-touching
    pairs must."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame([(3, "alpha beta gamma")], ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_duplicates_incremental(
            new, corpus, "text", "doc_id"
        ).collect()
    }
    assert pairs == {(1, 3): 0, (2, 3): 0}


def test_simhash64_lo_half_matches_local32(docs):
    """simhash_local64's lo half must be byte-identical to
    simhash_local(bits=32): the 64-bit token hash's lo slice IS
    token_hash32 (md5 hex chars 1-8), so the narrow family's signatures
    are a strict prefix of the production geometry's."""
    lo = {
        r.doc_id: r.sim_lo
        for r in dedup.simhash_local64(docs, "text", "doc_id").collect()
    }
    narrow = {
        r.doc_id: r.simhash
        for r in dedup.simhash_local(docs, "text", "doc_id", bits=32).collect()
    }
    assert lo == narrow


def test_simhash64_halves_are_32bit_nonnegative(docs):
    for r in dedup.simhash_local64(docs, "text", "doc_id").collect():
        assert 0 <= r.sim_hi < (1 << 32)
        assert 0 <= r.sim_lo < (1 << 32)


def test_simhash64_incremental_matches_full_restriction(docs):
    """The 64-bit incremental form must equal the everything-as-batch run
    (which emits ALL pairs — every pair touches the batch) restricted to
    batch-touching pairs: same pairs, same exact Hamming distances."""
    batch_ids = {2, 5}
    new_docs = docs.where(F.col("doc_id").isin(*batch_ids))
    corpus_docs = docs.where(~F.col("doc_id").isin(*batch_ids))
    empty = docs.where(F.lit(False))

    full = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_duplicates_incremental64(
            docs, empty, "text", "doc_id", max_hamming=3
        ).collect()
        if r.id_a in batch_ids or r.id_b in batch_ids
    }
    inc = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_duplicates_incremental64(
            new_docs, corpus_docs, "text", "doc_id", max_hamming=3
        ).collect()
    }
    assert inc == full, (inc, full)
    assert full, "harness must produce at least one batch-touching pair"


def test_simhash64_incremental_excludes_corpus_corpus_pairs(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame([(3, "alpha beta gamma")], ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_duplicates_incremental64(
            new, corpus, "text", "doc_id"
        ).collect()
    }
    assert pairs == {(1, 3): 0, (2, 3): 0}


def test_simhash64_incremental_cap_counts_combined_occupancy(spark):
    """Five identical corpus docs + one identical batch doc: every chunk
    bucket holds 6 COMBINED rows, so a cap of 5 prunes everything (the
    corpus-hot bucket must prune even though the batch adds one row) and
    a cap of 6 admits exactly the five batch-touching pairs."""
    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(5)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    capped = dedup.simhash_near_duplicates_incremental64(
        new, corpus, "text", "doc_id", max_bucket_size=5
    )
    assert capped.count() == 0
    kept = dedup.simhash_near_duplicates_incremental64(
        new, corpus, "text", "doc_id", max_bucket_size=6
    )
    assert {(r.id_a, r.id_b, r.hamming) for r in kept.collect()} == {
        (i, 100, 0) for i in range(5)
    }


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc quoted whole inside a long one: containment must be
    1.0 (pair fires) while Jaccard = |A|/|B| is small (pair does not fire
    at any whole-document threshold) — the asymmetric property the
    operator exists for."""
    short = "alpha beta gamma delta"
    long_ = short + " " + " ".join(f"filler{i} word{i} pad{i}" for i in range(12))
    df = spark.createDataFrame([(1, short), (2, long_)], ["doc_id", "text"])
    index = dedup.distinct_tokens(df, "text", "doc_id")

    got = dedup.containment_pairs(
        index, "doc_id", threshold=0.8, max_doc_freq=None
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.containment == 1.0
    assert r.inter == r.size_a == 4
    # the same pair under Jaccard at a modest threshold: no row
    jac = dedup.jaccard_pairs(
        index, "doc_id", threshold=0.3, max_doc_freq=None
    ).collect()
    assert jac == []


def test_containment_respects_df_cap(spark):
    """The df-cap prunes hot tokens from BOTH numerator and denominator
    (pruned-set semantics, like jaccard_pairs): with the shared token
    capped away, doc 1's set empties and no pair can form."""
    df = spark.createDataFrame(
        [(1, "hot"), (2, "hot unique2a unique2b"), (3, "hot unique3a")],
        ["doc_id", "text"],
    )
    index = dedup.distinct_tokens(df, "text", "doc_id")
    assert (
        dedup.containment_pairs(index, "doc_id", threshold=0.1,
                                max_doc_freq=2).count() == 0
    )
    kept = dedup.containment_pairs(
        index, "doc_id", threshold=0.99, max_doc_freq=None
    ).collect()
    assert {(r.id_a, r.id_b) for r in kept} == {(1, 2), (1, 3)}


def test_containment_incremental_matches_full_restriction(docs):
    """Incremental containment must equal the full form over the union
    index restricted to batch-touching pairs — same pairs, same exact
    inter/size/containment values (the family law)."""
    index = dedup.distinct_tokens(docs, "text", "doc_id")
    batch_ids = {2, 5}
    new_index = index.where(F.col("doc_id").isin(*batch_ids))
    corpus_index = index.where(~F.col("doc_id").isin(*batch_ids))

    full = {
        (r.id_a, r.id_b): (r.inter, r.size_a, r.size_b, r.containment)
        for r in dedup.containment_pairs(
            index, "doc_id", threshold=0.5, max_doc_freq=4
        ).collect()
        if r.id_a in batch_ids or r.id_b in batch_ids
    }
    inc = {
        (r.id_a, r.id_b): (r.inter, r.size_a, r.size_b, r.containment)
        for r in dedup.containment_pairs_incremental(
            new_index, corpus_index, "doc_id", threshold=0.5, max_doc_freq=4
        ).collect()
    }
    assert inc == full, (inc, full)
    assert full, "harness must produce at least one batch-touching pair"


def test_simhash_local_excludes_tokenless_docs(spark):
    """Token-less documents (empty / whitespace / punctuation-only text)
    must be EXCLUDED from both row-local signature forms: a zero-token
    majority vote carries no signal, and the degenerate all-zero
    signature would pair every empty doc with every other at Hamming 0
    on the Spark side only (the DuckDB oracle's unnest CTE drops such
    docs, as does the exploded simhash_portable)."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, "   "), (4, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    for sigs in (
        dedup.simhash_local(df, "text", "doc_id", bits=16),
        dedup.simhash_local64(df, "text", "doc_id"),
    ):
        assert {r.doc_id for r in sigs.collect()} == {1, 4}
    # and through the incremental pair generators: the two token-less
    # docs (one per side) must NOT pair with each other or anything else
    new = df.where(F.col("doc_id").isin(2, 4))
    corpus = df.where(F.col("doc_id").isin(1, 3))
    for fn in (
        dedup.simhash_near_duplicates_incremental,
        dedup.simhash_near_duplicates_incremental64,
    ):
        pairs = {
            (r.id_a, r.id_b) for r in fn(new, corpus, "text", "doc_id").collect()
        }
        assert pairs == {(1, 4)}, (fn.__name__, pairs)


def test_simhash64_incremental_from_stored_parquet_index(spark, sf_dir, tmp_path):
    """The stored-index contract, end-to-end through REAL storage: write
    the corpus's simhash64_chunk_table to partitioned parquet (the table
    a production deployment computes once at ingest), re-run the
    incremental operator with corpus_index= the stored table, and assert
    (a) results are IDENTICAL to the recompute path and (b) the stored
    run's plan never touches the corpus documents source — the corpus
    side is a decode-free parquet scan of the index (no text read, no
    signature fold for corpus docs)."""
    from platform_etl_openfda_faers_spark.sources import writers

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    new_docs = docs.where(F.col("doc_id") % 7 == 0)
    corpus_docs = docs.where(F.col("doc_id") % 7 != 0)

    idx_path = str(tmp_path / "simhash64_index")
    writers.write_partitioned(
        dedup.simhash64_chunk_table(corpus_docs, "text", "doc_id"),
        idx_path,
        ["ci"],
    )
    stored = spark.read.parquet(idx_path)

    recompute = dedup.simhash_near_duplicates_incremental64(
        new_docs, corpus_docs, "text", "doc_id"
    )
    from_store = dedup.simhash_near_duplicates_incremental64(
        new_docs, None, "text", "doc_id", corpus_index=stored
    )
    a = sorted(map(tuple, recompute.collect()))
    b = sorted(map(tuple, from_store.collect()))
    assert a == b
    assert a, "harness must produce at least one pair"

    # Plan contract: the stored run must never read corpus documents.
    # Every documents.parquet scan node must carry the BATCH predicate
    # (doc_id % 7 = 0); the corpus side (the NOT-batch rows) appears only
    # as the stored-index parquet scan.  (Scan nodes print once per
    # InMemoryTableScan reference, so counts are not meaningful — the
    # filters are.)
    plan = from_store._jdf.queryExecution().executedPlan().toString()
    doc_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "documents.parquet" in ln
    ]
    assert doc_scans, plan
    for ln in doc_scans:
        assert "% 7) = 0" in ln and "NOT " not in ln, ln
    # the stored index IS scanned from parquet: a FileScan node reading
    # the signature columns directly (paths truncate in plan strings, so
    # match the schema, not the tmp path)
    assert any(
        "FileScan" in ln and "sim_hi" in ln and "sim_lo" in ln
        for ln in plan.splitlines()
    ), plan
    # and the recompute plan DOES read corpus documents (the NOT side) —
    # the control that the assertion above is discriminating
    rplan = recompute._jdf.queryExecution().executedPlan().toString()
    assert any(
        "documents.parquet" in ln and "NOT " in ln
        for ln in rplan.splitlines()
        if "FileScan" in ln
    ), rplan
    # cleanliness: drop the persisted capped chunk tables both runs attached
    from platform_etl_openfda_faers_spark.operators.cache import cached_deps

    for df in (recompute, from_store):
        for h in cached_deps(df):
            h.unpersist()


def test_simhash64_incremental_batch_chunks_seam(spark, sf_dir, tmp_path):
    """The ``batch_chunks`` seam (r16): a caller-pre-folded batch chunk
    table must serve IDENTICAL pairs to the internal-fold path — both
    uncapped and under the occupancy-sidecar cap — and the seam must
    refuse without a stored index (it exists so the ingest loop can
    fold each batch once instead of twice)."""
    from platform_etl_openfda_faers_spark.operators.cache import cached_deps
    from platform_etl_openfda_faers_spark.sources import writers

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    new_docs = docs.where(F.col("doc_id") % 7 == 0)
    corpus_docs = docs.where(F.col("doc_id") % 7 != 0)

    idx_path = str(tmp_path / "simhash64_index_seam")
    writers.write_partitioned(
        dedup.simhash64_chunk_table(corpus_docs, "text", "doc_id"),
        idx_path,
        ["ci"],
    )
    stored = spark.read.parquet(idx_path)
    occ = dedup.stored_occupancy_table(stored)
    folded = dedup.simhash64_chunk_table(new_docs, "text", "doc_id").persist()
    handles = []
    try:
        for kwargs in (
            {"max_bucket_size": None},
            {"max_bucket_size": 8, "corpus_occupancy": occ},
        ):
            internal = dedup.simhash_near_duplicates_incremental64(
                new_docs, None, "text", "doc_id",
                corpus_index=stored, **kwargs,
            )
            seamed = dedup.simhash_near_duplicates_incremental64(
                new_docs, None, "text", "doc_id",
                corpus_index=stored, batch_chunks=folded, **kwargs,
            )
            handles.extend((internal, seamed))
            a = sorted(map(tuple, internal.collect()))
            b = sorted(map(tuple, seamed.collect()))
            assert a == b
            assert a, "harness must produce at least one pair"
            # (No textual plan assert: the physical ``toString`` nests
            # every InMemoryRelation's cached lineage, so "no documents
            # scan" greps see the fold text in BOTH paths.  The seam's
            # fold-once effect is pinned by the result law here plus the
            # handler-level measurement — the batch subtree is the
            # caller's own cached DataFrame by construction.)
        import pytest as _pytest

        with _pytest.raises(AssertionError, match="stored-index serve"):
            dedup.simhash_near_duplicates_incremental64(
                new_docs, corpus_docs, "text", "doc_id",
                batch_chunks=folded,
            )
    finally:
        for df in handles:
            for h in cached_deps(df):
                h.unpersist()
        folded.unpersist()


def test_keep_list_laws(spark, sf_dir):
    """The canonical keep/drop deliverable's invariants on real data:
    exactly ONE keep per component; the canonical is a member of its own
    component and is every member's canonical_id; the kept doc has the
    component's max n_chars (ties to lowest id); drops = size - 1."""
    from platform_etl_openfda_faers_spark.plans import benchmarks

    rows = benchmarks.dedup_keep_list(spark, sf_dir).collect()
    assert rows, "harness corpus must produce at least one cluster"
    docs = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        keeps = [r for r in members if r.action == "keep"]
        assert len(keeps) == 1, (comp, members)
        canon = keeps[0]
        assert canon.doc_id == canon.canonical_id
        assert {r.canonical_id for r in members} == {canon.doc_id}
        best = min(members, key=lambda r: (-docs[r.doc_id], r.doc_id))
        assert canon.doc_id == best.doc_id
        assert sum(r.action == "drop" for r in members) == len(members) - 1


def test_index_rowlocal_dedup_equals_global_distinct(spark):
    """distinct_tokens / word_shingles dedupe ROW-LOCALLY (r16,
    array_distinct before the explode); with the doc id part of the
    distinct key this must equal the explode-then-global-``.distinct()``
    reference exactly — including duplicate-heavy docs, cross-doc
    duplicates, and every token-less edge (empty, whitespace-only, and
    tab/newline-only text, which ``trim`` does NOT strip)."""
    from platform_etl_openfda_faers_spark.functions.text import tokens, word_ngrams

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),  # within-doc duplicate tokens AND shingles
            (2, "a b a b a"),  # cross-doc duplicate of doc 1
            (3, ""),
            (4, "   "),
            (5, "\t\n"),
            (6, "x"),  # single token, no 3-gram
        ],
        ["doc_id", "text"],
    )
    ref_tok = (
        df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    got_tok = dedup.distinct_tokens(df, "text", "doc_id")
    assert sorted(map(tuple, got_tok.collect())) == sorted(
        map(tuple, ref_tok.collect())
    )
    assert (1, "a") in {tuple(r) for r in got_tok.collect()}

    ref_sh = df.select(
        F.col("doc_id"),
        F.explode(word_ngrams(F.col("text"), 3)).alias("shingle"),
    ).distinct()
    got_sh = dedup.word_shingles(df, "text", "doc_id", n=3)
    assert sorted(map(tuple, got_sh.collect())) == sorted(
        map(tuple, ref_sh.collect())
    )
    assert (1, "a b a") in {tuple(r) for r in got_sh.collect()}


def test_simhash_sql_matches_columnwise(spark, sf_dir):
    """r17: the one-``F.expr`` SimHash fold (tokenize, md5 halves,
    majority-vote signature) must reproduce the former Column-form
    construction bit-for-bit on real documents, for both the 16-bit and
    the 64-bit family."""
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.functions.text import tokens
    from platform_etl_openfda_faers_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def legacy_local64(df):
        toks = F.array_distinct(
            F.filter(tokens(F.col("text")), lambda t: t != "")
        )
        hexes = F.transform(F.col("_t"), lambda t: F.md5(t))
        hashed = (
            df.select(F.col("doc_id"), toks.alias("_t"))
            .where(F.size("_t") > 0)
            .select(
                F.col("doc_id"),
                F.transform(
                    hexes,
                    lambda x: F.conv(F.substring(x, 1, 8), 16, 10).cast("long"),
                ).alias("_hlo"),
                F.transform(
                    hexes,
                    lambda x: F.conv(F.substring(x, 9, 8), 16, 10).cast("long"),
                ).alias("_hhi"),
            )
        )
        return hashed.select(
            "doc_id",
            dedup._simhash_sig_counts("_hhi", 32).alias("sim_hi"),
            dedup._simhash_sig_counts("_hlo", 32).alias("sim_lo"),
        )

    new64 = {
        r["doc_id"]: (r["sim_hi"], r["sim_lo"])
        for r in dedup.simhash_local64(docs, "text", "doc_id").collect()
    }
    old64 = {
        r["doc_id"]: (r["sim_hi"], r["sim_lo"])
        for r in legacy_local64(docs).collect()
    }
    assert new64 == old64, "64-bit SQL fold diverged from Column form"

    def legacy_local16(df):
        toks = F.array_distinct(
            F.filter(tokens(F.col("text")), lambda t: t != "")
        )
        hashed = (
            df.select(F.col("doc_id"), toks.alias("_t"))
            .where(F.size("_t") > 0)
            .select(
                F.col("doc_id"),
                F.transform(
                    F.col("_t"), lambda t: dedup.token_hash32(t)
                ).alias("_h"),
            )
        )
        return hashed.select(
            "doc_id", dedup._simhash_sig_counts("_h", 16).alias("simhash")
        )

    new16 = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_local(docs, "text", "doc_id", bits=16).collect()
    }
    old16 = {
        r["doc_id"]: r["simhash"] for r in legacy_local16(docs).collect()
    }
    assert new16 == old16, "16-bit SQL fold diverged from Column form"
