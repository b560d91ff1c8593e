"""Deduplication operators for training-data pipelines (beyond-reference).

Four families, all expressed as DataFrame compositions (no Python in the hot
path):

- **exact**: md5-fingerprint hash-groupBy — one shuffle on the digest.
- **n-gram Jaccard**: token/shingle sets, candidate pairs via an inverted-
  index self-join (docs sharing a shingle), exact Jaccard on the pair.
- **MinHash + LSH**: portable 60-bit token hashes -> K permutation mins ->
  banded bucket keys -> candidates join only within buckets -> verify with
  true Jaccard.  The classic scale path: candidate generation is linear in
  corpus size instead of quadratic.
- **SimHash**: portable md5 token hashes, ±1 majority per bit position ->
  row-local signature (16-bit, or 64-bit as two 32-bit halves); near-dups
  = small Hamming distance, bucketed by bit chunks (two signatures within
  Hamming <= n_chunks-1 of each other share at least one chunk exactly).

Determinism: all hash-permutation constants derive from an explicit seed, so
signatures are stable across runs and partition layouts (and reproducible in
the DuckDB oracle).

Scale notes: the inverted-index join explodes |doc| x |shingles| rows — at
100 TB prune hot shingles first (drop shingles appearing in >X% of docs:
they generate O(n^2) candidate pairs and carry no discriminative signal).
``prune_df_above`` implements that.
"""

from __future__ import annotations

import random
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, tokens, word_ngrams

# ---------------------------------------------------------------------------
# Shared deterministic MinHash constants (mirrored into the oracle SQL).
MINHASH_PRIME = (1 << 61) - 1  # Mersenne prime; (a*h+b) stays < 2^63 for h<2^32


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """(a, b) per hash function; a in [1, 2^30), b in [0, 2^30)."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30))
        for _ in range(num_hashes)
    ]


def token_hash32(tok):
    """Portable 32-bit token hash (first 8 hex chars of md5, base 16).

    Small enough that a*h+b never overflows int64 with the params above.
    """
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def _sql_ident(name: str) -> str:
    """Backtick-quote a column name for embedding in a SQL fragment.
    Escapes embedded backticks (`` ` `` -> ```` `` ````) so any column
    name round-trips (the similarity operators use it too)."""
    return "`" + name.replace("`", "``") + "`"


# ---------------------------------------------------------------------------
# Exact dedup


def exact_duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct normalized text: (fingerprint, n_docs, keep_id)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


# ---------------------------------------------------------------------------
# Token / shingle sets


def distinct_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, token) — deduped inverted-index rows.

    Dedup happens ROW-LOCALLY (``array_distinct`` before the explode, r16,
    guide §2.1): since the id is part of the distinct key, a global
    ``.distinct()`` after the explode dedupes only within each document —
    identical rows — but shuffles the ENTIRE exploded index to do it.
    The row-local form needs no exchange at all.
    """
    toks = F.array_distinct(
        F.filter(tokens(F.col(text_col)), lambda t: t != "")
    )
    return df.select(F.col(id_col), F.explode(toks).alias("token"))


def word_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) — distinct word n-grams (one sliding-window expr,
    shared with the row-local forms via ``functions.text.word_ngrams``).

    Dedup is ROW-LOCAL (``shingle_array`` = ``array_distinct`` before the
    explode, r16, guide §2.1): with the id in the distinct key, a global
    ``.distinct()`` dedupes only within each document — identical rows —
    but at the price of shuffling the whole corpus shingle index.
    """
    return df.select(
        F.col(id_col),
        F.explode(shingle_array(F.col(text_col), n)).alias("shingle"),
    )


def shingle_set_sizes(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, set_size) — per-doc distinct-shingle count, computed row-local
    (array ops, no explode/shuffle).  Semantically identical to counting the
    exploded-distinct index but O(|docs|) instead of O(|index|)."""
    return df.select(
        F.col(id_col), F.size(shingle_array(F.col(text_col), n)).alias("set_size")
    )


def prune_df_above(index: DataFrame, key: str, max_doc_freq: int) -> DataFrame:
    """Drop inverted-index keys whose document frequency exceeds the cap.

    Hot shingles generate O(df^2) candidate pairs; at 100 TB this cap is what
    keeps the self-join from degenerating.
    """
    hot = (
        index.groupBy(key)
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_doc_freq)
        .select(key)
    )
    # name-joins put the key column FIRST in the result; restore the input
    # column order so positional consumers (toDF renames) stay correct
    return index.join(F.broadcast(hot), [key], "left_anti").select(index.columns)


def prune_df_window(
    index: DataFrame, key: str | list[str], max_doc_freq: int
) -> DataFrame:
    """Df-cap via a count window over ``key`` — the SINGLE-DERIVATION prune.

    A frequency aggregate joined back onto the index consumes its input
    twice (the aggregate and the join's probe side), so the index lineage
    is planned twice.  Spark's exchange reuse usually collapses the
    duplicate — but NOT when the lineage contains an ``InMemoryTableScan``
    (a persisted upstream defeats the canonical-plan match), which is
    exactly the shape of the curation pipeline: its index derives from a
    semi join against a cached survivor set, and the duplicate subtree
    materialized as two identical ~500 MB shuffle writes at sf10.  A
    count window references the input
    ONCE: one exchange on ``key``, an external (spill-safe) sort, a
    streaming count per key group, a filter.  The output is already
    hash-partitioned on ``key`` — the partitioning every downstream
    inverted-index self-join wants.

    Measured end-to-end (cold, local[32]): `corpus_curation_pipeline`
    sf1 ~24s -> ~18s, sf10 72.6s -> 62.9s vs the join prune; identical
    rows at every scale factor.

    NULL-key semantics: NULLs form their own window partition and are KEPT
    when the partition is within the cap, like ``prune_df_above`` (the
    law reference this form is pinned to).  Pre-filter ``isNotNull`` if
    you need drop semantics.
    """
    from pyspark.sql import Window

    cnt = "_prune_df"
    if cnt in index.columns:
        raise ValueError(
            f"index already has a {cnt!r} column; rename it before pruning"
        )
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys)
    return (
        index.withColumn(cnt, F.count(F.lit(1)).over(w))
        .where(F.col(cnt) <= max_doc_freq)
        .drop(cnt)
    )


# The key column of every inverted index the Jaccard and containment
# pair operators read.
_TOKEN = "token"


def jaccard_pairs(
    index: DataFrame,
    id_col: str,
    threshold: float = 0.5,
    sizes: DataFrame | None = None,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact pairwise Jaccard over an inverted index (id, token).

    Candidates = pairs sharing >=1 key (inverted-index self-join — never an
    all-pairs cross join); |A∩B| from the join, |A|,|B| from per-doc sizes.
    Output: (id_a, id_b, inter, size_a, size_b, jaccard) with id_a < id_b.

    ``max_doc_freq`` — the scale guard, ON BY DEFAULT: keys whose document
    frequency exceeds the cap are pruned from the index before the self-join
    (``prune_df_window``), bounding candidate volume at O(cap x |index|)
    instead of O(sum df^2).  A single stop-phrase shingle appearing in 1% of
    a 10B-doc corpus otherwise yields ~10^16 candidate pairs on its own —
    uncapped is only safe when the df distribution is known-bounded, so it
    is opt-in via ``max_doc_freq=None``.  Jaccard is then computed over the
    PRUNED sets (the cap is part of the declared semantics, not silent
    noise); at the default cap of 1000 no df distribution a near-dup
    threshold cares about is affected — a key shared by >1000 docs carries
    no pair-discriminative signal.

    ``sizes`` (``(id, set_size)``) can be supplied by the caller when the
    per-doc set size is computable upstream without a shuffle (e.g.
    ``size(array_distinct(shingles))`` straight off the document row —
    see ``shingle_set_sizes``).  With pruning active the supplied sizes
    MUST count the pruned sets (derive them from the pruned index, as
    ``dedup_ngram_jaccard_capped`` does) — mismatched denominators would
    skew the scores, so supplying uncapped sizes requires
    ``max_doc_freq=None``.  The default derives sizes from the (pruned)
    index with one extra aggregation.
    """
    if max_doc_freq is not None:
        # isNotNull preserves the documented drop-NULL-keys contract the
        # former join prune gave for free; the window prune would keep them
        index = prune_df_window(
            index.where(F.col(_TOKEN).isNotNull()), _TOKEN, max_doc_freq
        )
    if sizes is None:
        sizes = index.groupBy(id_col).agg(F.count("*").alias("set_size"))
    a = index.toDF("id_a", _TOKEN)
    b = index.toDF("id_b", _TOKEN)
    shared = (
        a.join(b, [_TOKEN])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_above(shared, sizes, threshold)


def _jaccard_above(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, inter) pair counts joined to both sides' set sizes,
    with ``jaccard`` = inter / (size_a + size_b - inter) >= ``threshold``
    — the scoring tail of :func:`jaccard_pairs` and
    :func:`jaccard_pairs_incremental`."""
    sz_a = sizes.toDF("id_a", "size_a")
    sz_b = sizes.toDF("id_b", "size_b")
    # no broadcast hint: `sizes` is one row per DOCUMENT, unbounded at
    # corpus scale — forcing it through the broadcast path would ship the
    # whole corpus to every executor at 100 TB.  AQE broadcasts it anyway
    # whenever the measured size is under the threshold.
    return (
        inter.join(sz_a, ["id_a"])
        .join(sz_b, ["id_b"])
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _containment_above(pairs: DataFrame, threshold: float) -> DataFrame:
    """Jaccard pair rows re-scored as ``containment`` = inter /
    min(size_a, size_b) >= ``threshold`` — the tail of
    :func:`containment_pairs` and :func:`containment_pairs_incremental`."""
    return (
        pairs.drop("jaccard")
        .withColumn(
            "containment",
            F.col("inter") / F.least("size_a", "size_b").cast("double"),
        )
        .where(F.col("containment") >= threshold)
    )


def containment_pairs(
    index: DataFrame,
    id_col: str,
    threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Containment (overlap-coefficient) near-dup pairs:
    ``|A∩B| / min(|A|,|B|)`` >= ``threshold`` — the ASYMMETRIC companion
    to Jaccard that catches sub-document duplication Jaccard misses.

    A short document quoted whole inside a long one (a reused paragraph,
    a benchmark question embedded in a scrape, boilerplate wrapped
    around real content) has containment 1.0 from the small side but
    Jaccard |A|/|B| → 0 as the big side grows, so a Jaccard threshold
    never fires; training-data pipelines run BOTH scores over the same
    inverted index (containment for quote/subset detection, Jaccard for
    whole-document near-dups).  The overlap coefficient is the max of
    the two directional Broder containments, so one row per unordered
    pair suffices and the per-direction values are recoverable from
    (inter, size_a, size_b).

    Same candidate machinery, cap discipline, and pruned-set semantics
    as :func:`jaccard_pairs` (the cap applies to BOTH numerator and
    denominators — replayed identically in the oracle).  The score is
    one exact-integer division, reproducible bit-for-bit across engines.
    The index keys its rows by ``token``.
    Output: (id_a, id_b, inter, size_a, size_b, containment), id_a <
    id_b."""
    base = jaccard_pairs(
        index, id_col, threshold=0.0, max_doc_freq=max_doc_freq, sizes=sizes
    )
    return _containment_above(base, threshold)


def jaccard_pairs_incremental(
    new_index: DataFrame,
    corpus_index: DataFrame,
    id_col: str,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard pairs for an INCOMING BATCH against itself and an
    existing corpus — the incremental form production dedup actually
    runs: candidates are (new x new) and (new x corpus), NEVER
    (corpus x corpus).

    Why it matters at 100 TB: the self-join forms re-pair the whole
    corpus every run — O(sum df^2) over the full index — while a nightly
    batch only needs pairs that TOUCH the batch: per shared key the
    candidate volume is O(df_new x df_all), which vanishes as the batch
    shrinks relative to the corpus.  The asymmetric join below never
    forms a corpus-corpus pair, so corpus growth costs a bigger probe
    side, not a quadratic blow-up.

    Semantics match ``jaccard_pairs`` over the UNION index: the df-cap
    counts document frequency over corpus+new combined (a shingle hot in
    the corpus must prune even if rare in the batch), sizes count the
    pruned sets, and the output rows are exactly the union-self-join
    rows where at least one side is a batch document — (id_a, id_b,
    inter, size_a, size_b, jaccard), id_a < id_b.  Ids must be unique
    across the two inputs (they share one id space).
    """
    combined = corpus_index.select(
        F.col(id_col), F.col(_TOKEN), F.lit(False).alias("_new")
    ).unionByName(
        new_index.select(F.col(id_col), F.col(_TOKEN), F.lit(True).alias("_new"))
    )
    if max_doc_freq is not None:
        combined = prune_df_window(
            combined.where(F.col(_TOKEN).isNotNull()), _TOKEN, max_doc_freq
        )
    # persist the pruned combined index: it feeds FOUR consumers below —
    # the a/b candidate sides AND both size joins — whose pruned schemas
    # differ, so exchange reuse collapses none of them and the shingle
    # explode + df-cap window planned four times (the r10 plan audit
    # measured 8 scans / 23 exchanges on the containment twin of this
    # function; the same stored-index discipline as the MinHash base and
    # the SimHash-64/dHash/landmark chunk tables).
    from pyspark import StorageLevel

    combined = combined.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = combined.groupBy(id_col).agg(F.count("*").alias("set_size"))
    # asymmetric candidate join: the BATCH side is the build side — no
    # corpus-corpus pair is ever formed.  A new x new pair is generated
    # from BOTH of its rows (a=x,b=y and a=y,b=x — the probe row is also
    # a batch row), a new x corpus pair once; weighting each hit by 1/2
    # when the probe side is a batch row makes the summed intersection
    # exact in both cases (0.5 is exact in binary, the sum is integral).
    a = combined.where(F.col("_new")).select(
        F.col(id_col).alias("id_a"), _TOKEN
    )
    b = combined.select(
        F.col(id_col).alias("id_b"),
        _TOKEN,
        F.when(F.col("_new"), F.lit(0.5)).otherwise(F.lit(1.0)).alias("_w"),
    )
    inter = (
        a.join(b, [_TOKEN])
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "_w",
        )
        .groupBy("id_a", "id_b")
        # round() before the cast (same guard as the audio landmark
        # incremental): the sum is integral only while every new x new
        # pair is generated from both orientations; if that invariant
        # breaks, truncation would silently shrink intersections —
        # rounding turns the break into an oracle value mismatch
        .agg(F.round(F.sum("_w")).cast("long").alias("inter"))
    )
    from .cache import attach_cached

    return attach_cached(_jaccard_above(inter, sizes, threshold), combined)


def containment_pairs_incremental(
    new_index: DataFrame,
    corpus_index: DataFrame,
    id_col: str,
    threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """INCREMENTAL containment — :func:`containment_pairs`'s overlap
    coefficient in :func:`jaccard_pairs_incremental`'s asymmetric
    batch-vs-corpus shape: candidates are (new x new) and (new x
    corpus), NEVER corpus x corpus, the df-cap counts COMBINED document
    frequency, and sizes count the pruned sets.

    This is the form decontamination-style scanning actually runs
    nightly: "is any part of tonight's batch quoted inside the corpus
    (or vice versa)?" — the asymmetric score over the asymmetric join.
    Output rows equal :func:`containment_pairs` over the union index
    restricted to pairs touching the batch (the family law pinned in
    ``test_dedup.py``): (id_a, id_b, inter, size_a, size_b,
    containment), id_a < id_b.  Ids must be unique across inputs; both
    indexes key their rows by ``token``."""
    from .cache import attach_cached, cached_deps

    base = jaccard_pairs_incremental(
        new_index, corpus_index, id_col, threshold=0.0, max_doc_freq=max_doc_freq
    )
    return attach_cached(_containment_above(base, threshold), *cached_deps(base))


def jaccard_for_pairs(
    pairs: DataFrame,
    index: DataFrame,
    id_col: str,
    key: str = "token",
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for a GIVEN candidate-pair set (id_a, id_b).

    Intersections are computed only for the candidates — pairs ⋈ index(a)
    ⋈ index(b) on the key — so verify cost is O(|candidates| x set size)
    instead of O(sum df²) over the whole corpus.  This is the verify half of
    the LSH scale story: candidate generation is linear, and verification
    touches only what candidates reference.
    Output: (id_a, id_b, inter, size_a, size_b, jaccard) — same columns as
    ``jaccard_pairs``.
    """
    if sizes is None:
        sizes = index.groupBy(id_col).agg(F.count("*").alias("set_size"))
    a = index.toDF("id_a", key)
    b = index.toDF("id_b", key)
    inter = (
        pairs.select("id_a", "id_b")
        .join(a, ["id_a"])
        .join(b, ["id_b", key])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sz_a = sizes.toDF("id_a", "size_a")
    sz_b = sizes.toDF("id_b", "size_b")
    # `sizes` is per-document (unbounded) — no broadcast hint; AQE
    # broadcasts it when measured-small, shuffles it otherwise.
    return (
        inter.join(sz_a, ["id_a"])
        .join(sz_b, ["id_b"])
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def minhash_signatures(
    index: DataFrame,
    id_col: str,
    key: str = "token",
    num_hashes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """(id, mh_0..mh_{K-1}) — min over tokens of (a_k*h32(token)+b_k) mod P.

    One groupBy with K min-aggregates: a single shuffle regardless of K.
    """
    params = minhash_params(num_hashes, seed)
    h = token_hash32(F.col(key))
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(params)
    ]
    return index.groupBy(id_col).agg(*aggs)


def _minhash_fold(
    base: DataFrame, cols: list[str], num_hashes: int, seed: int
) -> DataFrame:
    """(cols..., mh_0..mh_{K-1}) — row-local MinHash signatures off the
    per-shingle 32-bit hash array ``_h``: ``array_min(transform(_h, ...))``
    per hash, with the constants and min-over-tokens semantics of
    :func:`minhash_signatures` (law-pinned) but as a map-only stage — no
    explode, no inverted index, no shuffle.  The one signature fold of
    both MinHash-LSH forms."""
    return base.select(
        *cols,
        *[
            F.array_min(
                F.transform(
                    F.col("_h"),
                    lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME),
                )
            ).alias(f"mh_{i}")
            for i, (a, b) in enumerate(minhash_params(num_hashes, seed))
        ],
    )


def _band_buckets(
    sigs: DataFrame, cols: list[str], bands: int, rows_per_band: int
) -> DataFrame:
    """(cols..., band, bucket) — one row per LSH band: the md5 of the
    band's ``rows_per_band`` signature values joined with ',' (the
    strings the SQL oracle generators replay)."""
    band_entries = F.array(
        *[
            F.struct(
                F.lit(bnd).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh_{bnd * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for bnd in range(bands)
        ]
    )
    return sigs.select(*cols, F.explode(band_entries).alias("be")).select(
        *cols, F.col("be.band").alias("band"), F.col("be.bucket").alias("bucket")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs: same md5 bucket in any band.

    Explodes each doc to ``bands`` (band, bucket) rows, self-joins per band
    bucket.  Candidate generation is quadratic PER BUCKET — on dense
    corpora (boilerplate, templates, bounded vocabularies) bucket sizes
    grow with corpus size and the pair count goes super-linear (measured
    on the synthetic corpus: 10x docs -> 85x candidates, with >80% of the
    pair mass in buckets larger than 32).  ``max_bucket_size`` drops
    buckets above the cap before the self-join — the standard production
    mitigation: an LSH bucket that large is near-certainly boilerplate
    better handled by exact dedup, and dropping it bounds the join at
    O(buckets x cap²).  The size filter is a map-side-combined count
    joined back on the same (band, bucket) key the self-join shuffles on,
    so it adds no new exchange alignment and no skewed single-task window.
    ``None`` = uncapped (exact LSH semantics).
    """
    num_hashes = bands * rows_per_band
    assert num_hashes <= sum(1 for _ in signatures.columns if _.startswith("mh_")), (
        "signature has fewer hashes than bands*rows_per_band"
    )
    buckets = _band_buckets(signatures, [id_col], bands, rows_per_band)
    if max_bucket_size is not None:
        # single-sided candidate generation: a self-join would duplicate
        # the whole bucket lineage (and the cap's size aggregate) on both
        # sides — measured 9 exchanges in the plan.  Instead: size-cap
        # via a count window (r16, guide §2.4 — the ``prune_df_window``
        # identity: the former partial-agg-count + size-filter-join shape
        # shuffled the bucket table TWICE, once into the size aggregate
        # and once into the collect groupBy, because the size table rides
        # a broadcast join that discards partitioning) -> per-bucket
        # collect_list (bounded by the cap, so the array is <=
        # max_bucket_size ids — never the giant-bucket skew collect_list
        # alone would risk) -> row-local ordered-pair expansion.  The
        # collect_list groupBy reuses the window's (band, bucket)
        # partitioning, so the whole capped pipeline is ONE bucket-keyed
        # exchange + the pair distinct.  Pair order matches the
        # self-join's ``id_a < id_b`` (array_sort and ``<`` agree for
        # numeric and string ids).
        kept = prune_df_window(buckets, ["band", "bucket"], max_bucket_size)
        grouped = kept.groupBy("band", "bucket").agg(
            F.array_sort(F.collect_list(F.col(id_col))).alias("_ids")
        )
        ids = F.col("_ids")
        pair_structs = F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(
                        ids,
                        i + F.lit(2),
                        F.greatest(F.size(ids) - i - F.lit(1), F.lit(0)),
                    ),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
        return (
            grouped.select(F.explode(pair_structs).alias("_p"))
            .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
            .distinct()
        )
    a = buckets.toDF("id_a", "band", "bucket")
    b = buckets.toDF("id_b", "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# The banding of both MinHash near-dup operators: 4 bands of 4 rows (16
# hashes), hash constants drawn with seed 42.
_BANDS, _ROWS_PER_BAND, _MINHASH_SEED = 4, 4, 42


def minhash_near_duplicates_shared(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 32,
) -> DataFrame:
    """MinHash-LSH near-dup with the shingle arrays computed EXACTLY ONCE.

    .. warning:: **Behavior change in r6** — default flipped from exact
       LSH to ``max_bucket_size=32``: pairs inside band-buckets larger
       than 32 ids are no longer reported unless callers opt out with
       ``max_bucket_size=None`` — see :func:`lsh_candidate_pairs`.
       Measured on the
    synthetic corpus at 10x data: uncapped candidates grow 85x (6.9k ->
    593k) and verify-stage shuffle 55x (12 MB -> 677 MB); the cap bounds
    per-bucket pair generation while the capped query stays value-exact
    against its capped SQL oracle twin.

    Tokenize + n-gram + per-shingle hashing is the dominant CPU of the whole
    pipeline; the naive composition runs it three times (signatures + each
    verify side).  Here the ``(id, _arr)`` table is persisted MEMORY_AND_DISK
    and feeds all three consumers, so the document table is scanned — and the
    shingles built — once.  At 100 TB the persisted table is |docs| rows of
    string arrays (spills to disk if needed), which is far cheaper than three
    full re-tokenization passes over the raw text.

    Output: (id_a, id_b, jaccard) for verified pairs above ``threshold``.
    """
    from pyspark import StorageLevel

    base = (
        docs.select(F.col(id_col), shingle_array(F.col(text_col), n).alias("_arr"))
        .withColumn("_h", F.transform(F.col("_arr"), lambda s: token_hash32(s)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs = _minhash_fold(base, [id_col], _BANDS * _ROWS_PER_BAND, _MINHASH_SEED)
    cands = lsh_candidate_pairs(
        sigs, id_col, _BANDS, _ROWS_PER_BAND, max_bucket_size=max_bucket_size
    )
    verified = jaccard_verify_arrays(
        cands, docs, text_col, id_col, n=n, arrays=base
    )
    out = verified.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )
    from .cache import attach_cached, cached_deps

    return attach_cached(out, base, *cached_deps(verified))


def minhash_near_duplicates_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 32,
) -> DataFrame:
    """INCREMENTAL MinHash-LSH near-dup — the form a 100 TB pipeline runs
    nightly: an incoming batch is paired against itself and the existing
    corpus, NEVER corpus x corpus.

    This is :func:`jaccard_pairs_incremental`'s asymmetric-join shape
    applied to the LSH family (the one that actually runs at scale): the
    full self-join forms re-pair the whole corpus every ingest —
    O(sum bucket²) over all band buckets — while a batch only needs pairs
    that TOUCH it: per band bucket the candidate volume is
    O(|bucket ∩ batch| x |bucket|), which vanishes as the batch shrinks
    relative to the corpus.  The batch side is the build side of the
    bucket join; no corpus-corpus pair is ever formed.

    Semantics equal :func:`minhash_near_duplicates_shared` over the
    UNION of the two inputs, restricted to pairs with at least one batch
    document (``test_dedup.py`` pins the law on capped and uncapped
    settings): signatures use the same hash constants and row-local
    array-min computation; band buckets are the same md5 strings; and
    ``max_bucket_size`` counts COMBINED (batch ∪ corpus) bucket occupancy
    — a bucket boilerplate-hot in the corpus must prune even if the batch
    adds only one row, or incremental runs would re-admit exactly the
    blow-up the cap exists to stop.  Ids must be unique across the two
    inputs (they share one id space).

    Scale shape: tokenize + shingle + per-shingle hash runs ONCE over
    batch ∪ corpus into a persisted array table feeding signatures and
    both verify sides (at steady state the corpus half of that table is
    the thing to snapshot: signatures and shingle arrays are
    content-addressed and never change, so a production deployment
    persists them once at ingest and this function's recompute collapses
    to a table read).  Output: (id_a, id_b, jaccard), id_a < id_b.
    """
    from pyspark import StorageLevel

    combined = corpus_docs.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("_new")
    ).unionByName(
        new_docs.select(F.col(id_col), F.col(text_col), F.lit(True).alias("_new"))
    )
    base = (
        combined.select(
            F.col(id_col),
            F.col("_new"),
            shingle_array(F.col(text_col), n).alias("_arr"),
        )
        .withColumn("_h", F.transform(F.col("_arr"), lambda s: token_hash32(s)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs = _minhash_fold(
        base, [id_col, "_new"], _BANDS * _ROWS_PER_BAND, _MINHASH_SEED
    )
    buckets = _band_buckets(sigs, [id_col, "_new"], _BANDS, _ROWS_PER_BAND)
    if max_bucket_size is not None:
        # combined occupancy: the window counts batch + corpus rows per
        # (band, bucket) in one derivation, pre-partitioned on the join key
        buckets = prune_df_window(buckets, ["band", "bucket"], max_bucket_size)
    a = buckets.where(F.col("_new")).select(
        F.col(id_col).alias("id_a"), "band", "bucket"
    )
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cands = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    verified = jaccard_verify_arrays(
        cands, combined, text_col, id_col, n=n, arrays=base
    )
    out = verified.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )
    from .cache import attach_cached, cached_deps

    return attach_cached(out, base, *cached_deps(verified))


# ---------------------------------------------------------------------------
# SimHash


def simhash_portable(
    index: DataFrame, id_col: str, key: str = "token", bits: int = 16
) -> DataFrame:
    """SimHash over the portable md5-based 32-bit token hash (oracle twin)."""
    assert bits <= 32
    h = token_hash32(F.col(key))
    positions = F.sequence(F.lit(0), F.lit(bits - 1))
    per_bit = index.select(
        F.col(id_col), h.alias("h"), F.explode(positions).alias("pos")
    ).withColumn("bit", F.floor(F.col("h") / F.pow(F.lit(2), F.col("pos")).cast("long")) % 2)
    votes = per_bit.groupBy(id_col, "pos").agg(
        (F.sum(F.when(F.col("bit") == 1, 1).otherwise(-1))).alias("vote")
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("vote") > 0, F.pow(F.lit(2), F.col("pos")).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def _simhash_sig_counts(hash_arr_col: str, bits: int):
    """Column expr: ``bits``-bit SimHash signature (non-negative long) from
    an array-of-32-bit-token-hashes column — SINGLE-PASS integer fold.

    Bit-identical to the per-position ±1 majority vote (the exploded
    ``simhash_portable`` shape and the DuckDB oracle's replay): with
    ``c_p = |{h : bit_p(h) = 1}|`` over ``n`` token hashes, the vote is
    ``sum(±1) = 2*c_p - n``, so ``vote_p > 0  <=>  2*c_p > n`` — and
    ``bit_p(h) = floor(h / 2^p) % 2 = (h & 2^p != 0)`` exactly for the
    non-negative sub-2^32 hashes ``token_hash32`` produces.

    Why this shape (r16 optimization, guide §1.2 "per-task work"): the
    previous fold ran one ``aggregate(transform(hashes, ...))`` PER BIT
    POSITION — ``bits`` full traversals of the token array per doc, each
    element paying a double ``pow``/``floor``/``%`` chain — and profiled
    as the dominant CPU of every SimHash build/serve stage.  One
    ``aggregate`` with a ``bits``-wide ``zip_with`` counter accumulator
    traverses the array ONCE with integer ``&`` ops: measured 2.8x on
    the sf0.1 corpus fold (1.08s -> 0.38s solo), identical output rows.
    """
    powers = F.array(*[F.lit(1 << p).cast("long") for p in range(bits)])
    counts = F.aggregate(
        F.col(hash_arr_col),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda a, pw: a + F.when(h.bitwiseAND(pw) != 0, 1).otherwise(0),
        ),
    )
    n = F.size(F.col(hash_arr_col))
    return F.aggregate(
        F.zip_with(
            counts,
            powers,
            lambda c, pw: F.when(c * 2 > n, pw).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_local(
    df: DataFrame, text_col: str, id_col: str, bits: int = 16,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, simhash) computed row-local — no explode, no shuffle.

    Same semantics as ``simhash_portable`` (md5-based 32-bit token hash,
    per-bit ±1 majority vote) but as a map-only stage: hash the distinct
    token array once, then fold votes per bit position with nested
    higher-order functions.  The scale path next to the exploded variant
    (which shuffles |docs| x |tokens| x bits rows).  ``keep`` names extra
    input columns carried through unchanged (still map-only — the
    incremental form rides its batch flag here instead of joining it
    back on afterwards).

    Token-less documents (empty/whitespace-only text) are EXCLUDED from
    the output — a majority vote over zero tokens carries no signal, and
    emitting the degenerate all-zero signature would pair every empty doc
    with every other at Hamming 0.  This also matches the exploded
    variant (``simhash_portable``: explode of an empty array yields no
    rows) and the DuckDB oracle replay (its unnest CTE drops such docs).
    """
    assert bits <= 32
    # Filter on the TOKEN array's size, before the md5 hash projection:
    # size(transform(x, f)) == size(x), so the predicate is equivalent —
    # but a filter phrased over ``_h`` gets pushed below the repartition
    # with the whole md5-per-token transform inlined into it (Catalyst
    # freely duplicates deterministic expressions), turning the narrow
    # scan stage into a single-task md5 pass over the corpus (guide §1.2;
    # observed in plans/r16/dedup_simhash_pairs_before.txt node (2)).
    # Phrased over ``_t``, the pushed-down predicate re-derives only the
    # cheap split/trim tokenize, and the hash runs once, post-shuffle.
    # Each stage is ONE F.expr (r17): the former Column-by-Column build
    # cost ~3.6k py4j round trips per call — pure driver chatter.
    hashed = (
        df.select(
            F.col(id_col),
            *[F.col(c) for c in keep],
            F.expr(_toks_sql(_sql_ident(text_col))).alias("_t"),
        )
        .where(F.size("_t") > 0)
        .select(
            F.col(id_col),
            *[F.col(c) for c in keep],
            F.expr(
                "transform(_t, t -> CAST(conv(substring(md5(t), 1, 8), 16, 10)"
                " AS BIGINT))"
            ).alias("_h"),
        )
    )
    return hashed.select(
        F.col(id_col), *[F.col(c) for c in keep],
        F.expr(_simhash_sig_sql("_h", bits)).alias("simhash"),
    )


def _pigeonhole_bound(max_hamming: int, n_chunks: int) -> None:
    """Raise unless ``n_chunks``-chunk bucketing is lossless at
    ``max_hamming``: two signatures within Hamming <= n_chunks-1 agree
    exactly on at least one chunk (pigeonhole), so the chunk join finds
    every such pair; past that bound a pair sharing no chunk is never a
    candidate and would be silently missing from the result."""
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole bound "
            f"{n_chunks - 1} of {n_chunks}-chunk bucketing: pairs sharing "
            f"no chunk would be silently missed"
        )


def _chunk_rows(
    sigs: DataFrame, cols: list[str], bits: int, n_chunks: int, max_hamming: int
) -> tuple[DataFrame, list[DataFrame]]:
    """(cols..., simhash, ci, cv) — every ``bits``-wide signature of a
    (cols..., simhash) table exploded into its ``n_chunks`` pigeonhole
    chunk rows, plus the handles persisted here (attach them to the
    result — ``cache.attach_cached``).  Raises unless the bucketing is
    lossless at ``max_hamming`` (:func:`_pigeonhole_bound`).

    The signature table is persisted (r16, guide §2.4): the two sides of
    the chunk join plan DIFFERENTLY (one becomes the broadcast build, the
    other the probe), so AQE's runtime stage reuse — which does dedupe
    symmetric shuffle-join sides — cannot fire, and the whole upstream
    signature fold executed once per side; worse, constraint inference
    inlined ``isnotnull(simhash)`` (the full fold expression) into the
    pre-shuffle filter.  The persisted table is 2 longs per doc — far
    smaller than the exploded chunk table it feeds."""
    from pyspark import StorageLevel

    from .cache import cached_deps

    _pigeonhole_bound(max_hamming, n_chunks)
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                (
                    F.shiftrightunsigned(F.col("simhash"), i * chunk_bits)
                    .bitwiseAND(F.lit(mask))
                ).alias("cv"),
            )
            for i in range(n_chunks)
        ]
    )
    deps = cached_deps(sigs)
    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    keyed = sigs.select(*cols, "simhash", F.explode(chunks).alias("c")).select(
        *cols, "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv")
    )
    return keyed, [sigs, *deps]


def simhash_near_duplicates_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Oracle-checkable SimHash near-dup pairs: portable md5-based 16-bit
    signatures (row-local, map-only) + chunk-bucketed Hamming self-join.
    Pigeonhole: two signatures within Hamming <= 3 share at least one of
    4 bit-chunks exactly, so candidates join on (chunk_idx, chunk_value)
    — linear in corpus size, never all-pairs — and the exact Hamming
    filter keeps the result lossless.  Output: (id_a, id_b, hamming)."""
    from .cache import attach_cached

    sigs = simhash_local(df, text_col, id_col, bits=16)
    keyed, handles = _chunk_rows(sigs, [id_col], 16, 4, max_hamming)
    a = keyed.toDF("id_a", "sig_a", "ci", "cv")
    b = keyed.toDF("id_b", "sig_b", "ci", "cv")
    out = (
        a.join(b, ["ci", "cv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return attach_cached(out, *handles)


def simhash_near_duplicates_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """INCREMENTAL SimHash near-dup — the asymmetric batch-vs-corpus
    shape of :func:`minhash_near_duplicates_incremental` applied to the
    Hamming family: an incoming batch is paired against itself and the
    existing corpus, NEVER corpus x corpus.

    Signatures are the portable row-local form (``simhash_local`` —
    map-only, no shuffle; the batch flag rides through via ``keep``), so
    the only shuffles are the chunk-bucket join's.  Pigeonhole: two
    16-bit signatures within Hamming <= 3 share at least one of 4 exact
    bit-chunks, so candidates join on (chunk_idx, chunk_value) with
    the BATCH side as build side — per bucket the candidate volume is
    O(|bucket ∩ batch| x |bucket|), vanishing as batch/corpus shrinks —
    and the exact ``bit_count(xor)`` filter keeps the result lossless.
    Semantics equal :func:`simhash_near_duplicates_portable` over the
    UNION of the two inputs restricted to pairs with at least one batch
    document (the law ``test_dedup.py`` pins).  No bucket cap, matching
    the full-form generator: at 16 bits in 4 chunks the bucket keyspace
    is 4 bits, so ANY useful occupancy cap would prune everything — the
    cap slot belongs to wide-signature deployments (64-bit simhash,
    16-bit chunks), where ``prune_df_window`` on (ci, cv) drops
    degenerate buckets exactly as the dHash form does — that deployment
    geometry is implemented as
    :func:`simhash_near_duplicates_incremental64`.  Ids must be
    unique across the two inputs.  Output: (id_a, id_b, hamming),
    id_a < id_b.
    """
    from .cache import attach_cached

    combined = corpus_docs.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("_new")
    ).unionByName(
        new_docs.select(F.col(id_col), F.col(text_col), F.lit(True).alias("_new"))
    )
    sigs = simhash_local(combined, text_col, id_col, bits=16, keep=("_new",))
    keyed, handles = _chunk_rows(sigs, [id_col, "_new"], 16, 4, max_hamming)
    a = keyed.where(F.col("_new")).select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "ci", "cv"
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "ci", "cv"
    )
    out = (
        a.join(b, ["ci", "cv"])
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return attach_cached(out, *handles)


def _simhash_sig_sql(hash_arr_sql: str, bits: int) -> str:
    """:func:`_simhash_sig_counts` as ONE SQL fragment (r17, the r16 #18
    recipe): same single-pass ``zip_with`` counter fold, same majority
    test, same left-associated packing sum — the parsed expression
    evaluates identically (law-pinned:
    ``test_simhash_sql_matches_columnwise``).  The Column form issued
    ~1.8k py4j round trips per signature (nested lambda construction),
    paid once per batch in the ingest loop and once per build in every
    SimHash index query."""
    powers = (
        "array(" + ",".join(f"CAST({1 << p} AS BIGINT)" for p in range(bits)) + ")"
    )
    counts = (
        f"aggregate({hash_arr_sql}, array_repeat(0, {bits}), "
        f"(acc, h) -> zip_with(acc, {powers}, "
        f"(a, pw) -> a + (CASE WHEN (h & pw) != 0 THEN 1 ELSE 0 END)))"
    )
    return (
        f"aggregate(zip_with({counts}, {powers}, "
        f"(c, pw) -> CASE WHEN (c * 2) > size({hash_arr_sql}) THEN pw "
        f"ELSE CAST(0 AS BIGINT) END), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _toks_sql(text_sql: str) -> str:
    """``array_distinct(filter(tokens(text), t -> t != ''))`` as a SQL
    fragment — the distinct-token array both simhash_local forms fold
    (textually reproducing ``functions.text.tokens``: split of
    trim(lower(text)) on ``\\s+``)."""
    return (
        f"array_distinct(filter(split(trim(lower({text_sql})), '\\\\s+'), "
        f"t -> t != ''))"
    )


def simhash_local64(
    df: DataFrame, text_col: str, id_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(id, sim_hi, sim_lo) — the PRODUCTION 64-bit SimHash signature,
    row-local and map-only, kept as two 32-bit halves in longs.

    Why halves: packing 64 bits into one long means bit 63 lands in the
    sign position and ``x << 32``-style packing sign-overflows (the same
    trap the dHash pipeline hit); two non-negative 32-bit halves keep
    every intermediate exactly representable in BOTH engines (DuckDB
    replays the fold with ``power(2, pos)`` DOUBLE arithmetic, exact for
    values < 2^32).  Each token contributes 64 independent hash bits from
    one md5: hex chars 1-8 are the lo half, 9-16 the hi half (the lo half
    is byte-identical to ``token_hash32``, so the 16-bit family's hash
    constants are a strict prefix of this one's).  Same distinct-token,
    ±1-majority semantics as ``simhash_local``; ``keep`` rides extra
    columns through the map-only stage.  Token-less documents are
    EXCLUDED, same rationale and same oracle semantics as
    ``simhash_local`` (two empty docs must not pair at Hamming 0)."""
    # Filter on the TOKEN array before the md5 projections (same move as
    # ``simhash_local``, r16): ``size(_hlo) == size(toks)`` exactly, and
    # a predicate over ``_hlo`` gets pushed below any repartition with
    # the md5-per-token transform inlined — a corpus-wide md5 pass inside
    # the narrow scan stage.  Over ``_t`` only the cheap tokenize pushes.
    # Each stage is ONE F.expr (r17, the r16 #18 recipe): the Column form
    # cost ~3.6k py4j round trips per call, paid once per micro-batch in
    # the ingest loop and once per build in every stored-index query.
    def _half(first_hex: int) -> str:
        return (
            f"transform(transform(_t, t -> md5(t)), "
            f"x -> CAST(conv(substring(x, {first_hex}, 8), 16, 10) AS BIGINT))"
        )

    hashed = (
        df.select(
            F.col(id_col),
            *[F.col(c) for c in keep],
            F.expr(_toks_sql(_sql_ident(text_col))).alias("_t"),
        )
        .where(F.size("_t") > 0)
        .select(
            F.col(id_col),
            *[F.col(c) for c in keep],
            F.expr(_half(1)).alias("_hlo"),
            F.expr(_half(9)).alias("_hhi"),
        )
    )
    return hashed.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.expr(_simhash_sig_sql("_hhi", 32)).alias("sim_hi"),
        F.expr(_simhash_sig_sql("_hlo", 32)).alias("sim_lo"),
    )


def chunks_4x16(df: DataFrame, hi: str, lo: str) -> DataFrame:
    """Explode each row of a 64-bit hash table, kept as the two 32-bit
    halves ``hi``/``lo``, into its 4 x 16-bit pigeonhole chunk rows:
    every input column, then (ci, cv).  Two hashes within Hamming <= 3
    agree exactly on at least one chunk.  The one chunk map of the
    SimHash-64, dHash and video-frame families — full, incremental and
    stored-index paths alike."""
    mask = F.lit((1 << 16) - 1)
    hi_c, lo_c = F.col(hi), F.col(lo)
    parts = [
        lo_c, F.shiftrightunsigned(lo_c, 16),
        hi_c, F.shiftrightunsigned(hi_c, 16),
    ]
    chunks = F.array(*[
        F.struct(F.lit(i).alias("ci"), p.bitwiseAND(mask).alias("cv"))
        for i, p in enumerate(parts)
    ])
    return df.select("*", F.explode(chunks).alias("_c")).select(
        *df.columns, "_c.ci", "_c.cv"
    )


def hamming_ab():
    """Column ``hamming``: the exact Hamming distance between the split
    64-bit hashes (hi_a, lo_a) and (hi_b, lo_b) — one sign-free
    ``bit_count(xor)`` per half."""
    return (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).cast("int").alias("hamming")


def _serve_rows(
    batch: DataFrame,
    corpus: DataFrame | None,
    key: Callable[[DataFrame], DataFrame],
    corpus_index: DataFrame | None,
    corpus_occupancy: DataFrame | None,
    family: str,
    params: dict,
    cols: list[str],
    keys: list[str],
    max_bucket_size: int | None,
) -> tuple[DataFrame, list[DataFrame]]:
    """The stored-index serve core of the four incremental near-dup
    families (SimHash-64 text, dHash images, video frames, audio
    landmarks): the capped (batch ∪ corpus) keyed rows the family's own
    pair join consumes, with ``_new`` true on the batch rows, plus the
    handles persisted here (attach them to the result —
    ``cache.attach_cached``).

    ``batch`` — the batch's input rows; ``corpus`` — the corpus's input
    rows with the same columns, the RECOMPUTE path.  ``key`` maps input
    rows to keyed rows with at least ``cols``, passing the ``_new`` tag
    through; on the recompute path it runs ONCE over the tagged union,
    so the family's fold appears once in the plan (keying the two sides
    apart measured ~0.3 s slower per SimHash-64 serve at sf0.01).
    ``keys`` is the bucket key the family joins on, ``cols`` the columns
    the stored path keeps.

    ``corpus_index`` — the STORED path, in place of ``corpus``: the
    family's keyed table written once at ingest (its ``*_chunk_table`` /
    ``*_landmark_table`` builder, typically parquet partitioned on one
    key column).  The corpus side becomes a decode-free scan of it — no
    corpus text, image, video or audio read, no fold — and the
    combined-occupancy cap applies across stored + batch rows exactly as
    in the recompute path, so results are identical (law-pinned per
    family).  The ``index_fp`` stamp must match ``family`` and
    ``params`` (``indexstamp.guard_index``, lazy, raises on the first
    mismatching row).

    ``corpus_occupancy`` — optional stored occupancy sidecar of that
    index (:func:`stored_occupancy_table`, fp- and content-stamped;
    only with ``corpus_index``).  The cap is then (stored n + batch n)
    against a BROADCAST kept-key semi-join
    (:func:`kept_keys_with_stored_occupancy`) instead of a count window
    over the whole union — result-identical (law-pinned), but the
    stored index is never exchanged or sorted at serve time: the one
    serve stage the r15 sf30 probe saw grow with the CATALOG.  A sidecar
    older than an ``ingest_batch`` append fails loudly
    (:func:`guard_occupancy_fresh`).

    ``max_bucket_size`` counts COMBINED (batch ∪ corpus) occupancy per
    key: a bucket hot in the corpus prunes even when the batch adds one
    row.  ``None`` serves uncapped.

    Persistence, one rule for every family, chosen by measurement: the
    capped union is always persisted — the pair join reads it twice, as
    a shuffle probe and as a broadcast build, so exchange reuse cannot
    collapse the two lineages and the batch fold (on the recompute path
    the corpus fold too) would run twice.  Under a sidecar cap the keyed
    batch rows also feed the per-key batch counts, so they are persisted
    as well, unless the caller's ``batch`` is already persisted (the
    ingest loop's pre-folded chunks, which stay the caller's to
    release).  Leaving the union unpersisted on the sidecar path, so
    that no index scan is cached, cost one more Spark job on each of the
    five sidecar-serving registry queries at sf0.01."""
    from pyspark import StorageLevel

    from .indexstamp import guard_index

    assert (corpus is None) != (corpus_index is None), (
        "pass exactly one corpus source: the raw corpus (recompute) or "
        "corpus_index (stored index)"
    )
    assert corpus_occupancy is None or corpus_index is not None, (
        "corpus_occupancy is a sidecar of the stored index — pass it "
        "together with corpus_index"
    )
    handles = []
    new_rows = batch.withColumn("_new", F.lit(True))
    if corpus_index is None:
        rows = key(
            corpus.withColumn("_new", F.lit(False)).unionByName(new_rows)
        )
    else:
        new_rows = key(new_rows)
        if (
            corpus_occupancy is not None
            and max_bucket_size is not None
            and not batch.is_cached
        ):
            new_rows = new_rows.persist(StorageLevel.MEMORY_AND_DISK)
            handles.append(new_rows)
        if corpus_occupancy is not None:
            corpus_index = guard_occupancy_fresh(corpus_index, corpus_occupancy)
        rows = guard_index(corpus_index, family, **params).select(
            *cols, F.lit(False).alias("_new")
        ).unionByName(new_rows.select(*cols, "_new"))
    if max_bucket_size is not None:
        if corpus_occupancy is not None:
            kept = kept_keys_with_stored_occupancy(
                new_rows.groupBy(*keys).agg(
                    F.count(F.lit(1)).cast("long").alias("_bn")
                ),
                guard_index(corpus_occupancy, family, **params),
                keys,
                max_bucket_size,
            )
            handles.append(kept)
            rows = rows.join(F.broadcast(kept), keys, "left_semi")
        else:
            rows = prune_df_window(rows, keys, max_bucket_size)
    rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
    return rows, [*handles, rows]


def hamming_serve_pairs(
    rows: DataFrame, id_col: str, hi: str, lo: str, max_hamming: int
) -> DataFrame:
    """(id_a, id_b, hamming), id_a < id_b: the Hamming pair join over a
    :func:`_serve_rows` chunk table (SimHash-64 and dHash) — batch rows
    are the build side of the (ci, cv) join, the exact per-half
    ``bit_count(xor)`` keeps the result lossless for Hamming <= 3."""

    def side(s: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"id_{s}"),
            F.col(hi).alias(f"hi_{s}"),
            F.col(lo).alias(f"lo_{s}"),
            "ci", "cv",
        )

    return (
        side("a", rows.where(F.col("_new")))
        .join(side("b", rows), ["ci", "cv"])
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            hamming_ab(),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def simhash64_chunk_table(
    docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, sim_hi, sim_lo, ci, cv) — the UNCAPPED 64-bit SimHash chunk
    table for a document set: exactly what a production deployment
    computes ONCE at ingest and stores (partitioned on ``ci``) as the
    corpus signature index.  Feed a stored copy back to
    :func:`simhash_near_duplicates_incremental64` via ``corpus_index`` so
    each incremental batch pays the signature fold only for its own docs;
    the corpus side is then a decode-free parquet scan.  Rows carry the
    ``index_fp`` build stamp (``indexstamp``) asserted at serve time."""
    from .indexstamp import stamp_index

    return stamp_index(
        chunks_4x16(simhash_local64(docs, text_col, id_col), "sim_hi", "sim_lo"),
        "simhash64_chunk_table",
    )


def simhash_near_duplicates_incremental64(
    new_docs: DataFrame,
    corpus_docs: DataFrame | None,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = 64,
    corpus_index: DataFrame | None = None,
    corpus_occupancy: DataFrame | None = None,
    batch_chunks: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL SimHash near-dup at the PRODUCTION geometry: 64-bit
    signatures in 4 x 16-bit pigeonhole chunks, WITH the combined-
    occupancy bucket cap the 16-bit form cannot take.

    Why this geometry is the 100 TB deployment (and the 16-bit/4-chunk
    form is the checkable miniature): at bits=16 the chunk keyspace is 4
    bits — 16 buckets per chunk index, 64 total — so corpus-size/64
    rows pile into EVERY bucket and any useful occupancy cap would prune
    everything (SCALING.md measured the blow-up).  At bits=64 each chunk
    is 16 bits — 65,536 buckets per chunk index — so expected occupancy
    at 500k docs is ~8 and a cap of ``max_bucket_size`` only drops
    degenerate boilerplate buckets, exactly like the dHash image form
    (same hi/lo packing, same chunk map, same cap discipline).

    Shape: asymmetric batch-vs-(batch ∪ corpus) — signatures map-only via
    :func:`simhash_local64`, candidates join on (chunk_idx, chunk_value)
    with the BATCH side as build side, the cap counts COMBINED occupancy,
    and the exact per-half ``bit_count(xor)`` sum keeps the result
    lossless for Hamming <= 3 (pigeonhole over 4 chunks).  Never corpus
    x corpus.  Ids must be unique across the two inputs.  Output: (id_a,
    id_b, hamming), id_a < id_b.

    ``corpus_index`` (a stored :func:`simhash64_chunk_table`, in place
    of ``corpus_docs``: no corpus text read, no corpus signature fold)
    and ``corpus_occupancy`` follow the shared stored-index contract of
    :func:`_serve_rows`.

    ``batch_chunks`` — optional PRE-FOLDED chunk table for the batch
    side (the :func:`simhash64_chunk_table` shape over exactly
    ``new_docs``; requires ``corpus_index``).  When given, the batch
    signature fold — the batch's dominant CPU — is NOT run here; the
    caller computed it once and typically also needs the same rows for
    its index append (the ingest loop's shape: fold once per batch, not
    once for the serve and again for the append — r16 optimization,
    guide §1.2 "don't compute things twice").  The caller owns the
    handle's persist lifetime; results are identical by determinism of
    the fold."""
    from .cache import attach_cached

    _pigeonhole_bound(max_hamming, 4)
    assert batch_chunks is None or corpus_index is not None, (
        "batch_chunks is a pre-folded batch-side chunk table — only "
        "meaningful on the stored-index serve path"
    )

    def fold(docs: DataFrame) -> DataFrame:
        sigs = simhash_local64(docs, text_col, id_col, keep=("_new",))
        return chunks_4x16(sigs, "sim_hi", "sim_lo")

    if batch_chunks is None:
        batch, key = new_docs.select(id_col, text_col), fold
    else:
        batch, key = batch_chunks, lambda chunks: chunks
    rows, handles = _serve_rows(
        batch,
        None if corpus_docs is None else corpus_docs.select(id_col, text_col),
        key,
        corpus_index,
        corpus_occupancy,
        "simhash64_chunk_table",
        {},
        [id_col, "sim_hi", "sim_lo", "ci", "cv"],
        ["ci", "cv"],
        max_bucket_size,
    )
    pairs = hamming_serve_pairs(rows, id_col, "sim_hi", "sim_lo", max_hamming)
    return attach_cached(pairs, *handles)


def stored_occupancy_table(
    index: DataFrame, keys: tuple[str, ...] = ("ci", "cv")
) -> DataFrame:
    """(keys..., n, index_fp) — per-bucket occupancy of a stored chunk
    index, computed ONCE at build (and refreshable at compaction) and
    written beside the index as a tiny sidecar table.

    Why it exists (measured, r15 sf30 probe): the combined-occupancy
    cap in the stored-serve paths recomputed per-bucket counts over
    (stored index ∪ batch) on EVERY serve — a count window whose input
    grows with the CATALOG, which showed up as the video family's
    serve leg reading 4.55x for 3x data while the batch only tripled.
    Occupancy counts are additive, so the serve-time combined count is
    exactly (stored n) + (batch n) — the stored side of the groupBy
    never needs to run again.

    Cardinality is bounded by the KEY DOMAIN, not the index: 262,144
    rows max for the 4 x 16-bit chunk scheme (ci x cv), a few MB —
    always broadcastable.

    Two identity stamps ride along (ADVICE r15 — ``index_fp`` alone is
    NOT a content identity, it is derived from family name + build
    parameters, so a sidecar computed before later ``ingest_batch=``
    appends to the same path would still carry a matching fp while
    undercounting):

    - ``index_fp`` — the build-PARAMETER stamp (constant first() per
      group), asserted by ``indexstamp.guard_index`` as for the index
      itself;
    - ``occ_through`` — the CONTENT watermark: the highest
      ``ingest_batch`` id summarized by these counts (null-typed
      constant when the index has no ``ingest_batch`` column, i.e. a
      one-shot build that is never appended to in place).  The serving
      paths assert ``index.ingest_batch <= occ_through`` row-wise via
      ``guard_occupancy_fresh`` — a sidecar that predates an append
      fails loudly instead of silently under-enforcing the cap.

    The total stored row count is recoverable as ``sum(n)`` over the
    sidecar; ``tools``/tests can eagerly verify a sidecar against its
    index by comparing that to ``index.count()`` plus the watermark."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    if "index_fp" in index.columns:
        aggs.append(F.first("index_fp").alias("index_fp"))
    if "ingest_batch" in index.columns:
        # per-group max, then one tiny second agg over the sidecar-sized
        # result broadcast back on — the index is scanned exactly once
        aggs.append(F.max("ingest_batch").cast("long").alias("_g"))
        occ = index.groupBy(*keys).agg(*aggs)
        wm = occ.groupBy().agg(F.max("_g").alias("occ_through"))
        return occ.crossJoin(F.broadcast(wm)).drop("_g")
    return index.groupBy(*keys).agg(*aggs).withColumn(
        "occ_through", F.lit(None).cast("long")
    )


def guard_occupancy_fresh(
    index: DataFrame, occupancy: DataFrame
) -> DataFrame:
    """Attach the sidecar CONTENT-staleness assert to a stored index
    (VERDICT r15 #3): every index row's ``ingest_batch`` must be at or
    below the sidecar's ``occ_through`` watermark, or the first
    offending row raises.

    The parameter stamp (``index_fp``) cannot catch this case — appends
    from the same builder carry the same fp, so a sidecar built before
    N later appends passes ``guard_index`` while its counts under-report
    occupancy and the combined cap silently admits pairs the window
    path would have pruned (a RESULTS difference).  The check is the
    same lazy filter-side ``assert_true`` discipline as the fp guards:
    the 1-row watermark scalar broadcasts onto the index scan (the
    PLANS.md lazy-scalar idiom) and costs one constant comparison per
    index row — the index is still never exchanged or sorted.

    Indexes without an ``ingest_batch`` column (one-shot builds) have
    no in-place append channel to go stale against; they pass through
    untouched.  An appendable index with a pre-watermark sidecar (no
    ``occ_through`` column) is refused eagerly — rebuild the sidecar.

    Scope (by construction, and it is the RIGHT scope): Catalyst may
    evaluate this filter after the kept-key bucket prune, so the assert
    sees only index rows in buckets the BATCH touches — which is
    precisely the set whose staleness could alter this serve's result.
    Occupancy staleness is one-directional (counts only grow), so a
    wrong keep decision always leaves post-watermark rows in a
    surviving batch-touched bucket, and the assert fires; appends
    confined to buckets the batch never probes pass silently AND
    harmlessly (those buckets contribute no pairs either way)."""
    if "ingest_batch" not in index.columns:
        return index
    assert "occ_through" in occupancy.columns, (
        "occupancy sidecar lacks the occ_through content watermark but "
        "the index carries ingest_batch appends — rebuild the sidecar "
        "with stored_occupancy_table (a watermark-less sidecar cannot "
        "be checked against later appends)"
    )
    wm = occupancy.groupBy().agg(
        # min: on a (malformed) mixed sidecar the strictest watermark
        # wins; an EMPTY sidecar yields null, which assert_true treats
        # as failure — correct, since any index row is then unsummarized
        F.min("occ_through").alias("_occ_through")
    )
    msg = F.lit(
        "stale occupancy sidecar: the stored index holds ingest_batch "
        "appends newer than the sidecar's occ_through watermark — its "
        "counts under-report bucket occupancy and the combined cap "
        "would silently under-enforce.  Rebuild the sidecar "
        "(stored_occupancy_table) or let the ingest loop maintain it."
    )
    return (
        index.crossJoin(F.broadcast(wm))
        .where(
            F.assert_true(
                F.col("ingest_batch") <= F.col("_occ_through"), msg
            ).isNull()
        )
        .drop("_occ_through")
    )


def kept_keys_with_stored_occupancy(
    batch_counts: DataFrame,
    stored_occupancy: DataFrame,
    keys: list[str],
    max_bucket_size: int,
) -> DataFrame:
    """The bucket-key KEEP set under the combined-occupancy cap, from a
    stored occupancy sidecar plus the batch's own per-key counts —
    result-identical to ``prune_df_window`` over (index ∪ batch)
    (law-pinned): a key is kept iff stored_n + batch_n <= cap, where a
    side's missing key counts 0.  Both union sides are then filtered by
    a BROADCAST left-semi join on this set, so the stored index is
    never exchanged or sorted at serve time — the exact stage the sf30
    probe measured growing with the catalog.  ``batch_counts`` must be
    ``batch.groupBy(*keys).count()``-shaped with the count aliased
    ``_bn``; pass a PERSISTED batch lineage upstream or the batch fold
    runs once for the count and once for the join.

    LEFT join from the batch side (ADVICE r15): a stored-only key can
    never contribute output — the pair join's build side requires
    ``_new`` rows, and stored-only buckets have none — so including
    them (the old full_outer) only inflated the broadcast keep set
    toward the key-domain bound; bounding it by the BATCH's keys keeps
    the result identical and the broadcast at most |batch keys|.

    NULL-key semantics: join equality never matches NULL, so a NULL-key
    batch group pairs with no stored count here — and the downstream
    left-semi join drops NULL-key rows regardless, whereas
    ``prune_df_window`` KEEPS a within-cap NULL partition (window
    partitioning groups NULLs).  The shipped key tuples (ci/cv chunk
    values, landmark bins) are non-null by construction; pre-filter
    ``isNotNull`` upstream before using this helper with nullable
    keys."""
    from pyspark import StorageLevel

    occ = stored_occupancy.select(*keys, F.col("n").alias("_sn"))
    total = F.col("_bn") + F.coalesce(F.col("_sn"), F.lit(0))
    # PERSISTED (r16 optimization, guide §2.4): the caller's single
    # logical left-semi join against the (index ∪ batch) union is pushed
    # through the Union by the optimizer into one physical join PER
    # BRANCH, and with the cached batch lineage upstream exchange reuse
    # does not collapse the two broadcast builds — so the whole keep-set
    # chain (batch-count aggregate + occupancy join) derived and RAN
    # twice per serve.  The keep set is at most |batch keys| rows; the
    # handle rides the callers' attach_cached lifetime contract.
    return (
        batch_counts.join(occ, keys, "left")
        .where(total <= max_bucket_size)
        .select(*keys)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def shingle_array(text, n: int = 3):
    """Column expr: distinct nonempty word n-gram array, row-local — the
    set form of ``functions.text.word_ngrams`` (the multiset form)."""
    return F.array_distinct(word_ngrams(text, n))


def jaccard_verify_arrays(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate pairs via ROW-LOCAL array intersection —
    no inverted index at all.

    Each doc's shingle set is computed as an array in the map stage; only
    the bare (id_a, id_b) pair list (small — the whole point of LSH)
    broadcasts, once onto each side of the doc table, to pre-filter the
    docs that participate.  The two filtered sides — candidate-bounded, but
    carrying full shingle arrays — then meet in a hash join keyed on the
    pair, so the array payload rides the (bounded) shuffle instead of a
    broadcast whose size would scale with |candidates| x doc length.
    ``array_intersect`` sizes the overlap per row.  The doc table is
    scanned exactly twice — versus the index route's explode+distinct (a
    |docs|x|shingles| shuffle) executed per join side.  If the pair *list*
    ever outgrows the broadcast threshold, drop to ``jaccard_for_pairs``
    (index route) or remove the hints and let AQE choose shuffle joins.

    ``arrays`` — an optional precomputed ``(id_col, _arr)`` table (typically
    persisted by the caller so tokenization happens once across the
    signature AND verify stages — see ``minhash_near_duplicates_shared``).
    When omitted the shingle arrays are derived from ``docs`` here.

    Output: (id_a, id_b, inter, size_a, size_b, jaccard) — same columns as
    ``jaccard_pairs`` / ``jaccard_for_pairs``.
    """
    if arrays is None:
        arrays = docs.select(
            F.col(id_col), shingle_array(F.col(text_col), n).alias("_arr")
        )
    arr = arrays.select(F.col(id_col), F.col("_arr"))
    a = arr.toDF("id_a", "_arr_a")
    b = arr.toDF("id_b", "_arr_b")
    # broadcast ONLY the id-pair list (both times); the arrays stay on the
    # big side of each broadcast join and meet in a candidate-sized shuffle.
    # distinct() guards the contract: k duplicate (id_a, id_b) rows would
    # otherwise fan out to k^2 output rows through the two-sided join — the
    # pair list is small by assumption, so the dedup is cheap.
    #
    # PERSIST the pair list (r16 optimization, guide §2.4): it feeds TWO
    # BroadcastExchanges, and when the candidate lineage contains a
    # persisted node (every LSH caller's shingle base — the exact
    # InMemoryTableScan shape that defeats exchange reuse, see
    # ``prune_df_window``), the plan carries 0 ReusedExchange and the
    # ENTIRE candidate chain — bucket explode, occupancy cap, bucket
    # join, pair distinct — derives and EXECUTES twice, once per verify
    # side (measured: dedup_minhash_lsh duplicated its 5.7 MB candidate
    # shuffle stage-for-stage).  The persisted handle rides the output's
    # cache-lifetime contract (``attach_cached``) like every other
    # operator-owned cache.
    from pyspark import StorageLevel

    from .cache import attach_cached

    p = pairs.select("id_a", "id_b").distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    with_a = a.join(F.broadcast(p), ["id_a"])
    with_b = b.join(F.broadcast(p), ["id_b"])
    both = with_a.join(with_b, ["id_a", "id_b"])
    inter = F.size(F.array_intersect("_arr_a", "_arr_b"))
    out = (
        both.select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            F.size("_arr_a").alias("size_a"),
            F.size("_arr_b").alias("size_b"),
        )
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
        )
    )
    return attach_cached(out, p)


def jaccard_pairs_prefix(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard-join with PREFIX FILTERING (AllPairs/PPJoin family) —
    the scale path for high thresholds.

    Plain inverted-index joins generate a candidate for every token two
    docs share; prefix filtering exploits the threshold: order each doc's
    tokens by ascending global document frequency (rarest first) and index
    only the first ``|d| - ceil(t*|d|) + 1`` tokens.  Two sets with
    Jaccard >= t MUST share at least one prefix token, so candidates
    generated from prefixes alone are complete — and the indexed volume
    (hence the self-join's pair volume) shrinks by ~(1-t)^2.  At t=0.8
    that's ~25x fewer candidate pairs; at 100 TB it is the difference
    between a feasible join and an O(sum df^2) blowup.  Verification is the
    row-local array_intersect path (no second index build).

    SCALE CAVEAT (measured, 10x run): the (1-t)^2 bound governs indexed
    VOLUME, not candidate-pair volume — pairs are O(sum df^2) over the
    prefix tokens, which stays near-linear only while token document
    frequencies stay bounded as the corpus grows (true for natural
    language, where vocabulary grows with corpus).  On a BOUNDED-vocab
    corpus every df scales linearly and this join goes quadratic (105x
    wall time at 10x data on the synthetic 30-word-vocab table, vs 1.6x
    for the df-capped form).  For such corpora use ``jaccard_pairs`` with
    its default ``max_doc_freq`` cap or MinHash-LSH; prefix filtering is
    the lossless high-threshold path for growing-vocab text.

    Exactness: candidates are a superset of true matches (prefix sharing is
    necessary, not sufficient), and every candidate is verified with the
    full sets — the result equals the naive ``jaccard_pairs`` at the same
    threshold.  Ties in document frequency are broken by the token string,
    so prefixes are deterministic.

    Two many-consumer intermediates persist MEMORY_AND_DISK: the shingle-array table (consumed by the
    index chain and both verify sides — without it the corpus is
    re-tokenized per consumer, ~6 passes end-to-end) and the pruned prefix
    table (both self-join sides, each otherwise re-running the freq join +
    window).  Measured 2.6x end-to-end at sf0.1.  The arrays are
    corpus-class (spill at scale — same dial as
    ``minhash_near_duplicates_shared``); the prefix table is the pruned
    ~(1-t)x index.  Callers own cache hygiene (clearCache between queries,
    as bench.py / the correctness runner do).

    Output: (id_a, id_b, inter, size_a, size_b, jaccard), id_a < id_b.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    # set_size rides along row-locally through the explode — no join back
    # to a per-doc table (which would not broadcast at corpus scale)
    arr = docs.select(
        F.col(id_col), shingle_array(F.col(text_col), n).alias("_arr")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    index = arr.select(
        F.col(id_col),
        F.size("_arr").alias("set_size"),
        F.explode("_arr").alias("token"),
    )
    # document frequency attached via a count window over the token (r16,
    # guide §2.4): the former groupBy(token) + equi-join-back consumed the
    # index TWICE and shuffled it twice (the aggregate's exchange plus the
    # join's probe side — the per-token freq table is corpus-vocabulary
    # sized, never broadcastable at scale); the window computes and
    # attaches the same count in ONE exchange on the token.
    # rank tokens rarest-first within each doc; keep the prefix
    w = Window.partitionBy(id_col).orderBy("df", "token")
    prefix = (
        index.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("token"))
        )
        .withColumn("_pos", F.row_number().over(w))
        .where(
            # prefix length |d| - ceil(t*|d|) + 1.  The 1e-9 nudge keeps the
            # binary-float product from rounding JUST ABOVE an exact integer
            # t*|d| (ceil would then overshoot and the prefix come out one
            # token SHORT — silently dropping true matches exactly at the
            # threshold).  The nudge can only lengthen the prefix, never
            # shorten it, so candidates stay a superset of true matches.
            F.col("_pos")
            <= F.col("set_size")
            - F.ceil(F.lit(threshold) * F.col("set_size") - F.lit(1e-9))
            + 1
        )
        .select(F.col(id_col), "token")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = prefix.toDF("id_a", "token")
    b = prefix.toDF("id_b", "token")
    cands = (
        a.join(b, ["token"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    verified = jaccard_verify_arrays(cands, docs, text_col, id_col, n=n, arrays=arr)
    out = verified.where(F.col("jaccard") >= threshold)
    from .cache import attach_cached, cached_deps

    attach_cached(out, *cached_deps(verified), arr, prefix)
    return out
