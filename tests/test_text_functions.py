"""Unit tests: text-analysis column expressions (word n-grams, repetition
ratio) — the row-local quality-signal primitives."""

from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.functions.text import word_ngrams


def test_word_ngrams_keeps_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y"), (3, "one two three")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.g
        for r in df.select("doc_id", word_ngrams(F.col("text"), 3).alias("g")).collect()
    }
    assert got[1] == ["a b a", "b a b", "a b a", "b a b"]  # multiset
    assert got[2] == []  # too short
    assert got[3] == ["one two three"]


def test_repetition_ratio_values(spark):
    """The repeated-3-gram ratio ``text_repetition`` computes off the
    multiset ``word_ngrams``: 1 - distinct/total, no signal (NULL) for a
    document with no 3-gram."""
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "all distinct words here now"), (3, "x")],
        ["doc_id", "text"],
    )
    grams = word_ngrams(F.col("text"), 3)
    rr = F.when(
        F.size(grams) > 0,
        F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams).cast("double"),
    )
    got = {r.doc_id: r.rr for r in df.select("doc_id", rr.alias("rr")).collect()}
    assert got[1] == 0.5          # 4 grams, 2 distinct
    assert got[2] == 0.0          # no repeats
    assert got[3] is None         # under 3 tokens -> no signal


def test_mix_allocation_threshold_portability(spark, sf_dir):
    """The property that makes corpus_mix_allocation's report row usable
    on ANY engine: per language, selecting docs by ``h <= hash_threshold``
    reproduces EXACTLY the quota-bounded prefix the operator counted —
    same kept_docs, same kept_tokens — and the selection is maximal
    (kept mass <= quota, and the next doc in hash order would exceed it).
    """
    from platform_etl_openfda_faers_spark.plans.benchmarks import (
        _MIX_SEED,
        corpus_mix_allocation,
    )
    from platform_etl_openfda_faers_spark.functions.text import (
        token_hash64,
        tokens,
    )
    from platform_etl_openfda_faers_spark.operators.cache import cached_deps

    report = corpus_mix_allocation(spark, sf_dir)
    rows = {r.lang: r for r in report.collect()}
    assert rows, "allocation must cover at least one language"

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    perdoc = docs.select(
        "lang",
        F.size(F.filter(tokens(F.col("text")), lambda t: t != ""))
        .cast("long")
        .alias("n_tok"),
        token_hash64(
            F.concat(F.col("doc_id").cast("string"), F.lit(_MIX_SEED))
        ).alias("h"),
    ).collect()

    for lang, r in rows.items():
        pool = sorted(
            (p.h, p.n_tok) for p in perdoc if p.lang == lang
        )
        # the threshold selection == the operator's counts
        sel = [t for h, t in pool if r.hash_threshold is not None
               and h <= r.hash_threshold]
        assert len(sel) == r.kept_docs, (lang, len(sel), r.kept_docs)
        assert sum(sel) == r.kept_tokens, (lang, sum(sel), r.kept_tokens)
        # quota law: within budget, and maximal in hash order
        assert r.kept_tokens <= r.token_quota, (lang, r)
        nxt = [t for h, t in pool if r.hash_threshold is None
               or h > r.hash_threshold]
        if nxt:
            assert r.kept_tokens + nxt[0] > r.token_quota, (lang, r)
    # total kept mass tracks the 40% budget apportionment
    total = sum(r.total_tokens for r in rows.values())
    kept = sum(r.kept_tokens for r in rows.values())
    assert kept <= (2 * total) // 5
    for h in cached_deps(report):
        h.unpersist()


def test_curriculum_order_laws(spark, sf_dir):
    """corpus_curriculum_order's arithmetic global position must equal
    the sort-order position (the oracle states the semantics as ONE
    global row_number; the Spark plan never runs a global window), and
    the kept set must be exactly the quality gate's keep set."""
    from platform_etl_openfda_faers_spark.functions.text import (
        quality_logit_micro,
    )
    from platform_etl_openfda_faers_spark.operators.cache import cached_deps
    from platform_etl_openfda_faers_spark.plans.benchmarks import (
        corpus_curriculum_order,
    )

    out = corpus_curriculum_order(spark, sf_dir)
    rows = out.collect()
    assert rows, "sf0.001 must keep at least one doc"

    # kept set == the quality gate's keep set
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept_ids = {
        r.doc_id
        for r in docs.select(
            "doc_id", quality_logit_micro(F.col("text")).alias("lm")
        ).collect()
        if r.lm >= 0
    }
    assert {r.doc_id for r in rows} == kept_ids

    # global_pos is a permutation of 1..N
    n = len(rows)
    assert sorted(r.global_pos for r in rows) == list(range(1, n + 1))

    # arithmetic position == lexicographic (lang_rank, lang) sort position
    by_sort = sorted(rows, key=lambda r: (r.lang_rank, r.lang))
    assert [r.global_pos for r in by_sort] == list(range(1, n + 1))

    # within each language: contiguous ranks, quality-descending order
    from collections import defaultdict

    per_lang = defaultdict(list)
    for r in rows:
        per_lang[r.lang].append(r)
    for lang, lr in per_lang.items():
        lr.sort(key=lambda r: r.lang_rank)
        assert [r.lang_rank for r in lr] == list(range(1, len(lr) + 1)), lang
        # quality-descending, doc_id-ascending on ties
        for a, b in zip(lr, lr[1:]):
            assert a.logit_micro > b.logit_micro or (
                a.logit_micro == b.logit_micro and a.doc_id < b.doc_id
            ), (lang, a, b)
    for h in cached_deps(out):
        h.unpersist()
