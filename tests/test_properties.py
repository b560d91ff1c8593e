"""Property-based invariants (hypothesis) for operators whose correctness
is a *law*, not an example: join salting must be invisible, as-of must equal
the naive per-row definition, sampling must be a key-deterministic filter,
the LLR column expression must match independent float math.

Spark-facing properties share the session fixture; hypothesis drives the
data shapes, not the scale, so each example is a tiny job.
"""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.functions import stats
from platform_etl_openfda_faers_spark.functions.normalize import normalize_term
from platform_etl_openfda_faers_spark.operators import sampling, skew
from platform_etl_openfda_faers_spark.operators.asof import asof_join

SPARK_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=4)


@SPARK_SETTINGS
@given(
    big=st.lists(st.tuples(keys, st.integers(0, 100)), min_size=1, max_size=20),
    small=st.lists(st.tuples(keys, st.integers(0, 100)), min_size=1, max_size=8),
    how=st.sampled_from(["inner", "left"]),
)
def test_salted_join_invisible(spark, big, small, how):
    """salted_join(big, small) == plain join, for any multiplicities."""
    b = spark.createDataFrame(big, ["k", "v"])
    s = spark.createDataFrame(small, ["k", "w"])
    plain = sorted(
        map(tuple, b.join(s, ["k"], how).select("k", "v", "w").collect())
    )
    salted = sorted(
        map(
            tuple,
            skew.salted_join(b, s, on="k", how=how, salt=3)
            .select("k", "v", "w")
            .collect(),
        )
    )
    assert salted == plain


@SPARK_SETTINGS
@given(
    left=st.lists(st.tuples(keys, st.integers(0, 30)), min_size=1, max_size=12),
    right=st.lists(st.tuples(keys, st.integers(0, 30)), min_size=1, max_size=12),
)
def test_asof_matches_naive_definition(spark, left, right):
    """asof backward == max over {r.ts <= l.ts} per key, computed naively."""
    left = sorted(set(left))  # one left row per (key, ts) — dups are idempotent
    r_rows = [(k, t, k * 1000 + t) for k, t in sorted(set(right))]
    l_df = spark.createDataFrame(left, ["user_id", "ts"])
    r_df = spark.createDataFrame(r_rows, ["user_id", "ts", "payload"])
    got = {
        (r.user_id, r.ts): r.payload_right
        for r in asof_join(
            l_df, r_df, on="ts", by="user_id", right_cols=["payload"]
        ).collect()
    }
    assert len(got) == len(left)
    for k, t in left:
        cands = [(rt, p) for rk, rt, p in r_rows if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[(k, t)] == want, (k, t, cands)


@SPARK_SETTINGS
@given(
    ks=st.lists(st.integers(0, 1000), min_size=1, max_size=30, unique=True),
    fraction=st.sampled_from([0.0, 0.2, 0.5, 1.0]),
)
def test_hash_sample_is_deterministic_filter(spark, ks, fraction):
    """Same keys + fraction -> same sample; subset; 1.0 keeps all, 0 none."""
    df = spark.createDataFrame([(k,) for k in ks], ["k"])
    s1 = sorted(r.k for r in sampling.hash_sample(df, "k", fraction).collect())
    s2 = sorted(r.k for r in sampling.hash_sample(df, "k", fraction).collect())
    assert s1 == s2
    assert set(s1) <= set(ks)
    if fraction == 1.0:
        assert len(s1) == len(ks)
    if fraction == 0.0:
        assert s1 == []


@SPARK_SETTINGS
@given(
    tables=st.lists(
        st.tuples(
            st.integers(1, 500),
            st.integers(0, 500),
            st.integers(0, 500),
            st.integers(0, 500),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_llr_expression_matches_float_math(spark, tables):
    """The codegen'd LLR column == independent Python float formula
    (A>0, C>0 non-degenerate cells; degenerate cells are P7-filtered)."""
    tables = [t for t in tables if t[2] > 0] or [(1, 0, 1, 0)]
    df = spark.createDataFrame(tables, ["a", "b", "c", "d"])
    a, b, c, d = (F.col(x).cast("double") for x in "abcd")
    got = df.select(
        "a", "b", "c", "d", stats.llr(a, b, c, d).alias("llr")
    ).collect()
    for r in got:
        aterm = r.a * (math.log(r.a) - math.log(r.a + r.b))
        cterm = r.c * (math.log(r.c) - math.log(r.c + r.d))
        ac = r.a + r.c
        acterm = ac * (math.log(ac) - math.log(r.a + r.b + r.c + r.d))
        want = aterm + cterm - acterm
        assert abs(r.llr - want) < 1e-9 * max(1.0, abs(want))


@SPARK_SETTINGS
@given(
    terms=st.lists(
        st.text(alphabet="abcXYZ^' \t", min_size=0, max_size=8),
        min_size=1,
        max_size=8,
    )
)
def test_normalize_term_idempotent(spark, terms):
    """normalize(normalize(x)) == normalize(x)."""
    df = spark.createDataFrame([(t,) for t in terms], ["t"])
    once = df.select(normalize_term(F.col("t")).alias("n"))
    twice = once.select(normalize_term(F.col("n")).alias("n"))
    assert [r.n for r in once.collect()] == [r.n for r in twice.collect()]


@SPARK_SETTINGS
@given(
    left_ts=st.lists(st.integers(0, 3600), min_size=1, max_size=15),
    right_ts=st.lists(st.integers(0, 3600), min_size=1, max_size=15),
    lo=st.integers(-600, 590),
    span=st.integers(1, 900),
    how=st.sampled_from(["inner", "left_outer"]),
)
def test_interval_join_equals_naive_law(spark, left_ts, right_ts, lo, span, how):
    """Binned interval join == naive range-condition join, for ANY window
    placement (negative/positive/straddling offsets) and any join mode —
    the bin-coverage argument as a law, not an example."""
    from datetime import datetime, timedelta

    from platform_etl_openfda_faers_spark.operators.rangejoin import interval_join

    base = datetime(2024, 1, 1)
    hi = lo + span
    l = spark.createDataFrame(
        [(i, i % 2, base + timedelta(seconds=s)) for i, s in enumerate(left_ts)],
        ["l_id", "k", "ts"],
    )
    r = spark.createDataFrame(
        [(j, j % 2, base + timedelta(seconds=s)) for j, s in enumerate(right_ts)],
        ["r_id", "k", "r_ts"],
    )
    got = sorted(
        (x["l_id"], x["r_id"])
        for x in interval_join(
            l, r, key="k", left_ts="ts", right_ts="r_ts",
            lower_s=float(lo), upper_s=float(hi), how=how, left_id="l_id",
        ).collect()
    )
    naive = sorted(
        (x["l_id"], x["r_id"])
        for x in l.join(
            r.withColumnRenamed("k", "k2"),
            (F.col("k") == F.col("k2"))
            & (F.unix_micros("r_ts") >= F.unix_micros("ts") + lo * 1_000_000)
            & (F.unix_micros("r_ts") <= F.unix_micros("ts") + hi * 1_000_000),
            how,
        ).collect()
    )
    assert got == naive


@given(
    wb=st.integers(1, 4),
    hb=st.integers(1, 3),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_block_constant_roundtrip_property(wb, hb, seed):
    """Any block-constant grayscale image round-trips baseline JPEG exactly
    under the all-ones quant table (the analytic-oracle invariant)."""
    import numpy as np

    from platform_etl_openfda_faers_spark.operators import multimodal as mm

    rng = np.random.default_rng(seed)
    blocks = rng.integers(0, 256, (hb, wb), dtype=np.uint8)
    img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
    out = mm.decode_jpeg(mm.encode_jpeg(img))
    assert out.shape == img.shape and (out == img).all()


@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    seed=st.integers(0, 2**31 - 1),
    q_shift=st.integers(0, 4),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_entropy_lossless_property(h, w, seed, q_shift):
    """For ARBITRARY gray images and quant tables, decode(encode(img))
    equals the FDCT/quant -> dequant/IDCT reference — the Huffman/bitstream
    layer never alters a coefficient (including odd dims and edge pads)."""
    import numpy as np

    from platform_etl_openfda_faers_spark.operators import multimodal as mm

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w), dtype=np.uint8)
    qt = (np.arange(64).reshape(8, 8) % 17 + 1 + q_shift).astype(np.int32)
    pad = np.pad(img, ((0, -h % 8), (0, -w % 8)), mode="edge")
    ref = np.zeros_like(pad)
    for y in range(0, pad.shape[0], 8):
        for x in range(0, pad.shape[1], 8):
            ref[y : y + 8, x : x + 8] = mm.dequantize_idct(
                mm.fdct_quantize(pad[y : y + 8, x : x + 8], qt), qt
            )
    out = mm.decode_jpeg(mm.encode_jpeg(img, qtable=qt))
    assert (out == ref[:h, :w]).all()


# Pure-NumPy codec laws: no Spark session needed, so hypothesis can run
# many more examples than the Spark-facing properties above.

_CODEC_SETTINGS = settings(max_examples=40, deadline=None)


@_CODEC_SETTINGS
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    ncolors=st.integers(2, 256),
    interlace=st.booleans(),
    data=st.data(),
)
def test_gif_lzw_roundtrip_law(h, w, ncolors, interlace, data):
    """decode(encode(idx, pal)) == pal[idx] for ANY palette image — GIF's
    LZW layer is lossless by definition, so any counterexample is a codec
    bug (width bumps, KwKwK, interlace passes, sub-block splits)."""
    import numpy as np

    from platform_etl_openfda_faers_spark.operators import multimodal as mm

    seed = data.draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (ncolors, 3), dtype=np.uint8)
    idx = rng.integers(0, ncolors, (h, w), dtype=np.uint8)
    dec = mm.decode_gif(mm.encode_gif(idx, pal, interlace=interlace))
    assert (dec == pal[idx]).all()


@_CODEC_SETTINGS
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    color=st.booleans(),
    sub=st.sampled_from(["444", "422", "420"]),
    rough=st.booleans(),
    data=st.data(),
)
def test_jpeg_progressive_equals_baseline_law(h, w, color, sub, rough, data):
    """Progressive and baseline JPEG share the quantized coefficients and
    both entropy layers are lossless, so their decodes must be
    bit-identical for ANY image/qtable/subsampling."""
    import numpy as np

    from platform_etl_openfda_faers_spark.operators import multimodal as mm

    seed = data.draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    q = (
        np.clip(np.arange(64).reshape(8, 8) * 2 + 1, 1, 99).astype(np.int32)
        if rough
        else None
    )
    kw = {"qtable": q, "subsampling": sub if color else "444"}
    base = mm.decode_jpeg(mm.encode_jpeg(img, **kw))
    prog = mm.decode_jpeg(mm.encode_jpeg_progressive(img, **kw))
    assert (base == prog).all()


@_CODEC_SETTINGS
@given(
    duration=st.integers(0, 2**32 - 1),
    timescale=st.integers(1, 2**32 - 1),
    wpx=st.integers(1, 65535),
    hpx=st.integers(1, 65535),
)
def test_mp4_meta_roundtrip_law(duration, timescale, wpx, hpx):
    """parse(encode(meta)) == meta over the whole v0 field domain."""
    from platform_etl_openfda_faers_spark.operators import multimodal as mm

    payload = mm.encode_mp4_meta(duration, timescale, wpx, hpx)
    m = mm.parse_mp4_meta(payload)
    assert (m["duration"], m["timescale"], m["width"], m["height"]) == (
        duration, timescale, wpx, hpx,
    )


@settings(deadline=None, max_examples=60)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    color=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_exif_orientation_group_laws(h, w, color, seed):
    """The 8 EXIF orientations form a dihedral group acting on the image:
    2/3/4/5/7 are involutions, 6 and 8 are mutually inverse quarter-turns,
    every transform preserves the multiset of pixels, and 5-8 swap the
    axes while 1-4 keep them."""
    import numpy as np

    from platform_etl_openfda_faers_spark.operators.multimodal import (
        apply_exif_orientation as o,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    for invol in (2, 3, 4, 5, 7):
        np.testing.assert_array_equal(o(o(img, invol), invol), img)
    np.testing.assert_array_equal(o(o(img, 6), 8), img)
    np.testing.assert_array_equal(o(o(img, 8), 6), img)
    for k in range(1, 9):
        out = o(img, k)
        assert sorted(out.reshape(-1).tolist()) == sorted(img.reshape(-1).tolist())
        if k <= 4:
            assert out.shape == img.shape
        else:
            assert out.shape[:2] == (w, h)
    # 3 == 2 then 4 (rot180 = mirror-h . mirror-v)
    np.testing.assert_array_equal(o(img, 3), o(o(img, 2), 4))


@SPARK_SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 8)),
        min_size=1,
        max_size=60,
    ),
    cap=st.integers(min_value=1, max_value=6),
)
def test_prune_df_window_equals_join_form_law(spark, rows, cap):
    """The single-derivation window prune and the anti-join prune
    (``prune_df_above``, the law reference) are the same operator — for
    any index and any cap."""
    from platform_etl_openfda_faers_spark.operators import dedup

    index = spark.createDataFrame(
        [(d, f"t{t}") for d, t in rows], ["doc_id", "token"]
    )
    a = sorted(map(tuple, dedup.prune_df_above(index, "token", cap).collect()))
    b = sorted(map(tuple, dedup.prune_df_window(index, "token", cap).collect()))
    assert a == b


@SPARK_SETTINGS
@given(
    xs=st.sets(st.integers(0, 400), min_size=1, max_size=60),
    ys=st.sets(st.integers(0, 400), min_size=1, max_size=60),
)
def test_kmv_unfilled_sketches_are_exact_set_algebra(spark, xs, ys):
    """When both sketches are unfilled (|set| < k), KMV holds every hash,
    so the per-side, union and intersection estimates are EXACT — the
    estimator degenerates to set algebra for any pair of small sets."""
    from platform_etl_openfda_faers_spark.functions import sketches

    k = 256
    df = spark.createDataFrame(
        [(0, x) for x in xs] + [(1, y) for y in ys], ["grp", "key"]
    )
    regs = sketches.kmv_hashes(df, "key", "grp", k=k)
    ov = sketches.kmv_pair_overlap(regs, k=k).collect()[0]
    assert ov.est_a == float(len(xs))
    assert ov.est_b == float(len(ys))
    assert ov.est_union == float(len(xs | ys))
    assert ov.est_inter == float(len(xs & ys))


@SPARK_SETTINGS
@given(
    docs=st.lists(
        st.text(alphabet=st.sampled_from("abcdef "), min_size=1, max_size=40),
        min_size=2,
        max_size=8,
    ),
)
def test_containment_dominates_jaccard(spark, docs):
    """For every candidate pair, containment >= jaccard (min(|A|,|B|) <=
    union size), both scores match independent Python set math exactly,
    and the pair sets agree at threshold 0 — the law relating the two
    scores over the same uncapped token index."""
    from platform_etl_openfda_faers_spark.operators import dedup

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    index = dedup.distinct_tokens(df, "text", "doc_id")
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(
            index, "doc_id", threshold=0.0, max_doc_freq=None
        ).collect()
    }
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_pairs(
            index, "doc_id", threshold=0.0, max_doc_freq=None
        ).collect()
    }
    assert set(jac) == set(cont)
    sets = {
        i: {w for w in t.lower().split() if w} for i, t in rows
    }
    for (a, b), c in cont.items():
        inter = len(sets[a] & sets[b])
        assert c >= jac[(a, b)]
        assert c == inter / min(len(sets[a]), len(sets[b]))
        assert jac[(a, b)] == inter / len(sets[a] | sets[b])
