"""Behavioral tests for perceptual image dedup (operators/phash.py).

The oracle-parity gate certifies cross-engine exactness of the hash
and pair rows; these pin the SEMANTICS the blockhash scheme exists
for: invariance under uniform brightness shift, locality of
structural edits, and losslessness of the pigeonhole banding vs a
brute-force Hamming join.
"""

import pytest
from pyspark.sql import functions as F

from flink_log_analysis_spark.operators import phash as ph
from flink_log_analysis_spark.operators.mediacodecs import encode_bmp


def _sig_of(spark, pixel_fn):
    """Hash one synthetic image supplied as a pixel function."""
    img = encode_bmp(
        [[(pixel_fn(r, c),) * 3 for c in range(ph.PH_W)]
         for r in range(ph.PH_H)]
    )
    df = spark.createDataFrame([(0, img)], "doc_id bigint, img binary")
    row = ph.signatures(ph.block_stats(df)).collect()[0]
    return row["hash_hi"], row["hash_lo"]


def _ham(a, b):
    return (
        bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")
    )


def test_uniform_brightness_shift_is_hamming_zero(spark):
    base = _sig_of(spark, lambda r, c: (r * 3 + c * 5) % 200)
    brighter = _sig_of(spark, lambda r, c: (r * 3 + c * 5) % 200 + 50)
    # block and global means shift together: every cross-multiplied
    # comparison is invariant — the "perceptual" property
    assert _ham(base, brighter) == 0


def test_structural_edit_flips_few_bits(spark):
    base = _sig_of(spark, lambda r, c: (r * 3 + c * 5) % 200)
    patched = _sig_of(
        spark,
        lambda r, c: 255 if (r < 4 and c < 4) else (r * 3 + c * 5) % 200,
    )
    d = _ham(base, patched)
    # one 4x4 block whited out: its bit flips, the global-mean ripple
    # may flip a few borderline neighbors — never half the hash
    assert 1 <= d <= 8


def test_banding_is_lossless_vs_bruteforce(spark):
    docs = spark.range(0, 64).select(F.col("id").alias("doc_id"))
    sig = ph.phash_signatures(docs).localCheckpoint()
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in ph.near_dups(sig).collect()
    }
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hash_hi").alias("ha"),
        F.col("hash_lo").alias("la"),
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hash_hi").alias("hb"),
        F.col("hash_lo").alias("lb"),
    )
    ham = (
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        + F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
    ).cast("int")
    brute = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= ph.PH_MAX_DIST)
        .collect()
    }
    assert banded == brute and brute  # lossless, and non-trivial


@pytest.mark.parametrize("max_dist", [0, 1, 2, 5])
def test_banding_is_lossless_for_non_tiling_chunk_widths(spark, max_dist):
    """max_dist values whose chunks don't tile a 32-bit word
    (2 -> 21-bit chunks, 5 -> 10-bit chunks) and the degenerate
    max_dist=0 used to break the pigeonhole guarantee; the full
    64-bit carve must stay exactly lossless for all of them."""
    docs = spark.range(0, 48).select(F.col("id").alias("doc_id"))
    sig = ph.phash_signatures(docs).localCheckpoint()
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in ph.near_dups(sig, max_dist=max_dist).collect()
    }
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hash_hi").alias("ha"),
        F.col("hash_lo").alias("la"),
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hash_hi").alias("hb"),
        F.col("hash_lo").alias("lb"),
    )
    ham = (
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        + F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
    ).cast("int")
    brute = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_dist)
        .collect()
    }
    assert banded == brute


def test_near_dups_rejects_out_of_range_max_dist(spark):
    docs = spark.range(0, 4).select(F.col("id").alias("doc_id"))
    sig = ph.phash_signatures(docs)
    with pytest.raises(ValueError):
        ph.near_dups(sig, max_dist=-1)
    with pytest.raises(ValueError):
        ph.near_dups(sig, max_dist=64)


def test_within_group_variants_are_near_dups(spark):
    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in ph.near_dups(
            ph.phash_signatures(docs).localCheckpoint()
        ).collect()
    }
    # most same-group pairs (4 variants per group) land within the
    # Hamming bound; the family tolerates a few stragglers by design
    same_group = {
        (a, b)
        for g in range(10)
        for a in range(g * 4, g * 4 + 4)
        for b in range(a + 1, g * 4 + 4)
    }
    found = pairs & same_group
    assert len(found) >= int(0.8 * len(same_group))
    # cross-group pairs are the overwhelming majority of the corpus;
    # near-dups must not be dominated by them
    cross = pairs - same_group
    assert len(cross) < len(found)


def _dct_sig_of(spark, pixel_fn):
    img = encode_bmp(
        [[(pixel_fn(r, c),) * 3 for c in range(ph.PH_W)]
         for r in range(ph.PH_H)]
    )
    df = spark.createDataFrame([(0, img)], "doc_id bigint, img binary")
    row = ph.dct_signatures(ph.block_stats(df)).collect()[0]
    return row["hash_hi"], row["hash_lo"]


def test_dct_matches_pure_python_replica(spark):
    """The Spark DCT pHash must equal an independent pure-Python
    evaluation of the same fixed-point basis on the same image."""
    fn = lambda r, c: (r * 7 + c * 11) % 193  # noqa: E731
    got = _dct_sig_of(spark, fn)
    T = ph._dct_table()
    G = ph.PH_GRID
    bs = [0] * 64
    for r in range(ph.PH_H):
        for c in range(ph.PH_W):
            bs[(r * G // ph.PH_H) * G + (c * G // ph.PH_W)] += fn(r, c) * 3
    coefs = {
        u * 8 + v: sum(
            bs[bi * 8 + bj] * T[u][bi] * T[v][bj]
            for bi in range(8)
            for bj in range(8)
        )
        for u in range(8)
        for v in range(8)
        if (u, v) != (0, 0)
    }
    med = sorted(coefs.values())[31]
    want = (
        sum(1 << (uv - 32) for uv, c in coefs.items() if uv >= 32 and c > med),
        sum(1 << uv for uv, c in coefs.items() if uv < 32 and c > med),
    )
    assert got == want


def test_dct_drops_dc_so_brightness_shift_is_invariant(spark):
    base = _dct_sig_of(spark, lambda r, c: (r * 3 + c * 5) % 200)
    brighter = _dct_sig_of(spark, lambda r, c: (r * 3 + c * 5) % 200 + 50)
    # a uniform shift lands entirely in the (dropped) DC coefficient:
    # every non-DC coefficient, and hence the median and every bit,
    # is unchanged
    assert _ham(base, brighter) == 0


def test_incremental_never_pairs_batch_with_batch(spark):
    docs = spark.range(0, 48).select(F.col("id").alias("doc_id"))
    corpus = docs.filter(F.col("doc_id") % 4 != 3)
    batch = docs.filter(F.col("doc_id") % 4 == 3)
    csig = ph.phash_signatures(corpus).localCheckpoint()
    bsig = ph.phash_signatures(batch).localCheckpoint()
    pairs = ph.match_against_corpus(bsig, csig).collect()
    assert pairs  # each variant-3 image has 3 in-group corpus twins
    for r in pairs:
        assert r["doc_a"] % 4 == 3 and r["doc_b"] % 4 != 3
        assert r["hamming"] <= ph.PH_MAX_DIST


def test_vectorized_codec_paths_match_scalar_reference():
    """r16 optimization: the numpy fast paths (decode_bmp_array,
    encode_bmp_gray_array, and block_stats' reduceat block sums) must
    be value-identical to the scalar stdlib codec on every geometry
    class: exact-tile, non-tiling remainders, and padded row sizes."""
    import numpy as np

    from flink_log_analysis_spark.operators import mediacodecs as mc

    rng = np.random.RandomState(7)
    for w, h in [(32, 32), (10, 6), (7, 32), (33, 17), (8, 8)]:
        rows = [
            [tuple(int(v) for v in rng.randint(0, 256, 3)) for _ in range(w)]
            for _ in range(h)
        ]
        buf = mc.encode_bmp(rows)
        w0, h0, ref_rows = mc.decode_bmp(buf)
        w1, h1, px = mc.decode_bmp_array(buf)
        assert (w0, h0) == (w1, h1) == (w, h)
        assert px.shape == (h, w, 3)
        assert [
            [tuple(int(v) for v in px[r, c]) for c in range(w)]
            for r in range(h)
        ] == ref_rows
        # gray encode twin: byte-identical BMP for (g, g, g) pixels
        gray = rng.randint(0, 256, (h, w)).astype(np.uint8)
        fast = mc.encode_bmp_gray_array(gray)
        slow = mc.encode_bmp(
            [[(int(g),) * 3 for g in gray[r]] for r in range(h)]
        )
        assert fast == slow


def test_block_stats_matches_scalar_loop(spark):
    """The reduceat block sums equal the per-pixel scalar fold on a
    non-tiling geometry (10x6 image under the 8x8 grid exercises the
    empty-block scalar fallback) and the 32x32 contract geometry."""
    from flink_log_analysis_spark.operators import mediacodecs as mc

    for w, h in [(32, 32), (10, 6)]:
        rows = [
            [((r * 7 + c * 13) % 256,) * 3 for c in range(w)]
            for r in range(h)
        ]
        buf = mc.encode_bmp(rows)
        df = spark.createDataFrame([(0, bytearray(buf))],
                                   "doc_id bigint, img binary")
        got = ph.block_stats(df).collect()[0]
        grid = ph.PH_GRID
        bs = [0] * (grid * grid)
        for r in range(h):
            for c in range(w):
                g = (r * 7 + c * 13) % 256
                bs[(r * grid // h) * grid + c * grid // w] += 3 * g
        assert got["width"] == w and got["height"] == h
        assert list(got["bsums"]) == bs
        assert got["total"] == sum(bs)


def test_dct_arrow_matches_relational(spark):
    """r17 fusion: the in-batch Arrow DCT signatures must equal the
    relational explode/join/groupBy form value-for-value on the tiling
    contract geometry, a sub-grid image (scalar block path), and a
    non-tiling one."""
    from flink_log_analysis_spark.operators import mediacodecs as mc

    rows = []
    for i, (w, h) in enumerate([(32, 32), (6, 5), (40, 24)]):
        px = [
            [((r * 7 + c * 13 + i * 31) % 256,) * 3 for c in range(w)]
            for r in range(h)
        ]
        rows.append((i, bytearray(mc.encode_bmp(px))))
    df = spark.createDataFrame(rows, "doc_id bigint, img binary")
    rel = {
        r["doc_id"]: r
        for r in ph.dct_signatures(ph.block_stats(df)).collect()
    }
    fused = {r["doc_id"]: r for r in ph.dct_signatures_arrow(df).collect()}
    assert set(rel) == set(fused)
    for k in rel:
        for col in ("width", "height", "hash_hi", "hash_lo"):
            assert rel[k][col] == fused[k][col], (k, col)


def test_dct_arrow_envelope_fallback_matches(spark):
    """Forcing the exact-Python-int fallback (bsum_max=0) must give
    the same hash words as the int64 numpy path."""
    from flink_log_analysis_spark.operators import mediacodecs as mc

    px = [[((r * 5 + c * 3) % 256,) * 3 for c in range(16)] for r in range(16)]
    df = spark.createDataFrame(
        [(0, bytearray(mc.encode_bmp(px)))], "doc_id bigint, img binary"
    )
    fast = ph.dct_signatures_arrow(df).collect()[0]
    slow = ph.dct_signatures_arrow(df, bsum_max=0).collect()[0]
    assert (fast["hash_hi"], fast["hash_lo"]) == (
        slow["hash_hi"], slow["hash_lo"]
    )


def test_dct_arrow_non_default_id_col(spark):
    """The Arrow stages must carry the caller's id column by name: a
    frame keyed by ``img_id`` hashes exactly like the same frame keyed
    by ``doc_id``."""
    from flink_log_analysis_spark.operators import mediacodecs as mc

    rows = []
    for i, (w, h) in enumerate([(32, 32), (6, 5)]):
        px = [[((r * 3 + c * 11 + i * 17) % 256,) * 3 for c in range(w)]
              for r in range(h)]
        rows.append((i, bytearray(mc.encode_bmp(px))))
    by_doc = spark.createDataFrame(rows, "doc_id bigint, img binary")
    by_img = by_doc.withColumnRenamed("doc_id", "img_id")
    want = {r["doc_id"]: r for r in ph.dct_signatures_arrow(by_doc).collect()}
    got_df = ph.dct_signatures_arrow(by_img, id_col="img_id")
    assert got_df.columns[0] == "img_id"
    got = {r["img_id"]: r for r in got_df.collect()}
    assert set(got) == set(want)
    for k in want:
        for col in ("width", "height", "hash_hi", "hash_lo"):
            assert got[k][col] == want[k][col], (k, col)
    stats = ph.block_stats(by_img, id_col="img_id").collect()
    assert sorted(r["img_id"] for r in stats) == sorted(want)
