"""Perceptual image dedup — block-mean perceptual hashing over the
real image codec tier (VERDICT r14 item 5).

Algorithm: the block-mean-value perceptual hash (Yang, Weng & Niu,
IIH-MSP 2006 — the scheme the open Blockhash project implements):
grayscale the image, split it into an 8x8 grid of equal blocks, and
set bit j when block j's mean intensity exceeds the global mean.
Uniform brightness/contrast shifts move block and global means
together, so the hash is stable under them — the "perceptual" part —
while structural edits flip only the bits of the blocks they touch.
Near-duplicates are pairs within Hamming distance
:data:`PH_MAX_DIST`, found by the pigeonhole chunk join (the
simhash banding in :mod:`.dedup`): a pair within d MUST agree
exactly on one of d+1 chunks, so chunk equality is a lossless
candidate filter — never all-pairs.

EXACT by construction: "mean_j > mean_global" is evaluated as the
integer cross-multiplication ``block_sum * n_pixels > total_sum *
block_pixels`` — no division, no floats, no rounding discipline
anywhere — and grayscale is the channel SUM r+g+b (a uniform 3x of
the average, which the cross-multiplied comparison cancels). The
whole hash is therefore bit-identical across engines, partitionings,
and DuckDB, and the oracle derives it from the closed-form synthetic
pixel family without ever seeing an image byte.

(A DCT pHash was considered and deliberately NOT made the contract:
its coefficient/median comparisons sit on transcendental cos() sums
whose cross-engine parity is 1-ulp territory — the block-mean hash
certifies the same pipeline shape, decode -> grid stats -> bit fold
-> banded join -> exact verify, with integer-exact semantics. The
grid stats come out of the SAME Arrow batch the decode runs in, so
swapping in a DCT later changes one mapInPandas body, nothing else.)

Spark-first shape: the only Python is the Arrow-batched codec decode
(the :mod:`.multimodal` convention — images are opaque binary
columns); block sums ride out of the decode batch as an
array<bigint>, the 64-bit fold and every comparison are relational
(whole-stage codegen), candidates come from 4 equi-joins on 16-bit
chunk values, and verification is one ``bit_count(xor)`` pair of
terms per candidate.

Reference behavioral parity: the reference engine
(/root/reference/src/main/java/com/jmx/analysis/LogAnalysis.java)
has no image surface — engine-extension tier (SURVEY.md §2.D).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

# Synthetic contract-image geometry: fixed 32x32 so the 8x8 grid
# tiles exactly (4x4-pixel blocks) and the oracle's generate_series
# replay stays closed-form. Real corpora vary — block ranges floor
# the same way on any (w, h); the contract pins the exact-tile case.
PH_W = 32
PH_H = 32
PH_GRID = 8
PH_MAX_DIST = 3   # near-dup Hamming bound (banding: MAX_DIST+1 chunks)

# Closed-form synthetic family: 4 variants per group. The group sets
# per-image row/col gradients (structurally different images across
# groups — measured mean cross-group Hamming ~32/64); the variant
# only brightens block (1, 2) (within-group Hamming ~0-4: that
# block's bit plus the global-mean ripple). Every doc_id derives its
# pixels from this one formula — the oracle replays it in SQL.
PH_GROUP_SIZE = 4


def synth_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, img): the closed-form family encoded through the REAL
    stdlib BMP codec (gray v as the (v, v, v) pixel), so the dedup
    pipeline downstream exercises a genuine decode."""
    from ..session import ensure_min_partitions
    from .multimodal import _codecs_by_value

    # Widen first: a single-file local corpus would otherwise run
    # every encode+decode on one core (the single-scan trap — the
    # mapInPandas tier is exactly the expression-heavy shape it
    # bites; no-op on a real cluster whose scan already splits).
    df = ensure_min_partitions(df)
    enc_gray = _codecs_by_value().encode_bmp_gray_array
    w, h = PH_W, PH_H
    gs, grid = PH_GROUP_SIZE, PH_GRID

    def synth(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        # Vectorized pixel formula (guide §4.2): same integer
        # arithmetic as the scalar form, whole image at once. The
        # per-pixel Python original cost ~300 µs/image; this is ~5 µs.
        bh, bw = h // grid, w // grid
        rr = np.arange(h, dtype=np.int64)[:, None]
        cc = np.arange(w, dtype=np.int64)[None, :]
        hot = (rr // bh == 1) & (cc // bw == 2)

        def make(doc_id: int) -> bytes:
            grp, v = doc_id // gs, doc_id % gs
            x = (grp * 37 + rr * (3 + grp % 5) + cc * (5 + grp % 7)) % 256
            x = np.where(hot, (x + v * 64) % 256, x)
            return enc_gray(x)

        for pdf in it:
            yield pd.DataFrame(
                {id_col: pdf[id_col], "img": pdf[id_col].map(make)}
            )

    return df.select(id_col).mapInPandas(
        synth, schema=f"{id_col} bigint, img binary"
    )


def _np_block_sums(gray, grid: int):
    """GRID x GRID int64 block channel sums of one grayscale matrix.

    Block j of pixel (r, c) is (r*grid//h, c*grid//w) — that index is
    monotone along each axis, so the 2-D block sums are two
    add.reduceat passes over the int64 channel-sum matrix (exact
    integer arithmetic, same values as the scalar loop). Images
    smaller than the grid would repeat reduceat boundaries (whose
    semantics there are NOT a plain sum), so they take the scalar
    path."""
    import numpy as np

    h, w = gray.shape
    if h >= grid and w >= grid:
        starts_r = (np.arange(grid) * h + grid - 1) // grid
        starts_c = (np.arange(grid) * w + grid - 1) // grid
        return np.add.reduceat(
            np.add.reduceat(gray, starts_r, axis=0), starts_c, axis=1
        )
    blocks = np.zeros((grid, grid), dtype=np.int64)
    bi = np.arange(h) * grid // h
    bj = np.arange(w) * grid // w
    np.add.at(blocks, (bi[:, None], bj[None, :]), gray)
    return blocks


def block_stats(
    imgs: DataFrame, img_col: str = "img", id_col: str = "doc_id"
) -> DataFrame:
    """Decode + grid statistics in ONE Arrow batch: (id, width,
    height, total bigint, bsums array<bigint> of GRID^2 block channel
    sums in row-major block order). Grayscale = r+g+b (exact; the
    cross-multiplied comparisons cancel the 3x)."""
    from .multimodal import _codecs_by_value

    dec_arr = _codecs_by_value().decode_bmp_array
    grid = PH_GRID

    def stats(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        def one(buf: bytes):
            # Vectorized decode + block sums (guide §4.2; see
            # _np_block_sums for the exactness argument).
            w, h, px = dec_arr(buf)
            gray = px.sum(axis=2, dtype=np.int64)
            blocks = _np_block_sums(gray, grid)
            bs = blocks.ravel().tolist()
            return (w, h, int(blocks.sum()), bs)

        for pdf in it:
            cols = pdf[img_col].map(one)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "width": cols.map(lambda t: t[0]).astype("int32"),
                    "height": cols.map(lambda t: t[1]).astype("int32"),
                    "total": cols.map(lambda t: t[2]).astype("int64"),
                    "bsums": cols.map(lambda t: t[3]),
                }
            )

    return imgs.mapInPandas(
        stats,
        schema=(
            f"{id_col} bigint, width int, height int, "
            "total bigint, bsums array<bigint>"
        ),
    )


def signatures(stats: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, width, height, hash_hi, hash_lo): the 64 block bits
    folded into two 32-bit words (bit j of the hash lives in word
    j // 32 at position j % 32 — two BIGINTs so bit 63 never touches
    a sign bit in either engine). Purely relational — the bit
    comparison is the exact integer cross-multiplication."""
    n_blocks = PH_GRID * PH_GRID
    # "mean_block > mean_global" as divisionless exact integers:
    # bsum / block_px > total / (n_blocks * block_px) reduces to
    # bsum * n_blocks > total when the grid tiles exactly (the
    # contract geometry; a variable-size corpus would carry per-block
    # pixel counts out of the decode batch and cross-multiply those).

    def bit(j: int):
        return (
            F.element_at(F.col("bsums"), j + 1) * F.lit(n_blocks)
            > F.col("total")
        )

    lo = None
    hi = None
    for j in range(32):
        t = F.when(bit(j), F.lit(1 << j)).otherwise(F.lit(0))
        lo = t if lo is None else lo + t
    for j in range(32, 64):
        t = F.when(bit(j), F.lit(1 << (j - 32))).otherwise(F.lit(0))
        hi = t if hi is None else hi + t
    return stats.select(
        id_col,
        "width",
        "height",
        hi.cast("bigint").alias("hash_hi"),
        lo.cast("bigint").alias("hash_lo"),
    )


def phash_signatures(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthetic family -> real BMP encode -> real decode -> block
    stats -> relational bit fold."""
    return signatures(block_stats(synth_images(df, id_col)), id_col)


def _sig_chunks(
    sig: DataFrame, max_dist: int, id_col: str, suffix: str
) -> DataFrame:
    """Explode a signature frame into its pigeonhole chunks:
    (id_{suffix}, hi_{suffix}, lo_{suffix}, ci, cv).

    Chunks are carved from the full 64-bit space (hi word spliced
    above the lo word), so the d+1 chunks tile ALL 64 bits for ANY
    ``max_dist`` in [0, 63]: the first d chunks take 64 // (d+1)
    bits each and the last chunk absorbs the remainder. Disjoint
    cover of every bit is what makes the pigeonhole lossless — a
    pair within Hamming ``max_dist`` must agree exactly on some
    chunk. (The earlier per-word-shift form silently dropped bits
    whenever the chunks didn't tile a 32-bit word, e.g. max_dist=2.)
    """
    if not 0 <= max_dist < 64:
        raise ValueError(
            f"max_dist must be in [0, 63], got {max_dist}"
        )
    n_chunks = max_dist + 1
    chunk_bits = 64 // n_chunks
    # hash_lo is always in [0, 2^32) so OR-splicing never collides
    # with the shifted hi word; extraction uses *unsigned* shifts
    # because the splice may set the bigint sign bit.
    full = F.shiftleft(F.col("hash_hi"), 32).bitwiseOR(
        F.col("hash_lo")
    )

    def chunk(i: int):
        start = i * chunk_bits
        width = chunk_bits if i < n_chunks - 1 else 64 - start
        cv = F.shiftrightunsigned(full, start)
        if width < 64:
            cv = cv.bitwiseAND(F.lit((1 << width) - 1))
        return F.struct(F.lit(i).alias("ci"), cv.alias("cv"))

    return sig.select(
        F.col(id_col).alias(f"doc_{suffix}"),
        F.col("hash_hi").alias(f"hi_{suffix}"),
        F.col("hash_lo").alias(f"lo_{suffix}"),
        F.explode(
            F.array(*[chunk(i) for i in range(n_chunks)])
        ).alias("c"),
    ).select(
        f"doc_{suffix}", f"hi_{suffix}", f"lo_{suffix}", "c.ci", "c.cv"
    )


def _verified(pairs: DataFrame, max_dist: int) -> DataFrame:
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).cast("int")
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_dist)
    )


def near_dups(
    sig: DataFrame,
    max_dist: int = PH_MAX_DIST,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs within ``max_dist``, each pair
    once (a < b), via the pigeonhole chunk join over the 64 bits:
    d+1 = 4 chunks of 16 bits (two per word), so any pair within 3
    agrees exactly on some chunk. Uniform-ish block bits -> no skew;
    verification is two bit_count(xor) terms per candidate.

    Scale envelope (``tools/scale_probe.py phash_near_dups``): 2.62x
    wall at 10x rows (sf0.01 replicas) — sublinear because the decode
    pass dominates at this size; the banded join's candidate count
    grows with per-chunk-value collision mass, which is the
    documented adversarial property (identical replicated images
    would grow it quadratically; natural corpora spread chunk
    values)."""
    chunks = _sig_chunks(sig, max_dist, id_col, "a")
    b = chunks.select(
        F.col("doc_a").alias("doc_b"),
        F.col("hi_a").alias("hi_b"),
        F.col("lo_a").alias("lo_b"),
        "ci",
        "cv",
    )
    return _verified(
        chunks.join(b, ["ci", "cv"]).filter(
            F.col("doc_a") < F.col("doc_b")
        ),
        max_dist,
    )


def match_against_corpus(
    new_sig: DataFrame,
    corpus_sig: DataFrame,
    max_dist: int = PH_MAX_DIST,
    id_col: str = "doc_id",
) -> DataFrame:
    """Arriving-batch perceptual matching against the STANDING
    signature index — the image member of the incremental-ingest
    family (MinHash match_against_index / semantic match_against_cells
    / substring_dedup_incremental shape): (doc_a=new, doc_b=corpus,
    hamming) pairs within ``max_dist``, never batch x batch or
    corpus x corpus. A production loop persists the corpus signature
    table once (5 BIGINTs per image — the build-once artifact) and
    each batch pays its own decode+hash plus the banded join; the
    chunk explode keys both sides identically, so the candidate
    filter stays lossless."""
    a = _sig_chunks(new_sig, max_dist, id_col, "a")
    b = _sig_chunks(corpus_sig, max_dist, id_col, "b")
    return _verified(a.join(b, ["ci", "cv"]), max_dist)


# ------------------------------------------------ DCT pHash tier

# Fixed-point DCT-II basis at scale 2^DCT_SCALE: T[u][i] =
# round(cos((2i+1)·u·π/16) · 2^15). The table is computed ONCE here
# in Python and spliced into BOTH engines (the unigram exp-once
# convention), so libm cos() divergence cannot exist — every DCT
# coefficient is an exact BIGINT sum of block_sum · T[u][i] · T[v][j]
# products. Overflow envelope: |C| <= 64 · max_block_sum · 2^30;
# int64 holds block channel sums to ~1.3e8 (a 4x4 RGB block sums to
# ~1.2e4 — five orders of margin; a 10^6-pixel block still fits).
DCT_SCALE = 15


def _dct_table() -> list[list[int]]:
    import math

    return [
        [
            round(
                math.cos((2 * i + 1) * u * math.pi / 16.0)
                * (1 << DCT_SCALE)
            )
            for i in range(8)
        ]
        for u in range(8)
    ]


def _dct_coef_rows() -> list[tuple[int, int, int]]:
    """(uv, j, k): for output coefficient uv = u*8+v (DC excluded)
    and input block j = bi*8+bj, the integer weight
    k = T[u][bi] · T[v][bj]. 63 x 64 rows — the broadcastable DCT as
    data, consumed identically by the Spark join and the oracle's
    VALUES splice."""
    t = _dct_table()
    rows = []
    for u in range(8):
        for v in range(8):
            if u == 0 and v == 0:
                continue  # DC carries brightness — pHash drops it
            uv = u * 8 + v
            for bi in range(8):
                for bj in range(8):
                    rows.append((uv, bi * 8 + bj, t[u][bi] * t[v][bj]))
    return rows


def dct_signatures(stats: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, width, height, hash_hi, hash_lo): the classic DCT pHash —
    63 low-frequency coefficients of the 8x8 block-mean matrix, bit
    set when a coefficient exceeds the (lower) median — computed
    EXACTLY: the fixed-point basis makes every coefficient an
    integer, the median of 63 integers is an order statistic (no
    averaging), and every comparison is integer-vs-integer. Shape:
    explode the 64 block sums, broadcast-join the 4032-row
    coefficient table, partial-aggregated groupBy back to 63
    coefficients per image (~the decode's own row volume), one
    per-image sort of 63 values for the median. Bit uv lives in word
    uv // 32 at position uv % 32 (uv 0 is excluded, so it is lo-word
    bit 0 that stays unused; uv 63 does set hi-word bit 31, which is
    harmless because each word is summed from long literals and cast
    to bigint)."""
    spark = stats.sparkSession
    kdf = spark.createDataFrame(
        _dct_coef_rows(), "uv int, j int, k bigint"
    )
    blocks = stats.select(
        id_col,
        "width",
        "height",
        F.posexplode("bsums").alias("_j0", "bsum"),
    ).select(
        id_col,
        "width",
        "height",
        (F.col("_j0")).alias("j"),
        "bsum",
    )
    coefs = (
        blocks.join(F.broadcast(kdf), "j")
        .groupBy(id_col, "width", "height", "uv")
        .agg(F.sum(F.col("bsum") * F.col("k")).alias("c"))
    )
    arr = coefs.groupBy(id_col, "width", "height").agg(
        F.array_sort(F.collect_list(F.struct("uv", "c"))).alias("_a")
    )
    med = F.element_at(
        F.array_sort(F.transform(F.col("_a"), lambda x: x["c"])), 32
    )
    with_med = arr.select(
        id_col, "width", "height", F.col("_a"), med.alias("_med")
    )

    def word(lo_bit: int, hi_bit: int):
        out = None
        for uv in range(lo_bit, hi_bit):
            # _a is sorted by uv; with uv 0 excluded the sorted
            # array holds uv = i at 1-indexed position i, which is
            # exactly what 1-based element_at(_a, uv) reads.
            t = F.when(
                F.element_at(F.col("_a"), uv)["c"] > F.col("_med"),
                F.lit(1 << (uv % 32)),
            ).otherwise(F.lit(0))
            out = t if out is None else out + t
        return out.cast("bigint")

    return with_med.select(
        id_col,
        "width",
        "height",
        word(32, 64).alias("hash_hi"),
        word(1, 32).alias("hash_lo"),
    )


# Exactness envelope for the in-batch int64 DCT: every coefficient is
# a 64-term sum of bsum * T[u][bi] * T[v][bj] with |T·T| <= 2^30, so
# |C| <= 2^36 * max|bsum| (the same bound holds for the t@B@t.T
# association order's intermediates) — int64 is exact while
# max|bsum| < 2^27 ~ 1.34e8. Keep a round margin; a 4x4 RGB block
# sums to ~1.2e4, five orders inside it, and a 10^6-pixel block
# (7.65e8) would take the exact-Python-int fallback.
_DCT_BSUM_MAX = 10**8


def dct_signatures_arrow(
    imgs: DataFrame,
    img_col: str = "img",
    id_col: str = "doc_id",
    bsum_max: int = _DCT_BSUM_MAX,
) -> DataFrame:
    """(id, width, height, hash_hi, hash_lo): the DCT pHash computed
    INSIDE the decode's Arrow batch (r17, guide §4.2) — decode, block
    sums, the 8x8 fixed-point DCT (one int64 ``t @ B @ t.T``), the
    63-coefficient median (an order statistic) and the bit fold all
    happen per batch in numpy, so the 63x row-explode + 4032-row
    broadcast join + two groupBys of the relational form
    (:func:`dct_signatures`, kept for frames whose block stats come
    from elsewhere) never reach the plan. Value-exact: the basis is
    the same spliced integer table, int64 matmul is exact within the
    checked envelope (:data:`_DCT_BSUM_MAX`, per image — exact
    Python-int fallback outside it, never a silent wrap), the median
    is the 32nd smallest of 63 integers on both paths, and every bit
    comparison is integer-vs-integer.
    ``tests/test_phash.py`` pins fused == relational."""
    from .multimodal import _codecs_by_value

    dec_arr = _codecs_by_value().decode_bmp_array
    grid = PH_GRID
    table = _dct_table()

    def sig(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        t = np.asarray(table, dtype=np.int64)
        w_lo = np.int64(1) << np.arange(1, 32)   # uv 1..31
        w_hi = np.int64(1) << np.arange(0, 32)   # uv 32..63 -> bit uv-32

        def one(buf: bytes):
            w, h, px = dec_arr(buf)
            gray = px.sum(axis=2, dtype=np.int64)
            blocks = _np_block_sums(gray, grid)
            if int(np.abs(blocks).max()) <= bsum_max:
                flat = (t @ blocks @ t.T).ravel()[1:]  # uv = 1..63
                med = int(np.partition(flat, 31)[31])
                bits = flat > med
            else:
                bl = blocks.tolist()
                coefs = [
                    sum(
                        table[u][bi] * table[v][bj] * bl[bi][bj]
                        for bi in range(8)
                        for bj in range(8)
                    )
                    for u in range(8)
                    for v in range(8)
                    if (u, v) != (0, 0)
                ]
                med = sorted(coefs)[31]
                bits = np.asarray([c > med for c in coefs])
            lo = int((w_lo * bits[:31]).sum())
            hi = int((w_hi * bits[31:]).sum())
            return (w, h, hi, lo)

        for pdf in it:
            cols = pdf[img_col].map(one)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "width": cols.map(lambda r: r[0]).astype("int32"),
                    "height": cols.map(lambda r: r[1]).astype("int32"),
                    "hash_hi": cols.map(lambda r: r[2]).astype("int64"),
                    "hash_lo": cols.map(lambda r: r[3]).astype("int64"),
                }
            )

    return imgs.mapInPandas(
        sig,
        schema=(
            f"{id_col} bigint, width int, height int, "
            "hash_hi bigint, hash_lo bigint"
        ),
    )


def dct_phash_signatures(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Synthetic family -> real BMP codec -> in-batch exact
    fixed-point DCT -> median bits (one Arrow stage past the synth;
    see :func:`dct_signatures_arrow`)."""
    return dct_signatures_arrow(synth_images(df, id_col), id_col=id_col)


# ------------------------------------------------------------ oracle

def gray_sql(doc: str = "doc_id", r: str = "r", c: str = "c") -> str:
    """DuckDB twin of the closed-form pixel family (value in 0..255;
    the engine's channel-sum grayscale is exactly 3x this, which the
    cross-multiplied bit comparison cancels)."""
    bh, bw = PH_H // PH_GRID, PH_W // PH_GRID
    grp = f"({doc} // {PH_GROUP_SIZE})"
    base = (
        f"(({grp} * 37 + {r} * (3 + {grp} % 5)"
        f" + {c} * (5 + {grp} % 7)) % 256)"
    )
    return (
        f"CASE WHEN {r} // {bh} = 1 AND {c} // {bw} = 2"
        f" THEN ({base} + ({doc} % {PH_GROUP_SIZE}) * 64) % 256"
        f" ELSE {base} END"
    )


def dct_signatures_sql(src: str = "documents") -> str:
    """CTE chain deriving the DCT pHash from the pixel formula. The
    coefficient table is spliced from the SAME Python literals the
    engine broadcasts, so the two sides share one basis by
    construction. The oracle's grayscale is v where the engine's
    channel sum is 3v — every coefficient and the median scale by
    the same positive 3, so the bit comparisons are identical.
    Final CTE: ``dsig``."""
    krows = ",".join(
        f"({uv},{j},{k})" for uv, j, k in _dct_coef_rows()
    )
    return (
        signatures_sql(src)
        + f""",
        kt(uv, j, kv) AS (VALUES {krows}),
        coef AS (
            SELECT bl.doc_id, kt.uv,
                   SUM(bl.bsum * kt.kv) AS c
            FROM bl JOIN kt ON kt.j = bl.j
            GROUP BY bl.doc_id, kt.uv
        ),
        med AS (
            SELECT doc_id, c AS m FROM (
                SELECT doc_id, c,
                       ROW_NUMBER() OVER (
                           PARTITION BY doc_id ORDER BY c
                       ) AS rn
                FROM coef
            ) WHERE rn = 32
        ),
        dbits AS (
            SELECT coef.doc_id, coef.uv,
                   CASE WHEN coef.c > med.m
                        THEN CAST(1 AS BIGINT) ELSE 0 END AS b
            FROM coef JOIN med USING (doc_id)
        ),
        dsig AS (
            SELECT doc_id,
                   CAST({PH_W} AS INTEGER) AS width,
                   CAST({PH_H} AS INTEGER) AS height,
                   CAST(SUM(CASE WHEN uv >= 32
                       THEN b << (uv - 32) ELSE 0 END) AS BIGINT)
                       AS hash_hi,
                   CAST(SUM(CASE WHEN uv < 32 THEN b << uv
                       ELSE 0 END) AS BIGINT) AS hash_lo
            FROM dbits GROUP BY doc_id
        )"""
    )


def signatures_sql(src: str = "documents") -> str:
    """CTE chain deriving (doc_id, width, height, hash_hi, hash_lo)
    from the pixel formula — never an image byte. Callers append
    their own SELECT after this ``WITH`` body (final CTE: ``sig``)."""
    n_blocks = PH_GRID * PH_GRID
    bh, bw = PH_H // PH_GRID, PH_W // PH_GRID
    return f"""px AS (
            SELECT doc_id, r.r, c.c, {gray_sql()} AS g
            FROM (SELECT doc_id FROM {src}),
                 unnest(generate_series(0, {PH_H - 1})) AS r(r),
                 unnest(generate_series(0, {PH_W - 1})) AS c(c)
        ),
        bl AS (
            SELECT doc_id, (r // {bh}) * {PH_GRID} + (c // {bw}) AS j,
                   SUM(g) AS bsum
            FROM px GROUP BY doc_id, j
        ),
        tot AS (
            SELECT doc_id, SUM(bsum) AS total FROM bl GROUP BY doc_id
        ),
        bits AS (
            SELECT bl.doc_id, bl.j,
                   CASE WHEN bl.bsum * {n_blocks} > tot.total
                        THEN CAST(1 AS BIGINT) ELSE 0 END AS b
            FROM bl JOIN tot USING (doc_id)
        ),
        sig AS (
            SELECT doc_id,
                   CAST({PH_W} AS INTEGER) AS width,
                   CAST({PH_H} AS INTEGER) AS height,
                   CAST(SUM(CASE WHEN j >= 32
                       THEN b << (j - 32) ELSE 0 END) AS BIGINT)
                       AS hash_hi,
                   CAST(SUM(CASE WHEN j < 32 THEN b << j ELSE 0 END)
                       AS BIGINT) AS hash_lo
            FROM bits GROUP BY doc_id
        )"""
