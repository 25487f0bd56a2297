"""Multimodal (image/audio/video) column plumbing.

Media lives in DataFrames as **opaque binary columns + typed metadata**
(the pattern used by large-scale multimodal training pipelines):

    content  BINARY                 -- raw encoded bytes
    meta     STRUCT<mime: STRING, n_bytes: INT, sha: STRING>

Decode / feature-extraction runs as Arrow-batched ``mapInPandas`` so
bytes never round-trip per row. Codec coverage is tiered by what this
container can honestly execute:

- ``fake=True`` (default): a deterministic byte-statistics "decode"
  stands in, so the Spark-side plumbing (schema, batching,
  partitioning) is real, tested, and byte-for-byte oracle-checked.
- ``fake=False``: REAL decode for the formats Python's stdlib can
  parse — uncompressed 24-bit BMP (struct header + pixel rows),
  8-bit truecolor PNG (``zlib`` inflate + all five RFC 2083 filter
  reconstructions), and PCM WAV (the ``wave`` module) — producing
  real pixel/sample statistics and real nearest-neighbor image
  resizing. Formats that need pillow/librosa/ffmpeg (JPEG/MP3/video)
  raise NotImplementedError at the exact call site a real codec
  would occupy.

Scale notes: binary payloads dominate row size — keep media tables
separate from text/metadata tables and join on id; decode stages should
``repartition`` by id to right-size Arrow batches, and feature outputs
(small, fixed-width) should be written to their own table so downstream
training-data queries never rescan the media bytes.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import pandas as pd

FEATURE_DIM = 8

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("content", BinaryType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)

WAV_BYTES_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("wav", BinaryType())]
)

WAV_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("sample_sum", LongType()),
        StructField("sample_min", IntegerType()),
        StructField("sample_max", IntegerType()),
        StructField("n_bytes", IntegerType()),
    ]
)

BMP_BYTES_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("bmp", BinaryType())]
)

BMP_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("r_sum", LongType()),
        StructField("g_sum", LongType()),
        StructField("b_sum", LongType()),
        StructField("n_bytes", IntegerType()),
    ]
)

PNG_BYTES_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("png", BinaryType())]
)

# No n_bytes column here: unlike BMP/WAV, PNG's zlib-compressed IDAT
# length has no closed form the oracle could evaluate; the exactness
# signal is pixel_match instead (decoded grid == formula grid).
PNG_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("r_sum", LongType()),
        StructField("g_sum", LongType()),
        StructField("b_sum", LongType()),
        StructField("pixel_match", BooleanType()),
    ]
)


# Public codec API (implemented in the self-contained mediacodecs
# module so closures can ship its SOURCE to executors — see
# _codecs_by_value below).
from .mediacodecs import (  # noqa: E402  (re-export)
    decode_bmp,
    decode_png,
    decode_wav,
    encode_bmp,
    encode_png,
    encode_wav,
    real_media_features,
)


def _codecs_by_value():
    """Register the codec module pickle-by-value and return it.

    The fake-path closures are self-contained by construction; the
    real-path closures need the codecs. Registering the (pure-stdlib)
    module by value makes cloudpickle embed its source in the task,
    so executors never need this package on their PYTHONPATH — same
    portability contract either way.
    """
    from pyspark import cloudpickle

    from . import mediacodecs

    cloudpickle.register_pickle_by_value(mediacodecs)
    return mediacodecs


def attach_binary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize the binary-column convention from a text column
    (stand-in for reading real media files at ingest)."""
    blob = F.encode(F.col(text_col), "utf-8")
    return df.withColumn("content", blob).withColumn(
        "meta",
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(blob).alias("n_bytes"),
            F.md5(blob).alias("sha"),
        ),
    )


def extract_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    fake: bool = True,
) -> DataFrame:
    """Arrow-batched feature extraction over binary media.

    ``fake=True``: deterministic byte-statistics stand-in (the
    oracle-checked path). ``fake=False``: real decode via
    :func:`real_media_features` — stdlib BMP/WAV codecs; formats that
    need pillow/librosa raise inside the task. The mapInPandas
    contract — batch iterator in, fixed schema out — is identical.
    """
    # Self-contained closure (fake path): everything the worker runs is
    # captured by value (no reference to this module), so externally-
    # launched sessions whose Python workers lack this package on
    # PYTHONPATH still execute it. The real path necessarily imports
    # the package's codec helpers on the workers.
    feature_dim = FEATURE_DIM

    if fake:
        real_features = None
    else:
        real_features = _codecs_by_value().real_media_features

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if real_features is not None:

            def decode(buf: bytes) -> list[float]:
                return real_features(buf, feature_dim)

        else:

            def decode(buf: bytes) -> list[float]:
                # Deterministic stand-in for a real image/audio decode:
                # fixed-width byte-statistics vector (mean per stripe).
                n = max(len(buf), 1)
                stripe = max(n // feature_dim, 1)
                out = []
                for i in range(feature_dim):
                    chunk = buf[i * stripe : (i + 1) * stripe] or b"\x00"
                    out.append(round(sum(chunk) / len(chunk) / 255.0, 6))
                return out

        for pdf in it:
            # NULL media payloads (failed fetch, tombstone rows) must
            # degrade to the empty-payload vector, not kill the job.
            content = pdf[content_col].map(lambda b: b if b is not None else b"")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": content.map(len).astype("int32"),
                    "features": content.map(decode),
                }
            )

    from ..session import ensure_min_partitions, udf_partition_target

    # Wide partitioning -> parallel Python workers + right-sized Arrow
    # batches (a single-partition input would serialize the UDF).
    return ensure_min_partitions(
        df.select(id_col, content_col), udf_partition_target(df)
    ).mapInPandas(batches, FEATURE_SCHEMA)


def resize_images(
    df: DataFrame,
    width: int = 64,
    height: int = 64,
    content_col: str = "content",
    id_col: str = "doc_id",
    fake: bool = True,
) -> DataFrame:
    """Arrow-batched image resize over binary media.

    ``fake=True``: deterministic byte resample — the payload is
    stretched/shrunk to ``width*height`` bytes by index scaling,
    preserving the contract that output size is shape-determined, not
    input-determined (what downstream batch/memory planning relies
    on). ``fake=False``: REAL nearest-neighbor resize for uncompressed
    24-bit BMP and 8-bit truecolor PNG via the stdlib codecs, emitting
    a valid image of the SAME format at the target dimensions; JPEG
    raises inside the task (pillow territory).
    """
    from ..session import ensure_min_partitions, udf_partition_target

    out_len = width * height
    w, h = width, height
    codecs = None if fake else _codecs_by_value()

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if codecs is not None:
            m = codecs

            def resample(buf: bytes) -> bytes:
                if buf[:2] == b"BM":
                    _decode, _encode = m.decode_bmp, m.encode_bmp
                elif buf[: len(m._PNG_SIG)] == m._PNG_SIG:
                    _decode, _encode = m.decode_png, m.encode_png
                else:
                    raise NotImplementedError(
                        "real resize for this format needs pillow; "
                        "stdlib handles BMP and 8-bit RGB PNG"
                    )
                sw, sh, rows = _decode(buf)
                resized = [
                    [rows[(r * sh) // h][(c * sw) // w] for c in range(w)]
                    for r in range(h)
                ]
                return _encode(resized)

        else:

            def resample(buf: bytes) -> bytes:
                n = max(len(buf), 1)
                return bytes(buf[(i * n) // out_len] if buf else 0
                             for i in range(out_len))

        for pdf in it:
            content = pdf[content_col].map(lambda b: b if b is not None else b"")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": w,
                    "height": h,
                    "content": content.map(resample),
                }
            )

    return ensure_min_partitions(
        df.select(id_col, content_col), udf_partition_target(df)
    ).mapInPandas(batches, RESIZE_SCHEMA)


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    frame_bytes: int = 256,
    content_col: str = "content",
    id_col: str = "doc_id",
    fake: bool = True,
) -> DataFrame:
    """Arrow-batched video frame sampling: one input row -> n_frames
    output rows (the row-expanding mapInPandas shape).

    Real path is where an ffmpeg/pyav keyframe extraction goes —
    stubbed. The fake path slices the payload into n_frames evenly
    spaced windows, which exercises the real contract: row explosion,
    stable frame indexing, bounded per-frame size.
    """
    if not fake:
        raise NotImplementedError(
            "real frame sampling needs pyav/ffmpeg (not installed); "
            "run with fake=True for the deterministic byte windows"
        )

    from ..session import ensure_min_partitions, udf_partition_target

    nf, fb = n_frames, frame_bytes

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            ids, idxs, frames = [], [], []
            for doc_id, buf in zip(pdf[id_col], pdf[content_col]):
                buf = buf if buf is not None else b""
                n = len(buf)
                stride = max(n // nf, 1)
                for i in range(nf):
                    start = min(i * stride, max(n - 1, 0))
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(bytes(buf[start : start + fb]))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return ensure_min_partitions(
        df.select(id_col, content_col), udf_partition_target(df)
    ).mapInPandas(batches, FRAME_SCHEMA)


# Deterministic synthetic-audio parameters for the real-codec
# round-trip contract (mirrored in the oracle's closed-form SQL).
WAV_RATE = 8000
WAV_BASE_SAMPLES = 64
WAV_LEN_MOD = 32
WAV_VAL_MOD = 2048
WAV_VAL_SHIFT = 1024


def wav_sample(doc_id: int, k: int) -> int:
    """Sample k of doc_id's synthetic waveform: a fixed integer
    formula both the executor synth and the SQL oracle evaluate."""
    return (doc_id * 31 + k * 17) % WAV_VAL_MOD - WAV_VAL_SHIFT


def wav_roundtrip_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL-codec certification for the audio path: per id, synthesize
    a PCM16 mono waveform from a closed-form integer formula, encode
    it with the real stdlib ``wave`` writer, ship the BYTES through an
    Arrow batch boundary, decode with the real reader, and report
    integer stats of the DECODED samples plus the container length.

    The DuckDB oracle evaluates the same closed form directly — it
    never sees a WAV byte — so a hash match certifies the whole
    encode -> binary column -> decode chain, the same
    independent-derivation pattern logpipe uses for the log parser.
    All outputs are exact integers (no float audio math).

    Scale shape: two Arrow-batched mapInPandas projections, no
    shuffle; at 100 TB this is the media ingest tier's shape (decode
    cost linear in bytes, per-partition parallel).
    """
    codecs = _codecs_by_value()
    enc, dec = codecs.encode_wav, codecs.decode_wav
    rate = WAV_RATE
    base, lmod = WAV_BASE_SAMPLES, WAV_LEN_MOD
    vmod, vshift = WAV_VAL_MOD, WAV_VAL_SHIFT

    def synth(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def make(doc_id: int) -> bytes:
            n = base + doc_id % lmod
            return enc(
                [(doc_id * 31 + k * 17) % vmod - vshift for k in range(n)],
                rate,
            )

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf[id_col], "wav": pdf[id_col].map(make)}
            )

    def stats(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def one(buf: bytes) -> tuple[int, int, int, int, int, int]:
            got_rate, nch, samples = dec(buf)
            return (
                got_rate,
                nch,
                len(samples),
                sum(samples),
                min(samples),
                max(samples),
            )

        for pdf in it:
            cols = pdf["wav"].map(one)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "rate": cols.map(lambda t: t[0]).astype("int32"),
                    "n_channels": cols.map(lambda t: t[1]).astype("int32"),
                    "n_samples": cols.map(lambda t: t[2]).astype("int32"),
                    "sample_sum": cols.map(lambda t: t[3]).astype("int64"),
                    "sample_min": cols.map(lambda t: t[4]).astype("int32"),
                    "sample_max": cols.map(lambda t: t[5]).astype("int32"),
                    "n_bytes": pdf["wav"].map(len).astype("int32"),
                }
            )

    from ..session import ensure_min_partitions, udf_partition_target

    ids = ensure_min_partitions(df.select(id_col), udf_partition_target(df))
    return ids.mapInPandas(synth, WAV_BYTES_SCHEMA).mapInPandas(
        stats, WAV_STATS_SCHEMA
    )


# Deterministic synthetic-image parameters for the BMP twin of the
# WAV round-trip contract.
BMP_BASE_W = 5
BMP_W_MOD = 4
BMP_BASE_H = 3
BMP_H_MOD = 3


def bmp_pixel(doc_id: int, r: int, c: int) -> tuple[int, int, int]:
    """Pixel (r, c) of doc_id's synthetic image — fixed integer
    formula, mirrored in the oracle SQL."""
    return (
        (doc_id + r * 7 + c * 13) % 256,
        (doc_id * 3 + r * 11 + c) % 256,
        (doc_id * 5 + r + c * 29) % 256,
    )


def bmp_roundtrip_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL-codec certification for the image path — the BMP twin of
    :func:`wav_roundtrip_stats`: closed-form pixel grid -> real stdlib
    BMP encode (bottom-up, 4-byte row padding) -> Arrow boundary ->
    real decode -> exact integer channel sums. The oracle evaluates
    the pixel formula directly and never sees a BMP byte, so a hash
    match certifies header layout, row order, padding, and BGR<->RGB
    handling end-to-end.
    """
    codecs = _codecs_by_value()
    enc, dec = codecs.encode_bmp, codecs.decode_bmp
    bw, wmod, bh, hmod = BMP_BASE_W, BMP_W_MOD, BMP_BASE_H, BMP_H_MOD

    def synth(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def make(doc_id: int) -> bytes:
            w = bw + doc_id % wmod
            h = bh + doc_id % hmod
            return enc(
                [
                    [
                        (
                            (doc_id + r * 7 + c * 13) % 256,
                            (doc_id * 3 + r * 11 + c) % 256,
                            (doc_id * 5 + r + c * 29) % 256,
                        )
                        for c in range(w)
                    ]
                    for r in range(h)
                ]
            )

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf[id_col], "bmp": pdf[id_col].map(make)}
            )

    def stats(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def one(buf: bytes) -> tuple[int, int, int, int, int, int]:
            w, h, rows = dec(buf)
            rs = sum(p[0] for row in rows for p in row)
            gs = sum(p[1] for row in rows for p in row)
            bs = sum(p[2] for row in rows for p in row)
            return (w, h, rs, gs, bs, len(buf))

        for pdf in it:
            cols = pdf["bmp"].map(one)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": cols.map(lambda t: t[0]).astype("int32"),
                    "height": cols.map(lambda t: t[1]).astype("int32"),
                    "r_sum": cols.map(lambda t: t[2]).astype("int64"),
                    "g_sum": cols.map(lambda t: t[3]).astype("int64"),
                    "b_sum": cols.map(lambda t: t[4]).astype("int64"),
                    "n_bytes": cols.map(lambda t: t[5]).astype("int32"),
                }
            )

    from ..session import ensure_min_partitions, udf_partition_target

    ids = ensure_min_partitions(df.select(id_col), udf_partition_target(df))
    return ids.mapInPandas(synth, BMP_BYTES_SCHEMA).mapInPandas(
        stats, BMP_STATS_SCHEMA
    )


# Deterministic synthetic-image parameters for the PNG round-trip.
# The pixel formula is bmp_pixel (one canonical expression for all
# image contracts); dims differ so every doc exercises scanlines long
# enough for the nontrivial filters, and the per-row filter type
# cycles through all five RFC 2083 filters.
PNG_BASE_W = 6
PNG_W_MOD = 5
PNG_BASE_H = 4
PNG_H_MOD = 4


def png_roundtrip_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL-codec certification for the PNG path: closed-form pixel
    grid (the bmp_pixel formula) -> real stdlib PNG encode with the
    per-scanline filter type cycling through all five RFC 2083
    filters -> Arrow boundary -> real decode (chunk walk, CRC checks,
    zlib inflate, filter reconstruction) -> exact integer channel sums
    plus a ``pixel_match`` flag (decoded grid == formula grid,
    re-derived independently on the decode side).

    The DuckDB oracle evaluates the pixel formula directly and never
    sees a PNG byte, so a hash match certifies chunk framing, CRCs,
    compression, and all five filter transforms end-to-end. Unlike the
    BMP/WAV contracts there is no n_bytes column: a zlib stream's
    length has no closed form — ``pixel_match`` (TRUE in the oracle)
    is the byte-exactness signal instead.

    Scale shape: identical to the BMP twin — two Arrow-batched
    mapInPandas projections, no shuffle, decode cost linear in bytes.
    """
    codecs = _codecs_by_value()
    enc, dec = codecs.encode_png, codecs.decode_png
    bw, wmod, bh, hmod = PNG_BASE_W, PNG_W_MOD, PNG_BASE_H, PNG_H_MOD

    def grid(doc_id: int) -> list[list[tuple[int, int, int]]]:
        w = bw + doc_id % wmod
        h = bh + doc_id % hmod
        return [
            [
                (
                    (doc_id + r * 7 + c * 13) % 256,
                    (doc_id * 3 + r * 11 + c) % 256,
                    (doc_id * 5 + r + c * 29) % 256,
                )
                for c in range(w)
            ]
            for r in range(h)
        ]

    def synth(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def make(doc_id: int) -> bytes:
            rows = grid(doc_id)
            return enc(rows, [(doc_id + r) % 5 for r in range(len(rows))])

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf[id_col], "png": pdf[id_col].map(make)}
            )

    def stats(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def one(doc_id: int, buf: bytes) -> tuple[int, int, int, int, int, bool]:
            w, h, rows = dec(buf)
            rs = sum(p[0] for row in rows for p in row)
            gs = sum(p[1] for row in rows for p in row)
            bs = sum(p[2] for row in rows for p in row)
            return (w, h, rs, gs, bs, rows == grid(doc_id))

        for pdf in it:
            cols = [
                one(d, b) for d, b in zip(pdf["doc_id"], pdf["png"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series(
                        [t[0] for t in cols], dtype="int32"
                    ),
                    "height": pd.Series(
                        [t[1] for t in cols], dtype="int32"
                    ),
                    "r_sum": pd.Series([t[2] for t in cols], dtype="int64"),
                    "g_sum": pd.Series([t[3] for t in cols], dtype="int64"),
                    "b_sum": pd.Series([t[4] for t in cols], dtype="int64"),
                    "pixel_match": pd.Series(
                        [t[5] for t in cols], dtype="bool"
                    ),
                }
            )

    from ..session import ensure_min_partitions, udf_partition_target

    ids = ensure_min_partitions(df.select(id_col), udf_partition_target(df))
    return ids.mapInPandas(synth, PNG_BYTES_SCHEMA).mapInPandas(
        stats, PNG_STATS_SCHEMA
    )
