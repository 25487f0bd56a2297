"""Distributed Lloyd k-means — the fit path for quantizers whose
corpus (or sample) must never be collected.

Every quantizer fit in the index stack (:func:`similarity.ivf_fit`,
:func:`similarity.pq_fit`, the SemDeDup seeds) is driver-side numpy
over a bounded sample — correct, documented, and the right call when
a 100k-row sample captures the density shape. This module is the
other dispatch arm: Lloyd iterations as join + hash-agg rounds over
the FULL distributed corpus, for the regimes where the bounded-sample
assumption is unwanted (auditable exact fits, corpora whose cell
structure a sample under-represents, or a fit that must be replayed
verbatim by an independent engine).

Why it can be VALUE-exact (the :mod:`.qualityclf` construction):

- **Fixed-point arithmetic end-to-end.** Vectors are quantized once
  into the BIGINT grid at scale 10^:data:`KM_SCALE` (``CAST(ROUND(x *
  10^s, 0) AS BIGINT)`` — the engine-certified rounding the
  classifier fit already rides). Distances are exact integer sums of
  squares; assignment is a deterministic argmin with ties toward the
  lower cell; the centroid update rounds the exact integer sum /
  count quotient once per dimension. No float fold-ordering
  discipline is needed anywhere: every distributed SUM adds exact
  integers — associative, partition-order-independent, bit-identical
  on any cluster and in DuckDB.
- **Deterministic seeding both engines can compute.** The k initial
  centroids are the quantized vectors of the k ids with the smallest
  ``md5(seed || ':' || id)`` digest (ties by id) — a seeded
  deterministic sample, not an RNG stream, so the oracle derives the
  same seeds with two ORDER BYs. (This is exactly why the numpy fit
  cannot be the cross-engine contract target: kmeans++ draws from a
  ``numpy.random.Generator`` and averages floats in partition order —
  neither is replayable in SQL.)
- **The oracle replays the WHOLE fit** (:func:`fit_sql`): seeds, then
  per iteration one assignment CTE (integer argmin), one update CTE
  (grouped integer sums, rounded quotient), one empty-cell COALESCE —
  chained :data:`KM_ITERS` times. Any divergence anywhere in the
  distributed fit moves some centroid coordinate and fails the hash.

Distributed shape (the :mod:`.graph` one-action-per-round
discipline): the quantized frame is checkpointed once; each Lloyd
round is ONE job — the k x dim centroid matrix rides the task closure
into a vectorized Arrow stage that assigns each batch (exact int64
argmin, guide §4.2) and emits k x dim PARTIAL sums/counts, a hash-agg
folds the partials, and a bounded k x dim collect carries the next
round's matrix. Only k x dim x n_tasks partial rows ever shuffle —
never the corpus, never an N x dim explode. Early stop on an unchanged
matrix is safe under the oracle's fixed iteration count because a
converged round is idempotent: same centroids -> same assignment ->
same sums -> same centroids, so SQL iterations beyond convergence
reproduce the identical table.

Overflow envelope (documented, the :mod:`.qualityclf` style): with
coordinates |x| <= X the quantized values satisfy |xq| <= X * 10^s,
so a squared distance is <= dim * (2 X 10^s)^2 — at s=6, X=2,
dim=64 that is ~6.6e14, far under BIGINT's ~9.2e18 — and a per-cell
per-dim sum is <= n_cell * X * 10^s, exact below ~4.6e12 rows per
cell at s=6, X=2. The rounded-quotient equivalence between the
engines' ROUND(SUM::DOUBLE / COUNT) and the replica's exact integer
rounding additionally needs |sum| < 2^53 (~9e15): below it the
double division is the correctly-rounded image of the exact
rational, and any exact .5 quotient reduces to a division by 2,
which is representable — so both round the same way. Beyond either
bound, shard the corpus and fit per shard.

Reference behavioral parity: the reference engine
(/root/reference/src/main/java/com/jmx/analysis/LogAnalysis.java)
has no clustering surface — engine-extension tier (SURVEY.md §2.D).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KM_SCALE = 6   # fixed-point decimal digits for quantized coordinates
KM_ITERS = 4   # Lloyd rounds (each SQL-replayable; bench/oracle count)


def quantize_vectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = KM_SCALE,
) -> DataFrame:
    """(id, xq array<bigint>): coordinates rounded into the
    fixed-point grid — the one float->int crossing of the fit."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(
                x.cast("double") * F.lit(float(10**scale)), 0
            ).cast("bigint"),
        ).alias("xq"),
    )


def _seed_hash(seed: int, id_val) -> str:
    return hashlib.md5(f"{seed}:{id_val}".encode()).hexdigest()


def seed_centroids(
    q: DataFrame, n_cells: int, seed: int, id_col: str = "vec_id"
) -> list[list[int]]:
    """The k quantized vectors with the smallest ``md5(seed || ':' ||
    id)`` digests (ties by id), in digest order — cell i is the i-th
    smallest. One TakeOrderedAndProject job, a bounded k-row collect."""
    h = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    rows = (
        q.select(F.col(id_col), "xq", h.alias("h"))
        .orderBy("h", id_col)
        .limit(n_cells)
        .collect()
    )
    return [[int(v) for v in r["xq"]] for r in rows]


# Envelope bound for the vectorized int64 assignment: with every
# coordinate magnitude (corpus and centroids) at or below this, a
# squared distance sum over <= 256 dims stays under 2^63, so numpy
# int64 arithmetic cannot wrap and is exactly the relational BIGINT
# fold. 4 * B^2 * 256 <= 2^63  =>  B <= ~9.5e7; keep a round margin.
_NP_ASSIGN_MAX_ABS = 10**7


def assign_int_cells(q: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(id, xq, cell): integer argmin by squared L2 over the centroid
    matrix, ties toward the lower cell index — the
    :func:`similarity.assign_cells` comparator in BIGINT.

    Default path (r16 optimization, guide §4.2/§8.3): the argmin runs
    as vectorized int64 numpy inside one Arrow batch stage — the
    centroid matrix rides the closure (it is k x dim integers, the
    "decide with small rows" proxy), each task computes
    ``((x[:,None,:] - C)^2).sum(2).argmin(1)`` per batch, and
    ``argmin`` returns the FIRST minimum, which is exactly the
    (dist, cell) struct tie-break. int64 numpy is the same exact
    integer arithmetic as the BIGINT fold within the documented
    envelope (module doc); the envelope is CHECKED per batch and on
    the centroid matrix, and anything outside it takes the broadcast
    higher-order-function form below (interpreted but unbounded).
    The earlier always-HOF form ran ~1M Catalyst-interpreted lambda
    invocations per round at the benched sizes (measured: the fit
    rows spent ~1.5 s/round in it; the Arrow stage is ~10 ms)."""
    dim = len(cents[0]) if cents else 0
    if (
        0 < dim <= 256
        and all(abs(v) <= _NP_ASSIGN_MAX_ABS for c in cents for v in c)
    ):
        from pyspark.sql.types import IntegerType, StructField, StructType

        # fresh StructType — StructType.add MUTATES the receiver, and
        # DataFrame.schema is cached, so adding in place corrupts q
        out_schema = StructType(
            list(q.schema.fields)
            + [StructField("cell", IntegerType(), False)]
        )
        cols = [f.name for f in q.schema.fields]

        def assign(it):
            import numpy as np

            cmat = np.asarray(cents, dtype=np.int64)
            for pdf in it:
                if len(pdf):
                    x = np.stack(
                        [np.asarray(v, dtype=np.int64) for v in pdf["xq"]]
                    )
                    if np.abs(x).max() > _NP_ASSIGN_MAX_ABS:
                        # outside the no-wrap envelope: exact Python
                        # ints, row-at-a-time (never silently wraps)
                        cell = [
                            min(
                                range(len(cents)),
                                key=lambda ci: (
                                    sum(
                                        (int(a) - b) * (int(a) - b)
                                        for a, b in zip(row, cents[ci])
                                    ),
                                    ci,
                                ),
                            )
                            for row in x
                        ]
                        pdf = pdf.assign(cell=np.asarray(cell, "int32"))
                    else:
                        diff = x[:, None, :] - cmat[None, :, :]
                        best = (diff * diff).sum(axis=2).argmin(axis=1)
                        pdf = pdf.assign(cell=best.astype("int32"))
                else:
                    pdf = pdf.assign(cell=np.empty(0, "int32"))
                yield pdf[cols + ["cell"]]

        return q.mapInPandas(assign, schema=out_schema)
    spark = q.sparkSession
    cmat = spark.createDataFrame([(cents,)], "cmat array<array<bigint>>")
    dists = F.transform(
        F.col("cmat"),
        lambda c: F.aggregate(
            F.zip_with(F.col("xq"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ),
    )
    order = F.array_sort(
        F.transform(
            dists, lambda d, i: F.struct(d.alias("d"), i.alias("cell"))
        )
    )
    return q.crossJoin(F.broadcast(cmat)).select(
        *[c for c in q.columns], order[0]["cell"].alias("cell")
    )


def lloyd_fit(
    emb: DataFrame,
    n_cells: int,
    n_iter: int = KM_ITERS,
    seed: int = 42,
    scale: int = KM_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[int]]:
    """The distributed fit: quantize once, then ``n_iter`` Lloyd
    rounds of ONE job each (vectorized Arrow assignment emitting
    k x dim integer partials + hash-agg + bounded k x dim collect;
    see :func:`_update_partials`). Returns the fixed-point centroid
    matrix (cell-indexed list of BIGINT coordinate lists).

    The centroid update is computed IN-ENGINE —
    ``ROUND(SUM(v)::DOUBLE / COUNT(*), 0)`` per (cell, dim) — so the
    engine's own certified rounding produces the collected integers;
    the driver only reassembles the k x dim table and carries it to
    the next round's broadcast. Cells that lose every member keep
    their previous centroid (the COALESCE arm of the oracle). Early
    stop on an unchanged matrix (idempotent tail — see module doc).

    Scale envelope (``tools/scale_probe.py kmeans_lloyd_fit``): 9.51x
    wall at 10x rows (sf0.01 replicas, 8 cells) — linear in corpus
    size by construction (each round is one scan + one k*dim-bounded
    hash-agg; no pairwise term anywhere)."""
    # Lazy checkpoint: the seed job's TakeOrdered computes every
    # partition, so the blocks materialize as its side effect — one
    # fewer scheduled job than eager (the graph-seal convention).
    q = quantize_vectors(emb, id_col, vec_col, scale).localCheckpoint(
        eager=False
    )
    cents = seed_centroids(q, n_cells, seed, id_col)
    for _ in range(n_iter):
        upd = (
            _update_partials(q, cents)
            .groupBy("cell", "d")
            .agg(
                F.round(
                    F.sum("s").cast("double") / F.sum("n"), 0
                )
                .cast("bigint")
                .alias("cv")
            )
            .collect()
        )
        nxt = [list(c) for c in cents]
        for r in upd:
            nxt[r["cell"]][r["d"]] = int(r["cv"])
        if nxt == cents:
            break
        cents = nxt
    return cents


def _update_partials(q: DataFrame, cents: list[list[int]]) -> DataFrame:
    """One Lloyd round's map side, fused (r16 optimization): per Arrow
    batch, assign every row (the :func:`assign_int_cells` int64 argmin,
    identical tie-break) and emit the k x dim PARTIAL coordinate sums
    plus member counts — (cell, d, s, n) rows, at most k x dim per
    batch — instead of posexploding N x dim (cell, d, v) rows into the
    hash-agg. Exact-integer partials sum associatively, so
    ``SUM(s) / SUM(n)`` downstream equals the row-level
    ``SUM(v) / COUNT(*)`` bit-for-bit and the rounded quotient is
    unchanged. Cells with no members emit nothing (the COALESCE arm).

    Envelope: a partial sum is bounded by rows_per_batch * max|x|;
    with max|x| <= :data:`_NP_ASSIGN_MAX_ABS` (checked per batch, the
    Python-int fallback otherwise) and Arrow's 10k-row default
    batches, |s| <= 1e11 — five orders inside int64. The count-based
    guard below turns a pathological envelope breach into an error,
    never a silent wrap."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    n_cells = len(cents)
    dim = len(cents[0]) if cents else 0
    out_schema = StructType(
        [
            StructField("cell", IntegerType(), False),
            StructField("d", IntegerType(), False),
            StructField("s", LongType(), False),
            StructField("n", LongType(), False),
        ]
    )
    vectorized = 0 < dim <= 256 and all(
        abs(v) <= _NP_ASSIGN_MAX_ABS for c in cents for v in c
    )

    def partials(it):
        import numpy as np
        import pandas as pd

        cmat = np.asarray(cents, dtype=np.int64)
        sums = np.zeros((n_cells, dim), dtype=np.int64)
        counts = np.zeros(n_cells, dtype=np.int64)
        max_abs = 1
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf["xq"]]
            )
            max_abs = max(max_abs, int(np.abs(x).max()))
            if vectorized and np.abs(x).max() <= _NP_ASSIGN_MAX_ABS:
                diff = x[:, None, :] - cmat[None, :, :]
                best = (diff * diff).sum(axis=2).argmin(axis=1)
            else:
                best = np.asarray(
                    [
                        min(
                            range(n_cells),
                            key=lambda ci: (
                                sum(
                                    (int(a) - b) * (int(a) - b)
                                    for a, b in zip(row, cents[ci])
                                ),
                                ci,
                            ),
                        )
                        for row in x
                    ],
                    dtype=np.int64,
                )
            np.add.at(sums, best, x)
            counts += np.bincount(best, minlength=n_cells)
        if counts.max(initial=0) > (1 << 62) // max_abs:
            raise OverflowError(
                "lloyd partial-sum envelope exceeded; shard the corpus"
            )
        live = np.flatnonzero(counts)
        if len(live):
            yield pd.DataFrame(
                {
                    "cell": np.repeat(live, dim).astype("int32"),
                    "d": np.tile(np.arange(dim), len(live)).astype(
                        "int32"
                    ),
                    "s": sums[live].ravel(),
                    "n": np.repeat(counts[live], dim),
                }
            )

    return q.select("xq").mapInPandas(partials, schema=out_schema)


def _round_quotient(s: int, n: int) -> int:
    """Exact half-away-from-zero rounding of s / n in integer
    arithmetic — equal to the engines' ROUND(s::DOUBLE / n, 0) within
    the module envelope (|s| < 2^53; see module doc)."""
    if s >= 0:
        return (2 * s + n) // (2 * n)
    return -((-2 * s + n) // (2 * n))


def lloyd_fit_local(
    rows: list[tuple[int, list[int]]],
    n_cells: int,
    n_iter: int = KM_ITERS,
    seed: int = 42,
) -> list[list[int]]:
    """Driver-side replica of :func:`lloyd_fit` over collected
    quantized rows [(id, xq)] — the bounded-data contract twin (same
    seeds -> identical centroids). Shares no Spark code with the
    distributed fit: seeding via hashlib, distances as exact int64
    numpy arithmetic (vectorized in r16 — the per-row Python loops
    cost ~2 s per fit at the contract sizes; the envelope |x| <=
    X*10^s with X=2, s=6 keeps every square and sum far inside
    int64, see module doc), the update via exact rational rounding
    in Python ints."""
    import numpy as np

    by_hash = sorted(rows, key=lambda r: (_seed_hash(seed, r[0]), r[0]))
    cents = [list(xq) for _, xq in by_hash[:n_cells]]
    x = np.asarray([xq for _, xq in rows], dtype=np.int64)
    # Envelope guard (ADVICE r16 — mirror assign_int_cells /
    # _update_partials): int64 numpy must never silently wrap. Every
    # centroid is either a seeding corpus row or a half-away-rounded
    # mean of corpus rows (both bounded by max|x|), so ONE corpus-side
    # magnitude check covers every round's distance arithmetic; the
    # second term bounds the per-cell accumulated sums
    # (n_rows * max|x| < 2^62 keeps np.add.at exact). Outside the
    # envelope, each round runs the exact Python-int loop — slower,
    # never wrong — the same fallback discipline as the distributed
    # fit's per-batch check.
    max_abs = int(np.abs(x).max()) if x.size else 0
    use_np = (
        x.size > 0
        and max_abs <= _NP_ASSIGN_MAX_ABS
        and x.shape[0] * max_abs < 2**62
    )
    for _ in range(n_iter):
        if use_np:
            c = np.asarray(cents, dtype=np.int64)
            diff = x[:, None, :] - c[None, :, :]
            # argmin returns the FIRST minimum — ties toward the lower
            # cell index, same as the (dist, cell) struct comparator.
            best = (diff * diff).sum(axis=2).argmin(axis=1)
            counts = np.bincount(best, minlength=n_cells).tolist()
            sums_np = np.zeros((n_cells, x.shape[1]), dtype=np.int64)
            np.add.at(sums_np, best, x)
            sums = sums_np.tolist()
        else:
            dim = len(cents[0]) if cents else 0
            counts = [0] * n_cells
            sums = [[0] * dim for _ in range(n_cells)]
            for _id, xq in rows:
                bi = min(
                    range(n_cells),
                    key=lambda ci: (
                        sum(
                            (int(a) - cents[ci][d]) ** 2
                            for d, a in enumerate(xq)
                        ),
                        ci,
                    ),
                )
                counts[bi] += 1
                for d, a in enumerate(xq):
                    sums[bi][d] += int(a)
        nxt = [
            [
                _round_quotient(int(sums[ci][d]), int(counts[ci]))
                for d in range(len(sums[ci]))
            ]
            if counts[ci]
            else list(cents[ci])
            for ci in range(n_cells)
        ]
        if nxt == cents:
            break
        cents = nxt
    return cents


def centroids_to_floats(
    cents: list[list[int]], scale: int = KM_SCALE
) -> list[list[float]]:
    """The fitted matrix back in coordinate space (cval / 10^scale —
    exact BIGINT->double then one division, the same IEEE result both
    engines produce) — the dispatch seam into the existing IVF
    machinery (``ivf_assign`` accepts it via ``centroids=``,
    ``knn_ivf`` via ``IndexCodec(centroids)``)."""
    div = float(10**scale)
    return [[v / div for v in c] for c in cents]


def centroids_df(spark, cents: list[list[int]]) -> DataFrame:
    """The fitted matrix as the exploded contract frame
    (cell int, d int, cval bigint)."""
    return spark.createDataFrame(
        [
            (ci, d, v)
            for ci, c in enumerate(cents)
            for d, v in enumerate(c)
        ],
        "cell int, d int, cval bigint",
    )


def fit_sql(
    corpus_cte: str,
    n_cells: int,
    n_iter: int = KM_ITERS,
    seed: int = 42,
    scale: int = KM_SCALE,
    dim: int = 64,
    id_expr: str = "vec_id",
    vec_expr: str = "embedding",
) -> str:
    """WITH-clause body replaying the ENTIRE fit CTE-for-CTE against
    a corpus CTE named ``corpus_cte`` exposing (id, vector). Exposes
    ``kmc{n_iter}`` (cell, c array<bigint>) and the exploded
    ``kmfit`` (cell, d, cval) — chain further CTEs off either."""
    s = float(10**scale)
    dist = (
        f"list_transform(cm, c -> list_reduce("
        f"[CAST(0 AS BIGINT)] || list_transform("
        f"generate_series(1, {dim}), i -> (xq[i] - c[i]) * (xq[i] - c[i])),"
        f" (acc, x) -> acc + x))"
    )
    seed_key = (
        f"md5(CAST('{seed}' AS VARCHAR) || ':' || CAST(kid AS VARCHAR))"
    )
    parts = [
        f"""kmq AS (SELECT {id_expr} AS kid,
                 list_transform({vec_expr},
                     x -> CAST(ROUND(x::DOUBLE * {s!r}, 0) AS BIGINT))
                     AS xq
             FROM {corpus_cte}),
        kmseed AS (SELECT kid, xq FROM kmq
                   ORDER BY {seed_key}, kid
                   LIMIT {n_cells}),
        kmc0 AS (SELECT CAST(ROW_NUMBER() OVER (
                     ORDER BY {seed_key}, kid)
                     - 1 AS INT) AS cell, xq AS c
                 FROM kmseed)"""
    ]
    for t in range(1, n_iter + 1):
        parts.append(
            f"""kmm{t} AS (SELECT list(c ORDER BY cell) AS cm
                  FROM kmc{t - 1}),
        kma{t} AS (SELECT kid, xq,
                      CAST(list_position(dv, list_min(dv)) - 1 AS INT)
                          AS cell
                   FROM (SELECT kid, xq, {dist} AS dv
                         FROM kmq CROSS JOIN kmm{t})),
        kms{t} AS (SELECT cell, u.d,
                      CAST(ROUND(CAST(SUM(xq[u.d]) AS DOUBLE)
                                 / COUNT(*), 0) AS BIGINT) AS cv
                   FROM kma{t},
                        (SELECT unnest(generate_series(1, {dim})) AS d) u
                   GROUP BY cell, u.d),
        kmc{t} AS (SELECT p.cell, COALESCE(n.c, p.c) AS c
                   FROM kmc{t - 1} p
                   LEFT JOIN (SELECT cell, list(cv ORDER BY d) AS c
                              FROM kms{t} GROUP BY cell) n
                       ON n.cell = p.cell)"""
        )
    parts.append(
        f"""kmfit AS (SELECT cell, CAST(u.d - 1 AS INT) AS d,
                  c[u.d] AS cval
               FROM kmc{n_iter},
                    (SELECT unnest(generate_series(1, {dim})) AS d) u)"""
    )
    return ",\n        ".join(parts)
